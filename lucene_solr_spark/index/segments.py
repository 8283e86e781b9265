"""Segmented on-disk index: per-partition segment build, manifest,
resume, and tiered merge.

The reference's write path (one DocumentsWriterPerThread flushes one
immutable segment; IndexWriter.commit writes the ``segments_N``
manifest two-phase — index/DocumentsWriter.java:374-454,
index/SegmentInfos.java:57-67,139-140) maps to:

- one Spark task group (= one doc-key bucket) builds one immutable
  segment: tokenize → invert → sort(term, doc) → delta-gap + FOR/VByte
  block encode (codecs/) → Parquet partition ``segment=<id>``;
- the commit point is a per-segment JSON manifest file written AFTER
  the data lands — a crashed/killed run leaves data without manifest,
  and resume re-does exactly the buckets with no manifest entry
  (idempotent: same bucket ⇒ same docIDs ⇒ same bytes, SURVEY §7d);
- per-segment lineage + metrics live in the manifest row (north rule:
  "resumable from per-partition checkpoints with lineage + segment
  metrics");
- TieredMergePolicy's size-tier selection (index/TieredMergePolicy.java:
  238-420: sort by size desc, floor small segments, pick ≤maxMergeAtOnce
  from the least-skewed tier) is re-implemented driver-side over the
  manifest, and each merge is one Spark job over the chosen segment
  partitions (term-range shuffle → re-encode), like SegmentMerger.merge
  (index/SegmentMerger.java:94-158) with docID remap unnecessary because
  docIDs are globally stable by construction.

Scale notes: segments are independent units of work (fault tolerance &
resume at bucket granularity); postings never cross a shuffle as
exploded tokens — only encoded block rows do; hot terms produce many
128-posting blocks but each block row is bounded (~1 KB), so no
collect_list OOM; term-partitioned reads prune by Parquet row-group
stats on ``term``.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Collection
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_solr_spark.analysis import analyze_batch_codes
from lucene_solr_spark.codecs.postings import (
    concat_ranges,
    decode_blocks,
    encode_segment_blocks,
)
from lucene_solr_spark.index.builder import CollectionStats, IndexTables
from lucene_solr_spark.scoring.bm25 import encode_norm

# one encoded posting block of one term
BLOCK_ROWS_SCHEMA = (
    "term string, block_id int, base_docid long, count int, max_docid long, "
    "max_tf int, sum_tf long, docs_bin binary, tfs_bin binary, "
    "pos_bin binary, lens_bin binary"
)
_BLOCK_ROW_COLS = [f.split()[0] for f in BLOCK_ROWS_SCHEMA.split(", ")]
# unified kernel output: posting-block rows (kind=0) + norm rows (kind=1)
SEGMENT_ROWS_SCHEMA = (
    f"kind int, segment int, {BLOCK_ROWS_SCHEMA}, "
    "doc_id long, length int, norm_byte int, sum_len long"
)

_EMPTY = {  # an empty frame of SEGMENT_ROWS_SCHEMA, column by column
    name: pd.Series([], dtype={"int": "int32", "long": "int64"}.get(typ, "object"))
    for name, typ in (f.split() for f in SEGMENT_ROWS_SCHEMA.split(", "))
}

# decoded postings: one row per (term, doc)
DECODED_SCHEMA = (
    "doc_id long, term string, tf int, positions array<int>, "
    "length int, norm_byte int"
)
_DECODE_COLS = ("base_docid", "count", "docs_bin", "tfs_bin", "pos_bin", "lens_bin")
# blocks one merge task decodes in one call (about 0.5 M postings at most)
_MERGE_GROUP_BLOCKS = 4096


def _decode_kernel(batches):
    """mapInArrow body: encoded block rows → decoded posting rows, each
    batch in one :func:`decode_blocks` call; positions become one Arrow
    list array built from the decoder's offsets and values."""

    def i32(a):
        return pa.array(a.astype(np.int32))

    for batch in batches:
        col = dict(zip(batch.schema.names, batch.columns))
        d = decode_blocks(*(col[c] for c in _DECODE_COLS), terms=col["term"])
        positions = pa.ListArray.from_arrays(i32(d.pos_offsets), i32(d.positions))
        yield pa.RecordBatch.from_arrays(
            [pa.array(d.doc_id), col["term"].take(pa.array(d.block)), i32(d.tf),
             positions, i32(d.length), i32(encode_norm(d.length))],
            names=["doc_id", "term", "tf", "positions", "length", "norm_byte"],
        )


def decode_postings(enc: DataFrame) -> DataFrame:
    """Encoded block rows (``SegmentedIndex.postings()``, filtered or
    not) → decoded ``DECODED_SCHEMA`` rows."""
    return enc.select("term", *_DECODE_COLS).mapInArrow(
        _decode_kernel, schema=DECODED_SCHEMA
    )


def _encode_segment(pdf: pd.DataFrame) -> pd.DataFrame:
    """One segment's corpus rows → encoded posting blocks + norms.

    The per-segment flush: analyze, invert (sort replaces the term
    hash, as FreqProxTermsWriter.flush sorts at flush —
    index/FreqProxTermsWriter.java:81-117), then block-encode."""
    t_task = time.time()
    seg = int(pdf["segment"].iloc[0])

    # kind=2 summary row: source-row lineage AND the segment stats the
    # kernel already knows (the writer records its own SegmentInfo, like
    # Lucene's flush), repurposing unused block columns —
    #   count=source rows, doc_id=num_docs, max_tf=num_terms,
    #   sum_tf=num_postings, block_id=num_blocks,
    #   base_docid=min_docid, max_docid=max_docid —
    # so the post-write stats read collects 64 pushdown-filtered rows
    # instead of re-aggregating every posting block.
    def _lineage(stats: dict) -> pd.DataFrame:
        # length (unused by kind=2) carries the task's own kernel ms, so
        # the build can report Σ task-time vs wall — the decomposition
        # that separates framework overhead (idle cores, stragglers)
        # from shared-hardware contention (identical kernels running
        # slower at higher concurrency); see BENCH.md scaling analysis.
        vals = {
            "kind": 2,
            "segment": seg,
            "count": len(pdf),
            "length": int((time.time() - t_task) * 1000),
            **stats,
        }
        return pd.DataFrame(
            {
                col: pd.Series(
                    [vals.get(col, None if proto.dtype == object else 0)],
                    dtype=proto.dtype,
                )
                for col, proto in _EMPTY.items()
            }
        )

    lineage = _lineage(
        {"base_docid": -1, "max_docid": -1}
    )
    # code-level analysis: per-token ints + the small vocabulary — the
    # analyzer's blob factorize doubles as the term hash, so no string
    # ever gets touched per-token here; rank codes by sorted vocabulary,
    # then sort ints only (string comparisons once per UNIQUE term)
    doc_idx, codes, vocab, positions = analyze_batch_codes(pdf["content"])
    if codes.size == 0:
        return lineage
    doc_ids = pdf["doc_id"].to_numpy()[doc_idx]
    positions = positions.astype(np.uint64)
    vorder = np.argsort(vocab, kind="stable")
    rank = np.empty(vorder.size, dtype=np.int64)
    rank[vorder] = np.arange(vorder.size)
    term_rank = rank[codes]
    order = np.lexsort((positions, doc_ids, term_rank))
    doc_ids, positions, term_rank = (
        doc_ids[order], positions[order], term_rank[order]
    )
    sorted_vocab = vocab[vorder]

    # run-length boundaries at (term, doc) level
    b_td = np.ones(doc_ids.size, dtype=bool)
    b_td[1:] = (term_rank[1:] != term_rank[:-1]) | (doc_ids[1:] != doc_ids[:-1])
    starts = np.flatnonzero(b_td)
    tfs = np.diff(np.append(starts, doc_ids.size))
    p_docs = doc_ids[starts]
    p_ranks = term_rank[starts]

    # boundaries at term level (over the (term, doc) run list)
    b_t = np.ones(p_ranks.size, dtype=bool)
    b_t[1:] = p_ranks[1:] != p_ranks[:-1]
    t_starts = np.flatnonzero(b_t)
    t_ends = np.append(t_starts[1:], p_ranks.size)

    # per-doc field lengths, needed both for the norm rows and for the
    # per-block lens_bin payload (queries score from blocks alone)
    uniq_docs, doc_lens = np.unique(doc_ids, return_counts=True)
    run_lens = doc_lens[np.searchsorted(uniq_docs, p_docs)]

    # Whole-segment batched encode (byte-identical to per-term
    # encode_posting_blocks; see encode_segment_blocks — the per-term
    # call paid ~30 numpy fixed overheads per term, 8.3 s of a 15.9 s
    # 30k-doc flush under cProfile, on a vocabulary dominated by df<10)
    enc = encode_segment_blocks(
        p_docs, tfs, positions, t_starts, t_ends, run_lens=run_lens
    )
    term_of_block = sorted_vocab[p_ranks[t_starts[enc.pop("term_index")]]]
    post_df = pd.DataFrame(enc)
    post_df["kind"] = 0
    post_df["segment"] = seg
    post_df["term"] = term_of_block
    # per-doc norms (byte315-quantized, BM25Similarity.java:103-111)
    norm_df = pd.DataFrame(
        {
            "kind": 1,
            "segment": seg,
            "doc_id": uniq_docs.astype(np.int64),
            "length": doc_lens.astype(np.int32),
            "norm_byte": encode_norm(doc_lens).astype(np.int32),
        }
    )
    lineage = _lineage(
        {
            "doc_id": int(uniq_docs.size),
            "max_tf": int(t_starts.size),
            "sum_tf": int(p_docs.size),
            "block_id": int(len(post_df)),
            "base_docid": int(uniq_docs.min()),
            "max_docid": int(uniq_docs.max()),
            "sum_len": int(doc_ids.size),
        }
    )
    out = pd.concat([post_df, norm_df, lineage], ignore_index=True)
    for col, proto in _EMPTY.items():
        if col not in out.columns:
            out[col] = None
        if proto.dtype != object:
            out[col] = out[col].fillna(0).astype(proto.dtype)
    return out[list(_EMPTY)]


@dataclass
class SegmentInfo:
    """One manifest row (SegmentInfos entry analog) with lineage+metrics."""

    segment: int
    num_docs: int
    num_terms: int
    num_postings: int
    num_blocks: int
    min_docid: int
    max_docid: int
    source_rows: int
    wall_s: float
    generation: int = 0
    sum_len: int = 0  # total tokens: Σ field lengths (avgdl numerator)
    task_ms: int = 0  # this segment's own kernel time (see _lineage)
    merged_from: list[int] = field(default_factory=list)
    status: str = "committed"


class SegmentedIndex:
    """Directory layout:

    ``<dir>/data/segment=<id>/*.parquet``  one segment's rows, each
        tagged by ``kind`` (``SEGMENT_ROWS_SCHEMA``): 0 an encoded
        posting block, 1 a document's norm (doc_id, length, norm_byte),
        2 the segment's one summary row, which the commit gate reads
    ``<dir>/manifest/segment-<id>.json``   commit point per segment

    Spark reads the data directory with its known schema
    (:meth:`postings`, :meth:`norms`); a ``SegmentSearcher`` under its
    byte budget reads a segment's block rows with pyarrow straight from
    ``<dir>/data/segment=<id>/``.
    """

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self.manifest_dir = os.path.join(path, "manifest")

    # ------------------------------------------------------------ manifest
    def manifest(self) -> dict[int, SegmentInfo]:
        out: dict[int, SegmentInfo] = {}
        if not os.path.isdir(self.manifest_dir):
            return out
        for fn in os.listdir(self.manifest_dir):
            if fn.startswith("segment-") and fn.endswith(".json"):
                with open(os.path.join(self.manifest_dir, fn)) as f:
                    d = json.load(f)
                out[d["segment"]] = SegmentInfo(**d)
        return out

    def _commit(self, info: SegmentInfo) -> None:
        os.makedirs(self.manifest_dir, exist_ok=True)
        tmp = os.path.join(self.manifest_dir, f".segment-{info.segment}.tmp")
        with open(tmp, "w") as f:
            json.dump(info.__dict__, f)
        os.replace(tmp, os.path.join(self.manifest_dir, f"segment-{info.segment}.json"))

    def _drop_manifest(self, seg: int) -> None:
        p = os.path.join(self.manifest_dir, f"segment-{seg}.json")
        if os.path.exists(p):
            os.remove(p)

    # --------------------------------------------------------------- build
    def build(
        self,
        corpus: DataFrame,
        num_segments: int = 32,
        id_col: str = "doc_id",
        text_col: str = "content",
        resume: bool = True,
        total_docs: int | None = None,
    ) -> dict[int, SegmentInfo]:
        """Build (or resume) the segmented index from a corpus DataFrame.

        The corpus must already carry stable docIDs (assign_doc_ids —
        dense 0..N−1).  Segment id = floor(doc_id / ceil(N/num_segments)):
        a pure function of the data (resume reproduces identical
        segments), and each docID lands in exactly one segment, so merge
        needs no docID remap (MergeState.java's docBase offsets are
        pre-baked into the global docIDs).  The built segments cover
        contiguous ranges, but a merge of non-adjacent segments covers a
        range that spans the segments between them.
        """
        done = set(self.manifest()) if resume else set()
        if total_docs is not None:
            n_docs = total_docs - 1
        else:
            n_docs = corpus.agg(F.max(F.col(id_col))).collect()[0][0]
        if n_docs is None:
            return self.manifest()
        seg_size = max(1, -(-(int(n_docs) + 1) // num_segments))
        src = corpus.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("content")
        ).withColumn(
            "segment", F.floor(F.col("doc_id") / F.lit(seg_size)).cast("int")
        )
        todo = [s for s in range(num_segments) if s not in done]
        if not todo:
            return self.manifest()
        if len(todo) < num_segments:
            src = src.filter(F.col("segment").isin(todo))

        self.write_encoded(src, expected_segments=todo)
        return self.manifest()

    def write_encoded(
        self, keyed_src: DataFrame, expected_segments: list[int] | None = None
    ) -> dict[int, SegmentInfo]:
        """Encode+write segments for a (doc_id, content, segment) frame.

        ONE write job (unified kind-tagged table, dynamic partition
        overwrite) + one compact stats job over the written parquet —
        no persist of the wide intermediate.  Commit points land after
        both, preserving crash-resume semantics."""
        t0 = time.time()
        rows = keyed_src.select("doc_id", "content", "segment").groupBy(
            "segment"
        ).applyInPandas(_encode_segment, schema=SEGMENT_ROWS_SCHEMA)
        rows.write.partitionBy("segment").option(
            "partitionOverwriteMode", "dynamic"
        ).mode("overwrite").parquet(self._data_dir)
        # the commit gate still reads the stats back from the WRITTEN
        # parquet (commit only after data landed), but the kernel packed
        # them into the kind=2 summary rows, so this scan pushes
        # `kind = 2` down to parquet and collects one row per segment
        # instead of re-aggregating every posting block (~40% of a clean
        # 60k-doc build before)
        written = self.spark.read.schema(SEGMENT_ROWS_SCHEMA).parquet(
            self._data_dir
        ).filter(F.col("kind") == 2)
        if expected_segments is not None:
            written = written.filter(
                F.col("segment").isin([int(s) for s in expected_segments])
            )
        stats = {
            r["segment"]: r
            for r in written.select(
                "segment",
                F.col("doc_id").alias("num_docs"),
                F.col("max_tf").alias("num_terms"),
                F.col("sum_tf").alias("num_postings"),
                F.col("block_id").alias("num_blocks"),
                F.col("base_docid").alias("min_docid"),
                F.col("max_docid").alias("max_docid"),
                F.col("count").alias("src_rows"),
                F.col("length").alias("task_ms"),
                "sum_len",
            ).collect()
        }
        wall = time.time() - t0
        out: dict[int, SegmentInfo] = {}
        segs = expected_segments if expected_segments is not None else sorted(stats)
        for seg in segs:
            r = stats.get(seg)
            info = SegmentInfo(
                segment=int(seg),
                num_docs=int(r["num_docs"]) if r else 0,
                num_terms=int(r["num_terms"]) if r else 0,
                num_postings=int(r["num_postings"]) if r else 0,
                num_blocks=int(r["num_blocks"]) if r else 0,
                min_docid=int(r["min_docid"]) if r and r["min_docid"] is not None else -1,
                max_docid=int(r["max_docid"]) if r and r["max_docid"] is not None else -1,
                source_rows=int(r["src_rows"] or 0) if r else 0,
                wall_s=round(wall, 3),
                task_ms=int(r["task_ms"] or 0) if r else 0,
                sum_len=int(r["sum_len"] or 0) if r else 0,
            )
            self._commit(info)
            out[int(seg)] = info
        return out

    # --------------------------------------------------------------- reads
    @property
    def _data_dir(self) -> str:
        return os.path.join(self.path, "data")

    def _rows(self, segments: list[int] | None = None) -> DataFrame:
        """The rows of ``segments`` (default: every live one), read with
        their known schema: a bare read infers it in a Spark job."""
        df = self.spark.read.schema(SEGMENT_ROWS_SCHEMA).parquet(self._data_dir)
        live = sorted(self.manifest()) if segments is None else segments
        return df.filter(F.col("segment").isin([int(s) for s in live]))

    def postings(self, segments: list[int] | None = None) -> DataFrame:
        return self._rows(segments).filter(F.col("kind") == 0).select(
            "segment", *_BLOCK_ROW_COLS
        )

    def norms(self, segments: list[int] | None = None) -> DataFrame:
        return self._rows(segments).filter(F.col("kind") == 1).select(
            "segment", "doc_id", "length", "norm_byte"
        )

    def term_stats(self, segments: list[int] | None = None) -> DataFrame:
        """Global (df, ttf) per term from block metadata only — no block
        decode needed (the .tim term-stats analog)."""
        return self.postings(segments).groupBy("term").agg(
            F.sum("count").alias("df"), F.sum("sum_tf").alias("ttf")
        )

    def term_stat_arrays(
        self, segments: list[int], terms: Collection[str] | None = None
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """(term, df, ttf, blocks) as arrays sorted by term, for ``terms``
        (default: every term); ``blocks`` is the term's number of encoded
        blocks over the segments.  One single-stage read of the blocks'
        ``(term, count, sum_tf)`` columns, summed on the driver — no
        shuffle, and no block payload leaves the scan."""
        rows = self.postings(segments).select("term", "count", "sum_tf")
        if terms is not None:
            rows = rows.filter(F.col("term").isin(list(terms)))
        # pandas sorts object strings by code point, which is the UTF-8
        # byte order Spark compares terms in
        g = rows.toPandas().groupby("term", sort=True).agg(
            df=("count", "sum"), ttf=("sum_tf", "sum"), blocks=("count", "size")
        )
        return (
            g.index.to_numpy(dtype=object),
            g["df"].to_numpy(np.int64),
            g["ttf"].to_numpy(np.int64),
            g["blocks"].to_numpy(np.int64),
        )

    def to_tables(self) -> IndexTables:
        """Open one commit of the on-disk index for the full query
        surface (the SegmentReader analog): the manifest is read once,
        every table is filtered to its segments, and the collection stats
        are summed from it.  Postings are decoded by
        :func:`decode_postings`, which is opaque to Catalyst, so a term
        filter on them does not reach the scan; ``SegmentSearcher``
        filters the encoded rows first and decodes only what survives."""
        man = self.manifest()
        segs = sorted(man)
        return IndexTables(
            decode_postings(self.postings(segs)),
            self.term_stats(segs),
            self.norms(segs).select("doc_id", "length", "norm_byte"),
            collection_stats(man.values()),
        )

    # --------------------------------------------------------------- merge
    def plan_merges(
        self,
        max_merge_at_once: int = 10,
        segs_per_tier: int = 10,
        floor_postings: int = 50_000,
    ) -> list[list[int]]:
        """TieredMergePolicy-style selection (TieredMergePolicy.java:238-420),
        with posting count standing in for on-disk bytes: sort live
        segments by size desc, floor tiny segments, and while the count
        exceeds the tier budget, merge the ``max_merge_at_once`` smallest
        (least-skew choice: merging equals beats merging a giant with
        dust, same score intent as the reference's skew term)."""
        man = self.manifest()
        live = [i for i in man.values() if i.status == "committed"]
        if len(live) <= segs_per_tier:
            return []
        sizes = sorted(
            (max(i.num_postings, floor_postings), i.segment) for i in live
        )
        plans: list[list[int]] = []
        while len(sizes) > segs_per_tier:
            group = sizes[:max_merge_at_once]
            if len(group) < 2:
                break
            plans.append([seg for _, seg in group])
            sizes = sizes[max_merge_at_once:]  # merged unit re-enters next round
        return plans

    def merge(
        self,
        seg_ids: list[int],
        new_segment: int,
        salts: int = 8,
        hot_blocks: int = 64,
    ) -> SegmentInfo:
        """Merge segments into one new segment (SegmentMerger.merge analog).

        Term shuffle of the *encoded block rows*, then per group of
        whole terms one batched decode → order postings by (term, docID),
        positions riding along → one batched re-encode.  DocIDs are
        global, so no remap is needed; but the merged segments' docID
        ranges may interleave (after a merge of non-adjacent segments),
        so block order is not docID order.

        Skew (north rule): a term with more than ``hot_blocks`` block
        rows (e.g. 'import'/'return'-class stopword-heavy terms, whose
        posting lists would otherwise land on ONE task) is salted into
        ``salts`` contiguous docID ranges — each (term, salt) re-encodes
        the term's docs in its range, valid because every block is
        independently decodable (absolute base_docid per block); interior
        salt chunks may end in a short tail block, which the format
        permits.  Readers order a term's blocks by base_docid, never
        block_id.
        """
        t0 = time.time()
        man = self.manifest()
        rows = self.postings(seg_ids)
        infos = [man[s] for s in seg_ids]
        lo_doc = min(i.min_docid for i in infos)
        span = max(i.max_docid for i in infos) - lo_doc + 1
        salt_range = max(1, -(-span // max(salts, 1)))
        hot = (
            rows.groupBy("term")
            .agg(F.count("*").alias("nblocks"))
            .filter(F.col("nblocks") > hot_blocks)
            .select("term", F.lit(True).alias("hot"))
        )
        # a hot term's block goes to every salt its docID range touches
        # (the merged segments' ranges may interleave, so a block can
        # cross a salt boundary); each salt keeps only its own docs.
        # Integer division, so the kernel's salt of a docID agrees.
        salt = "int(({} - %d) div %d)" % (lo_doc, salt_range)
        rows = rows.join(F.broadcast(hot), "term", "left").withColumn("salt", F.expr(
            f"explode(if(hot, sequence({salt.format('base_docid')}, "
            f"{salt.format('max_docid')}), array(0)))"
        ))

        def _remerge(pdf: pd.DataFrame) -> pd.DataFrame:
            # whole terms of one salt: one batched decode, postings
            # ordered by (term, docID) with their positions, one batched
            # encode — the flush's encode over many terms at once
            codes, terms = pd.factorize(pdf["term"], sort=True)
            d = decode_blocks(*(pdf[c] for c in _DECODE_COLS), terms=pdf["term"])
            own = pdf["hot"].isna().to_numpy()[d.block] | (
                (d.doc_id - lo_doc) // salt_range == pdf["salt"].iloc[0]
            )
            tcode = codes[d.block]
            order = np.lexsort((d.doc_id, tcode))
            order = order[own[order]]
            tf = d.tf[order]
            pos = d.positions[concat_ranges(d.pos_offsets[order], tf)]
            tids, t_starts = np.unique(tcode[order], return_index=True)
            enc = encode_segment_blocks(
                d.doc_id[order], tf, pos, t_starts, np.append(t_starts[1:], tf.size),
                run_lens=d.length[order],
            )
            term = np.asarray(terms, dtype=object)[tids[enc.pop("term_index")]]
            return pd.DataFrame({"term": term, **enc})

        # a group per (term hash bucket, salt), with the bucket count
        # sized from the merged block count, so each _remerge call
        # decodes about _MERGE_GROUP_BLOCKS blocks whatever the merge size
        merged = rows.groupBy(
            F.pmod(F.hash("term"), F.lit(_merge_buckets(infos))).alias("bucket"), "salt"
        ).applyInPandas(_remerge, schema=BLOCK_ROWS_SCHEMA)
        norm_rows = (
            self._rows(seg_ids)
            .filter(F.col("kind").isin([1, 2]))
            .withColumn("segment", F.lit(new_segment))
        )
        merged.select(
            F.lit(0).alias("kind"), F.lit(new_segment).alias("segment"), "*"
        ).unionByName(norm_rows, allowMissingColumns=True).select(
            *norm_rows.columns
        ).write.partitionBy("segment").option(
            "partitionOverwriteMode", "dynamic"
        ).mode("overwrite").parquet(self._data_dir)
        # one cheap stats job over just the written partition (term column
        # only — pruned scan) so the merged SegmentInfo carries the same
        # metrics the flush path records (SegmentInfo knows its term count)
        seg_stats = (
            self.postings([new_segment])
            .agg(
                F.count_distinct(F.col("term")).alias("num_terms"),
                F.count("*").alias("num_blocks"),
            )
            .collect()[0]
        )
        new_info = SegmentInfo(
            segment=new_segment,
            num_docs=sum(i.num_docs for i in infos),
            num_terms=int(seg_stats["num_terms"] or 0),
            num_postings=sum(i.num_postings for i in infos),
            num_blocks=int(seg_stats["num_blocks"] or 0),
            min_docid=min(i.min_docid for i in infos),
            max_docid=max(i.max_docid for i in infos),
            source_rows=sum(i.source_rows for i in infos),
            wall_s=round(time.time() - t0, 3),
            generation=max(i.generation for i in infos) + 1,
            merged_from=[int(s) for s in seg_ids],
            sum_len=sum(i.sum_len for i in infos),
        )
        # commit point: new manifest first, then drop the old entries
        # (old data files stay until a cleaner runs — IndexFileDeleter analog)
        self._commit(new_info)
        for s in seg_ids:
            self._drop_manifest(s)
        return new_info

    # ----------------------------------------------------------- validate
    def check_index(self) -> dict:
        """CheckIndex analog (index/CheckIndex.java): every block decodes
        and agrees with its metadata, and no docID is in two live
        segments (read from the norms rows)."""
        problems: list[str] = []
        man = self.manifest()
        if not man:
            return {"segments": 0, "problems": ["empty manifest"]}

        @F.pandas_udf("int")
        def bad_blocks(*cols: pd.Series) -> pd.Series:
            return pd.Series(_block_faults(*(c.to_numpy() for c in cols)))

        nbad = (
            self.postings()
            .select(
                bad_blocks(
                    "term", *_DECODE_COLS, "max_docid", "max_tf", "sum_tf"
                ).alias("bad")
            )
            .agg(F.sum("bad"))
            .collect()[0][0]
        )
        if nbad:
            problems.append(f"{nbad} corrupt blocks")
        # readers union every live segment, so a docID in two of them
        # would be matched and scored twice
        dup = F.col("n") > 1
        r = (
            self.norms()
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n"),
                F.min("segment").alias("s1"),
                F.max("segment").alias("s2"),
            )
            .agg(
                F.sum("n").alias("rows"),
                F.count(F.when(dup, 1)).alias("dups"),
                F.min(F.when(dup, F.struct("doc_id", "s1", "s2"))).alias("first"),
            )
            .collect()[0]
        )
        if r["dups"]:
            f = r["first"]
            problems.append(
                f"{r['dups']} docIDs in more than one segment "
                f"(doc {f['doc_id']} in segments {f['s1']} and {f['s2']})"
            )
        # norms docs == manifest num_docs
        ndocs = int(r["rows"] or 0)
        mdocs = sum(i.num_docs for i in man.values())
        if ndocs != mdocs:
            problems.append(f"norms rows {ndocs} != manifest docs {mdocs}")
        return {"segments": len(man), "problems": problems}


def collection_stats(infos: Collection[SegmentInfo]) -> CollectionStats:
    """Collection statistics of a commit, summed from its manifest rows
    (each SegmentInfo carries its docs, tokens and postings), so no
    data is read: Lucene's CollectionStatistics from SegmentInfos."""
    return CollectionStats(
        doc_count=sum(i.num_docs for i in infos),
        sum_total_term_freq=sum(i.sum_len for i in infos),
        sum_doc_freq=sum(i.num_postings for i in infos),
    )


def _merge_buckets(infos: list[SegmentInfo]) -> int:
    """Term-hash buckets of a merge: one per ``_MERGE_GROUP_BLOCKS``
    blocks of the merged segments."""
    return max(1, -(-sum(i.num_blocks for i in infos) // _MERGE_GROUP_BLOCKS))


def _block_faults(*cols) -> np.ndarray:
    """Block rows as columns (term, the ``_DECODE_COLS``, max_docid,
    max_tf, sum_tf) → 1 for each row that does not decode, or whose
    postings break an invariant (docIDs strictly increasing from
    ``base_docid`` to ``max_docid``; tfs ≥ 1, matching ``max_tf`` and
    ``sum_tf``), else 0."""
    term, base_docid, count = cols[:3]
    max_docid, max_tf, sum_tf = cols[7:]
    try:
        d = decode_blocks(*cols[1:7], terms=term)
    except ValueError:
        # one corrupt stream fails the whole batch: halve it until each
        # failing batch is one block, so the report counts bad blocks
        if len(term) == 1:
            return np.ones(1, dtype=np.int32)
        h = len(term) // 2
        return np.concatenate(
            [_block_faults(*(c[:h] for c in cols)), _block_faults(*(c[h:] for c in cols))]
        )
    cnt = np.asarray(count, dtype=np.int64)
    if cnt.size == 0:
        return np.zeros(0, dtype=np.int32)
    first = np.cumsum(cnt) - cnt
    bad = (
        (d.doc_id[first] != base_docid)
        | (d.doc_id[first + cnt - 1] != max_docid)
        | (np.maximum.reduceat(d.tf, first) != max_tf)
        | (np.add.reduceat(d.tf, first) != sum_tf)
        | (np.minimum.reduceat(d.tf, first) < 1)
    )
    step = (np.diff(d.doc_id) <= 0) & (d.block[1:] == d.block[:-1])
    bad[d.block[1:][step]] = True
    return bad.astype(np.int32)


# ---------------------------------------------------------------------------
# Commit points / point-in-time reads (SnapshotDeletionPolicy +
# DirectoryReader.open(IndexCommit) — index/SnapshotDeletionPolicy.java,
# index/IndexCommit.java).  A commit point freezes the CURRENT manifest
# under commits/commit-<G>.json; retired segment parquet is never
# deleted by merge (only its manifest row is dropped), so any frozen
# generation stays readable forever — the same files-survive-until-
# policy contract Lucene's deletion policy provides, and the mechanism
# behind replication, backup and time-travel queries.
# ---------------------------------------------------------------------------


def _commits_dir(index: "SegmentedIndex") -> str:
    return os.path.join(index.path, "commits")


def commit_point(index: "SegmentedIndex") -> int:
    """Freeze the current manifest as a numbered commit point."""
    d = _commits_dir(index)
    os.makedirs(d, exist_ok=True)
    gens = [
        int(fn[len("commit-"):-len(".json")])
        for fn in os.listdir(d)
        if fn.startswith("commit-") and fn.endswith(".json")
    ]
    gen = max(gens, default=0) + 1
    payload = {
        "generation": gen,
        "segments": [i.__dict__ for i in index.manifest().values()],
    }
    tmp = os.path.join(d, f".commit-{gen}.tmp")
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, os.path.join(d, f"commit-{gen}.json"))
    return gen


def manifest_at(index: "SegmentedIndex", gen: int) -> dict[int, "SegmentInfo"]:
    """The manifest as of commit point ``gen`` (IndexCommit view)."""
    p = os.path.join(_commits_dir(index), f"commit-{gen}.json")
    with open(p) as f:
        payload = json.load(f)
    return {d["segment"]: SegmentInfo(**d) for d in payload["segments"]}


def postings_at(index: "SegmentedIndex", gen: int) -> DataFrame:
    """Point-in-time postings read — DirectoryReader.open(commit)."""
    return index.postings(segments=sorted(manifest_at(index, gen)))
