"""TermAutomatonQuery — a token-level automaton as a query.

Reference: lucene/sandbox/src/java/org/apache/lucene/search/
TermAutomatonQuery.java (builder: addTransition / addAnyTransition /
setAccept / finish→determinize, :1-483) and TermAutomatonScorer.java
(:226-345), whose countMatches sweep defines the semantics this module
ports exactly:

- positions carry NFA/DFA state multisets; processing the query terms
  of a doc in position order, each real-term token steps every state
  at its position (and a fresh start from state 0), writing successors
  to position+1 and incrementing ``freq`` each time a step lands on an
  accept state (:306-330);
- ANY transitions advance pending states across the intermediate
  positions between consecutive query-term tokens (:266-292) but never
  increment freq and never start a match — matches must both START and
  END on a real term transition (step(0, termID) is the only match
  seed, :320);
- after determinization state multiplicities equal distinct start
  offsets, so ``freq`` = number of accepted (start, end) token spans;
- score = the searcher's similarity over that freq and the stats of
  all the automaton's terms (TermAutomatonQuery.TermAutomatonWeight
  builds one SimWeight over every term's TermStatistics, :341-393) —
  the same shape as PhraseQuery/span scoring.

Spark-first restatement: the automaton itself is request-sized and
determinizes on the driver; matching is the span-kernel shape — a
sargable candidate scan (docs holding ≥1 automaton term, a correct
superset since every counted match ends on a term step), per-term
position arrays joined on, one Arrow-batched kernel running the sweep
per doc, then the JVM-side score column — the searcher's positional
executor, shared with spans.  Nothing corpus-sized leaves the
executors.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame

ANY = "*"  # anyTermID analog (TermAutomatonQuery.java ANY transitions)


@dataclass
class TermAutomatonQuery:
    """Builder mirroring the reference API; ``finish()`` determinizes."""

    transitions: list[tuple[int, int, str]] = field(default_factory=list)
    accept_states: set[int] = field(default_factory=set)
    _dfa: "_DFA | None" = None

    def add_transition(self, src: int, dest: int, term: str) -> None:
        self.transitions.append((src, dest, term))

    def add_any_transition(self, src: int, dest: int) -> None:
        self.transitions.append((src, dest, ANY))

    def set_accept(self, state: int, accept: bool = True) -> None:
        if accept:
            self.accept_states.add(state)
        else:
            self.accept_states.discard(state)

    def finish(self) -> "TermAutomatonQuery":
        """Determinize (TermAutomatonQuery.finish → Operations
        .determinize).  Subset construction over the alphabet of terms
        plus the ANY symbol — the scorer steps term ids and ANY as
        independent symbols, so ANY stays an ordinary letter here."""
        if not self.accept_states:
            raise ValueError("no accept states")
        nfa: dict[tuple[int, str], set[int]] = {}
        for s, d, t in self.transitions:
            nfa.setdefault((s, t), set()).add(d)
        labels = sorted({t for _, _, t in self.transitions})
        start = frozenset([0])
        subsets = {start: 0}
        step: dict[tuple[int, str], int] = {}
        accept: set[int] = set()
        work = [start]
        while work:
            cur = work.pop()
            cid = subsets[cur]
            if cur & self.accept_states:
                accept.add(cid)
            for lab in labels:
                nxt = frozenset(
                    d for s in cur for d in nfa.get((s, lab), ())
                )
                if not nxt:
                    continue
                if nxt not in subsets:
                    subsets[nxt] = len(subsets)
                    work.append(nxt)
                step[(cid, lab)] = subsets[nxt]
        self._dfa = _DFA(step=step, accept=accept)
        return self

    @property
    def terms(self) -> list[str]:
        return sorted({t for _, _, t in self.transitions if t != ANY})

    @property
    def has_any(self) -> bool:
        return any(t == ANY for _, _, t in self.transitions)


@dataclass(frozen=True)
class _DFA:
    step: dict[tuple[int, str], int]
    accept: set[int]


def _count_matches(
    events: list[tuple[int, str]], dfa: _DFA, has_any: bool
) -> int:
    """Line-port of TermAutomatonScorer.countMatches (:226-345) over
    one doc's (position, term) events, sorted by position."""
    step, accept = dfa.step, dfa.accept
    positions: dict[int, list[int]] = {}
    freq = 0
    last_pos = -1
    for pos, term in events:
        if last_pos != -1 and has_any:
            lp, start_lp = last_pos, last_pos
            while lp < pos:
                cur = positions.get(lp)
                if not cur and lp > start_lp:
                    break  # petered out (:271-275)
                for q in cur or ():
                    nq = step.get((q, ANY))
                    if nq is not None:
                        positions.setdefault(lp + 1, []).append(nq)
                lp += 1
        for q in positions.get(pos, ()):  # match current token (:306)
            nq = step.get((q, term))
            if nq is not None:
                positions.setdefault(pos + 1, []).append(nq)
                if nq in accept:
                    freq += 1
        nq = step.get((0, term))  # start a new match here (:320)
        if nq is not None:
            positions.setdefault(pos + 1, []).append(nq)
            if nq in accept:
                freq += 1
        last_pos = pos
    return freq


def automaton_freqs_loop(
    taq: TermAutomatonQuery,
    pos_lists: dict[str, np.ndarray],
    n_rows: int,
) -> np.ndarray:
    """Per-doc reference evaluator (the literal countMatches port run
    one doc at a time) — kept as the equivalence oracle for the batch
    kernel's tests."""
    dfa = taq._dfa
    if dfa is None:
        raise RuntimeError("finish() first")
    has_any = taq.has_any
    out = np.zeros(n_rows, dtype=np.float64)
    terms = list(pos_lists)
    for i in range(n_rows):
        events: list[tuple[int, str]] = []
        for t in terms:
            pl = pos_lists[t][i]
            if pl is None:
                continue
            events.extend((int(p), t) for p in pl)
        events.sort(key=lambda e: e[0])
        out[i] = _count_matches(events, dfa, has_any)
    return out


def _dfa_tables(dfa: _DFA, terms: list[str], has_any: bool):
    """DFA → dense tables: S (state count), per-label 0/1 transition
    matrices (row s has a single 1 at step(s, lab) — function
    matrices, closed under product), the start-seed state per term,
    and the accept-state mask."""
    states = {0} | set(dfa.accept)
    for (s, _lab), d in dfa.step.items():
        states.add(s)
        states.add(d)
    S = max(states) + 1
    labs = list(terms) + ([ANY] if has_any else [])
    mats: dict[str, np.ndarray] = {}
    for lab in labs:
        m = np.zeros((S, S), dtype=np.int64)
        for s in range(S):
            d = dfa.step.get((s, lab))
            if d is not None:
                m[s, d] = 1
        mats[lab] = m
    seeds = {t: dfa.step.get((0, t)) for t in terms}
    acc = np.zeros(S, dtype=bool)
    for s in dfa.accept:
        acc[s] = True
    return S, mats, seeds, acc


def automaton_freqs_batch(
    taq: TermAutomatonQuery,
    pos_lists: dict[str, np.ndarray],
    n_rows: int,
) -> np.ndarray:
    """Per-doc freq for a batch: pos_lists[term][row] is that row's
    position array (or None).

    Doc-parallel restatement of countMatches: the per-position state
    multiset becomes an int64 counts-vector per doc (multiplicity =
    distinct start offsets, exactly what the scorer's state lists
    hold), so one event step for EVERY doc is a handful of (docs × S)
    @ (S × S) integer matmuls grouped by the event's term.  The sweep
    iterates over event INDEX (k-th event of each doc), not over docs;
    ANY-gap propagation between consecutive events applies
    M_ANY^gap via binary exponentiation of the function matrix, bit
    by bit over the per-doc gap lengths.  Same-position events consume
    the same source frontier and accumulate into position+1, matching
    the scorer's append discipline.  Equivalence with the per-doc port
    is property-gated (tests/test_term_automaton_property.py)."""
    dfa = taq._dfa
    if dfa is None:
        raise RuntimeError("finish() first")
    has_any = taq.has_any
    out = np.zeros(n_rows, dtype=np.float64)
    terms = list(pos_lists)
    if n_rows == 0 or not terms:
        return out
    S, mats, seeds, acc = _dfa_tables(dfa, terms, has_any)

    # flatten (doc, position, term) events; stable order (doc, pos,
    # term-index) replicates the scalar's stable position sort over
    # dict-ordered term lists
    pos_parts: list[np.ndarray] = []
    doc_parts: list[np.ndarray] = []
    ti_parts: list[np.ndarray] = []
    for tix, t in enumerate(terms):
        col = pos_lists[t]
        for d in range(n_rows):
            pl = col[d]
            if pl is None or len(pl) == 0:
                continue
            a = np.asarray(pl, dtype=np.int64)
            pos_parts.append(a)
            doc_parts.append(np.full(len(a), d, dtype=np.int64))
            ti_parts.append(np.full(len(a), tix, dtype=np.int64))
    if not pos_parts:
        return out
    pos = np.concatenate(pos_parts)
    docs = np.concatenate(doc_parts)
    ti = np.concatenate(ti_parts)
    order = np.lexsort((ti, pos, docs))
    pos, docs, ti = pos[order], docs[order], ti[order]
    counts = np.bincount(docs, minlength=n_rows)
    off = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(counts, out=off[1:])
    live = np.nonzero(counts)[0]
    L = live.size
    nev = counts[live]
    base_off = off[live]

    Cp = np.zeros((L, S), dtype=np.int64)  # frontier at pp
    Cn = np.zeros((L, S), dtype=np.int64)  # frontier at pp + 1
    pp = np.full(L, -1, dtype=np.int64)    # previous event position
    freq = np.zeros(L, dtype=np.int64)
    m_any = mats.get(ANY)
    any_pows: list[np.ndarray] = [m_any] if m_any is not None else []

    maxev = int(nev.max())
    for k in range(maxev):
        act = np.nonzero(nev > k)[0]
        e = base_off[act] + k
        p = pos[e]
        t = ti[e]
        same = p == pp[act]
        src = np.zeros((act.size, S), dtype=np.int64)
        sm = np.nonzero(same)[0]
        if sm.size:
            src[sm] = Cp[act[sm]]
        nsm = np.nonzero(~same)[0]
        if nsm.size:
            nd = act[nsm]
            if has_any:
                base = Cn[nd] + Cp[nd] @ m_any
                gap = p[nsm] - pp[nd] - 1
                mass = base.any(axis=1)
                hot = np.nonzero(mass & (gap > 0))[0]
                if hot.size:
                    g = gap[hot]
                    maxg = int(g.max())
                    b = 0
                    while (1 << b) <= maxg:
                        if b >= len(any_pows):
                            any_pows.append(
                                any_pows[b - 1] @ any_pows[b - 1]
                            )
                        sel = np.nonzero((g >> b) & 1)[0]
                        if sel.size:
                            base[hot[sel]] = base[hot[sel]] @ any_pows[b]
                        b += 1
                src[nsm] = base
            else:
                adj = np.nonzero(p[nsm] == pp[nd] + 1)[0]
                if adj.size:
                    src[nsm[adj]] = Cn[nd[adj]]
        stepped = np.zeros_like(src)
        for tt in np.unique(t):
            m = np.nonzero(t == tt)[0]
            stepped[m] = src[m] @ mats[terms[tt]]
            s0 = seeds[terms[tt]]
            if s0 is not None:
                stepped[m, s0] += 1
        freq[act] += stepped[:, acc].sum(axis=1)
        if sm.size:
            Cn[act[sm]] += stepped[sm]
        if nsm.size:
            nd = act[nsm]
            Cp[nd] = src[nsm]
            Cn[nd] = stepped[nsm]
            pp[nd] = p[nsm]
    out[live] = freq.astype(np.float64)
    return out


def term_automaton_docs(
    searcher, taq: TermAutomatonQuery, boost: float = 1.0
) -> DataFrame:
    """All matching (doc_id, score): the searcher's positional executor
    with the union of the live terms' docs as candidates and the
    countMatches port as the freq kernel (TermAutomatonWeight builds
    its weight over ALL terms' statistics, df=0 included)."""
    if taq._dfa is None:
        taq.finish()

    def candidates(live: list[str]) -> DataFrame:
        return reduce(
            DataFrame.unionByName,
            (searcher._term_postings(t).select("doc_id") for t in live),
        ).distinct()

    return searcher._exec_positional(
        taq.terms, candidates,
        lambda lists, n: automaton_freqs_batch(taq, lists, n), boost,
    )
