"""The three workloads.  Each returns its end-to-end metrics and its
per-layer metrics, and leaves the sample counts and corpus bases behind
them in ``Bench.report``.

End-to-end times are steal-adjusted (``Timing.adjusted``): this host
shares its machine, and the time the hypervisor gives other guests moves
every operation of a run together, by up to 75% within minutes.  The
report lines give the raw walls beside them; per-layer times are raw.

Every timed operation is checked against the generator's ground truth
outside its timed span; a wrong or raised result counts as a failed
operation.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from collections import defaultdict

import numpy as np
from pyspark.sql import functions as F

from lucene_solr_spark.index.segments import SegmentedIndex
from lucene_solr_spark.queries.parser import parse_query
from lucene_solr_spark.queries.rewriter import rewrite
from lucene_solr_spark.queries.segment_searcher import SegmentSearcher
from lucene_solr_spark.queries.wand import wand_topk
from perfbench import kernels
from perfbench.corpus import Corpus, generate
from perfbench.oracle import Oracle
from perfbench.streams import ColdStream, HotStream, Query
from perfbench.trace import HostMeter, StealClock, Timing, Tracer

INGEST_DOCS = 3000
# each merge round flushes the next-newest documents holding FLUSH_TOKENS
# kept tokens as FLUSH_SEGMENTS small segments and merges them; sizing the
# flush in tokens, not documents, keeps the merge from swinging with the seed
FLUSH_TOKENS = 1100
FLUSH_SEGMENTS = 3
MERGE_ROUNDS = 2
PROBE_DOCS = 12  # documents in the traced runs' merge probe
QUERY_DOCS = 2000
TOP_K = 10
MIN_OPS = 3
MIN_CYCLES = 2  # of the query mix
WARM_BUILDS = 2  # untimed ingest builds before the timed phase
BATCHES = 3  # traced search_batch calls
QUERY_KINDS = ("term", "and", "or", "phrase", "prefix", "wand")


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def p90(xs) -> float:
    if len(xs) < 2:
        return median(xs)
    return float(statistics.quantiles(xs, n=10, method="inclusive")[-1])


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith(".")
    )


class Bench:
    """One workload run: session, work directory, tracer, check counters."""

    def __init__(self, spark, slots: int, work: str, seed: int, seconds: float, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.slots = slots
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(self.sc, False)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.excluded_s = 0.0  # benchmark-only work inside set-up
        self.report: dict = {}

    def require(self, ok: bool, what: str) -> None:
        """A correctness check that is not itself a timed operation."""
        if not ok:
            self.problems.append(what)

    def op(self, fn, check, what: str) -> Timing | None:
        """Time one operation; ``check(result)`` runs after the clock
        stops.  Returns its timing, or None if the operation raised."""
        self.attempted += 1
        clock = StealClock()
        try:
            result = fn()
        except Exception:  # noqa: BLE001 — a raised op is a failed op; the run goes on
            self.failed += 1
            self.problems.append(f"{what}: raised\n{traceback.format_exc()}")
            return None
        t = clock.stop()
        if not check(result):
            self.failed += 1
            self.problems.append(f"{what}: wrong result")
        return t

    def setup_s(self, setup: StealClock) -> float:
        """Steal-adjusted set-up time, less the benchmark's own work."""
        t = setup.stop()
        self.report["setup raw wall_s"] = t.wall - self.excluded_s
        return (t.wall - self.excluded_s) * t.granted

    def corpus(self, num_docs: int) -> tuple[Corpus, str]:
        t0 = time.perf_counter()
        c = generate(self.seed, num_docs)
        path = os.path.join(self.work, "corpus.parquet")
        c.write_parquet(path)
        self.excluded_s += time.perf_counter() - t0
        self.report["bases"] = c.bases()
        return c, path

    def index_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    @staticmethod
    def totals(idx: SegmentedIndex, segments=None) -> dict:
        man = idx.manifest()
        infos = [man[s] for s in segments] if segments is not None else list(man.values())
        return {
            "segments": len(infos),
            "docs": sum(i.num_docs for i in infos),
            "postings": sum(i.num_postings for i in infos),
            "tokens": sum(i.sum_len for i in infos),
            "terms": sum(i.num_terms for i in infos),
            "blocks": sum(i.num_blocks for i in infos),
            "task_ms": sum(i.task_ms for i in infos),
        }

    @staticmethod
    def truth(c: Corpus, lo: int, hi: int) -> dict:
        """Ground-truth totals for documents ``lo <= doc_id < hi``."""
        return {
            "docs": int((c.doc_len[lo:hi] > 0).sum()),
            "postings": int(((c.post_doc >= lo) & (c.post_doc < hi)).sum()),
            "tokens": int(c.doc_len[lo:hi].sum()),
        }

    def expect_totals(self, got: dict, want: dict, what: str) -> None:
        for k, v in want.items():
            self.require(got[k] == v, f"{what}: manifest {k} {got[k]} != corpus {v}")

    def build(self, docs, path: str, num_segments: int, total_docs: int):
        """Build a fresh index → (index, wall seconds, build span)."""
        idx = SegmentedIndex(self.spark, path)
        with self.tracer.span("index.build", jobs=True) as sp:
            t0 = time.perf_counter()
            idx.build(docs, num_segments=num_segments, total_docs=total_docs)
            wall = time.perf_counter() - t0
        return idx, wall, sp

    def kernel_layers(self, c: Corpus, data_dir: str) -> dict:
        """Direct single-core analyzer and codec rates (traced runs)."""
        codec = kernels.codec_rates(kernels.read_blocks(data_dir, 0))
        self.require(codec["round_trip"], "codecs: re-encoded blocks differ from the stored ones")
        return {
            "analysis.tokens_per_s": kernels.analysis_tokens_per_s(c.texts),
            "codecs.encode_postings_per_s": codec["encode_postings_per_s"],
            "codecs.decode_postings_per_s": codec["decode_postings_per_s"],
            "codecs.bytes_per_posting": codec["bytes_per_posting"],
        }

    def cache_mb(self) -> float:
        """Storage memory held by persisted frames."""
        return sum(i.memSize() for i in self.sc._jsc.sc().getRDDStorageInfo()) / 2**20


def host_layers(meter: HostMeter) -> dict:
    return {
        "driver.cpu_share": meter.driver_cpu_share,
        "host.steal_frac": meter.steal_frac,
        "host.cpu_busy_frac": meter.cpu_busy_frac,
    }


def timed_rounds(b: Bench, seconds: float, min_rounds: int):
    """Yield whether each timed round is traced, until each side has
    ``min_rounds`` and less than half a mean round is left of ``seconds``,
    so the phase ends as near ``seconds`` as whole rounds allow.  An
    untraced run never traces; a traced run alternates untraced and
    traced rounds, so the difference between the two sides is the tracing
    overhead and not a warm-up trend or a periodic pause."""
    t0 = time.perf_counter()
    done = {False: 0, True: 0 if b.trace else min_rounds}
    n = 0
    while True:
        elapsed = time.perf_counter() - t0
        if min(done.values()) >= min_rounds and elapsed + 0.5 * elapsed / n >= seconds:
            break
        tracing = b.trace and n % 2 == 1
        b.tracer.enabled = tracing
        yield tracing
        done[tracing] += 1
        n += 1


# ====================================================================== ingest
def _flush(b: Bench, idx: SegmentedIndex, docs, lo: int, hi: int, first_seg: int, nsegs: int) -> list[int]:
    """Write documents ``lo <= doc_id < hi`` as ``nsegs`` new small
    segments (an incremental flush) and return their ids."""
    per = -(-(hi - lo) // nsegs)
    src = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).select(
        "doc_id", "content",
        (F.lit(first_seg) + F.floor((F.col("doc_id") - lo) / per)).cast("int").alias("segment"),
    )
    ids = list(range(first_seg, first_seg + nsegs))
    with b.tracer.span("index.flush", jobs=True):
        idx.write_encoded(src, expected_segments=ids)
    return ids


def _tail_bounds(c: Corpus, rounds: int, tokens: int) -> list[int]:
    """Doc-id bounds of ``rounds`` consecutive runs of the newest
    documents, each holding about ``tokens`` kept tokens, oldest first."""
    bounds = [c.num_docs]
    for _ in range(rounds):
        hi = bounds[-1]
        newest = np.cumsum(c.doc_len[:hi][::-1])
        bounds.append(hi - max(int(np.searchsorted(newest, tokens)) + 1, FLUSH_SEGMENTS))
    return bounds[::-1]


def ingest(b: Bench, setup: StealClock) -> tuple[dict, dict]:
    """Build the corpus into segments, again and again for the timed
    phase, and check the index.  A traced run then, MERGE_ROUNDS times,
    flushes the next run of newest documents as small segments and runs
    one tiered-merge round over them."""
    c, path = b.corpus(INGEST_DOCS)
    docs = b.spark.read.parquet(path)
    bounds = _tail_bounds(c, MERGE_ROUNDS, FLUSH_TOKENS)
    cut = bounds[0]
    main = docs.filter(F.col("doc_id") < cut)
    nseg = b.slots
    want_main = b.truth(c, 0, cut)
    # warm-up: full builds start the Python workers, compile the plan
    # shapes and let the JVM's JIT settle, so no timed build pays for that
    for n in range(WARM_BUILDS):
        warm, _, _ = b.build(main, b.index_dir(f"warm{n}"), nseg, cut)
        shutil.rmtree(warm.path, ignore_errors=True)
    setup_s = b.setup_s(setup)

    times: dict[bool, list[Timing]] = {False: [], True: []}
    last: dict = {}
    traced: dict = {}  # the last traced build's span and kernel time

    def check(idx):
        got = b.totals(idx)
        return got["segments"] == nseg and all(got[k] == v for k, v in want_main.items())

    with HostMeter() as meter:
        for tracing in timed_rounds(b, b.seconds, MIN_OPS):
            out = {}
            target = b.index_dir(f"idx{len(times[False]) + len(times[True])}")

            def run(target=target, out=out):
                out["idx"], _, out["span"] = b.build(main, target, nseg, cut)
                return out["idx"]

            t = b.op(run, check, "build")
            if t is not None:
                times[tracing].append(t)
                if tracing:
                    traced = {"span": out["span"], "task_ms": b.totals(out["idx"])["task_ms"]}
                if last:
                    shutil.rmtree(last["idx"].path, ignore_errors=True)
                last = out
    b.tracer.enabled = b.trace
    idx = last["idx"]
    build_bytes = dir_bytes(idx._data_dir)
    problems = idx.check_index()["problems"]
    b.require(not problems, f"check_index after build: {problems}")

    plain = [t.adjusted for t in times[False]]
    walls = {k: [t.wall for t in v] for k, v in times.items()}
    e2e = {
        "setup_s": setup_s,
        "items_per_s": want_main["docs"] * len(plain) / sum(plain) if plain else 0.0,
        "index_bytes_per_input_byte": build_bytes / sum(len(t) for t in c.texts[:cut]),
    }
    b.report["samples"] = {"build": len(plain), "traced build": len(walls[True])}
    b.report["build walls"] = [round(x, 2) for x in walls[False]]
    b.report["build granted"] = [round(t.granted, 3) for t in times[False]]
    b.report["raw items_per_s"] = want_main["docs"] * len(plain) / sum(walls[False]) if plain else 0.0
    b.report["build_p50_s"] = median(walls[False])
    layers = host_layers(meter)
    if b.trace:
        merge_spans = _merge_rounds(b, c, docs, idx, bounds)
        after = b.totals(idx)
        build_span = traced["span"]
        layers.update({
            "index.build_s": median(walls[True]),
            "index.kernel_core_share": traced["task_ms"] / 1000 / (build_span.dur * b.slots),
            "index.build_jobs": build_span.jobs,
            "index.merge_s": median([sp.dur for sp in merge_spans]),
            "index.merge_jobs": median([sp.jobs for sp in merge_spans]),
            # nothing is deleted, so the data directory holds every byte
            # the build, the flushes and the merges wrote
            "index.write_amp": dir_bytes(idx._data_dir) / c.input_bytes,
            "index.segments": after["segments"],
            "index.terms": after["terms"],
            "index.postings": after["postings"],
            "index.blocks": after["blocks"],
            "trace.overhead_frac": median(walls[True]) / median(walls[False]) - 1.0,
            **b.kernel_layers(c, idx._data_dir),
            **_probe_queries(b, c, idx),
            # the probe's searcher holds the only persisted frames
            "session.cache_mb": b.cache_mb(),
        })
    return e2e, layers


def _merge_rounds(b: Bench, c: Corpus, docs, idx: SegmentedIndex, bounds: list[int]) -> list:
    """Traced ingest runs: the merge probe warms the merge plan shapes,
    then each round flushes the next run of newest documents as small
    segments and merges them (``plan_merges`` + ``merge``).  Checks the
    flushes, the merges and the final index; returns the merge spans."""
    nseg = b.slots
    _probe_merge(b, c, docs)

    merge_spans = []
    for r, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        first = nseg + r * (FLUSH_SEGMENTS + 1)
        flush_ids = _flush(b, idx, docs, lo, hi, first, FLUSH_SEGMENTS)
        want = b.truth(c, lo, hi)
        b.expect_totals(b.totals(idx, flush_ids), want, f"flush {r}")
        # the r segments merged earlier stay live beside the build's
        plans = idx.plan_merges(
            max_merge_at_once=FLUSH_SEGMENTS, segs_per_tier=nseg + r, floor_postings=0
        )
        b.require(
            [sorted(p) for p in plans] == [flush_ids],
            f"merge plan {plans} != flushed segments {flush_ids}",
        )

        def run_merge(flush_ids=flush_ids, new=first + FLUSH_SEGMENTS):
            with b.tracer.span("index.merge", jobs=True) as sp:
                info = idx.merge(flush_ids, new_segment=new)
            merge_spans.append(sp)
            return info

        def check_merge(info, want=want):
            return info.num_postings == want["postings"] and info.num_docs == want["docs"]

        b.op(run_merge, check_merge, f"merge {r}")
    problems = idx.check_index()["problems"]
    b.require(not problems, f"check_index after merges: {problems}")
    b.expect_totals(b.totals(idx), b.truth(c, 0, INGEST_DOCS), "after merges")
    return merge_spans


def _probe_merge(b: Bench, c: Corpus, docs) -> dict:
    """Merge FLUSH_SEGMENTS small segments of a separate index: the merge
    layer's measurement in traced query runs, and the merge warm-up in
    traced ingest runs."""
    b.tracer.enabled = True
    tiny = SegmentedIndex(b.spark, b.index_dir("merge-probe"))
    tiny.build(docs.filter(F.col("doc_id") < PROBE_DOCS), num_segments=FLUSH_SEGMENTS,
               total_docs=PROBE_DOCS)
    with b.tracer.span("index.merge", jobs=True) as sp:
        info = tiny.merge(list(range(FLUSH_SEGMENTS)), new_segment=FLUSH_SEGMENTS)
    want = b.truth(c, 0, PROBE_DOCS)["postings"]
    b.require(info.num_postings == want, f"merge probe: {info.num_postings} postings != {want}")
    return {"index.merge_s": sp.dur, "index.merge_jobs": sp.jobs}


def _probe_queries(b: Bench, c: Corpus, idx: SegmentedIndex) -> dict:
    """Traced ingest runs only: one cold query mix and one batch over the
    ingest index, so the query layers have measured values here too."""
    b.tracer.enabled = True
    oracle = Oracle(c)
    stream = ColdStream(c, oracle, b.seed)
    with b.tracer.span("index.searcher_open", jobs=True) as open_span:
        runner = QueryRunner(b, idx, SegmentSearcher(idx), oracle)
    lat, kinds = [], defaultdict(list)
    for kind in stream.MIX:
        t = runner.single(stream.make(kind))
        if t is not None:
            lat.append(t.wall)
            kinds[kind].append(t.wall)
    runner.batch([stream.make(kind) for kind in stream.BATCH])
    return {"index.searcher_open_s": open_span.dur, **_query_layers(b, lat, kinds)}


# ===================================================================== queries
def expected(oracle: Oracle, q: Query) -> list[tuple[int, float]]:
    if q.kind == "prefix":
        return [(int(d), 1.0) for d in oracle.prefix_docs(q.terms[0])[:TOP_K]]
    if q.kind == "term":
        docs, scores = oracle.term(q.terms[0])
    elif q.kind == "and":
        docs, scores = oracle.conj(list(q.terms))
    elif q.kind == "phrase":
        docs, scores = oracle.phrase(list(q.terms))
    else:  # or, wand: the exhaustive disjunction
        docs, scores = oracle.disj(list(q.terms))
    return oracle.top_k(docs, scores, TOP_K)


def as_pairs(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(np.float32(r["score"]))) for r in rows]


class QueryRunner:
    """Single queries and batches, either on the user path (untraced) or
    split into parse → stats → plan → execute spans (traced)."""

    def __init__(self, b: Bench, idx: SegmentedIndex, searcher: SegmentSearcher, oracle: Oracle):
        self.b, self.idx, self.s, self.oracle = b, idx, searcher, oracle

    def _run(self, q: Query):
        t = self.b.tracer
        if not t.enabled:
            if q.kind == "wand":
                return wand_topk(self.idx, list(q.terms), k=TOP_K).collect()
            return self.s.search(q.text, k=TOP_K).collect()
        with t.request(), t.span("queries.request", kind=q.kind):
            if q.kind == "wand":
                with t.span("queries.plan", jobs=True):
                    df = wand_topk(self.idx, list(q.terms), k=TOP_K)
            else:
                with t.span("queries.parse"):
                    parsed = rewrite(parse_query(q.text))
                if q.kind != "prefix":
                    with t.span("queries.stats", jobs=True):
                        self.s.term_statistics(list(q.terms))
                with t.span("queries.plan", jobs=True):
                    df = self.s.search(parsed, k=TOP_K, use_cache=False)
            with t.span("queries.execute", jobs=True):
                return df.collect()

    def single(self, q: Query) -> Timing | None:
        want = expected(self.oracle, q)
        return self.b.op(lambda: self._run(q), lambda rows: as_pairs(rows) == want,
                         f"{q.kind} {q.text or q.terms}")

    def batch(self, qs: list[Query]) -> Timing | None:
        want = {f"q{i}": expected(self.oracle, q) for i, q in enumerate(qs)}
        texts = {f"q{i}": q.text for i, q in enumerate(qs)}
        t = self.b.tracer

        def run():
            with t.span("queries.batch_plan", jobs=True):
                df = self.s.search_batch(texts, k=TOP_K)
            with t.span("queries.batch_execute", jobs=True):
                return df.collect()

        def check(rows):
            got = defaultdict(list)
            for r in rows:
                got[r["query_id"]].append(r)
            return all(
                sorted(as_pairs(got.get(qid, [])), key=lambda x: (-x[1], x[0])) == w
                for qid, w in want.items()
            )

        return self.b.op(run, check, f"batch of {len(qs)}")


def _queries(b: Bench, setup: StealClock, workload: str) -> tuple[dict, dict]:
    hot = workload == "query-hot"
    c, path = b.corpus(QUERY_DOCS)
    t0 = time.perf_counter()
    oracle = Oracle(c)
    stream = (HotStream if hot else ColdStream)(c, oracle, b.seed)
    b.excluded_s += time.perf_counter() - t0

    docs = b.spark.read.parquet(path)
    b.tracer.enabled = b.trace
    idx, build_s, build_span = b.build(docs, b.index_dir("idx"), b.slots, QUERY_DOCS)
    totals = b.totals(idx)
    b.expect_totals(totals, b.truth(c, 0, QUERY_DOCS), "build")
    with b.tracer.span("index.searcher_open", jobs=True) as open_span:
        t0 = time.perf_counter()
        searcher = SegmentSearcher(idx)
        b.report["setup open_s"] = time.perf_counter() - t0
    b.report["setup build_s"] = build_s
    t0 = time.perf_counter()
    b.tracer.enabled = False
    runner = QueryRunner(b, idx, searcher, oracle)
    mix = stream.MIX

    # untimed warm-up: one whole mix cycle compiles each kind's plan shape
    # and lets the JIT settle (a single query of each kind left the first
    # timed cycle slower than the second); for hot, one search_batch call
    # first decodes the whole pool, after its term statistics are loaded
    if hot:
        searcher.term_statistics(stream.pool)
        chunks = [tuple(stream.pool[i : i + 4]) for i in range(0, len(stream.pool), 4)]
        runner.batch([Query("or", " ".join(ts), ts) for ts in chunks])
    for kind in mix:
        runner.single(stream.make(kind))
    b.report["setup warm-up_s"] = time.perf_counter() - t0
    setup_s = b.setup_s(setup)

    lat: dict[bool, list[Timing]] = {False: [], True: []}
    kinds: dict[str, list[float]] = defaultdict(list)
    with HostMeter() as meter:
        # whole mix cycles, so every run has the same mix
        for tracing in timed_rounds(b, b.seconds, MIN_CYCLES):
            for kind in mix:
                t = runner.single(stream.make(kind))
                if t is not None:
                    lat[tracing].append(t)
                    if tracing:
                        kinds[kind].append(t.wall)
        cache_mb = b.cache_mb()
    b.tracer.enabled = False

    plain = [t.adjusted for t in lat[False]]
    walls = {k: [t.wall for t in v] for k, v in lat.items()}
    e2e = {
        "setup_s": setup_s,
        "items_per_s": len(plain) / sum(plain) if plain else 0.0,
        "index_bytes_per_input_byte": dir_bytes(idx._data_dir) / c.input_bytes,
    }
    b.report["samples"] = {"query": len(plain)}
    b.report["query walls"] = [round(x, 2) for x in walls[False]]
    b.report["query granted"] = [round(t.granted, 3) for t in lat[False]]
    b.report["raw items_per_s"] = len(plain) / sum(walls[False]) if plain else 0.0
    b.report["query_p50_s"] = median(walls[False])
    b.report["query_p90_s"] = p90(walls[False])
    layers = host_layers(meter)
    layers["session.cache_mb"] = cache_mb
    if b.trace:
        _batches(b, runner, stream)
        layers.update(_query_layers(b, walls[False], kinds))
        layers.update({
            "trace.overhead_frac": statistics.mean(walls[True]) / statistics.mean(walls[False]) - 1.0,
            "index.build_s": build_s,
            "index.kernel_core_share": totals["task_ms"] / 1000 / (build_span.dur * b.slots),
            "index.build_jobs": build_span.jobs,
            "index.write_amp": dir_bytes(idx._data_dir) / c.input_bytes,
            "index.searcher_open_s": open_span.dur,
            "index.segments": totals["segments"],
            "index.terms": totals["terms"],
            "index.postings": totals["postings"],
            "index.blocks": totals["blocks"],
            **b.kernel_layers(c, idx._data_dir),
            **_probe_merge(b, c, docs),
        })
    return e2e, layers


def _batches(b: Bench, runner: "QueryRunner", stream) -> None:
    """Traced query runs: one untimed ``search_batch`` call compiles the
    batch plan shape, then BATCHES traced calls of never-seen queries."""
    b.tracer.enabled = False
    runner.batch([stream.make(k) for k in stream.BATCH])
    b.tracer.enabled = True
    times = [runner.batch([stream.make(k) for k in stream.BATCH]) for _ in range(BATCHES)]
    b.report["batch walls"] = [round(t.wall, 2) for t in times if t is not None]
    b.tracer.enabled = False


def _query_layers(b: Bench, lat: list[float], kinds: dict) -> dict:
    """Query-layer medians from the traced requests; ``lat`` holds the
    latencies behind the p90 and its sample count."""
    tr = b.tracer
    reqs = [s.request for s in tr.named("queries.request")]
    per = defaultdict(lambda: defaultdict(float))
    for s in tr.spans:
        if s.request is not None:
            per[s.request][s.name] += s.dur
            per[s.request]["jobs"] += s.jobs
            per[s.request]["stages"] += s.stages
            per[s.request]["tasks"] += s.tasks
            if s.name == "queries.stats":
                per[s.request]["stats_jobs"] += s.jobs

    def med(key):
        return median([per[r][key] for r in reqs])

    return {
        "queries.parse_s": med("queries.parse"),
        "queries.stats_s": med("queries.stats"),
        "queries.stats_jobs": med("stats_jobs"),
        "queries.plan_s": med("queries.plan"),
        "queries.execute_s": med("queries.execute"),
        "queries.jobs_per_query": med("jobs"),
        "queries.stages_per_query": med("stages"),
        "queries.tasks_per_query": med("tasks"),
        "queries.p90_s": p90(lat),
        "queries.samples": len(lat),
        "queries.batch_plan_s": median([s.dur for s in tr.named("queries.batch_plan")]),
        "queries.batch_execute_s": median([s.dur for s in tr.named("queries.batch_execute")]),
        **{f"queries.{k}_p50_s": median(kinds.get(k, [])) for k in QUERY_KINDS},
    }


def query_cold(b: Bench, setup: StealClock):
    return _queries(b, setup, "query-cold")


def query_hot(b: Bench, setup: StealClock):
    return _queries(b, setup, "query-hot")


WORKLOADS = {"ingest": ingest, "query-cold": query_cold, "query-hot": query_hot}
