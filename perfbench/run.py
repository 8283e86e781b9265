"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,query-cold,query-hot} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Each run is one fresh process and one
fresh local Spark session with one task slot per core.  A single client
drives the program in a closed loop (the next operation starts when the
previous result is back).  The corpus is generated from ``--seed`` and
handed to the program only as parquet.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with an untraced and a traced timed phase and prints the
per-layer metrics (including the tracing overhead).  Report lines (every
metric with its unit, sample counts, corpus bases, cores) come first; the
last line of stdout is the JSON result.  All files go under
``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name → (unit, better); every workload reports every metric
END_TO_END = {
    "setup_s": ("s", "lower"),
    "items_per_s": ("1/s", "higher"),
    "index_bytes_per_input_byte": ("ratio", "lower"),
}
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.cache_mb": ("MB", "lower"),
    "analysis.tokens_per_s": ("1/s", "higher"),
    "codecs.encode_postings_per_s": ("1/s", "higher"),
    "codecs.decode_postings_per_s": ("1/s", "higher"),
    "codecs.bytes_per_posting": ("B", "lower"),
    "index.build_s": ("s", "lower"),
    "index.kernel_core_share": ("ratio", "higher"),
    "index.build_jobs": ("count", "lower"),
    "index.merge_s": ("s", "lower"),
    "index.merge_jobs": ("count", "lower"),
    "index.write_amp": ("ratio", "lower"),
    "index.searcher_open_s": ("s", "lower"),
    "index.segments": ("count", "lower"),
    "index.terms": ("count", "lower"),
    "index.postings": ("count", "lower"),
    "index.blocks": ("count", "lower"),
    "queries.parse_s": ("s", "lower"),
    "queries.stats_s": ("s", "lower"),
    "queries.stats_jobs": ("count", "lower"),
    "queries.plan_s": ("s", "lower"),
    "queries.execute_s": ("s", "lower"),
    "queries.jobs_per_query": ("count", "lower"),
    "queries.stages_per_query": ("count", "lower"),
    "queries.tasks_per_query": ("count", "lower"),
    "queries.term_p50_s": ("s", "lower"),
    "queries.and_p50_s": ("s", "lower"),
    "queries.or_p50_s": ("s", "lower"),
    "queries.phrase_p50_s": ("s", "lower"),
    "queries.prefix_p50_s": ("s", "lower"),
    "queries.wand_p50_s": ("s", "lower"),
    "queries.p90_s": ("s", "lower"),
    "queries.samples": ("count", "higher"),
    "queries.batch_plan_s": ("s", "lower"),
    "queries.batch_execute_s": ("s", "lower"),
    "driver.cpu_share": ("ratio", "lower"),
    "host.steal_frac": ("ratio", "lower"),
    "host.cpu_busy_frac": ("ratio", "higher"),
    "trace.overhead_frac": ("ratio", "lower"),
    "corpus.docs": ("count", "higher"),
    "corpus.tokens": ("count", "higher"),
    "corpus.vocabulary": ("count", "higher"),
    "corpus.postings": ("count", "higher"),
    "corpus.input_bytes": ("B", "higher"),
}
WORKLOAD_NAMES = ("ingest", "query-cold", "query-hot")


def result_line(correct: bool, attempted: int, failed: int, values: dict, trace: bool) -> str:
    """The JSON result: exactly the declared metrics of the run's kind;
    a layer the workload does not exercise reports 0."""
    spec = PER_LAYER if trace else END_TO_END
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, (unit, _) in spec.items()
    }
    return json.dumps(
        {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    )


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True, help="non-negative corpus seed")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _start_session(work: str, slots: int):
    """Local Spark with one task slot per core; every temporary file of
    Spark and its workers goes under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    from lucene_solr_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cores=slots,
        extra_conf={
            "spark.local.dir": tmp,
            # -XX:-UsePerfData: no hsperfdata file under the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort: never leave the JVM behind
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    if args.seed < 0:
        print("perfbench: --seed must be non-negative", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "lucene_solr_spark")):
        print(f"perfbench: no lucene_solr_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import StealClock
    from perfbench.workloads import WORKLOADS, Bench

    imports_s = time.perf_counter() - PROCESS_T0
    setup = StealClock(PROCESS_T0)
    slots = len(os.sched_getaffinity(0))
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    t0 = time.perf_counter()
    spark = _start_session(work, slots)
    session_s = time.perf_counter() - t0
    try:
        b = Bench(spark, slots, work, args.seed, args.seconds, bool(args.trace))
        b.report["setup imports_s"] = imports_s
        b.report["setup session_s"] = session_s
        e2e, layers = WORKLOADS[args.workload](b, setup)
        if args.trace:
            b.tracer.dump(os.path.join(os.path.dirname(work),
                                       f"trace-{args.workload}-{args.seed}.json"))
    finally:
        _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    layers["session.start_s"] = session_s
    for k, v in b.report["bases"].items():
        layers[f"corpus.{k}"] = v
    values = layers if args.trace else e2e
    spec = PER_LAYER if args.trace else END_TO_END
    print(f"workload {args.workload} seed {args.seed} slots {slots} trace {args.trace}")
    for name, (unit, _) in spec.items():
        print(f"metric {name} = {values.get(name, 0.0):.6g} {unit}")
    for name, v in sorted(b.report.items()):
        print(f"{name} {v}")
    print(f"host.steal_frac {layers['host.steal_frac']:.4f}")
    for p in b.problems:
        print(f"problem: {p}", file=sys.stderr)
    correct = not b.problems and b.failed == 0
    print(result_line(correct, b.attempted, b.failed, values, bool(args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
