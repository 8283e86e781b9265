"""Fast self-test of the benchmark (no Spark):

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from lucene_solr_spark.analysis import analyze_batch_codes  # noqa: E402
from perfbench import run  # noqa: E402
from perfbench.corpus import generate  # noqa: E402
from perfbench.oracle import Oracle  # noqa: E402
from perfbench.streams import ColdStream, HotStream  # noqa: E402
from perfbench.trace import StealClock, Timing  # noqa: E402


@pytest.fixture(scope="module")
def small():
    return generate(5, 300)


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_generator_is_deterministic_per_seed(small):
    again = generate(5, 300)
    assert again.texts == small.texts
    assert np.array_equal(again.positions, small.positions)
    assert generate(6, 300).texts != small.texts


def test_ground_truth_matches_the_analyzer(small):
    """Each generated token is exactly one analyzed token, stop gaps kept."""
    doc, codes, vocab, pos = analyze_batch_codes(pd.Series(small.texts))
    rank_of = {t: i for i, t in enumerate(small.vocab)}
    ranks = np.array([rank_of[t] for t in vocab[codes]])
    order = np.lexsort((pos, doc, ranks))
    post_rank = np.repeat(np.arange(small.vocab.size), np.diff(small.term_start))
    assert np.array_equal(ranks[order], np.repeat(post_rank, small.post_tf))
    assert np.array_equal(doc[order], np.repeat(small.post_doc, small.post_tf))
    assert np.array_equal(pos[order], small.positions)


def test_metric_names_and_units_match_benchmark_json(spec):
    for key, declared in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        listed = {m["name"]: (m["unit"], m["better"]) for m in spec[key]}
        assert listed == declared, key
    assert "setup_s" in run.END_TO_END
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOAD_NAMES)


def test_steal_adjusted_time_scales_the_wall_by_the_granted_share():
    assert Timing(2.0, 0.75).adjusted == 1.5
    t = StealClock().stop()
    assert t.wall >= 0 and 0 < t.granted <= 1


def test_run_declares_every_workload():
    from perfbench.workloads import WORKLOADS

    assert set(run.WORKLOAD_NAMES) == set(WORKLOADS)


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_carries_exactly_the_declared_metrics(trace):
    spec = run.PER_LAYER if trace else run.END_TO_END
    line = json.loads(run.result_line(True, 3, 0, {name: 1.5 for name in spec}, trace))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {
        name: {"value": 1.5, "unit": unit} for name, (unit, _) in spec.items()
    }


def _reference_oracle():
    path = os.path.join(ROOT, "tests", "oracle.py")
    mod_spec = importlib.util.spec_from_file_location("reference_oracle", path)
    mod = importlib.util.module_from_spec(mod_spec)
    sys.modules[mod_spec.name] = mod  # its dataclass resolves annotations here
    mod_spec.loader.exec_module(mod)
    return mod.OracleIndex


def test_oracle_matches_the_reference_oracle(small):
    ref = _reference_oracle().build(dict(enumerate(small.texts)))
    ours = Oracle(small)
    terms = [str(t) for t in small.vocab[small.present_ranks[[0, 3, 40, 200]]]]
    assert ours.doc_count == ref.doc_count
    for t in terms:
        assert ours.top_k(*ours.term(t), 10) == ref.top_k(ref.term_scores(t), 10)
    pair, triple = terms[:2], terms[1:]
    assert ours.top_k(*ours.conj(pair), 10) == ref.top_k(ref.boolean_and(pair), 10)
    assert ours.top_k(*ours.disj(triple), 10) == ref.top_k(ref.boolean_or(triple), 10)
    stream = HotStream(small, ours, 1)
    phrase = list(stream.pairs[0])
    assert ours.top_k(*ours.phrase(phrase), 10) == ref.top_k(ref.phrase_scores(phrase), 10)


def test_cold_stream_never_reuses_a_term(small):
    oracle = Oracle(small)
    stream = ColdStream(small, oracle, 1)
    seen: set[str] = set()
    for _ in range(4):
        for kind in stream.MIX:
            q = stream.make(kind)
            terms = oracle.expand(q.terms[0]) if kind == "prefix" else list(q.terms)
            assert terms and not seen.intersection(terms), q
            seen.update(terms)
