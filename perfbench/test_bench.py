"""Checks of the benchmark itself; no Spark session needed.

    python3 -m pytest perfbench/test_bench.py -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from mahout_spark.functions.scoring import bm25_score
from perfbench import corpus as gen
from perfbench import metrics
from perfbench.oracle import Checker, Oracle, mismatch
from perfbench.workloads import Bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_oracle_is_bm25_ranked_by_score_then_doc_id():
    texts = ["spark spark join", "spark join", "join join join", "", "spark join"]
    oracle = Oracle(range(10, 15), texts)
    q = gen.Query("q", "head", ("spark", "join"), False)
    got = oracle.search([q], k=10)["q"]
    n, avgdl = 5, (3 + 2 + 3 + 2) / 4
    want = {}
    for d, t in zip(range(10, 15), texts):
        toks = t.split()
        s = [bm25_score(toks.count(w), df, len(toks), n, avgdl)
             for w, df in (("join", 4), ("spark", 3)) if w in toks]
        if s:
            want[d] = sum(s)
    assert [d for d, _ in got] == sorted(want, key=lambda d: (-want[d], d))
    assert [d for d, _ in got] == [10, 11, 14, 12]  # 11 and 14 tie -> by id
    for d, s in got:
        assert s == pytest.approx(want[d], rel=1e-12)
    q_and = gen.Query("a", "head", ("spark", "join", "absent"), True)
    assert oracle.search([q_and], k=10)["a"] == []


def test_hidden_docs_count_in_stats_but_are_not_returned():
    texts = ["spark join", "spark", "join"]
    q = gen.Query("q", "head", ("spark",), False)
    full = Oracle([1, 2, 3], texts).search([q], 10)["q"]
    hid = Oracle([1, 2, 3], texts, hidden=[1]).search([q], 10)["q"]
    assert hid == [p for p in full if p[0] != 1]


@pytest.mark.parametrize("corrupt", [
    lambda r: r[:-1],                                   # a hit dropped
    lambda r: [r[1], r[0], *r[2:]],                     # two ranks swapped
    lambda r: [(r[0][0] + 1, r[0][1]), *r[1:]],         # wrong doc_id
    lambda r: [(r[0][0], r[0][1] * (1 + 1e-8)), *r[1:]],  # score off 1e-8
])
def test_corrupted_result_is_a_failed_operation(corrupt):
    """Inject a corrupted result into the workloads' own check path."""
    bench = Bench("unused", "search", 7, 1, trace=False)
    bench.C = gen.make_docs(bench.rng(0), 0, 64, "c")
    q = gen.Query("q0", "head", tuple(gen.head_terms()[:3]), False)
    right = Oracle(bench.C.doc_ids, bench.C.texts).search([q], gen.K)["q0"]
    assert len(right) == gen.K
    bench.verify("t", [(q, "searcher", right), (q, "wand", corrupt(right))])
    assert (bench.check.attempted, bench.check.failed) == (2, 1)
    assert bench.check.error_rate == 0.5


def test_mismatch_tolerance_is_relative_1e9():
    assert mismatch([(1, 2.0)], [(1, 2.0 * (1 + 5e-10))]) is None
    assert mismatch([(1, 2.0)], [(1, 2.0 * (1 + 2e-9))]) is not None
    c = Checker()
    c.compare("ok", [(1, 1.0)], [(1, 1.0)])
    assert (c.attempted, c.failed) == (1, 0)


def test_generator_is_deterministic_per_seed():
    a = gen.make_docs(np.random.default_rng([5, 0]), 0, 50, "c")
    b = gen.make_docs(np.random.default_rng([5, 0]), 0, 50, "c")
    c = gen.make_docs(np.random.default_rng([6, 0]), 0, 50, "c")
    assert a.texts == b.texts and a.texts != c.texts
    heads = gen.head_terms()
    s1 = gen.query_stream(np.random.default_rng(1), a.idents, heads, 40, set())
    s2 = gen.query_stream(np.random.default_rng(1), a.idents, heads, 40, set())
    assert s1 == s2
    assert sorted((q.kind, len(q.terms), q.mode_all) for q in s1) == sorted(
        4 * gen.MIX_BLOCK)
    tail_terms = [t for q in s1 if q.kind == "tail" for t in q.terms]
    assert len(tail_terms) == len(set(tail_terms))  # each queried once


def test_identifiers_survive_the_tokenizer():
    gen.check_identifiers_survive_tokenizer(
        gen.make_docs(np.random.default_rng(0), 0, 4, "a3x"))


def test_benchmark_json_matches_metric_table():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    assert e2e == {n: v[:2] for n, v in metrics.END_TO_END.items()}
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layers == {n: v[:2] for n, v in metrics.PER_LAYER.items()}
    assert [w["name"] for w in spec["workloads"]] == list(metrics.BOTH)
    for _, _, moves, _ in metrics.PER_LAYER.values():
        assert set(moves) <= set(metrics.END_TO_END)


def test_oracle_state_follows_deletes_and_compaction():
    """Docs deleted before a compaction leave the oracle's corpus; docs
    deleted after it stay in its stats but are never returned."""
    bench = Bench("unused", "search", 7, 1, trace=False)
    bench.C = gen.make_docs(bench.rng(0), 0, 64, "c")
    q = gen.Query("q0", "head", tuple(gen.head_terms()[:2]), False)
    ids, texts = bench.C.doc_ids, bench.C.texts
    bench.deleted = [0, 1, 2]
    bench.purged = {0, 1}
    want = Oracle(ids[2:], texts[2:], hidden=[2]).search([q], gen.K)["q0"]
    assert 2 not in [d for d, _ in want]
    bench.verify("t", [(q, "searcher", want)])
    wrong = Oracle(ids, texts, hidden=[0, 1, 2]).search([q], gen.K)["q0"]
    assert wrong != want
    bench.verify("t", [(q, "searcher", wrong)])
    assert (bench.check.attempted, bench.check.failed) == (2, 1)
