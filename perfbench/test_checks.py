"""The output checks pass on the program's real outputs and fire on a
corrupted copy of each. Run from the repository root:

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, os.getcwd())

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = run.start_session(str(tmp_path_factory.mktemp("perfbench")), trace=False)
    yield s
    s.stop()


def test_graph_checks(spark, tmp_path, monkeypatch):
    monkeypatch.setitem(gen.BUILD, "n_convs", 40)
    monkeypatch.setitem(gen.BUILD, "n_long", 1)
    wl = workloads.BuildKG(spark, str(tmp_path), seed=5)
    wl.setup()
    graph = wl.checked_op()
    assert wl.check(graph) == []
    assert wl.self_test(graph) == []
    # the traced composition builds the same graph
    traced = wl.traced_op(spans.Tracer(spark.sparkContext))
    assert wl.check_traced(traced) == []


def test_curation_checks(spark, tmp_path, monkeypatch):
    monkeypatch.setitem(gen.CURATE, "n_docs", 400)
    wl = workloads.CurateDocuments(spark, str(tmp_path), seed=5)
    wl.setup()
    wl.start_checks()
    out = wl.checked_op()
    assert wl.check(out) == []
    assert wl.self_test(out) == []


def test_search_checks():
    ids = {"edges": {"a", "b", "c"}}
    good = {"edges": [("a", 3.0), ("b", 2.0), ("c", 1.0)]}
    assert checks.check_search(good, ids, limit=3, ascending=False) == []
    assert checks.self_test_search(good, ids, limit=3, ascending=False) == []
    assert checks.check_search(good, ids, limit=3, ascending=True) != []


def test_bm25_matches_spark(spark):
    from graphiti_spark.operators import search as srch

    pdf = pd.DataFrame({
        "uuid": [f"u{i}" for i in range(6)],
        "fact": ["Alice works at Acme", "Bob works at Acme", "Alice likes Bob",
                 "Carol moved to Oslo", "acme acme works", ""],
    })
    query = "alice works acme"
    got = [(r["uuid"], r["score"]) for r in
           srch.bm25_search(spark.createDataFrame(pdf), "fact", query, limit=4).collect()]
    want = checks.bm25_pandas(pdf, "fact", query, limit=4)
    assert checks.check_bm25(got, want) == []
    assert checks.check_bm25(got[::-1], want) != []
