"""Canonicalization, bi-temporal invalidation, full pipeline."""

from __future__ import annotations

import pandas as pd
import pytest

from graphiti_spark import transcripts as tr
from graphiti_spark.operators import connected_components as cc
from graphiti_spark.operators import dedupe as dd
from graphiti_spark.operators import episodes as ep_ops
from graphiti_spark.operators import extraction as ex
from graphiti_spark.plans import pipeline as pl

TS = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def _tdf(spark, rows):
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "ts"]
    )
    pdf["tool"] = ""
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return spark.createDataFrame(pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]], schema=TS)


def test_connected_components_min_label(spark):
    pairs = spark.createDataFrame(
        [("b", "c", "g"), ("a", "b", "g"), ("x", "y", "g"), ("q", "q", "g")],
        "src string, dst string, group_id string",
    )
    got = cc.uuid_map_from_pairs(pairs).toPandas().set_index("raw_uuid")["canonical_uuid"].to_dict()
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_alias_dedupe(spark):
    t = _tdf(
        spark,
        [
            ("c1", 0, "user", "Alice works at Acme.", "2025-01-01 00:00:00"),
            ("c1", 1, "user", "Alice Smith moved to Paris.", "2025-01-01 00:01:00"),
            ("c2", 0, "user", "Alice dislikes Bob.", "2025-01-01 00:00:00"),
        ],
    )
    eps = ep_ops.build_episodes(t)
    mentions = ex.mentions_with_entity_uuid(ex.extract_mentions(eps))
    entities, uuid_map = dd.resolve_nodes(mentions)
    m = uuid_map.toPandas()
    # Alice ≡ Alice Smith within c1 only; groups never cross
    assert set(m["group_id"]) == {"c1"}
    nodes = dd.canonical_nodes(entities, uuid_map, "2025-06-01 00:00:00", with_embeddings=False).toPandas()
    c1_names = sorted(nodes[nodes.group_id == "c1"]["name"])
    assert "Alice" in c1_names and "Alice Smith" not in c1_names
    merged = nodes[(nodes.group_id == "c1") & (nodes.name == "Alice")]
    assert merged.iloc[0]["summary"] == "Alice; Alice Smith"


def test_bitemporal_invalidation_truth_table(spark):
    """FIXTURES.md §4 — deterministic analog of edge_operations.py:345-375."""
    t = _tdf(
        spark,
        [
            # assertion then termination → invalid_at set to termination time
            ("c1", 0, "user", "Bob works at Acme.", "2025-01-01 00:00:00"),
            ("c1", 1, "user", "Bob no longer works at Acme.", "2025-02-01 00:00:00"),
            # termination BEFORE assertion (disjoint) → untouched
            ("c2", 0, "user", "Bob no longer works at Acme.", "2025-01-01 00:00:00"),
            ("c2", 1, "user", "Bob works at Acme.", "2025-02-01 00:00:00"),
            # likes → dislikes contradiction chain
            ("c3", 0, "user", "Alice likes Bob.", "2025-01-01 00:00:00"),
            ("c3", 1, "user", "Alice dislikes Bob.", "2025-03-01 00:00:00"),
            # unrelated fact contradicts nothing
            ("c4", 0, "user", "Carol works at Acme.", "2025-01-01 00:00:00"),
            ("c4", 1, "user", "Dave no longer works at Acme.", "2025-02-01 00:00:00"),
        ],
    )
    tables = pl.build_graph(t, with_embeddings=False)
    e = tables["edges"].toPandas()
    by = lambda g, p: e[(e.group_id == g) & (e.name == p) & e.valid_at.notna()].iloc[0]

    r1 = by("c1", "WORKS_AT")
    assert str(r1["invalid_at"]) == "2025-02-01 00:00:00"
    assert pd.notna(r1["expired_at"])  # T3

    r2 = by("c2", "WORKS_AT")
    assert pd.isna(r2["invalid_at"])  # disjoint: termination predates assertion

    likes = e[(e.group_id == "c3") & (e.name == "LIKES")].iloc[0]
    dislikes = e[(e.group_id == "c3") & (e.name == "DISLIKES")].iloc[0]
    assert str(likes["invalid_at"]) == "2025-03-01 00:00:00"
    assert pd.isna(dislikes["invalid_at"])  # newest info stays current

    r4 = e[(e.group_id == "c4") & (e.name == "WORKS_AT") & e.valid_at.notna()].iloc[0]
    assert pd.isna(r4["invalid_at"])  # Carol ≠ Dave: no contradiction


def test_edge_dedupe_provenance(spark):
    t = _tdf(
        spark,
        [
            ("c1", 0, "user", "Alice works at Acme.", "2025-01-01 00:00:00"),
            ("c1", 1, "assistant", "Alice works at Acme.", "2025-01-02 00:00:00"),
        ],
    )
    tables = pl.build_graph(t, with_embeddings=False)
    e = tables["edges"].toPandas()
    assert len(e) == 1
    assert len(e.iloc[0]["episodes"]) == 2  # provenance union (edge_operations.py:428-436)
    assert str(e.iloc[0]["valid_at"]) == "2025-01-01 00:00:00"  # earliest wins


def test_full_pipeline_materialize_and_resume(spark, tmp_path):
    t = tr.synthesize_transcripts(spark, n_convs=12, turns_per_conv=8)
    out = str(tmp_path / "graph")
    counts = pl.run_pipeline(spark, t, out, run_id="r1", with_embeddings=False)
    assert counts["episodes"] == 96
    assert counts["edges"] > 0 and counts["nodes"] > 0 and counts["mentions"] > 0

    # resume: same run_id skips every stage
    counts2 = pl.run_pipeline(spark, t, out, run_id="r1", with_embeddings=False)
    assert all(v == -1 for v in counts2.values())

    # idempotence: a new run over the same input merges to identical tables
    counts3 = pl.run_pipeline(spark, t, out, run_id="r2", with_embeddings=False)
    assert counts3["episodes"] == counts["episodes"]
    assert counts3["edges"] == counts["edges"]

    lineage = spark.read.parquet(f"{out}/lineage.parquet").toPandas()
    assert set(lineage["stage"]) == {"episodes", "nodes", "edges", "mentions", "uuid_map"}
    assert (lineage["row_count"] > 0).any()


def test_triple_pr_vs_oracle(spark):
    """North-rule gate: P/R ≥ 0.95 on (subj, pred, obj) vs the rule oracle.
    Subject surface forms canonicalize (alias → canonical name), so
    compare on canonicalized names from the nodes table. Shares the
    metric implementation with bench.py (graphiti_spark.metrics)."""
    from graphiti_spark.metrics import triple_precision_recall

    precision, recall = triple_precision_recall(spark)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)


def test_dedupe_blocking_df_cap_bounds_pairs(spark):
    """VERDICT r3 #4: a name token shared by many entities in one group
    ("Inc") must not create an O(df²) candidate block when max_df caps
    the token join — and genuine duplicates, which share their rare
    first token, must still merge under the cap."""
    rows = [("g1", f"u{i:03d}", f"Corp{i} Inc") for i in range(40)]
    rows += [("g1", "u100", "Alice"), ("g1", "u101", "Alice Smith")]
    entities = spark.createDataFrame(
        rows, "group_id string, entity_uuid string, entity_name string"
    )
    capped = dd.candidate_pairs(entities, max_df=5).toPandas()
    # "inc" has df=40 > 5 → dropped from the join key: the 40 Corp
    # entities share ONLY that token, so no pair among them survives
    assert not ((capped.src < "u100") & (capped.dst < "u100")).any()
    # rare-token pair still blocked and still merges under the verdict
    assert {("u100", "u101")} == set(zip(capped.src, capped.dst))
    dups = dd.duplicate_pairs(dd.candidate_pairs(entities, max_df=5)).toPandas()
    assert {("u100", "u101")} == set(zip(dups.src, dups.dst))
    # uncapped blocking on the same input: the Corp block is quadratic
    uncapped = dd.candidate_pairs(entities).toPandas()
    assert len(uncapped) == 40 * 39 // 2 + 1


def test_pipeline_empty_input(spark):
    """Empty transcripts through the full pipeline: every table comes
    back empty with its schema intact, no stage throws (robustness —
    a real ingest sees empty partitions/batches routinely)."""
    empty = spark.createDataFrame([], schema=TS)
    tables = pl.build_graph(empty, with_embeddings=True)
    for name in ["episodes", "nodes", "edges", "mentions", "uuid_map"]:
        assert tables[name].count() == 0, name
    assert {f.name for f in tables["edges"].schema} >= {
        "uuid", "source_node_uuid", "target_node_uuid", "name", "fact",
        "valid_at", "invalid_at", "created_at", "expired_at",
    }


def test_build_graph_salted_extraction_equivalence(spark):
    """salt_hot_conversations re-keys only the UDF input; every output
    table is identical to the unsalted build (extraction is per-row)."""
    rows = []
    for i in range(30):  # one "hot" conversation spanning many salt chunks
        rows.append(("hot", i, "user", f"Alice likes Bob{i}.", f"2025-01-01 00:{i:02d}:00"))
    rows += [
        ("c1", 0, "user", "Carol works at Acme.", "2025-01-01 00:00:00"),
        ("c1", 1, "user", "Carol moved to Paris.", "2025-01-02 00:00:00"),
    ]
    t = _tdf(spark, rows)
    plain = pl.build_graph(t, with_embeddings=False)
    salted = pl.build_graph(t, with_embeddings=False, salt_hot_conversations=8)
    for name in ("edges", "nodes", "mentions"):
        a = plain[name].toPandas().sort_values("uuid").reset_index(drop=True)
        b = salted[name].toPandas().sort_values("uuid").reset_index(drop=True)
        pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])


def test_chain_corpus_requires_true_closure(spark, sf_dir):
    """The chain-alias corpus (CHAIN_TRANSCRIPTS_SQL) is the fixture
    that makes the kg_uuid_map_alias oracle a REAL test of G1: its
    duplicate components are stars of three surface forms through the
    base name, so (a) a one-hop least(self, min(neighbor)) map must
    DIVERGE from true connected components on some vertices (else the
    recursive-CTE oracle would be indistinguishable from
    KG_CANONICAL_MAP's one-hop shape), and (b) Spark's executor-side
    union-find must equal the brute-force transitive closure."""
    t = tr.transcripts_from_events_chain(spark, sf_dir)
    mentions = ex.mentions_with_entity_uuid(ex.extract_mentions(ep_ops.build_episodes(t)))
    entities, uuid_map = dd.resolve_nodes(mentions)
    pairs = dd.duplicate_pairs(dd.candidate_pairs(entities)).toPandas()
    got = {
        (r.group_id, r.raw_uuid): r.canonical_uuid
        for r in uuid_map.collect()
    }

    # brute-force closure per group
    import collections

    adj = collections.defaultdict(set)
    for r in pairs.itertuples():
        adj[(r.group_id, r.src)].add(r.dst)
        adj[(r.group_id, r.dst)].add(r.src)
    want, onehop = {}, {}
    for (g, v), nbrs in adj.items():
        seen, stack = {v}, [v]
        while stack:
            u = stack.pop()
            for w in adj[(g, u)]:
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        want[(g, v)] = min(seen)
        onehop[(g, v)] = min({v} | nbrs)

    assert got == want, "union-find != brute-force closure"
    divergent = [k for k in want if want[k] != onehop[k]]
    assert divergent, "chain corpus produced no multi-hop components"


def test_warm_build_graph_compiles_no_classes(spark):
    """A warm build_graph + force_outputs pass reuses every generated
    class: the session's codegen cache holds the engine's working set.
    At Spark's default of 100 entries every pass evicted and recompiled
    about 180 classes on this input."""
    t = tr.synthesize_transcripts(spark, n_convs=24, turns_per_conv=10, skew_frac=0.0).localCheckpoint()
    assert t.count() == 240
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    for _ in range(2):
        pl.force_outputs(pl.build_graph(t))
    before = compiles()
    pl.force_outputs(pl.build_graph(t))
    assert compiles() - before <= 5
