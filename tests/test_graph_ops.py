"""Tests for the graph maintenance API (graphiti.py:965-1052 analogs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphiti_spark import transcripts as tr
from graphiti_spark.operators import graph_ops as go
from graphiti_spark.plans import pipeline as pl


@pytest.fixture(scope="module")
def tables(spark):
    t = tr.synthesize_transcripts(spark, n_convs=6, turns_per_conv=8)
    tabs = pl.build_graph(t, with_embeddings=False)
    return {k: v.localCheckpoint() for k, v in tabs.items()}


def test_nodes_and_edges_by_episode(spark, tables):
    ep = (
        tables["episodes"]
        .filter(F.size("entity_edges") > 0)
        .orderBy("uuid")
        .first()
    )
    out = go.nodes_and_edges_by_episode(tables, [ep["uuid"]])
    edges = out["edges"].toPandas()
    nodes = out["nodes"].toPandas()
    assert set(edges["uuid"]) == set(ep["entity_edges"])
    # every mentioned entity of the episode is returned
    expected_nodes = {
        r["target_node_uuid"]
        for r in tables["mentions"].filter(F.col("source_node_uuid") == ep["uuid"]).collect()
    }
    assert set(nodes["uuid"]) == expected_nodes


def test_remove_episode_cascades(spark, tables):
    ep_uuid = (
        tables["mentions"].groupBy("source_node_uuid").count().orderBy("source_node_uuid").first()[0]
    )
    before_nodes = tables["nodes"].count()
    out = go.remove_episode(tables, ep_uuid)
    assert out["episodes"].filter(F.col("uuid") == ep_uuid).count() == 0
    assert out["mentions"].filter(F.col("source_node_uuid") == ep_uuid).count() == 0
    # edges created by this episode (first provenance) are gone
    assert (
        out["edges"].filter(F.element_at("episodes", 1) == ep_uuid).count() == 0
    )
    # only single-mention entities were cascaded
    removed = before_nodes - out["nodes"].count()
    singles = (
        tables["mentions"]
        .groupBy("target_node_uuid")
        .agg(F.countDistinct("source_node_uuid").alias("n"))
        .join(
            tables["mentions"]
            .filter(F.col("source_node_uuid") == ep_uuid)
            .select("target_node_uuid"),
            "target_node_uuid",
            "left_semi",
        )
        .filter("n = 1")
        .count()
    )
    assert removed == singles


def test_add_triplets_inserts_and_invalidates(spark, tables):
    g = tables["edges"].select("group_id").orderBy("group_id").first()[0]
    new = spark.createDataFrame(
        [
            (g, "Zed", "LIKES", "Yara", None, "2025-03-01 00:00:00"),
            (g, "Zed", "DISLIKES", "Yara", None, "2025-04-01 00:00:00"),
        ],
        "group_id string, subj_name string, pred string, obj_name string, fact string, valid_at string",
    )
    out = go.add_triplets(tables, new, "2025-06-01 00:00:00")
    zed = out["edges"].filter(F.col("subj_name") == "Zed").toPandas()
    assert set(zed["name"]) == {"LIKES", "DISLIKES"}
    likes = zed[zed["name"] == "LIKES"].iloc[0]
    # the later antonym assertion invalidates the earlier LIKES edge
    assert likes["invalid_at"] is not None and str(likes["invalid_at"]).startswith("2025-04-01")
    # both endpoints exist as nodes now
    names = set(
        out["nodes"].filter(F.col("name").isin("Zed", "Yara")).toPandas()["name"]
    )
    assert names == {"Zed", "Yara"}
    # idempotence: re-adding the same triplets does not duplicate edges
    again = go.add_triplets(out, new, "2025-06-01 00:00:00")
    assert again["edges"].filter(F.col("subj_name") == "Zed").count() == 2


def test_clear_data(spark, sf_dir):
    from graphiti_spark import transcripts as tr
    from graphiti_spark.operators import graph_ops as go
    from graphiti_spark.plans import pipeline as pl

    tables = pl.build_graph(
        tr.transcripts_from_events(spark, sf_dir), with_embeddings=False
    )
    tables = {k: v.localCheckpoint() for k, v in tables.items()}

    g = tables["edges"].select("group_id").orderBy("group_id").first()[0]
    scoped = go.clear_data(tables, [g])
    for name in ("episodes", "nodes", "edges", "mentions"):
        assert scoped[name].filter(f"group_id = '{g}'").count() == 0, name
        # other groups untouched
        assert (
            scoped[name].count()
            == tables[name].filter(f"group_id <> '{g}'").count()
        ), name

    wiped = go.clear_data(tables)
    for name in ("episodes", "nodes", "edges", "mentions"):
        assert wiped[name].count() == 0, name
        assert wiped[name].schema == tables[name].schema, name


def test_clear_data_keeps_null_group_rows(spark):
    from graphiti_spark.operators import graph_ops as go

    nodes = spark.createDataFrame(
        [("n1", "g1"), ("n2", "g2"), ("n3", None)], "uuid string, group_id string"
    )
    scoped = go.clear_data({"nodes": nodes}, ["g1"])
    # a NULL-group row belongs to no listed group, so it survives
    assert sorted(r.uuid for r in scoped["nodes"].collect()) == ["n2", "n3"]


def test_group_id_and_excluded_type_validators(spark):
    import pytest as _pytest

    from graphiti_spark import ids
    from graphiti_spark.operators import ontology as onto

    assert ids.validate_group_id("") is True
    assert ids.validate_group_id("conv-42_A") is True
    with _pytest.raises(ids.GroupIdValidationError):
        ids.validate_group_id("bad group!")

    df = spark.createDataFrame(
        [("ok-1",), ("bad id",), ("",), (None,)], "group_id string"
    )
    bad = ids.invalid_group_ids(df).collect()
    assert [r.group_id for r in bad] == ["bad id"]

    assert onto.validate_excluded_entity_types(None) is True
    assert onto.validate_excluded_entity_types(["Entity"]) is True
    assert (
        onto.validate_excluded_entity_types(["Person"], {"Person": []}) is True
    )
    with _pytest.raises(ValueError):
        onto.validate_excluded_entity_types(["Ghost"], {"Person": []})
