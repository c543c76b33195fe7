"""Graph maintenance API operators: episode-scoped retrieval, manual
triplet insertion, cascading episode removal (SURVEY §2.1 S8, §3 API
surface — graphiti.py:965-1052).

All three operate on the materialized table dict
{episodes, nodes, edges, mentions} and return DataFrames / updated
table dicts — pure dataflow, merged back via plans.materialize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphiti_spark import ids
from graphiti_spark.functions import embeddings as emb
from graphiti_spark.operators import edge_resolution as er


def nodes_and_edges_by_episode(
    tables: dict[str, DataFrame], episode_uuids: list[str] | DataFrame
) -> dict[str, DataFrame]:
    """get_nodes_and_edges_by_episode (graphiti.py:965-977): edges via
    the episodes' entity_edges back-references, nodes via MENTIONS.
    Both are semi-joins — broadcastable when the episode set is small."""
    eps = tables["episodes"]
    if isinstance(episode_uuids, DataFrame):
        eps = eps.join(episode_uuids.select("uuid"), "uuid", "left_semi")
    else:
        eps = eps.filter(F.col("uuid").isin(episode_uuids))
    edge_ids = eps.select(F.explode("entity_edges").alias("uuid")).distinct()
    edges = tables["edges"].join(edge_ids, "uuid", "left_semi")
    entity_ids = (
        tables["mentions"]
        .join(eps.select(F.col("uuid").alias("source_node_uuid")), "source_node_uuid", "left_semi")
        .select(F.col("target_node_uuid").alias("uuid"))
        .distinct()
    )
    nodes = tables["nodes"].join(entity_ids, "uuid", "left_semi")
    return {"nodes": nodes, "edges": edges}


def remove_episode(tables: dict[str, DataFrame], episode_uuid: str) -> dict[str, DataFrame]:
    """remove_episode (graphiti.py:1019-1052): delete the episode, the
    edges it CREATED (episodes[0] == episode — first provenance entry),
    and the entities mentioned ONLY by this episode. Every delete is an
    anti-join; the mention-count check is one partial aggregation."""
    edges = tables["edges"]
    mentions = tables["mentions"]

    doomed_edges = edges.filter(
        F.element_at("episodes", 1) == episode_uuid
    ).select("uuid")

    mention_counts = mentions.groupBy("target_node_uuid").agg(
        F.countDistinct("source_node_uuid").alias("n_eps")
    )
    doomed_nodes = (
        mentions.filter(F.col("source_node_uuid") == episode_uuid)
        .join(mention_counts, "target_node_uuid")
        .filter(F.col("n_eps") == 1)
        .select(F.col("target_node_uuid").alias("uuid"))
    )

    return {
        "episodes": tables["episodes"].filter(F.col("uuid") != episode_uuid),
        "edges": edges.join(doomed_edges, "uuid", "left_anti"),
        "nodes": tables["nodes"].join(doomed_nodes, "uuid", "left_anti"),
        "mentions": mentions.filter(F.col("source_node_uuid") != episode_uuid),
    }


def add_triplets(
    tables: dict[str, DataFrame], triplets: DataFrame, run_ts: str
) -> dict[str, DataFrame]:
    """add_triplet batch analog (graphiti.py:979-1017): manual
    (group_id, subj_name, pred, obj_name, fact, valid_at?) rows are
    resolved against the existing graph and merged.

    Content-derived ids make node resolution exact-name idempotent (a
    new surface that equals an existing node's lowercased name maps to
    the same uuid — the reference resolves via J1 candidates + verdict;
    our id scheme folds the exact-match case into identity). Edge
    resolution + bi-temporal invalidation reuse the SAME resolve_edges
    dataflow the pipeline runs, over the union of existing edge
    assertions and the new triplets, restricted to the affected
    (group, subj, obj) endpoint keys so the incremental cost is
    proportional to the touched keys, not the graph.
    """
    new = triplets.select(
        "group_id",
        "subj_name",
        "pred",
        "obj_name",
        F.coalesce(
            "fact",
            F.concat_ws(" ", "subj_name", F.lower(F.col("pred")), "obj_name"),
        ).alias("fact"),
        F.col("valid_at").cast("timestamp").alias("valid_at"),
        F.lit(None).cast("timestamp").alias("invalid_at"),
        F.md5(
            F.concat_ws("|", F.lit("manual"), "group_id", "subj_name", "pred", "obj_name")
        ).alias("episode_uuid"),
    )
    new = (
        new.withColumn("subj_uuid", ids.entity_uuid(F.col("group_id"), F.col("subj_name")))
        .withColumn("obj_uuid", ids.entity_uuid(F.col("group_id"), F.col("obj_name")))
        .withColumn(
            "edge_uuid",
            ids.edge_uuid(
                F.col("group_id"), F.col("episode_uuid"),
                F.col("subj_name"), F.col("pred"), F.col("obj_name"),
            ),
        )
    )

    # existing assertions on the touched endpoint keys, re-expressed as
    # triple rows so resolve_edges sees the full key history
    keys = new.select("group_id", "subj_uuid", "obj_uuid").distinct()
    existing = (
        tables["edges"]
        .join(
            keys.withColumnRenamed("subj_uuid", "source_node_uuid").withColumnRenamed(
                "obj_uuid", "target_node_uuid"
            ),
            ["group_id", "source_node_uuid", "target_node_uuid"],
            "left_semi",
        )
        .select(
            # one triple row PER provenance episode: resolve_edges rebuilds
            # the episodes array via collect_set(episode_uuid), so carrying
            # only episodes[0] would silently shrink multi-episode
            # provenance on every touched key (the reference's add_triplet
            # never rewrites existing edges' provenance)
            F.explode_outer("episodes").alias("episode_uuid"),
            "group_id",
            F.col("source_node_uuid").alias("subj_uuid"),
            F.col("target_node_uuid").alias("obj_uuid"),
            "subj_name",
            F.col("name").alias("pred"),
            "obj_name",
            "fact",
            "valid_at",
            "invalid_at",
            F.col("uuid").alias("edge_uuid"),
        )
    )
    resolved = er.resolve_edges(
        existing.unionByName(new.select(existing.columns)), run_ts
    )

    # new entity nodes for names not present yet
    new_nodes = (
        new.select("group_id", F.col("subj_uuid").alias("uuid"), F.col("subj_name").alias("name"))
        .unionByName(
            new.select("group_id", F.col("obj_uuid").alias("uuid"), F.col("obj_name").alias("name"))
        )
        .dropDuplicates(["uuid"])
        .join(tables["nodes"].select("uuid"), "uuid", "left_anti")
        .select(
            "uuid",
            "name",
            "group_id",
            F.array(F.lit("Entity")).alias("labels"),
            F.col("name").alias("summary"),
            F.lit(None).cast("map<string,string>").alias("attributes"),
            F.lit(run_ts).cast("timestamp").alias("created_at"),
        )
    )
    new_nodes = emb.attach_embedding(new_nodes, "name", "name_embedding").select(
        tables["nodes"].columns
    )

    merged_edges = (
        tables["edges"]
        .join(resolved.select("uuid"), "uuid", "left_anti")
        .unionByName(resolved.select(tables["edges"].columns))
    )
    return {
        **tables,
        "edges": merged_edges,
        "nodes": tables["nodes"].unionByName(new_nodes),
    }


def clear_data(
    tables: dict[str, DataFrame], group_ids: list[str] | None = None
) -> dict[str, DataFrame]:
    """clear_data (graph_data_operations.py:66-81): delete everything,
    or every row of the given group_ids, across all graph tables.

    The reference detaches-and-deletes matched nodes in one Cypher
    write; here each table is a filter (group_ids) or an empty
    projection (full clear). PHYSICAL NOTE: on group-partitioned
    parquet/Iceberg storage the group-scoped form is a partition DROP —
    pure metadata, no data scan — which is the operation a 100 TB
    tenant-offboarding job actually needs; the DataFrame filter here is
    the in-plan equivalent the materializer pushes down to the
    partition level."""
    if group_ids is None:
        return {
            name: df.filter(F.lit(False)) for name, df in tables.items()
        }
    # a NULL group_id belongs to no listed group: keep it (a bare
    # ~isin is NULL there, which the filter would drop)
    cond = F.col("group_id").isNull() | ~F.col("group_id").isin(group_ids)
    return {name: df.filter(cond) for name, df in tables.items()}
