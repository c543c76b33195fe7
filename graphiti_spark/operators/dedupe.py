"""Node dedupe: blocking, pairwise verdict, canonicalization
(SURVEY §2.4 J4/J5/J8 + §2.6 G1).

Reference semantics replicated:
  * Blocking (bulk_utils.py:216-244): a candidate pair is considered
    when name word-sets overlap OR name-embedding cosine ≥ 0.8. This
    is the reference's own join pruning; here it is a token-key
    equi-join ∪ an LSH sign-band equi-join — both shuffle on
    (group_id, key) and never cross groups.
  * Verdict (deterministic analog of the dedupe_nodes prompt
    "same real-world object or concept; related-but-distinct are NOT
    duplicates" — prompts/dedupe_nodes.py:151-156): names are
    duplicates iff lowercased-equal, OR first tokens equal and one
    name's token set is a subset of the other's (alias: "Alice" ≡
    "Alice Smith"). Embedding similarity alone never merges.
  * Canonical uuid = lexicographically smallest in the duplicate
    component (bulk_utils.py:392-396) via connected components.

Scale notes: all joins are keyed by (group_id, block_key) so
partition pruning holds; hot groups rely on AQE skew-join splitting;
token blocking emits O(tokens) rows not O(n²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphiti_spark import ids
from graphiti_spark.functions import embeddings as emb
from graphiti_spark.functions import text as tx
from graphiti_spark.operators.connected_components import uuid_map_from_pairs

NODE_COSINE_THRESHOLD = 0.8  # reference bulk_utils.py:208


def distinct_entities(mentions_with_uuid: DataFrame) -> DataFrame:
    """mention rows → one row per (group_id, entity_uuid, entity_name)."""
    return mentions_with_uuid.select("group_id", "entity_uuid", "entity_name").distinct()


def candidate_pairs(
    entities: DataFrame, use_embedding_block: bool = False, max_df: int | None = None
) -> DataFrame:
    """J4 blocking → (group_id, src, dst, src_name, dst_name), src < dst.

    `max_df` caps the per-(group_id, token) block in the token
    equi-join, exactly like `dataset_dedup.jaccard_pairs`: a token
    shared by more than `max_df` entity names within one group is
    dropped from the JOIN KEY only — the verdict still sees each
    surviving pair's full token sets, so verdict semantics are
    untouched; the cap only prunes which pairs are *considered*.
    Without it, a group where thousands of entities share a name token
    (every company ending "Inc") makes an O(df²) pair block. A genuine
    duplicate pair is lost only if EVERY token its names share is
    over-cap — duplicates under the verdict share their (rare) first
    token, so sizing max_df above the expected max same-first-name
    entity count per group (e.g. 1000) keeps recall exact in practice.
    Default None preserves the reference's uncapped blocking
    (bulk_utils.py:216-244) for oracle parity; at corpus scale set it.
    """
    base = entities.select(
        "group_id",
        F.col("entity_uuid").alias("uuid"),
        F.col("entity_name").alias("name"),
        tx.tokens(F.col("entity_name")).alias("toks"),
    )
    tok = base.select("group_id", "uuid", "name", "toks", F.explode("toks").alias("tok"))
    if max_df is not None:
        keep = (
            tok.groupBy("group_id", "tok")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("group_id", "tok")
        )
        tok = tok.join(keep, ["group_id", "tok"], "left_semi")
    a, b = tok.alias("a"), tok.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.group_id") == F.col("b.group_id"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.uuid") < F.col("b.uuid")),
        )
        .select(
            F.col("a.group_id").alias("group_id"),
            F.col("a.uuid").alias("src"),
            F.col("b.uuid").alias("dst"),
            F.col("a.name").alias("src_name"),
            F.col("b.name").alias("dst_name"),
            F.col("a.toks").alias("src_toks"),
            F.col("b.toks").alias("dst_toks"),
        )
        .distinct()  # rows are identical per (group,src,dst) — distinct()
        # stays in HashAggregate; dropDuplicates(subset) would first()
        # the string columns and fall back to SortAggregate
    )
    if use_embedding_block:
        e = base.withColumn("embedding", emb.embed_udf(F.col("name"))).withColumn(
            "band", emb.sim_bands(F.col("embedding"))
        )
        ea, ebb = e.alias("a"), e.alias("b")
        epairs = (
            ea.join(
                ebb,
                (F.col("a.group_id") == F.col("b.group_id"))
                & (F.col("a.band") == F.col("b.band"))
                & (F.col("a.uuid") < F.col("b.uuid")),
            )
            .filter(emb.dot(F.col("a.embedding"), F.col("b.embedding")) >= NODE_COSINE_THRESHOLD)
            .select(
                F.col("a.group_id").alias("group_id"),
                F.col("a.uuid").alias("src"),
                F.col("b.uuid").alias("dst"),
                F.col("a.name").alias("src_name"),
                F.col("b.name").alias("dst_name"),
                F.col("a.toks").alias("src_toks"),
                F.col("b.toks").alias("dst_toks"),
            )
        )
        pairs = pairs.unionByName(epairs).distinct()
    return pairs


def _verdict(pairs: DataFrame) -> DataFrame:
    """J5 deterministic verdict over blocked pairs (keeps names)."""
    exact = F.lower(F.col("src_name")) == F.lower(F.col("dst_name"))
    first_tok_eq = F.element_at("src_toks", 1) == F.element_at("dst_toks", 1)
    subset = (F.size(F.array_except("src_toks", "dst_toks")) == 0) | (
        F.size(F.array_except("dst_toks", "src_toks")) == 0
    )
    return pairs.filter(exact | (first_tok_eq & subset))


def duplicate_pairs(pairs: DataFrame) -> DataFrame:
    """J5 deterministic verdict over blocked pairs."""
    return _verdict(pairs).select("group_id", "src", "dst")


def duplicate_of_edges(
    entities: DataFrame,
    run_ts: str,
    existing: DataFrame | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """P2 + P5: IS_DUPLICATE_OF edges between duplicate pairs.

    Reference build_duplicate_of_edges (edge_operations.py:66-89):
    filter self-pairs, name = 'IS_DUPLICATE_OF', fact =
    '<src> is a duplicate of <dst>'. P5
    (filter_existing_duplicate_of_edges, edge_operations.py:499-526):
    left-anti join on (source, target) drops pairs already edged.
    Deterministic uuid keyed on the pair makes the merge idempotent."""
    dups = _verdict(candidate_pairs(entities, max_df=max_df)).filter(
        F.col("src") != F.col("dst")
    )
    edges = dups.select(
        ids._md5_concat(F.lit("dup"), F.col("group_id"), F.col("src"), F.col("dst")).alias(
            "uuid"
        ),
        F.col("src").alias("source_node_uuid"),
        F.col("dst").alias("target_node_uuid"),
        "group_id",
        F.lit("IS_DUPLICATE_OF").alias("name"),
        F.concat(F.col("src_name"), F.lit(" is a duplicate of "), F.col("dst_name")).alias(
            "fact"
        ),
        F.lit(run_ts).cast("timestamp").alias("created_at"),
    )
    if existing is not None:
        edges = edges.join(
            existing.select("source_node_uuid", "target_node_uuid"),
            ["source_node_uuid", "target_node_uuid"],
            "left_anti",
        )
    return edges


def resolve_nodes(
    mentions_with_uuid: DataFrame, max_df: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """J8: full within-batch node dedupe.

    Returns (entities, uuid_map): `entities` is one row per raw
    (group_id, entity_uuid, entity_name); `uuid_map` maps raw → canonical
    for every raw uuid in a duplicate component (identity rows omitted).
    `max_df` → candidate_pairs blocking cap (skew guard, see there).
    """
    entities = distinct_entities(mentions_with_uuid)
    # The blocked token self-join is consumed exactly once now: the
    # packed executor-side union-find (connected_components_packed)
    # replaced the old CC driver probe + groups-union, which consumed
    # the pair set three ways and forced an eager localCheckpoint here.
    # Sharing of uuid_map across downstream actions is the caller's
    # concern (pipeline.build_graph lazily checkpoints it) — keeping
    # resolve_nodes action-free also avoids the cluster-mode
    # executor-loss hazard of eager localCheckpoint blocks.
    dups = duplicate_pairs(candidate_pairs(entities, max_df=max_df))
    return entities, uuid_map_from_pairs(dups)


def canonical_nodes(
    entities: DataFrame, uuid_map: DataFrame, created_at_lit, with_embeddings: bool = True
) -> DataFrame:
    """Project the canonical nodes table (schemas.NODES minus summary /
    attributes hydration, which extract_attributes fills later).

    Canonical node name = the name of the lexicographically-smallest raw
    uuid (deterministic arg-min, SURVEY §4 determinism note)."""
    from pyspark.sql import Window

    mapped = (
        entities.join(
            uuid_map.select(
                F.col("raw_uuid").alias("entity_uuid"), "canonical_uuid"
            ),
            "entity_uuid",
            "left",
        )
        .withColumn("uuid", F.coalesce("canonical_uuid", "entity_uuid"))
    )
    # window + rn=1 instead of groupBy(min_by(string)): string agg
    # buffers force the SortAggregate fallback (see resolve_edges note)
    wn = Window.partitionBy("group_id", "uuid").orderBy("entity_uuid")
    wnf = Window.partitionBy("group_id", "uuid")
    nodes = (
        mapped.withColumn("rn", F.row_number().over(wn))
        .withColumn("alias_names", F.sort_array(F.collect_set("entity_name").over(wnf)))
        .filter(F.col("rn") == 1)
        .withColumn("name", F.col("entity_name"))
        .select(
            "uuid",
            "name",
            "group_id",
            F.array(F.lit("Entity")).alias("labels"),
            F.concat_ws("; ", F.col("alias_names")).alias("summary"),
            F.map_from_arrays(
                F.array(F.lit("aliases")), F.array(F.concat_ws("|", F.col("alias_names")))
            ).alias("attributes"),
        )
        .withColumn("created_at", F.lit(created_at_lit).cast("timestamp"))
    )
    if with_embeddings:
        nodes = emb.attach_embedding(nodes, "name", "name_embedding")
    else:
        nodes = nodes.withColumn("name_embedding", F.lit(None).cast("array<float>"))
    return nodes.select(
        "uuid", "name", "group_id", "labels", "summary", "attributes", "name_embedding", "created_at"
    )
