"""Connected components for dedupe canonicalization (SURVEY §2.6 G1).

Deterministic analog of the reference's driver-side UnionFind +
compress_uuid_map (utils/bulk_utils.py:377-414): connected components
over duplicate pairs, canonical = lexicographically smallest uuid in
the component (bulk_utils.py:392-396 — string min matches exactly).

Two strategies, picked by input shape:

1. **Packed per-group union-find (the production path)** — duplicate
   pairs are produced by group-scoped blocking (dedupe.candidate_pairs
   joins on group_id), so components can NEVER cross a group boundary.
   `connected_components_packed` packs each group's pair set into one
   row and runs an exact union-find per row inside an Arrow-batched
   pandas UDF ON THE EXECUTORS. No driver collect, no iteration, one
   shuffle; a pathological giant group degrades to one slow task
   (bound it upstream via blocking).
2. **Ungrouped (`connected_components`)** — for pair sets small enough
   to collect (picked by a cheap `count()`, not a speculative
   collect), one exact driver union-find pass beats the loop's
   per-round job overhead; larger graphs run iterative min-label
   propagation, the GraphFrames connectedComponents recipe: label(v) ←
   min(label(v), min label of neighbors) until fixpoint; monotone, so
   iterations ≈ diameter; `localCheckpoint()` per round cuts lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Above this many ungrouped pairs the driver collect becomes a memory /
# serial-time hazard (VERDICT r1 #3) and the distributed loop runs.
DRIVER_CC_MAX_PAIRS = 100_000


def _union_find(pairs_rows) -> list[tuple[str, str]]:
    """Union-find with path compression; canonical = lexicographic min."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs_rows:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by canonical-min so the root IS the component id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(n, find(n)) for n in parent]


def connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    driver_max_pairs: int = DRIVER_CC_MAX_PAIRS,
    size_hint: int | None = None,
) -> DataFrame:
    """pairs(src, dst) undirected → (node, component) with component =
    lexicographically smallest node id in the component.

    Ungrouped/general API. Strategy picked by a distinct count over a
    MATERIALIZED pair set: `uniq` is eagerly localCheckpoint-ed before
    the count, so the upstream pair generation (in the flagship
    curation pipeline that is the dominant star-LSH band join) executes
    exactly ONCE — the strategy count and the subsequent collect /
    min-label loop both read the checkpointed blocks (VERDICT r4 #1:
    without this the hot path paid the band join twice). Callers that
    already know the pair-set size pass `size_hint` to skip the count;
    the checkpoint is still taken on the driver path (the collect needs
    it anyway) and on the loop path (lineage cut)."""
    spark = pairs.sparkSession
    uniq = pairs.select(src, dst).distinct().localCheckpoint(eager=True)
    n_pairs = uniq.count() if size_hint is None else size_hint
    if n_pairs <= driver_max_pairs:
        out = _union_find([(r[0], r[1]) for r in uniq.collect()])
        if not out:
            return spark.createDataFrame([], "node string, component string")
        return spark.createDataFrame(out, "node string, component string")
    edges = (
        uniq.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(uniq.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("component").alias("nbr_component"))
            # per-round delta checkpoint cuts lineage cheaply. Caveat
            # (see communities.label_propagation): Spark 4 checkpoint
            # leaves inherit origin stats and join sizeInBytes stats
            # are products, so stat bit-width still doubles per round;
            # tolerable here ONLY because min-label converges in
            # ~graph-diameter rounds (≪ 15) — this loop is the fallback
            # for large UNGROUPED graphs, never the production path
            .localCheckpoint()
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.a, "left")
            .select(
                "node",
                F.least(F.col("component"), F.col("nbr_component")).alias("component"),
                F.col("component").alias("old"),
            )
        )
        changed = new_labels.filter(F.col("component") != F.col("old")).limit(1).count()
        labels = new_labels.drop("old").localCheckpoint()
        if changed == 0:
            break
    return labels


def connected_components_packed(
    pairs: DataFrame,
    group_col: str = "group_id",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """pairs(group_col, src, dst) → (group_col, node, component), exact
    union-find per group on the executors. Correct ONLY when edges never
    cross `group_col` values — true for dedupe pairs (blocking joins
    include group_id).

    Physical shape: pack each group's pair set into ONE row
    (collect_list of structs — ObjectHashAggregate, map-side partial),
    run union-find per row inside an Arrow-batched pandas_udf, explode
    back. Why not groupBy().applyInPandas: that pays a per-GROUP Arrow
    batch + Python call; a KG corpus has very many tiny conversation
    groups (10⁵-10⁶), so that overhead dominates the actual union-find.
    Here the Python cost is per-BATCH (thousands of groups per Arrow
    batch). The one-row-per-group packing holds as long as a single
    group's pair set fits in a row (the bound applyInPandas imposes on
    a group too)."""
    import pandas as pd  # noqa: F401 (annotation namespace)
    from pyspark.sql import types as T

    ret_type = T.ArrayType(
        T.StructType(
            [
                T.StructField("node", T.StringType()),
                T.StructField("component", T.StringType()),
            ]
        )
    )

    def _cc_rows_fn(prs):
        return prs.apply(
            lambda ps: [
                {"node": n, "component": c}
                for n, c in _union_find((p["s"], p["d"]) for p in ps)
            ]
        )

    # Explicit eval_type via pandas_udf's string-hint-free form: wrap a
    # plain function whose annotations are attached from real objects so
    # PySpark's type-hint inference resolves (a lexically nested `import
    # pandas as pd` is invisible to get_type_hints on string hints).
    _cc_rows_fn.__annotations__ = {"prs": pd.Series, "return": pd.Series}
    _cc_rows = F.pandas_udf(ret_type)(_cc_rows_fn)

    packed = pairs.groupBy(group_col).agg(
        F.collect_list(
            F.struct(F.col(src).alias("s"), F.col(dst).alias("d"))
        ).alias("prs")
    )
    return (
        packed.select(group_col, F.explode(_cc_rows(F.col("prs"))).alias("nc"))
        .select(group_col, F.col("nc.node").alias("node"), F.col("nc.component").alias("component"))
    )


def uuid_map_from_pairs(pairs: DataFrame, group_col: str = "group_id") -> DataFrame:
    """duplicate pairs(src, dst, group_id) → uuid_map(raw_uuid,
    canonical_uuid, group_id). Nodes not in any pair are absent (callers
    coalesce to identity, mirroring compress_uuid_map which only maps
    touched uuids).

    Uses the packed executor-side union-find (see
    connected_components_packed): no driver collect, no iterative loop,
    per-Arrow-batch Python overhead instead of per-group."""
    return connected_components_packed(pairs, group_col=group_col).select(
        F.col("node").alias("raw_uuid"),
        F.col("component").alias("canonical_uuid"),
        F.col(group_col),
    )
