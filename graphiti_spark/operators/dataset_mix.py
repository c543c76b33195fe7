"""Training-mix construction operators: deterministic stratified
sampling (source re-weighting) and GPT-style concat-and-chunk sequence
packing. Both are pure codegen'd column/window expressions with exact
DuckDB oracles — no randomness, no UDFs.

These cover the last mile of a pre-training data pipeline: after
filtering and dedup, corpora are re-weighted per source (e.g. books
up-sampled, crawl down-sampled — Brown et al. 2020 §2.2 table 2.2) and
packed into fixed-length token sequences (documents concatenated in a
deterministic order, sliced every seq_len tokens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Resolution of the hash-threshold sampler: first 8 hex digits of md5
# compared lexicographically (fixed-width lowercase hex orders exactly
# like the 32-bit integer it encodes — true in both Spark and DuckDB).
_HASH_SPACE = 16 ** 8


def _thresh_expr(rate):
    """8-hex-digit md5 threshold COLUMN for a rate column in [0, 1] —
    the column-level twin of `rate_threshold_hex`. One definition: the
    exact lpad/lower/hex/floor spelling must match the DuckDB oracles
    character-for-character, so every operator that derives per-row or
    per-stratum rates (temperature_mix, importance_sample) goes through
    this expression."""
    return F.lpad(F.lower(F.hex(F.floor(rate * F.lit(float(_HASH_SPACE))))), 8, "0")


def rate_threshold_hex(rate: float) -> str:
    """Map a sampling rate in [0, 1] to the 8-hex-digit threshold such
    that P[substr(md5(key), 1, 8) < threshold] == rate (up to 2**-32).
    Shared with the DuckDB oracle builder so both engines compare
    against the identical literal."""
    return format(min(max(int(rate * _HASH_SPACE), 0), _HASH_SPACE - 1), "08x")


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strat_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sampling: a row is kept iff
    the first 8 hex digits of md5('{salt}:{stratum}:{id}') fall below
    the stratum's rate threshold. Unlike rand()-based sampling this is
    reproducible across runs, engines, partitionings and retries — the
    property a training-mix build actually needs (re-running the job
    must yield the same corpus).

    Scale: a map-only filter — no shuffle, no state; the parquet scan
    prunes to (id, stratum) plus whatever columns the caller selects,
    and speculative re-execution of a task cannot change membership.
    Strata absent from `rates` fall back to `default_rate` (0.0 =
    drop unknown sources, the safe default for a curated mix).
    """
    key = F.concat_ws(
        ":", F.lit(salt), F.col(strat_col), F.col(id_col).cast("string")
    )
    bucket = F.substring(F.md5(key), 1, 8)

    def keep_expr(rate: float):
        if rate >= 1.0:
            return F.lit(True)
        if rate <= 0.0:
            return F.lit(False)
        return bucket < F.lit(rate_threshold_hex(rate))

    cond = keep_expr(default_rate)
    for stratum, rate in sorted(rates.items()):
        cond = F.when(F.col(strat_col) == stratum, keep_expr(rate)).otherwise(cond)
    return df.filter(cond)


def temperature_mix(
    df: DataFrame,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    strat_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "tmix",
) -> DataFrame:
    """Temperature-scaled source re-weighting (the multilingual /
    GPT-3-style mixture rule: target share q_s ∝ n_s^alpha, so alpha<1
    up-samples small sources and down-samples the head): keep each
    stratum at rate_s = min(1, budget_frac · N · q_s / n_s), realized
    with the same deterministic md5-threshold membership as
    `stratified_sample` — reproducible across runs, engines,
    partitionings and retries. Unlike `stratified_sample` the rates are
    DERIVED from the corpus itself, entirely in-plan: per-stratum
    counts → a 1-row normalizer → per-stratum rate and 8-hex threshold,
    broadcast back onto the fact table.

    Scale: two aggregations over #strata rows (map-side combined), one
    broadcast join, then a map-only filter — no fact-table shuffle.
    Returns the kept rows as (id, stratum, rate) with the applied rate
    for mix accounting.
    """
    n_s = F.col("_n_s").cast("double")
    counts = df.groupBy(strat_col).agg(F.count("*").alias("_n_s"))
    tot = counts.agg(
        F.sum("_n_s").cast("double").alias("_n_total"),
        F.sum(F.pow(n_s, F.lit(alpha))).alias("_z"),
    )
    rates = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn(
            "_rate",
            F.least(
                F.lit(1.0),
                F.lit(budget_frac) * F.col("_n_total") * F.pow(n_s, F.lit(alpha)) / F.col("_z") / n_s,
            ),
        )
        .withColumn("_thresh", _thresh_expr(F.col("_rate")))
        .select(strat_col, "_rate", "_thresh")
    )
    key = F.concat_ws(":", F.lit(salt), F.col(strat_col), F.col(id_col).cast("string"))
    return (
        df.join(F.broadcast(rates), strat_col)
        .filter(
            (F.col("_rate") >= 1.0) | (F.substring(F.md5(key), 1, 8) < F.col("_thresh"))
        )
        .select(id_col, strat_col, F.round("_rate", 4).alias("rate"))
    )


def importance_sample(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    scale: float = 1.0,
    salt: str = "isample",
) -> DataFrame:
    """Score-proportional (importance) sampling — the DSIR/quality-
    weighted acceptance step: keep each row with probability
    rate = clamp(scale · score, 0, 1), realized with the same
    deterministic md5-threshold membership as `stratified_sample`
    (reproducible across runs, engines, partitionings and retries —
    rand() would resample on every task retry). Returns the kept rows
    as (id, rate) with the applied per-row rate.

    Scale: map-only — the per-row threshold is computed from the score
    column in the same projection as the md5 key; no shuffle, no
    state, and the parquet scan prunes to (id, score)."""
    rate = F.least(F.lit(1.0), F.greatest(F.lit(0.0), F.lit(scale) * F.col(score_col)))
    thresh = _thresh_expr(rate)
    key = F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
    return (
        df.select(F.col(id_col), rate.alias("_rate"), thresh.alias("_thresh"))
        .filter(
            (F.col("_rate") >= 1.0) | (F.substring(F.md5(key), 1, 8) < F.col("_thresh"))
        )
        .select(id_col, F.round("_rate", 4).alias("rate"))
    )


def shard_key_expr(id_col: str, salt: str):
    """The md5 shuffle key shared by `shard_assign` and the streaming
    curation path — shard membership must be a pure function of the id
    so it is stable across micro-batches, retries and engines."""
    return F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))


def shard_expr(id_col: str, n_shards: int, salt: str):
    """Shard bucket column (no position): first 8 md5 hex digits mod
    n_shards, as an expression usable in both batch and streaming."""
    key = shard_key_expr(id_col, salt)
    return (F.conv(F.substring(key, 1, 8), 16, 10).cast("long") % n_shards).cast("int")


def shard_assign(
    df: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global shuffle + shard layout — the step between a
    curated corpus and its training-ready files: every document gets a
    shard (uniform via md5) and a position within that shard (ordering
    by the same md5 key = a reproducible corpus-wide random permutation,
    so adjacent source documents land far apart — the de-correlation a
    pre-training loader needs without a rand() that breaks retries).
    Returns (id, shard, pos) with pos 1-based within shard.

    Scale: shard via the first 8 md5 hex digits mod n_shards (map-only);
    pos is one row_number window PER SHARD — realized as
    repartition(shard) + in-partition sort, exactly the physical layout
    the shard writer needs anyway (sortWithinPartitions before write),
    never a global order-by. n_shards scales with the corpus (one shard
    ≈ one loader file group), keeping each sort partition bounded."""
    w = Window.partitionBy("shard").orderBy("sort_key", id_col)
    return (
        df.select(
            F.col(id_col),
            shard_expr(id_col, n_shards, salt).alias("shard"),
            shard_key_expr(id_col, salt).alias("sort_key"),
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "pos")
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int = 512,
    shard_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style pre-training
    layout): within each shard, documents are concatenated in
    `order_col` order and the token stream is sliced every `seq_len`
    tokens. Returns one row per document with its placement:
    (shard, doc_id, n_tokens, start_off, first_seq, last_seq, n_seqs)
    where seq ids are shard-local chunk indices and a document may span
    several chunks.

    Tokens are whitespace tokens here; swap in a real tokenizer's count
    column upstream without changing the packing math.

    Scale: ONE ordered window per shard — packing domains are shards
    (in practice: one per data-parallel loader worker or input file
    group), so the sort is `repartition(shard) + sortWithinPartitions`,
    never a global single-partition order-by. Shard count scales with
    the corpus; each window state is a single running long. A
    whole-corpus ordered cumsum would serialize at 100 TB — this
    deliberately does not offer one.
    """
    toks = df.select(
        F.col(shard_col).alias("shard"),
        F.col(order_col).alias("doc_id"),
        F.size(
            F.filter(F.split(F.lower(F.trim(F.col(text_col))), "\\s+"), lambda t: t != "")
        ).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    placed = toks.withColumn(
        "start_off",
        F.coalesce(F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)),
    )
    first_seq = F.floor(F.col("start_off") / seq_len)
    last_seq = F.when(
        F.col("n_tokens") > 0,
        F.floor((F.col("start_off") + F.col("n_tokens") - 1) / seq_len),
    ).otherwise(first_seq)
    return placed.select(
        "shard",
        "doc_id",
        "n_tokens",
        "start_off",
        first_seq.alias("first_seq"),
        last_seq.alias("last_seq"),
        F.when(F.col("n_tokens") > 0, last_seq - first_seq + 1)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_seqs"),
    )


def pack_manifest(
    df: DataFrame,
    seq_len: int = 512,
    shard_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The loader-facing view of `pack_sequences`: one row per
    (shard, seq_id, doc_id) span with the doc-local token range
    [tok_start, tok_end) that sequence takes from that document —
    exactly the manifest a data-parallel loader consumes to assemble
    training sequence `seq_id` by concatenating its spans in doc
    order. Invariants (pytest-checked): per-doc span lengths sum to
    n_tokens; per-seq span lengths sum to seq_len (except each shard's
    final partial sequence).

    Scale: pack_sequences' per-shard window, then a narrow explode of
    at most ceil(n_tokens/seq_len)+1 rows per document — no additional
    shuffle; the explode preserves the shard partitioning."""
    placed = pack_sequences(df, seq_len, shard_col, order_col, text_col)
    spans = placed.filter(F.col("n_tokens") > 0).select(
        "shard",
        "doc_id",
        "n_tokens",
        "start_off",
        F.explode(F.sequence("first_seq", "last_seq")).alias("seq_id"),
    )
    return spans.select(
        "shard",
        "seq_id",
        "doc_id",
        (F.greatest(F.col("seq_id") * seq_len, F.col("start_off")) - F.col("start_off"))
        .cast("long")
        .alias("tok_start"),
        (
            F.least((F.col("seq_id") + 1) * seq_len, F.col("start_off") + F.col("n_tokens"))
            - F.col("start_off")
        )
        .cast("long")
        .alias("tok_end"),
    )


def source_cap(
    df: DataFrame,
    cap: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "srccap",
) -> DataFrame:
    """Per-source (per-domain) hard cap — the CCNet/RefinedWeb-style
    guard against a single domain dominating the mix: keep at most
    `cap` documents per source, chosen as the `cap` smallest
    md5('{salt}:{id}') ranks so membership is deterministic across
    runs, engines, partitionings and retries (same property as
    stratified_sample; a rand()-ranked cap would reshuffle the corpus
    every run).

    Scale: one exact per-source count (map-side combine) routes every
    UNDER-cap source around the window entirely — on a web corpus the
    long tail of small domains (most rows) never sorts. Only over-cap
    sources pay a window rank, and that window partitions by source so
    Spark sorts each domain independently; for the pathological
    single-giant-domain case the md5 rank key is uniform, so a
    pre-filter on an approximate cap/n quantile of the hash space
    (computed from the same counts, margin ε) can bound the sorted
    set to ~cap(1+ε) rows before the exact window — the same
    threshold arithmetic temperature_mix uses. Returns the kept rows
    plus `src_rank` (1-based deterministic rank within the source,
    materialized only where the cap binds; NULL for under-cap sources,
    which never sort).
    """
    from pyspark.sql import Window

    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    keyed = df.join(F.broadcast(counts), source_col).withColumn(
        "_rk", F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
    )
    under = keyed.filter(F.col("_n") <= cap).withColumn(
        "src_rank", F.lit(None).cast("int")
    )
    over = (
        keyed.filter(F.col("_n") > cap)
        .withColumn(
            "src_rank",
            F.row_number().over(
                Window.partitionBy(source_col).orderBy("_rk", id_col)
            ),
        )
        .filter(F.col("src_rank") <= cap)
    )
    return under.unionByName(over).drop("_n", "_rk")


def split_assign(
    df: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: the md5 hash of
    '{salt}:{id}' is one uniform draw per document, and the splits are
    consecutive intervals of the hash space in sorted-name order — so
    the splits are DISJOINT and EXHAUSTIVE by construction (every doc
    gets exactly one label; no doc can leak between splits across
    re-runs, retries, engines, or partitionings — the property that
    matters for a held-out set). fractions must sum to ~1; the last
    split absorbs rounding. Map-only: no shuffle, no state.
    """
    total = sum(fractions.values())
    if abs(total - 1.0) >= 1e-9:
        raise ValueError(f"fractions sum to {total}, want 1.0")
    bucket = F.substring(
        F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))), 1, 8
    )
    names = sorted(fractions)
    expr, acc = None, 0.0
    for name in names[:-1]:  # last split absorbs hash-space rounding
        acc += fractions[name]
        cond = bucket < F.lit(rate_threshold_hex(acc))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = F.lit(names[0]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn("split", expr)


def token_budget_cap(
    df: DataFrame,
    budget: float,
    weight_col: str = "n_tokens",
    strat_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "budget",
) -> DataFrame:
    """Per-stratum TOKEN-budget cap — real training mixes are budgeted
    in tokens, not document counts (a source's doc cap says nothing
    about its token share when lengths are skewed): within each
    stratum, walk documents in salted-md5 order and keep them until the
    cumulative `weight_col` reaches `budget`. The document that crosses
    the boundary is kept (its preceding cumulative sum is < budget), so
    every stratum lands in [budget, budget + max_doc_len). Membership
    is a pure function of (salt, id, weights) — deterministic across
    runs, engines, partitionings and retries, like every sampler here.

    Scale: one window cumulative sum per stratum (partitioned running
    frame, never a global sort); a giant stratum sorts all its rows in
    one task. Returns kept rows plus `cum_before`
    (tokens admitted ahead of this doc — the mix-accounting column).
    """
    w = Window.partitionBy(strat_col).orderBy("_rk", id_col)
    keyed = df.withColumn(
        "_rk", F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
    )
    out = keyed.withColumn(
        "cum_before",
        F.coalesce(
            F.sum(weight_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("double"),
    )
    return out.filter(F.col("cum_before") < budget).drop("_rk")
