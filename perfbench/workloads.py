"""The benchmark's workloads.

A workload owns its inputs and knows five things: how to set up
(`setup`), one timed operation (`op`), the same operation with its
outputs collected for the checks (`checked_op`), the operation split
into one span per layer (`traced_op`), and the checks.

The traced compositions call each layer's public function in the
order the program's own composition does (plans.pipeline.build_graph,
__spark_entry__.q_curation_pipeline) and materialize every layer's
output, so the layer's work falls inside its span. Their outputs go
through the same checks as the untraced operation's.
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import gen
from graphiti_spark import ids, rules
from graphiti_spark.functions import embeddings as emb
from graphiti_spark.operators import connected_components as cc
from graphiti_spark.operators import dataset_dedup as ddp
from graphiti_spark.operators import dataset_mix as dmx
from graphiti_spark.operators import dataset_text as dtx
from graphiti_spark.operators import dedupe as dd
from graphiti_spark.operators import edge_resolution as er
from graphiti_spark.operators import episodes as ep_ops
from graphiti_spark.operators import extraction as ex
from graphiti_spark.operators import graph_resolution as gr
from graphiti_spark.operators import search as srch
from graphiti_spark.operators import search_recipes as sr
from graphiti_spark.plans import materialize as mat
from graphiti_spark.plans import pipeline as pl
from graphiti_spark.schemas import TRANSCRIPTS

# per-layer metric of each span name: its self time
WALL_METRICS = {
    "episodes": "episodes.wall_s",
    "extraction.mentions": "extraction.mentions.wall_s",
    "extraction.triples": "extraction.triples.wall_s",
    "dedupe": "dedupe.wall_s",
    "connected_components": "connected_components.wall_s",
    "embeddings": "embeddings.wall_s",
    "edge_resolution": "edge_resolution.wall_s",
    "pipeline.mentions": "pipeline.mentions.wall_s",
    "pipeline.force_outputs": "pipeline.force_outputs.wall_s",
    "dataset_dedup.minhash_star": "dataset_dedup.minhash_star.wall_s",
    "dataset_dedup.dedup_resolve": "dataset_dedup.dedup_resolve.wall_s",
    "dataset_dedup.contamination": "dataset_dedup.contamination.wall_s",
    "dataset_text.quality": "dataset_text.quality.wall_s",
    "dataset_mix.temperature_mix": "dataset_mix.temperature_mix.wall_s",
    "dataset_mix.shard": "dataset_mix.shard.wall_s",
}
SEARCH_METRICS = {
    "search.query_embed": "search.query_embed.wall_s",
    "search.plan": "search.plan_s",
    "search.collect": "search.collect_s",
    "search.bm25": "search.bm25.wall_s",
    "search.cosine": "search.cosine.wall_s",
    "search.bfs": "search.bfs.wall_s",
    "search.rrf": "search.rrf.wall_s",
    "search.mmr": "search.mmr.wall_s",
    "search.node_distance": "search.node_distance.wall_s",
    "search.episode_mentions": "search.episode_mentions.wall_s",
    "search.cross_encoder": "search.cross_encoder.wall_s",
}
UNITS = {
    "extraction.memo_hit_share": "share", "dedupe.candidate_pairs": "count",
    "dedupe.pair_yield": "share", "pipeline.jobs": "count", "pipeline.stages": "count",
    "pipeline.tasks": "count", "pipeline.idle_core_share": "share", "pipeline.task_skew": "ratio",
    "materialize.write_amplification": "ratio", "materialize.files_written": "count",
    "materialize.duplicate_edge_keys": "count", "materialize.stale_edge_keys": "count",
    "search.jobs_per_query": "count",
    "dataset_dedup.candidate_pairs": "count", "trace.coverage": "share",
}
ALL_LAYER_METRICS = (
    list(WALL_METRICS.values()) + list(SEARCH_METRICS.values()) + [
        "extraction.task_cpu_s", "extraction.rule_compute_s", "extraction.udf_overhead_s",
        "extraction.memo_hit_share", "dedupe.candidate_pairs", "dedupe.pair_yield",
        "edge_resolution.shuffle_mb", "pipeline.jobs", "pipeline.stages", "pipeline.tasks",
        "pipeline.idle_core_share", "pipeline.task_skew", "pipeline.backrefs.wall_s",
        "graph_resolution.wall_s",
        "materialize.merge.wall_s", "materialize.lineage.wall_s",
        "materialize.write_amplification", "materialize.bytes_written_mb",
        "materialize.files_written", "materialize.graph_mb", "materialize.duplicate_edge_keys",
        "materialize.stale_edge_keys",
        "search.jobs_per_query", "dataset_dedup.candidate_pairs",
        "spark.task_s", "spark.gc_s", "spark.shuffle_mb", "spark.spill_mb",
        "trace.coverage",
    ]
)


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_mb"):
        return "MB"
    return "s"


def median_per_op(tr, roots: list[int], fn) -> dict[str, float]:
    """Median over traced operations of the metrics `fn(spans)` gives."""
    per_op = [fn(tr.subtree(r)) for r in roots]
    return {k: statistics.median(d.get(k, 0.0) for d in per_op) for k in per_op[0]}


class Workload:
    items: int
    # fewest timed operations in a run, so every run of a workload
    # takes its median at the same points of the JIT warm-up curve
    min_ops = 2
    # untimed operations before them; the first is also the checked one
    warmup_ops = 2

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark, self.work_dir, self.seed = spark, work_dir, seed

    def start_checks(self):
        """Start check work that may overlap the warm-up; returns a
        future the timed loop waits for, or None."""
        return None

    def traced_extras(self, tr, outputs) -> dict:
        return {}

    def check_traced(self, outputs) -> list[str]:
        return self.check(outputs)

    def layer_metrics(self, tr, ev, roots: list[int], extra: dict) -> dict:
        """Per-layer metrics common to every workload: self times of the
        layer spans, the session's task statistics per operation, and
        how much of the operation the layer spans cover."""
        job_span = ev.job_spans(tr)

        def op_metrics(spans):
            ids_ = {sp.id for sp in spans}
            work = ev.work([j for j, s in job_span.items() if s in ids_])
            selfs = tr.self_times(spans)
            root = spans[0]
            out = {WALL_METRICS[n]: v for n, v in selfs.items() if n in WALL_METRICS}
            out.update({
                "spark.task_s": work.task_s, "spark.gc_s": work.gc_s,
                "spark.shuffle_mb": work.shuffle_mb, "spark.spill_mb": work.spill_mb,
                "trace.coverage": sum(v for n, v in selfs.items() if n != "op") / root.wall,
            })
            return out

        metrics = {name: 0.0 for name in ALL_LAYER_METRICS}
        metrics.update(median_per_op(tr, roots, op_metrics))
        metrics.update(self.extra_metrics(tr, ev, job_span, roots, extra))
        return {k: (v, unit_of(k)) for k, v in metrics.items()}

    def extra_metrics(self, tr, ev, job_span, roots, extra) -> dict:
        return {}


# --------------------------------------------------------------------------
# build_kg
# --------------------------------------------------------------------------


def collect_graph(tables: dict) -> dict[str, pd.DataFrame]:
    cols = {
        "episodes": ["uuid", "name", "group_id", "entity_edges"],
        "nodes": ["uuid", "name", "group_id"],
        "edges": ["uuid", "source_node_uuid", "target_node_uuid", "name", "group_id",
                  "episodes", "valid_at", "invalid_at"],
        "mentions": ["uuid", "source_node_uuid", "target_node_uuid", "group_id"],
    }
    return {n: tables[n].select(*c).toPandas() for n, c in cols.items()}


def traced_build(tr, transcripts, run_ts: str = pl.RUN_TS, existing_nodes=None,
                 backrefs: bool = False) -> dict:
    """plans.pipeline.build_graph, one materialized span per layer.
    Returns the output tables and the intermediates the per-layer
    counters read. The episodes table with its edge back-references is
    computed in a span only with `backrefs`, for a caller that writes
    it as run_pipeline does; force_outputs leaves it lazy."""
    n_part = int(transcripts.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    with tr.span("episodes"):
        episodes = ep_ops.build_episodes(
            transcripts.repartition(n_part, "conv_id"), created_at=run_ts
        ).localCheckpoint()
    with tr.span("extraction.mentions"):
        mentions_raw = ex.mentions_with_entity_uuid(ex.extract_mentions(episodes)).localCheckpoint()
    with tr.span("extraction.triples"):
        triples_raw = ex.triples_with_uuids(ex.extract_triples(episodes)).localCheckpoint()
    with tr.span("dedupe"):
        entities = dd.distinct_entities(mentions_raw).localCheckpoint()
        pairs = dd.candidate_pairs(entities).localCheckpoint()
        dups = dd.duplicate_pairs(pairs).localCheckpoint()
    with tr.span("connected_components"):
        uuid_map = cc.uuid_map_from_pairs(dups).localCheckpoint()
    if existing_nodes is not None:
        with tr.span("graph_resolution"):
            matches = gr.match_existing(entities, existing_nodes)
            uuid_map = gr.extend_uuid_map(uuid_map, entities, matches).localCheckpoint()
    with tr.span("dedupe"):
        nodes = dd.canonical_nodes(entities, uuid_map, run_ts, with_embeddings=False).localCheckpoint()
    with tr.span("embeddings"):
        nodes = emb.attach_embedding(nodes.drop("name_embedding"), "name", "name_embedding").localCheckpoint()
    if existing_nodes is not None:
        with tr.span("graph_resolution"):
            nodes = gr.merge_node_payloads(nodes, existing_nodes).localCheckpoint()
    with tr.span("edge_resolution"):
        triples = er.resolve_edge_pointers(triples_raw, uuid_map)
        edges = er.resolve_edges(triples, run_ts, with_embeddings=False).localCheckpoint()
    with tr.span("embeddings"):
        edges = emb.attach_embedding(edges.drop("fact_embedding"), "fact", "fact_embedding").localCheckpoint()
    with tr.span("pipeline.mentions"):
        # the MENTIONS projection of build_graph
        mention_map = F.broadcast(uuid_map.select(F.col("raw_uuid").alias("entity_uuid"), "canonical_uuid"))
        mentions = (
            mentions_raw.join(mention_map, "entity_uuid", "left")
            .withColumn("entity_canon", F.coalesce("canonical_uuid", "entity_uuid"))
            .select(
                ids._md5_concat(F.lit("mn"), F.col("group_id"), F.col("episode_uuid"),
                                F.col("entity_canon")).alias("uuid"),
                F.col("episode_uuid").alias("source_node_uuid"),
                F.col("entity_canon").alias("target_node_uuid"),
                "group_id",
                F.lit(run_ts).cast("timestamp").alias("created_at"),
            )
            .distinct()
            .localCheckpoint()
        )
    # the episode.entity_edges back-references of build_graph
    ep_edges = (
        edges.select(F.explode("episodes").alias("uuid_ep"), F.col("uuid").alias("edge_id"))
        .groupBy("uuid_ep")
        .agg(F.sort_array(F.collect_set("edge_id")).alias("entity_edges"))
    )
    episodes_final = (
        episodes.drop("entity_edges")
        .join(ep_edges, episodes.uuid == ep_edges.uuid_ep, "left")
        .drop("uuid_ep")
        .withColumn("entity_edges", F.coalesce("entity_edges", F.array().cast("array<string>")))
        .drop("turn_idx")
    )
    if backrefs:
        with tr.span("pipeline.backrefs"):
            episodes_final = episodes_final.localCheckpoint()
    tables = {"episodes": episodes_final, "nodes": nodes, "edges": edges,
              "mentions": mentions, "uuid_map": uuid_map}
    with tr.span("pipeline.force_outputs"):
        pl.force_outputs(tables)
    return {"tables": tables, "episodes_in": episodes, "pairs": pairs, "dups": dups}


def extraction_batches(episodes, max_rows: int) -> list[pd.DataFrame]:
    """The Arrow batches the extraction UDFs see: each partition of
    their input, cut into `max_rows` rows."""
    pdf = episodes.select("uuid", "group_id", "content", "valid_at",
                          F.spark_partition_id().alias("_part")).toPandas()
    out = []
    for _, part in pdf.groupby("_part", sort=True):
        for i in range(0, len(part), max_rows):
            out.append(ex._split_content(part.iloc[i : i + max_rows].drop(columns="_part")))
    return out


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    """Parquet data files under `path` -> (inode, size)."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                st = os.stat(p)
                out[p] = (st.st_ino, st.st_size)
    return out


SEARCH_ROTATION = [
    # (recipe, reranker, object searched by the per-method spans)
    ("combined_hybrid_search_rrf", "rrf", "edges"),
    ("node_hybrid_search_mmr", "mmr", "nodes"),
    ("edge_hybrid_search_node_distance", "node_distance", "edges"),
    ("edge_hybrid_search_episode_mentions", "episode_mentions", "edges"),
    ("edge_hybrid_search_cross_encoder", "cross_encoder", "edges"),
]
BM25_CHECKED_QUERIES = 2
SEARCH_COLS = {"edges": ("fact", "fact_embedding"), "nodes": ("name", "name_embedding")}
# conversations of the graph whose corrupted copies the self-test checks
SELF_TEST_CONVS = 60
# the traced extras of build_kg run on this fraction of its conversations
EXTRAS_PART = 4


class BuildKG(Workload):
    """One batch of transcripts through build_graph + force_outputs."""

    # the first, cold pass takes about three times a warm one; the
    # second is within about 10% of the later ones
    warmup_ops = 1

    def setup(self) -> None:
        self.gen, plan = gen.build_kg_input(self.seed, **gen.BUILD)
        self.batch = self.gen.batch(plan)
        self.df = self.spark.createDataFrame(self.batch.transcripts, schema=TRANSCRIPTS).localCheckpoint()
        self.items = len(self.batch.transcripts)

    def op(self) -> None:
        pl.force_outputs(pl.build_graph(self.df))

    def checked_op(self) -> dict[str, pd.DataFrame]:
        tables = pl.build_graph(self.df)
        pl.force_outputs(tables)
        return collect_graph(tables)

    def expectation(self, batch: gen.Batch) -> checks.GraphExpectation:
        return checks.GraphExpectation(batch.transcripts, batch.facts, batch.named,
                                       gen.surfaces(self.gen))

    def check(self, graph) -> list[str]:
        return checks.check_graph(graph, self.expectation(self.batch))

    def self_test(self, graph) -> list[str]:
        convs = set(sorted(self.gen.convs)[:SELF_TEST_CONVS])
        return checks.self_test_graph(*checks.restrict_graph(graph, self.expectation(self.batch), convs))

    def traced_op(self, tr) -> dict:
        return traced_build(tr, self.df)

    def check_traced(self, outputs) -> list[str]:
        return self.check(collect_graph(outputs["tables"]))

    def traced_extras(self, tr, outputs) -> dict:
        """Layers the timed operation does not reach, traced once on the
        part of this workload's graph that holds its first
        1/EXTRAS_PART conversations: the merge materialization of
        plans.pipeline.run_pipeline (first write, then an increment that
        continues a tenth of those conversations, resolved against the
        stored graph), and one rotation of searches over the stored
        graph. The increment restates and contradicts facts of the
        stored graph."""
        spark, extra = self.spark, {"errors": []}
        out_dir = os.path.join(self.work_dir, "graph")
        lineage = os.path.join(out_dir, "lineage.parquet")
        names = ["episodes", "nodes", "edges", "mentions", "uuid_map"]

        def materialize(tables, run_id, incremental):
            """run_pipeline's per-table loop. The first write skips the
            lineage sidecar; only the increment's calls get spans."""
            written, rows_written, rows_in = {}, 0, 0
            for name in names:
                path = os.path.join(out_dir, f"{name}.parquet")
                before = dir_files(path)
                with tr.span("materialize.merge") if incremental else nullcontext():
                    df = tables[name].localCheckpoint()
                    mat.merge_parquet(spark, df, path, key="raw_uuid" if name == "uuid_map" else "uuid",
                                      sort_within=["valid_at"] if name in ("episodes", "edges") else None)
                if incremental:
                    with tr.span("materialize.lineage"):
                        mat.record_lineage(spark, lineage, run_id, name, spark.read.parquet(path), 0.0,
                                           triple_col="name" if name == "edges" else None)
                new = {p: v for p, v in dir_files(path).items() if before.get(p) != v}
                written.update(new)
                rows_written += sum(pq.read_metadata(p).num_rows for p in new)
                rows_in += df.count()
            return written, rows_written, rows_in

        convs = sorted(self.gen.convs)[: len(self.gen.convs) // EXTRAS_PART]
        in_part = F.col("group_id").isin(convs)
        with tr.span("extras") as root:
            os.makedirs(out_dir, exist_ok=True)
            with tr.span("materialize_base"):
                materialize({n: t.filter(in_part) for n, t in outputs["tables"].items()}, "base",
                            incremental=False)
            picked = self.gen.rng.choice(convs, size=len(convs) // 10, replace=False)
            inc = self.gen.batch([(c, 4) for c in sorted(picked)])
            inc_df = spark.createDataFrame(inc.transcripts, schema=TRANSCRIPTS).localCheckpoint()
            existing = spark.read.parquet(os.path.join(out_dir, "nodes.parquet"))
            inc_out = traced_build(tr, inc_df, existing_nodes=existing, backrefs=True)
            written, rows_written, rows_in = materialize(inc_out["tables"], "inc1", incremental=True)
            extra["write_amplification"] = rows_written / max(rows_in, 1)
            extra["bytes_written_mb"] = sum(s for _, s in written.values()) / 1e6
            extra["files_written"] = len(written)
            extra["graph_mb"] = sum(s for _, s in dir_files(out_dir).values()) / 1e6
            stored = {n: spark.read.parquet(os.path.join(out_dir, f"{n}.parquet"))
                      for n in ("episodes", "nodes", "edges", "mentions")}
            graph = collect_graph(stored)
            # the stored graph against both batches: only the checks of
            # run_pipeline's two cross-batch faults may fail, and their
            # counts are reported instead
            counts: dict[str, int] = {}
            inc_errors = checks.check_graph(
                *checks.restrict_graph(graph, self.expectation(self.batch + inc), set(convs)), counts)
            extra["duplicate_edge_keys"] = counts["duplicate_edges"]
            extra["stale_edge_keys"] = counts["stale_edges"]
            extra["errors"] += [e for e in inc_errors
                                if not e.startswith(("duplicate_edges:", "stale_edges:"))]
            extra["n_queries"] = len(SEARCH_ROTATION)
            extra["errors"] += self.traced_search(tr, stored, graph, set(convs))
        extra["root"] = root.id
        return extra

    def traced_search(self, tr, tables, graph, convs: set[str]) -> list[str]:
        """One query per recipe of SEARCH_ROTATION, about a fact of the
        conversations `convs`, through search_recipes.search +
        collect_results, then each method and reranker of that recipe on
        its own; outputs are checked."""
        rng = np.random.default_rng(self.seed)
        facts = self.batch.facts[self.batch.facts["conv_id"].isin(convs)]
        errors: list[str] = []
        ids_of = {n: set(graph[n]["uuid"]) for n in ("edges", "nodes", "episodes")}
        limit = srch.DEFAULT_SEARCH_LIMIT
        facts_pdf = tables["edges"].select("uuid", "fact").toPandas()
        for i, (recipe, reranker, obj) in enumerate(SEARCH_ROTATION):
            f = facts.iloc[int(rng.integers(len(facts)))]
            query = f"{f.subj} {f.pred.lower().replace('_', ' ')} {f.obj}"
            nodes = graph["nodes"]
            center = nodes[(nodes["group_id"] == f.conv_id)]["uuid"].min()
            with tr.span("search.query_embed"):
                qv = [float(x) for x in emb.embed_texts_np(pd.Series([query]))[0]]
            with tr.span("search.plan"):
                res = sr.search(tables, query, recipe, query_vec=qv,
                                center_node_uuid=center if reranker == "node_distance" else None)
            with tr.span("search.collect"):
                rows = sr.collect_results(res)
            got = {o: [(r["uuid"], float(r["score"])) for r in rs] for o, rs in rows.items()}
            asc = reranker == "node_distance"
            errors += checks.check_search(got, ids_of, limit, asc)
            silent = checks.self_test_search(got, ids_of, limit, asc)
            if silent:
                errors.append(f"search checks that did not fire on a corrupted copy: {silent}")
            df = tables[obj]
            text_col, emb_col = SEARCH_COLS[obj]
            with tr.span("search.bm25"):
                bm = srch.bm25_search(df, text_col, query, limit=2 * limit).localCheckpoint()
            with tr.span("search.cosine"):
                cos = srch.cosine_search(df, emb_col, qv, limit=2 * limit, min_score=0.0).localCheckpoint()
            cand = bm.unionByName(cos).groupBy("uuid").agg(F.max("score").alias("score"))
            with tr.span(f"search.{reranker}"):
                if reranker == "rrf":
                    srch.rrf([bm, cos]).limit(limit).collect()
                elif reranker == "mmr":
                    srch.mmr_rerank(cand.join(df.select("uuid", emb_col), "uuid"), emb_col, qv).limit(limit).collect()
                elif reranker == "node_distance":
                    src = cand.join(df.select("uuid", F.col("source_node_uuid").alias("n")), "uuid")
                    srch.node_distance_rerank(src.select(F.col("n").alias("uuid")).distinct(),
                                              tables["edges"], center).limit(limit).collect()
                elif reranker == "episode_mentions":
                    srch.edge_provenance_rerank(cand.select("uuid").join(df.select("uuid", "episodes"), "uuid"),
                                                limit=limit).collect()
            if reranker == "cross_encoder":
                with tr.span("search.bfs"):
                    origins = cand.select("uuid").join(df.select("uuid", "source_node_uuid"), "uuid")
                    srch.bfs_neighborhood(tables["edges"], origins.select(
                        F.col("source_node_uuid").alias("uuid")).distinct().localCheckpoint()).collect()
                with tr.span("search.cross_encoder"):
                    srch.cross_encoder_rank(cand.select("uuid").join(df.select("uuid", text_col), "uuid"),
                                            text_col, query, limit=limit).collect()
            if i >= BM25_CHECKED_QUERIES:
                continue
            # BM25 against a pandas recomputation over the same table
            want = checks.bm25_pandas(facts_pdf, "fact", query, limit)
            got_bm = [(r["uuid"], float(r["score"])) for r in
                      srch.bm25_search(tables["edges"], "fact", query, limit=limit).collect()]
            errors += checks.check_bm25(got_bm, want)
        return errors

    def extra_metrics(self, tr, ev, job_span, roots, extra) -> dict:
        def op_pipeline(spans):
            ids_ = {sp.id for sp in spans}
            work = ev.work([j for j, s in job_span.items() if s in ids_])
            cores = len(os.sched_getaffinity(0))
            ext_ids = {sp.id for sp in spans if sp.name.startswith("extraction.")}
            edge_ids = {sp.id for sp in spans if sp.name == "edge_resolution"}
            return {
                "pipeline.jobs": work.jobs, "pipeline.stages": work.stages, "pipeline.tasks": work.tasks,
                "pipeline.idle_core_share": 1 - work.task_s / (cores * spans[0].wall),
                "pipeline.task_skew": work.task_skew(),
                "extraction.task_cpu_s": sum(sp.cpu_s for sp in spans if sp.id in ext_ids),
                "extraction.task_s": ev.work([j for j, s in job_span.items() if s in ext_ids]).task_s,
                "edge_resolution.shuffle_mb": ev.work(
                    [j for j, s in job_span.items() if s in edge_ids]).shuffle_mb,
            }

        m = median_per_op(tr, roots, op_pipeline)
        m["extraction.rule_compute_s"] = self._rule_compute_s
        m["extraction.udf_overhead_s"] = m.pop("extraction.task_s") - self._rule_compute_s
        m["extraction.memo_hit_share"] = self._memo_hit_share
        m["dedupe.candidate_pairs"] = self._pairs
        m["dedupe.pair_yield"] = self._dups / max(self._pairs, 1)
        ext = tr.subtree(extra["root"])
        selfs = tr.self_times(ext)
        n_q = extra["n_queries"]
        m["graph_resolution.wall_s"] = selfs.get("graph_resolution", 0.0)
        m["pipeline.backrefs.wall_s"] = selfs.get("pipeline.backrefs", 0.0)
        m["materialize.merge.wall_s"] = selfs.get("materialize.merge", 0.0)
        m["materialize.lineage.wall_s"] = selfs.get("materialize.lineage", 0.0)
        for k in ("write_amplification", "bytes_written_mb", "files_written", "graph_mb",
                  "duplicate_edge_keys", "stale_edge_keys"):
            m[f"materialize.{k}"] = extra[k]
        for span, metric in SEARCH_METRICS.items():
            m[metric] = selfs.get(span, 0.0) / n_q
        q_ids = {sp.id for sp in ext if sp.name in ("search.plan", "search.collect")}
        m["search.jobs_per_query"] = sum(1 for s in job_span.values() if s in q_ids) / n_q
        return m

    def bookkeeping(self, outputs) -> None:
        """Counters read off the last traced operation's intermediates,
        outside every layer span."""
        max_rows = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        batches = extraction_batches(outputs["episodes_in"], max_rows)
        t0 = time.perf_counter()
        for b in batches:
            rules.extract_mentions_pdf(b[["uuid", "group_id", "role", "text"]])
            rules.extract_triples_pdf(b[["uuid", "group_id", "text", "valid_at"]])
        self._rule_compute_s = time.perf_counter() - t0
        rows = sum(len(b) for b in batches)
        self._memo_hit_share = sum(len(b) - b["text"].nunique() for b in batches) / max(rows, 1)
        self._pairs = outputs["pairs"].count()
        self._dups = outputs["dups"].count()


# --------------------------------------------------------------------------
# curate_documents
# --------------------------------------------------------------------------


def oracle_curation(docs_path: str, tmp_dir: str) -> pd.DataFrame:
    import duckdb

    from graphiti_spark import oracle

    con = duckdb.connect(config={"threads": len(os.sched_getaffinity(0)), "memory_limit": "2GB",
                                 "temp_directory": tmp_dir})
    try:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
        return con.sql(oracle.curation_pipeline_sql(n_hashes=8, band_width=8)).df()
    finally:
        con.close()


class CurateDocuments(Workload):
    """__spark_entry__.q_curation_pipeline over a seeded corpus."""

    # its operations still get faster over the first three timed ones
    min_ops = 3

    def setup(self) -> None:
        self.docs = gen.curate_input(self.seed, **gen.CURATE)
        self.dir = os.path.join(self.work_dir, "corpus")
        os.makedirs(self.dir, exist_ok=True)
        self.path = os.path.join(self.dir, "documents.parquet")
        self.docs.drop(columns=["family", "kind"]).to_parquet(self.path, index=False)
        self.items = len(self.docs)

    def op(self) -> None:
        import __spark_entry__ as se

        se.q_curation_pipeline(self.spark, self.dir).collect()

    def checked_op(self) -> pd.DataFrame:
        import __spark_entry__ as se

        return se.q_curation_pipeline(self.spark, self.dir).toPandas()

    def start_checks(self):
        """The DuckDB oracle runs in a thread while the warm-up runs."""
        self._oracle = ThreadPoolExecutor(max_workers=1).submit(
            oracle_curation, self.path, os.path.join(self.work_dir, "tmp"))
        return self._oracle

    def oracle(self) -> pd.DataFrame:
        return self._oracle.result()

    def check(self, out) -> list[str]:
        return checks.check_curation(out, self.oracle(), self.docs, gen.BENCH_EVERY)

    def self_test(self, out) -> list[str]:
        return checks.self_test_curation(out, self.oracle(), self.docs, gen.BENCH_EVERY)

    def traced_op(self, tr) -> dict:
        """q_curation_pipeline, one materialized span per layer."""
        docs = self.spark.read.parquet(self.path)
        with tr.span("dataset_dedup.minhash_star"):
            pairs = ddp.minhash_star_edges(docs, n_hashes=8, band_width=8).localCheckpoint()
        with tr.span("dataset_dedup.dedup_resolve"):
            keep_ids = ddp.dedup_resolve(docs, pairs).filter("keep").select("doc_id").localCheckpoint()
        with tr.span("dataset_text.quality"):
            quality_ok = dtx.quality_score(docs).filter(F.col("quality") >= 0.5).select("doc_id").localCheckpoint()
        with tr.span("dataset_dedup.contamination"):
            bench = docs.filter(F.col("doc_id") % gen.BENCH_EVERY == 0)
            clean = ddp.contamination(docs, bench).filter(~F.col("contaminated")).select("doc_id").localCheckpoint()
        with tr.span("dataset_mix.temperature_mix"):
            survivors = (docs.join(keep_ids, "doc_id", "left_semi").join(quality_ok, "doc_id", "left_semi")
                         .join(clean, "doc_id", "left_semi"))
            mixed = dmx.temperature_mix(survivors, alpha=0.5, budget_frac=0.5, strat_col="lang",
                                        salt="curate").localCheckpoint()
        with tr.span("dataset_mix.shard"):
            sharded = dmx.shard_assign(mixed.select("doc_id"), n_shards=8, salt="curate-shard")
            out = mixed.join(sharded, "doc_id").select("doc_id", "lang", "rate", "shard", "pos").toPandas()
        return {"out": out, "pairs": pairs}

    def check_traced(self, outputs) -> list[str]:
        return self.check(outputs["out"])

    def bookkeeping(self, outputs) -> None:
        self._pairs = outputs["pairs"].count()

    def extra_metrics(self, tr, ev, job_span, roots, extra) -> dict:
        return {"dataset_dedup.candidate_pairs": self._pairs}


WORKLOADS = {"build_kg": BuildKG, "curate_documents": CurateDocuments}
