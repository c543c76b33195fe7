"""Output checks, computed independently of the program.

Each checker takes plain pandas frames and returns a list of failure
strings (empty = pass), each prefixed with the name of the check. The
`self_test_*` functions break a copy of a correct output once per
check and return the checks that stayed silent, so every run shows
that its checks are not vacuous.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd

SPEAKERS = ("user", "assistant")


# --------------------------------------------------------------------------
# Knowledge graph: the built graph against the generator's fact record
# --------------------------------------------------------------------------


class GraphExpectation:
    """What the generator wrote: every fact, every mentioned entity and
    every turn, in the generator's own terms."""

    def __init__(self, transcripts: pd.DataFrame, facts: pd.DataFrame, mentions: pd.DataFrame,
                 surfaces: dict[tuple[str, str], str]):
        self.transcripts = transcripts
        self.facts = facts
        self.mentions = mentions  # (conv_id, entity) of every named entity
        self.surfaces = surfaces  # (conv_id, surface) -> entity
        self._edges = None

    def entities(self) -> set[tuple[str, str]]:
        ents = set(zip(self.mentions["conv_id"], self.mentions["entity"]))
        ents |= set(zip(self.transcripts["conv_id"], self.transcripts["role"]))
        return ents

    def edges(self) -> pd.DataFrame:
        """One row per expected fact key: (conv_id, subj, pred, obj,
        kind, valid_at, invalid_at, turns)."""
        if self._edges is None:
            asserts: dict[tuple, list] = {}
            terms: dict[tuple, list] = {}
            for r in self.facts.itertuples(index=False):
                d = asserts if r.kind == "assert" else terms
                d.setdefault((r.conv_id, r.subj, r.pred, r.obj), []).append((r.ts, r.turn_idx))
            antonym = {"LIKES": "DISLIKES", "DISLIKES": "LIKES"}
            rows = []
            for (c, s, p, o), hits in asserts.items():
                valid = min(t for t, _ in hits)
                later = [t for t, _ in terms.get((c, s, p, o), []) if t > valid]
                later += [t for t, _ in asserts.get((c, s, antonym.get(p), o), []) if t > valid]
                rows.append((c, s, p, o, "assert", valid, min(later) if later else pd.NaT,
                             frozenset(i for _, i in hits)))
            for (c, s, p, o), hits in terms.items():
                rows.append((c, s, p, o, "terminate", pd.NaT, min(t for t, _ in hits),
                             frozenset(i for _, i in hits)))
            self._edges = pd.DataFrame(rows, columns=["conv_id", "subj", "pred", "obj", "kind",
                                                      "valid_at", "invalid_at", "turns"])
        return self._edges


def _ts(v) -> pd.Timestamp:
    return pd.NaT if v is None or (isinstance(v, float) and math.isnan(v)) else pd.Timestamp(v)


def check_graph(g: dict[str, pd.DataFrame], exp: GraphExpectation,
                counts: dict[str, int] | None = None) -> list[str]:
    """g: episodes(uuid, name, group_id, entity_edges), nodes(uuid, name,
    group_id), edges(uuid, source_node_uuid, target_node_uuid, name,
    group_id, episodes, valid_at, invalid_at), mentions(uuid,
    source_node_uuid, target_node_uuid, group_id).

    `counts`, if given, receives the number of fact keys that fail the
    duplicate_edges and stale_edges checks."""
    errs: list[str] = []
    eps, nodes, edges, mens = g["episodes"], g["nodes"], g["edges"], g["mentions"]

    for name, df in g.items():
        n_dup = int(df["uuid"].duplicated().sum())
        if n_dup:
            errs.append(f"uuid_unique: {name} has {n_dup} repeated uuids")

    node_ids, ep_ids, edge_ids = set(nodes["uuid"]), set(eps["uuid"]), set(edges["uuid"])
    dangling = (~edges["source_node_uuid"].isin(node_ids)).sum() + (
        ~edges["target_node_uuid"].isin(node_ids)).sum()
    dangling += (~mens["source_node_uuid"].isin(ep_ids)).sum()
    dangling += (~mens["target_node_uuid"].isin(node_ids)).sum()
    dangling += sum(u not in edge_ids for refs in eps["entity_edges"] for u in (refs if refs is not None else []))
    dangling += sum(u not in ep_ids for refs in edges["episodes"] for u in refs)
    if dangling:
        errs.append(f"referential: {dangling} references to missing rows")

    # nodes: one per intended entity, across alias forms
    def entity_of(group, name):
        if name in SPEAKERS:
            return name
        return exp.surfaces.get((group, name))

    node_ent = {u: (grp, entity_of(grp, n)) for u, n, grp in
                zip(nodes["uuid"], nodes["name"], nodes["group_id"])}
    unknown = [u for u, (_, e) in node_ent.items() if e is None]
    if unknown:
        errs.append(f"nodes_per_entity: {len(unknown)} nodes name no generated entity")
    per_ent = pd.Series([v for v in node_ent.values() if v[1] is not None]).value_counts()
    split = per_ent[per_ent > 1]
    if len(split):
        errs.append(f"nodes_per_entity: {len(split)} entities have several nodes, e.g. {split.index[0]}")
    missing = exp.entities() - set(per_ent.index)
    if missing:
        errs.append(f"nodes_per_entity: {len(missing)} entities have no node, e.g. {sorted(missing)[0]}")

    # edges against the fact record
    ep_name = dict(zip(eps["uuid"], eps["name"]))
    want = exp.edges()
    want_keys = {tuple(r) for r in want[["conv_id", "subj", "pred", "obj", "kind"]].itertuples(index=False)}
    got: dict[tuple, list] = {}
    for e in edges.itertuples(index=False):
        s, o = node_ent.get(e.source_node_uuid, (None, None))[1], node_ent.get(e.target_node_uuid, (None, None))[1]
        kind = "terminate" if pd.isna(_ts(e.valid_at)) else "assert"
        got.setdefault((e.group_id, s, e.name, o, kind), []).append(e)
    if set(got) != want_keys:
        extra, lost = set(got) - want_keys, want_keys - set(got)
        errs.append(f"fact_keys: {len(extra)} unexpected and {len(lost)} missing fact keys")
    dup_keys = [k for k, es in got.items() if len(es) > 1]
    if counts is not None:
        counts["duplicate_edges"] = len(dup_keys)
    if dup_keys:
        errs.append(f"duplicate_edges: {len(dup_keys)} fact keys hold more than one edge, e.g. {dup_keys[0]}")

    bad_prov = bad_time = bad_inval = stale = 0
    for e in edges.itertuples(index=False):
        v, i = _ts(e.valid_at), _ts(e.invalid_at)
        if not pd.isna(v) and not pd.isna(i) and v > i:
            bad_time += 1
    for r in want.itertuples(index=False):
        es = got.get((r.conv_id, r.subj, r.pred, r.obj, r.kind))
        if not es:
            continue
        turns = set()
        for e in es:
            for u in e.episodes:
                name = ep_name.get(u, "")
                conv, _, t = name.rpartition("-")
                if conv == r.conv_id and t.isdigit():
                    turns.add(int(t))
                else:
                    turns.add(-1)
        if turns != set(r.turns):
            bad_prov += 1
        first = min(es, key=lambda e: (_ts(e.valid_at) if r.kind == "assert" else _ts(e.invalid_at)))
        v, i = _ts(first.valid_at), _ts(first.invalid_at)
        same = lambda a, b: (pd.isna(a) and pd.isna(b)) or (not pd.isna(a) and not pd.isna(b) and a == b)
        if r.kind == "assert" and not pd.isna(r.invalid_at) and all(pd.isna(_ts(e.invalid_at)) for e in es):
            stale += 1  # contradicted, yet every edge of the key is still current
        elif not (same(v, r.valid_at) and same(i, r.invalid_at)):
            bad_inval += 1
    if bad_prov:
        errs.append(f"provenance: {bad_prov} fact keys with the wrong episodes")
    if bad_time:
        errs.append(f"temporal_order: {bad_time} edges with valid_at > invalid_at")
    if counts is not None:
        counts["stale_edges"] = stale
    if stale:
        errs.append(f"stale_edges: {stale} contradicted fact keys whose every edge is still current")
    if bad_inval:
        errs.append(f"invalidation: {bad_inval} fact keys with the wrong valid_at/invalid_at")
    return errs


def restrict_graph(g: dict[str, pd.DataFrame], exp: GraphExpectation,
                   convs: set[str]) -> tuple[dict[str, pd.DataFrame], GraphExpectation]:
    """The graph and the record of the conversations `convs` only.
    Every reference of the graph stays inside one conversation, so the
    part is a whole graph of its own."""
    part = {n: df[df["group_id"].isin(convs)].reset_index(drop=True) for n, df in g.items()}
    sub = GraphExpectation(
        exp.transcripts[exp.transcripts["conv_id"].isin(convs)],
        exp.facts[exp.facts["conv_id"].isin(convs)],
        exp.mentions[exp.mentions["conv_id"].isin(convs)],
        {k: v for k, v in exp.surfaces.items() if k[0] in convs},
    )
    return part, sub


# --------------------------------------------------------------------------
# Curation: the pipeline's output against the DuckDB oracle and the
# generator's record of families and contamination
# --------------------------------------------------------------------------

CURATION_COLS = ["doc_id", "lang", "rate", "shard", "pos"]


def normalise_curation(df: pd.DataFrame) -> pd.DataFrame:
    out = df[CURATION_COLS].copy()
    out["doc_id"] = out["doc_id"].astype("int64")
    out["shard"] = out["shard"].astype("int64")
    out["pos"] = out["pos"].astype("int64")
    out["rate"] = out["rate"].astype("float64").round(4)
    return out.sort_values("doc_id").reset_index(drop=True)


def word_ngrams(text: str, n: int = 8) -> set[str]:
    toks = [t for t in re.split(r"\s+", text.strip().lower()) if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def check_curation(out: pd.DataFrame, oracle: pd.DataFrame, docs: pd.DataFrame,
                   bench_every: int) -> list[str]:
    """docs carries the generator's `family` and `kind` columns."""
    errs: list[str] = []
    got, want = normalise_curation(out), normalise_curation(oracle)
    if not got.equals(want):
        merged = got.merge(want, how="outer", indicator=True)
        diff = int((merged["_merge"] != "both").sum())
        errs.append(f"oracle: output differs from the DuckDB oracle in {diff} rows")
    kept = docs[docs["doc_id"].isin(got["doc_id"])]
    fam = kept[kept["family"] >= 0]["family"].value_counts()
    if (fam > 1).any():
        errs.append(f"families: {int((fam > 1).sum())} duplicate families keep more than one document")
    planted = kept[kept["kind"] == "contaminated"]
    bench = set().union(*(word_ngrams(t) for t in docs[docs["doc_id"] % bench_every == 0]["text"]))
    overlapping = [d for d, t in zip(kept["doc_id"], kept["text"]) if word_ngrams(t) & bench]
    if len(planted) or overlapping:
        errs.append(f"contamination: {len(planted)} planted and {len(overlapping)} overlapping documents kept")
    return errs


# --------------------------------------------------------------------------
# Search: result shape and a BM25 recomputed in pandas
# --------------------------------------------------------------------------


def check_search(results: dict[str, list[tuple[str, float]]], tables: dict[str, set],
                 limit: int, ascending: bool) -> list[str]:
    """results: object -> [(uuid, score)] in returned order."""
    errs: list[str] = []
    for obj, rows in results.items():
        ids = [u for u, _ in rows]
        scores = [s for _, s in rows]
        if len(rows) > limit:
            errs.append(f"search_limit: {obj} returned {len(rows)} > {limit} rows")
        if len(set(ids)) != len(ids):
            errs.append(f"search_unique: {obj} returned a uuid twice")
        if any(u not in tables[obj] for u in ids):
            errs.append(f"search_exists: {obj} returned a uuid not in the table")
        ordered = sorted(scores) if ascending else sorted(scores, reverse=True)
        if scores != ordered:
            errs.append(f"search_order: {obj} scores not ordered for its reranker")
    return errs


def bm25_pandas(df: pd.DataFrame, text_col: str, query: str, limit: int,
                k1: float = 1.2, b: float = 0.75) -> list[tuple[str, float]]:
    """BM25 with binary term frequency over lower-cased whitespace
    tokens, ties broken by uuid."""
    q = {t for t in query.lower().split() if t}
    texts = df[text_col].fillna("").str.strip().str.lower()
    toks = [set(t for t in re.split(r"\s+", x) if t) for x in texts]
    dl = np.array([len(re.split(r"\s+", x)) for x in texts], dtype=float)
    n, avgdl = len(toks), dl.mean() if len(dl) else 0.0
    dfreq = {t: sum(t in s for s in toks) for t in q}
    scores = {}
    for u, s, d in zip(df["uuid"], toks, dl):
        hit = [t for t in q if t in s]
        if hit:
            norm = (k1 + 1) / (1 + k1 * (1 - b + b * d / avgdl))
            scores[u] = sum(math.log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0) * norm for t in hit)
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:limit]


def check_bm25(got: list[tuple[str, float]], want: list[tuple[str, float]]) -> list[str]:
    if [u for u, _ in got] != [u for u, _ in want] or any(
        abs(a - b) > 1e-9 * max(1.0, abs(b)) for (_, a), (_, b) in zip(got, want)
    ):
        return ["bm25: top-k differs from the pandas BM25"]
    return []


# --------------------------------------------------------------------------
# Corrupted copies: every check must fire on one
# --------------------------------------------------------------------------


def _graph_corruptions(g: dict[str, pd.DataFrame]):
    def copy():
        return {k: v.copy() for k, v in g.items()}

    def dup_uuid(c):
        c["nodes"] = pd.concat([c["nodes"], c["nodes"].iloc[:1]], ignore_index=True)
        return c

    def dangling(c):
        c["edges"].loc[c["edges"].index[0], "target_node_uuid"] = "missing"
        return c

    def split_node(c):
        row = c["nodes"][c["nodes"]["name"].str.contains(" ")].iloc[:1].copy()
        row["uuid"] = "split-" + row["uuid"]
        c["nodes"] = pd.concat([c["nodes"], row], ignore_index=True)
        return c

    def drop_edge(c):
        c["edges"] = c["edges"].iloc[1:].reset_index(drop=True)
        return c

    def dup_edge(c):
        row = c["edges"][c["edges"]["valid_at"].notna()].iloc[:1].copy()
        row["uuid"] = "dup-" + row["uuid"]
        c["edges"] = pd.concat([c["edges"], row], ignore_index=True)
        return c

    def wrong_provenance(c):
        i = c["edges"].index[0]
        c["edges"].at[i, "episodes"] = list(c["edges"].at[i, "episodes"])[:0] + [c["episodes"]["uuid"].iloc[-1]]
        return c

    def time_order(c):
        e = c["edges"]
        i = e[e["valid_at"].notna()].index[0]
        e.at[i, "invalid_at"] = pd.Timestamp(e.at[i, "valid_at"]) - pd.Timedelta(days=1)
        return c

    def lost_invalidation(c):
        e = c["edges"]
        i = e[e["valid_at"].notna() & e["invalid_at"].notna()].index[0]
        e.at[i, "invalid_at"] = None
        return c

    def late_invalidation(c):
        e = c["edges"]
        i = e[e["valid_at"].notna() & e["invalid_at"].notna()].index[0]
        e.at[i, "invalid_at"] = pd.Timestamp(e.at[i, "invalid_at"]) + pd.Timedelta(minutes=1)
        return c

    return [
        ("uuid_unique", lambda: dup_uuid(copy())),
        ("referential", lambda: dangling(copy())),
        ("nodes_per_entity", lambda: split_node(copy())),
        ("fact_keys", lambda: drop_edge(copy())),
        ("duplicate_edges", lambda: dup_edge(copy())),
        ("provenance", lambda: wrong_provenance(copy())),
        ("temporal_order", lambda: time_order(copy())),
        ("stale_edges", lambda: lost_invalidation(copy())),
        ("invalidation", lambda: late_invalidation(copy())),
    ]


def self_test_graph(g: dict[str, pd.DataFrame], exp: GraphExpectation) -> list[str]:
    """Names of checks that did not fire on their corrupted copy."""
    silent = []
    for name, make in _graph_corruptions(g):
        if not any(e.startswith(name + ":") for e in check_graph(make(), exp)):
            silent.append(name)
    return silent


def self_test_curation(out: pd.DataFrame, oracle: pd.DataFrame, docs: pd.DataFrame,
                       bench_every: int) -> list[str]:
    silent = []
    dropped = docs[~docs["doc_id"].isin(out["doc_id"])]
    extra_dup = dropped[dropped["family"].isin(docs[docs["doc_id"].isin(out["doc_id"])]["family"])
                        & (dropped["family"] >= 0)]
    extra_cont = dropped[dropped["kind"] == "contaminated"]
    cases = [
        ("oracle", out.assign(shard=out["shard"] + 1), oracle),
        ("families", pd.concat([out, extra_dup.iloc[:1].assign(rate=1.0, shard=0, pos=0)]),
         None),
        ("contamination", pd.concat([out, extra_cont.iloc[:1].assign(rate=1.0, shard=0, pos=0)]),
         None),
    ]
    for name, bad, orc in cases:
        errs = check_curation(bad, bad if orc is None else orc, docs, bench_every)
        if not any(e.startswith(name + ":") for e in errs):
            silent.append(name)
    return silent


def self_test_search(results: dict[str, list[tuple[str, float]]], tables: dict[str, set],
                     limit: int, ascending: bool) -> list[str]:
    objs = [o for o, rows in results.items() if len(rows) >= 2]
    if not objs:
        return ["no search result of two rows to corrupt"]
    obj = objs[0]
    rows = results[obj]
    cases = [
        ("search_limit", rows + [("x", rows[-1][1])] * (limit + 1 - len(rows)) if len(rows) <= limit else rows),
        ("search_unique", rows + [rows[-1]]),
        ("search_exists", rows[:-1] + [("missing", rows[-1][1])]),
        ("search_order", [rows[-1], *rows[1:-1], rows[0]] if rows[0][1] != rows[-1][1]
         else [(rows[0][0], rows[0][1] + (1 if ascending else -1)), *rows[1:]]),
    ]
    silent = []
    for name, bad in cases:
        if not any(e.startswith(name + ":") for e in check_search({obj: bad}, tables, limit, ascending)):
            silent.append(name)
    return silent
