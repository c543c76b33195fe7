"""Training-data operators: dedup family, ANN, text analysis, multimodal."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from graphiti_spark.operators import dataset_ann as ann
from graphiti_spark.operators import dataset_dedup as ddp
from graphiti_spark.operators import dataset_mix as dmx
from graphiti_spark.operators import dataset_text as dtx
from graphiti_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def toy_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),  # near dup
        (4, "completely different content about spark sql engines"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact(spark, toy_docs):
    got = ddp.dedup_exact(toy_docs).toPandas()
    dup = got[got.dup_count > 1]
    assert len(dup) == 1 and int(dup.iloc[0]["doc_id"]) == 1 and int(dup.iloc[0]["dup_count"]) == 2


def test_minhash_finds_near_dups(spark, toy_docs):
    pairs = ddp.minhash_pairs(toy_docs, threshold=0.5).toPandas()
    found = {(int(r.src), int(r.dst)) for r in pairs.itertuples()}
    assert (1, 2) in found  # identical → jaccard 1
    assert (1, 3) in found or (2, 3) in found  # near dup above 0.5
    assert not any(4 in p for p in found)


def test_jaccard_exact_values(spark, toy_docs):
    pairs = ddp.jaccard_pairs(toy_docs, threshold=0.1).toPandas()
    d = {(int(r.src), int(r.dst)): r.jaccard for r in pairs.itertuples()}
    assert abs(d[(1, 2)] - 1.0) < 1e-9
    # docs 1 & 3 share 7 of 9 distinct tokens → 7/9... sets: 1 has 8 distinct
    assert 0.5 < d[(1, 3)] < 1.0


def test_simhash_pairs_match_bruteforce(spark, sf_dir):
    """Band blocking with n_bands = max_hamming + 1 is EXACT by
    pigeonhole — the blocked equi-join must return precisely the
    all-pairs hamming ≤ k set (the r3 half-band split missed pairs
    with one flipped bit in each half)."""
    import itertools

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = ddp.simhash_pairs(docs, max_hamming=3).toPandas()
    fp = ddp.simhash(docs).toPandas().set_index("doc_id")["simhash"].to_dict()
    exact = {
        (a, b): bin(int(fp[a]) ^ int(fp[b])).count("1")
        for a, b in itertools.combinations(sorted(fp), 2)
        if bin(int(fp[a]) ^ int(fp[b])).count("1") <= 3
    }
    assert {(int(r.src), int(r.dst)): int(r.hamming) for r in got.itertuples()} == exact
    with pytest.raises(ValueError):
        ddp.simhash_pairs(docs, max_hamming=2, n_bands=5)  # 5 ∤ 16


def test_dedup_resolve_transitive(spark, toy_docs):
    """Pair graph (1,2) + (2,3) must resolve 1,2,3 to canonical 1 via
    connected components (transitive closure a pairwise join can't
    give); unpaired docs keep themselves."""
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = ddp.dedup_resolve(toy_docs, pairs).toPandas().set_index("doc_id")
    assert got.loc[1, "canonical_id"] == 1 and bool(got.loc[1, "keep"])
    assert got.loc[2, "canonical_id"] == 1 and not bool(got.loc[2, "keep"])
    assert got.loc[3, "canonical_id"] == 1 and not bool(got.loc[3, "keep"])
    assert got.loc[4, "canonical_id"] == 4 and bool(got.loc[4, "keep"])
    # composes with a real pair source: minhash pairs over the toy corpus
    mh = ddp.minhash_pairs(toy_docs, threshold=0.5).select("src", "dst")
    got2 = ddp.dedup_resolve(toy_docs, mh).toPandas()
    assert int(got2["keep"].sum()) < len(got2)  # something was dropped


def test_simhash_near_dups_close(spark, toy_docs):
    got = ddp.simhash(toy_docs).toPandas().set_index("doc_id")["simhash"].to_dict()
    assert got[1] == got[2]
    ham = bin(int(got[1]) ^ int(got[3])).count("1")
    ham_far = bin(int(got[1]) ^ int(got[4])).count("1")
    assert ham <= ham_far


def test_ann_exact_and_lsh_agree_on_easy_top1(spark, sf_dir):
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = embs.filter("vec_id < 3").select(F.col("vec_id").alias("qid"), "embedding")
    exact = ann.cosine_topk_join(probes, embs, k=1).toPandas()
    # top-1 of each probe is itself
    assert (exact["qid"] == exact["vec_id"]).all()
    lsh = ann.lsh_bucket_topk(probes, embs, k=1).toPandas()
    assert (lsh["qid"] == lsh["vec_id"]).all()  # self always shares its bucket


def test_ann_pandas_matches_builtin(spark, sf_dir):
    import numpy as np

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = np.stack(embs.filter("vec_id < 2").toPandas()["embedding"].values)
    via_pandas = ann.cosine_topk_pandas(embs, q, k=5).toPandas()
    probes = embs.filter("vec_id < 2").select(F.col("vec_id").alias("qid"), "embedding")
    via_join = ann.cosine_topk_join(probes, embs, k=5).toPandas()
    for qi in range(2):
        a = set(via_pandas[via_pandas.qid == qi]["vec_id"].astype(int))
        b = set(via_join[via_join.qid == qi]["vec_id"].astype(int))
        assert a == b


def test_text_analysis(spark):
    rows = [
        (1, "The cat and the dog sat in a house. It is nice!"),
        (2, "der hund und die katze ist nicht da"),
        (3, "xyzzy qwerty"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lang = dtx.lang_id(df).toPandas().set_index("doc_id")["lang_pred"].to_dict()
    assert lang[1] == "en" and lang[2] == "de" and lang[3] == "unknown"
    q = dtx.quality_score(df).toPandas().set_index("doc_id")["quality"].to_dict()
    assert q[1] == 1.0 and q[3] < 1.0
    tc = dtx.token_counts(df).toPandas().set_index("doc_id")
    assert tc.loc[1, "ws_tokens"] == 12
    assert tc.loc[1, "subword_tokens"] == 14  # 12 alpha words + '.' + '!'


def test_unigram_lm_score(spark):
    # corpus counts: a=3 b=1 c=1 -> N=5, V=3; add-one: p(a)=4/8, p(b)=p(c)=2/8
    rows = [(1, "a a b"), (2, "a c"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dtx.unigram_lm_score(df).toPandas().set_index("doc_id")
    assert got.loc[1, "n_tokens"] == 3 and got.loc[1, "bits_per_token"] == round((2 * 1 + 2) / 3, 4)
    assert got.loc[2, "n_tokens"] == 2 and got.loc[2, "bits_per_token"] == 1.5
    # empty doc survives the left join with zeroed signals
    assert got.loc[3, "n_tokens"] == 0 and got.loc[3, "bits_per_token"] == 0.0


def test_repetition_signals(spark):
    rows = [
        # 4 lines, "spam spam" duplicated twice → dup_line_frac = 1 - 3/4
        (1, "spam spam\nunique line one\nspam spam\nanother line"),
        (2, "all lines distinct\nno repetition here"),
        (3, ""),  # empty doc survives with zero-filled signals
        (4, "go go go go"),  # top bigram "go go" occurs 3×
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dtx.repetition_signals(df).toPandas().set_index("doc_id")
    assert got.loc[1, "n_lines"] == 4
    assert got.loc[1, "dup_line_frac"] == pytest.approx(0.25)
    # duplicated-line chars = 2 × len("spam spam") = 18 of 18+15+12 = 45
    assert got.loc[1, "dup_line_char_frac"] == pytest.approx(0.4, abs=1e-4)
    assert got.loc[2, "dup_line_frac"] == 0.0
    assert got.loc[3, "n_lines"] == 0 and got.loc[3, "top_bigram"] == ""
    assert got.loc[4, "top_bigram"] == "go go"
    # 3 occurrences × 4 non-space chars / 11 doc chars
    assert got.loc[4, "top_bigram_char_frac"] == pytest.approx(round(12 / 11, 4))


def test_pii_signals(spark):
    rows = [
        (1, "mail me at alice.smith+x@example.co.uk or call 555-123-4567"),
        (2, "server 10.0.255.3 holds ssn 123-45-6789"),
        (3, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dtx.pii_signals(df).toPandas().set_index("doc_id")
    assert got.loc[1, "n_email"] == 1 and got.loc[1, "n_phone"] == 1
    assert got.loc[2, "n_ipv4"] == 1 and got.loc[2, "n_ssn"] == 1
    assert bool(got.loc[3, "has_pii"]) is False
    # redaction actually removed the matches: md5 differs from raw text
    # for PII rows, equals raw-text md5 for the clean row
    raw = df.select("doc_id", F.md5("text").alias("m")).toPandas().set_index("doc_id")["m"]
    assert got.loc[1, "redacted_md5"] != raw[1]
    assert got.loc[3, "redacted_md5"] == raw[3]


def test_paragraph_dups_cross_doc(spark):
    boiler = "subscribe to our newsletter for updates"
    rows = [
        (1, f"unique intro line number one\n{boiler}"),
        (2, f"{boiler}\nsome other body text entirely"),
        (3, "short\nno repeats in this document at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = ddp.paragraph_dups(df).toPandas()
    assert len(got) == 1
    assert int(got.iloc[0]["dup_count"]) == 2
    assert int(got.iloc[0]["n_docs"]) == 2
    assert int(got.iloc[0]["exemplar_doc"]) == 1


def test_contamination_ngram(spark):
    bench_text = "alpha bravo charlie delta echo foxtrot golf hotel india"
    rows = [
        # contains the benchmark's first 8-gram verbatim
        (1, "prefix words alpha bravo charlie delta echo foxtrot golf hotel trailing"),
        (2, "completely unrelated text with no overlap whatsoever at all present"),
        (3, "too short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(99, bench_text)], "doc_id long, text string")
    got = ddp.contamination(docs, bench).toPandas().set_index("doc_id")
    assert bool(got.loc[1, "contaminated"]) and got.loc[1, "n_matched_ngrams"] == 1
    assert not bool(got.loc[2, "contaminated"])
    assert not bool(got.loc[3, "contaminated"])  # < n tokens → no grams


def test_stratified_sample(spark):
    rows = [(i, f"doc {i}", "a" if i < 200 else "b") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    # hard rates: keep-all and drop-all are exact
    got = dmx.stratified_sample(df, {"a": 1.0, "b": 0.0}).toPandas()
    assert len(got) == 200 and set(got["source"]) == {"a"}
    # fractional rate: deterministic across calls, roughly proportional
    s1 = dmx.stratified_sample(df, {"a": 0.5, "b": 0.5}).toPandas()
    s2 = dmx.stratified_sample(df, {"a": 0.5, "b": 0.5}).toPandas()
    assert sorted(s1["doc_id"]) == sorted(s2["doc_id"])
    assert 90 <= len(s1) <= 210  # 300 × 0.5 ± generous hash noise
    # unknown stratum honors default_rate
    extra = spark.createDataFrame([(999, "x", "c")], "doc_id long, text string, source string")
    assert dmx.stratified_sample(extra, {"a": 1.0}, default_rate=0.0).count() == 0
    assert dmx.stratified_sample(extra, {"a": 0.0}, default_rate=1.0).count() == 1


def test_centroid_outliers(spark):
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.0], 0),
        (3, [-1.0, 0.0], 0),  # opposite of its group's centroid [1/3, 0]
        (4, [0.0, 2.0], 1),  # singleton group: identical to own centroid
        (5, [0.0, 0.0], 2),  # zero vector: zero-safe sim 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = ann.centroid_outliers(df).toPandas().set_index("vec_id")["centroid_sim"]
    assert got[1] == 1.0 and got[2] == 1.0 and got[3] == -1.0
    assert got[4] == 1.0
    assert got[5] == 0.0


def test_tfidf_top_terms(spark):
    import math

    rows = [(1, "apple apple banana"), (2, "banana cherry zebra"), (3, "apple cherry cherry")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dtx.tfidf_top_terms(df, k=2).toPandas()
    idf_common = math.log(4 / 3) + 1  # df=2 of N=3, smooth_idf
    idf_rare = math.log(4 / 2) + 1  # zebra, df=1
    d1 = got[got.doc_id == 1].sort_values("rank")
    assert list(d1["term"]) == ["apple", "banana"]
    assert list(d1["tfidf"]) == [round(2 * idf_common, 4), round(idf_common, 4)]
    # the doc-unique term outranks corpus-common ones
    d2 = got[got.doc_id == 2].sort_values("rank")
    assert d2.iloc[0]["term"] == "zebra" and d2.iloc[0]["tfidf"] == round(idf_rare, 4)
    # ties break lexicographically: banana before cherry at equal score
    assert d2.iloc[1]["term"] == "banana"
    assert (got.groupby("doc_id")["rank"].count() == 2).all()


def test_temperature_mix(spark):
    # skewed corpus: a=90, b=10; alpha=0.5 -> q_a=0.75, q_b=0.25;
    # budget 0.5*100=50 -> rate_a = 50*0.75/90 = 0.4167, rate_b = 1.25 capped at 1
    rows = [(i, f"doc {i}", "a" if i < 90 else "b") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = dmx.temperature_mix(df, alpha=0.5, budget_frac=0.5).toPandas()
    b = got[got.source == "b"]
    a = got[got.source == "a"]
    # capped stratum keeps everything, exactly
    assert len(b) == 10 and set(b["rate"]) == {1.0}
    assert set(a["rate"]) == {round(50 * 0.75 / 90, 4)}
    assert 0 < len(a) < 90
    # deterministic membership across calls
    again = dmx.temperature_mix(df, alpha=0.5, budget_frac=0.5).toPandas()
    assert sorted(got["doc_id"]) == sorted(again["doc_id"])
    # alpha=1 is proportional sampling: every stratum gets budget_frac
    flat = dmx.temperature_mix(df, alpha=1.0, budget_frac=0.5).toPandas()
    assert set(flat["rate"]) == {0.5}


def test_pack_sequences(spark):
    rows = [
        (1, "a b c", "s1"),          # 3 tokens: offsets 0-2, seq 0
        (2, "d e f g", "s1"),        # 4 tokens: offsets 3-6, spans seqs 0-1
        (3, "h i", "s1"),            # 2 tokens: offsets 7-8, seq 1
        (4, "", "s1"),               # empty: n_seqs 0
        (5, "z z z z z z", "s2"),    # other shard packs independently from 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = (
        dmx.pack_sequences(df, seq_len=5).toPandas().set_index("doc_id")
    )
    assert got.loc[1, "start_off"] == 0 and got.loc[1, "first_seq"] == 0 and got.loc[1, "last_seq"] == 0
    assert got.loc[2, "start_off"] == 3 and got.loc[2, "first_seq"] == 0 and got.loc[2, "last_seq"] == 1
    assert got.loc[2, "n_seqs"] == 2
    assert got.loc[3, "first_seq"] == 1 and got.loc[3, "last_seq"] == 1
    assert got.loc[4, "n_tokens"] == 0 and got.loc[4, "n_seqs"] == 0
    assert got.loc[5, "start_off"] == 0 and got.loc[5, "shard"] == "s2"
    # token conservation within a shard: last doc's end == total tokens
    s1 = got[got["shard"] == "s1"]
    assert (s1["start_off"] + s1["n_tokens"]).max() == s1["n_tokens"].sum()

    # loader-facing manifest: spans reconstruct every doc and fill
    # every sequence to seq_len except each shard's final partial
    man = dmx.pack_manifest(df, seq_len=5).toPandas()
    man["span"] = man["tok_end"] - man["tok_start"]
    per_doc = man.groupby("doc_id")["span"].sum()
    assert per_doc.to_dict() == {1: 3, 2: 4, 3: 2, 5: 6}  # doc 4 empty → absent
    # doc 2 spans seqs 0 and 1 with doc-local ranges [0,2) and [2,4)
    d2 = man[man["doc_id"] == 2].sort_values("seq_id")
    assert list(zip(d2["seq_id"], d2["tok_start"], d2["tok_end"])) == [(0, 0, 2), (1, 2, 4)]
    per_seq = man.groupby(["shard", "seq_id"])["span"].sum().reset_index()
    last = {s: per_seq[per_seq["shard"] == s]["seq_id"].max() for s in ("s1", "s2")}
    for r in per_seq.itertuples():
        assert r.span == 5 or r.seq_id == last[r.shard]


def test_fingerprint_normalization(spark):
    rows = [(1, "Hello,   World!"), (2, "hello world"), (3, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = dtx.fingerprint(df).toPandas().set_index("doc_id")["fingerprint"].to_dict()
    assert fp[1] == fp[2] != fp[3]


def test_multimodal_plumbing(spark):
    media = mm.synth_media(spark, 12)
    feats = mm.extract_features(media).toPandas()
    assert len(feats) == 12
    assert all(len(f) == 16 for f in feats["feature"])
    # deterministic: same payload → same feature
    again = mm.extract_features(mm.synth_media(spark, 12)).toPandas()
    f1 = feats.sort_values("media_id")["feature"].apply(list).tolist()
    f2 = again.sort_values("media_id")["feature"].apply(list).tolist()
    assert f1 == f2
    plan = mm.frame_sample_plan(media).toPandas()
    assert (plan.groupby("media_id").size() > 0).all()


def test_real_decode_backend_raises():
    with pytest.raises(NotImplementedError):
        mm.real_decode_backend(b"xx", "image")
    with pytest.raises(NotImplementedError):
        mm.real_resize_backend(b"xx", 4, 4, 2, 2)


def test_multimodal_resize_plan(spark):
    media = mm.synth_media(spark, 12)
    out = mm.resize_plan(media, 32, 32).toPandas().set_index("media_id")
    src = media.toPandas().set_index("media_id")
    for mid in src.index:
        kind = src.loc[mid, "kind"]
        if kind == "image":
            assert out.loc[mid, "meta"]["width"] == 32
            assert out.loc[mid, "meta"]["height"] == 32
            sw, sh = src.loc[mid, "meta"]["width"], src.loc[mid, "meta"]["height"]
            exp = max(1, int(len(src.loc[mid, "payload"]) * (32 * 32) / (sw * sh)))
            assert len(out.loc[mid, "payload"]) == exp
        else:  # non-image rows pass through byte-identical
            assert bytes(out.loc[mid, "payload"]) == bytes(src.loc[mid, "payload"])
            assert out.loc[mid, "meta"]["width"] == src.loc[mid, "meta"]["width"]
    # output schema equals input schema → composes with downstream decode
    assert mm.resize_plan(media, 32, 32).schema == media.schema
    # deterministic
    a = mm.resize_plan(media, 32, 32).toPandas().sort_values("media_id")
    b = mm.resize_plan(mm.synth_media(spark, 12), 32, 32).toPandas().sort_values("media_id")
    assert [bytes(x) for x in a["payload"]] == [bytes(x) for x in b["payload"]]


def _planted_vectors(spark, n=200, dim=64, n_dups=40, seed=7):
    """Seeded corpus with planted near-duplicates: ids [n, n+n_dups) are
    small perturbations of ids [0, n_dups) (cos ≈ 0.99)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    base = rng.normal(size=(n, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    dup = base[:n_dups] + 0.05 * rng.normal(size=(n_dups, dim))
    dup /= np.linalg.norm(dup, axis=1, keepdims=True)
    vecs = np.concatenate([base, dup]).astype(float)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embed_dup_lsh_recall(spark):
    """Recall gate for the scale path (VERDICT r1 #6): OR-amplified
    sign-band LSH must recover >= 90% of the exact high-cosine pairs on
    a planted-duplicate corpus."""
    v = _planted_vectors(spark)
    exact = ddp.embedding_dup_pairs(v, threshold=0.9, exact=True).toPandas()
    approx = ddp.embedding_dup_pairs(v, threshold=0.9, exact=False).toPandas()
    exact_pairs = set(zip(exact.src, exact.dst))
    approx_pairs = set(zip(approx.src, approx.dst))
    assert len(exact_pairs) >= 30  # the plant worked
    assert approx_pairs <= exact_pairs  # LSH never invents pairs
    recall = len(approx_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.9, f"LSH dup recall {recall:.3f} < 0.9"


def test_ann_lsh_recall_at_k(spark):
    """Recall@k gate: multi-band LSH top-k must recover >= 80% of the
    exact top-k rows for planted-neighbor probes."""
    v = _planted_vectors(spark)
    probes = v.filter("vec_id < 8").select(F.col("vec_id").alias("qid"), "embedding")
    k = 5
    exact = ann.cosine_topk_join(probes, v, k=k).toPandas()
    approx = ann.lsh_bucket_topk(probes, v, k=k).toPandas()
    exact_rows = set(zip(exact.qid, exact.vec_id))
    approx_rows = set(zip(approx.qid, approx.vec_id))
    recall = len(exact_rows & approx_rows) / len(exact_rows)
    assert recall >= 0.8, f"ANN LSH recall@{k} {recall:.3f} < 0.8"
    # every probe's planted twin (vec_id = qid + 200) must be found
    twins = {(q, q + 200) for q in range(8)}
    assert twins <= approx_rows


def test_ann_ivf_recall_at_k(spark):
    """Recall@k gate for the IVF scale path: probing n_probe of
    n_centroids coarse lists must recover >= 80% of the exact top-k
    (and each probe's planted twin) on the planted-neighbor corpus."""
    v = _planted_vectors(spark)
    probes = v.filter("vec_id < 8").select(F.col("vec_id").alias("qid"), "embedding")
    k = 5
    exact = ann.cosine_topk_join(probes, v, k=k).toPandas()
    approx = ann.ivf_topk(probes, v, k=k, n_centroids=8, n_probe=3).toPandas()
    exact_rows = set(zip(exact.qid, exact.vec_id))
    approx_rows = set(zip(approx.qid, approx.vec_id))
    recall = len(exact_rows & approx_rows) / len(exact_rows)
    assert recall >= 0.8, f"ANN IVF recall@{k} {recall:.3f} < 0.8"
    # a probe and its planted twin are ~cos 0.95+ — same coarse list
    twins = {(q, q + 200) for q in range(8)}
    assert twins <= approx_rows
    # scores within probed lists are exact: every returned (qid, vec_id)
    # that the exact run also returned must carry the same score
    em = {(r.qid, r.vec_id): r.score for r in exact.itertuples()}
    for r in approx.itertuples():
        if (r.qid, r.vec_id) in em:
            assert abs(em[(r.qid, r.vec_id)] - r.score) < 1e-6


def test_semdedup_recall(spark):
    """Recall gate for SemDeDup cluster blocking: within-cluster pairs
    at cosine >= 0.9 must recover >= 90% of the exact quadratic pairs
    on the planted-duplicate corpus, with no false pairs."""
    v = _planted_vectors(spark)
    exact = ddp.embedding_dup_pairs(v, threshold=0.9, exact=True).toPandas()
    sem = ann.semdedup_pairs(v, threshold=0.9, n_centroids=8, n_probe=2).toPandas()
    exact_pairs = set(zip(exact.src, exact.dst))
    sem_pairs = set(zip(sem.src, sem.dst))
    recall = len(exact_pairs & sem_pairs) / len(exact_pairs)
    assert recall >= 0.9, f"SemDeDup recall {recall:.3f} < 0.9"
    # precision is exact by construction: every emitted pair carries a
    # true cosine >= threshold (scored exactly within the block)
    assert sem_pairs <= exact_pairs
    # multi-probe dedupes pair copies
    assert len(sem) == len(sem_pairs)


def test_jaccard_df_cap_bounds_pairs(spark):
    """VERDICT r1 #7: a stop-word token shared by every doc must not
    create a quadratic block when max_df caps the posting join, and
    near-dup pairs that share rare tokens keep their (lower-bound)
    score above threshold."""
    docs = [(i, f"the common filler alpha{i} beta{i} gamma{i}") for i in range(40)]
    shared = "the common filler unique one two three four five six seven"
    docs += [(100, shared), (101, shared)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    capped = ddp.jaccard_pairs(df, threshold=0.5, max_df=5).toPandas()
    # docs 100/101 share 8 rare tokens (df=2) + 3 capped stop-words;
    # capped lower bound = 8/(11+11-8) = 0.57 >= 0.5
    pairs = set(zip(capped.src, capped.dst))
    assert (100, 101) in pairs
    # the 40 filler docs share ONLY capped tokens -> no pair survives
    assert all(s >= 100 for s, d in pairs)


def test_span_dups_exact_longest_span(spark):
    """span_dups reports the TRUE longest common token span (>= k):
    a run of r consecutive shared k-gram anchors on one alignment
    diagonal is a shared span of exactly k + r - 1 tokens."""
    w = [f"w{i}" for i in range(1, 21)]
    doc1 = " ".join(w)                                   # w1..w20
    doc2 = "x1 x2 " + " ".join(w[4:16]) + " y1 y2 y3"    # shares w5..w16 (12 tokens)
    doc4 = "z1 z2 z3 " + " ".join(w[4:12]) + " z4 z5"    # shares w5..w12 (8 tokens)
    doc5 = " ".join(f"q{i}" for i in range(30))          # no overlap
    df = spark.createDataFrame(
        [(1, doc1), (2, doc2), (4, doc4), (5, doc5)], "doc_id long, text string"
    )
    got = ddp.span_dups(df, k=8).toPandas()
    spans = {(int(r.src), int(r.dst)): int(r.longest_span) for r in got.itertuples()}
    assert spans[(1, 2)] == 12  # 12-token shared span
    assert spans[(1, 4)] == 8   # exactly-k span
    assert spans[(2, 4)] == 8   # w5..w12 shared transitively
    assert not any(5 in p for p in spans)
    # 12-token span -> 5 consecutive anchors on one diagonal
    n_anchors = {(int(r.src), int(r.dst)): int(r.n_anchors) for r in got.itertuples()}
    assert n_anchors[(1, 2)] == 5


def test_span_dups_max_df_caps_boilerplate(spark):
    """A license-header anchor shared by many docs is dropped from the
    join under max_df (lower-bound semantics: runs only shrink)."""
    boiler = "this file is licensed under the apache license version two"
    rows = [(i, f"unique{i} prefix{i} {boiler} suffix{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = ddp.span_dups(df, k=8).toPandas()
    assert len(uncapped) == 45  # all C(10,2) boilerplate pairs
    capped = ddp.span_dups(df, k=8, max_df=3).toPandas()
    assert len(capped) == 0


def test_quantile_bins_per_stratum(spark):
    rows = [("en", i, float(i)) for i in range(8)] + [("fr", 100 + i, float(-i)) for i in range(4)]
    df = spark.createDataFrame(rows, "lang string, doc_id long, score double")
    got = dtx.quantile_bins(df, "score", n_bins=4, strat_col="lang").toPandas()
    en = got[got.lang == "en"].sort_values("score")
    assert list(en.bin) == [1, 1, 2, 2, 3, 3, 4, 4]
    fr = got[got.lang == "fr"].sort_values("score")
    assert list(fr.bin) == [1, 2, 3, 4]


def test_shard_assign_deterministic_layout(spark):
    import hashlib

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    a = dmx.shard_assign(df, n_shards=16).toPandas()
    b = dmx.shard_assign(df, n_shards=16).toPandas()
    # reproducible across runs (retry-safe, unlike rand())
    pd.testing.assert_frame_equal(
        a.sort_values("doc_id").reset_index(drop=True),
        b.sort_values("doc_id").reset_index(drop=True),
    )
    assert len(a) == 200 and a.shard.between(0, 15).all()
    # pos is a contiguous 1..n_s permutation within every shard
    for s, g in a.groupby("shard"):
        assert sorted(g.pos) == list(range(1, len(g) + 1))
    # shard matches the documented md5 construction
    h = int(hashlib.md5(b"shuffle:42").hexdigest()[:8], 16)
    assert int(a.set_index("doc_id").loc[42, "shard"]) == h % 16


def test_minhash_star_edges_component_equivalence(spark, sf_dir):
    """Star-contracted LSH edges (O(n·bands)) must induce the SAME
    connected components as the all-pairs band join (no est threshold:
    band collision is the match criterion for both)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = ddp.minhash_pairs(docs, threshold=0.0)
    stars = ddp.minhash_star_edges(docs)
    via_pairs = ddp.dedup_resolve(docs, pairs).toPandas().set_index("doc_id")
    via_stars = ddp.dedup_resolve(docs, stars).toPandas().set_index("doc_id")
    assert via_pairs["canonical_id"].to_dict() == via_stars["canonical_id"].to_dict()
    # and the star graph is strictly smaller on this dup-dense corpus
    assert stars.count() < pairs.count()


def test_curation_pipeline_invariants(spark, sf_dir):
    """End-to-end curation composition: survivors are real documents,
    sharding is a valid within-shard permutation, rates in (0, 1]."""
    import __spark_entry__ as e

    out = e.q_curation_pipeline(spark, sf_dir).toPandas()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").toPandas()
    assert len(out) > 0
    assert set(out.doc_id) <= set(docs.doc_id)
    assert ((out.rate > 0) & (out.rate <= 1.0)).all()
    assert out.shard.between(0, 7).all()
    for _, g in out.groupby("shard"):
        assert sorted(g.pos) == list(range(1, len(g) + 1))


def test_span_dups_matches_bruteforce_lcs(spark):
    """Randomized corpus: longest_span must equal the brute-force
    longest common token substring for every emitted pair, and a pair
    is emitted iff that LCS >= k."""
    import random

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(40)]
    base = [rng.choice(vocab) for _ in range(60)]
    docs = []
    for i in range(12):
        if i % 3 == 0:
            start = rng.randrange(0, 40)
            length = rng.randrange(5, 20)
            toks = (
                [rng.choice(vocab) for _ in range(rng.randrange(0, 8))]
                + base[start : start + length]
                + [rng.choice(vocab) for _ in range(rng.randrange(0, 8))]
            )
        else:
            toks = [rng.choice(vocab) for _ in range(rng.randrange(10, 50))]
        docs.append((i, " ".join(toks)))
    k = 5

    def lcs_tokens(a: list[str], b: list[str]) -> int:
        best = 0
        prev = [0] * (len(b) + 1)
        for x in a:
            cur = [0] * (len(b) + 1)
            for j, y in enumerate(b, 1):
                if x == y:
                    cur[j] = prev[j - 1] + 1
                    best = max(best, cur[j])
            prev = cur
        return best

    toks = {i: t.split() for i, t in docs}
    expected = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            l = lcs_tokens(toks[i], toks[j])
            if l >= k:
                expected[(i, j)] = l

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = ddp.span_dups(df, k=k).toPandas()
    got_spans = {(int(r.src), int(r.dst)): int(r.longest_span) for r in got.itertuples()}
    assert got_spans == expected


def test_span_removal_plan_matches_bruteforce(spark):
    """Randomized corpus: removal ranges must equal the brute-force
    'positions covered by any cross-doc shared k-gram, merged' sets."""
    import random

    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(30)]
    base = [rng.choice(vocab) for _ in range(50)]
    docs = []
    for i in range(10):
        toks = [rng.choice(vocab) for _ in range(rng.randrange(12, 40))]
        if i % 2 == 0:
            s = rng.randrange(0, 35)
            ln = rng.randrange(6, 15)
            at = rng.randrange(0, len(toks))
            toks = toks[:at] + base[s : s + ln] + toks[at:]
        docs.append((i, " ".join(toks)))
    k = 5

    toks = {i: t.split() for i, t in docs}
    grams: dict[tuple, set] = {}
    for i, tk in toks.items():
        for p in range(len(tk) - k + 1):
            grams.setdefault(tuple(tk[p : p + k]), set()).add(i)
    expected = {}
    for i, tk in toks.items():
        covered = set()
        for p in range(len(tk) - k + 1):
            if len(grams[tuple(tk[p : p + k])]) >= 2:
                covered.update(range(p + 1, p + k + 1))  # 1-based tokens
        ranges = []
        for pos in sorted(covered):
            if ranges and pos == ranges[-1][1]:
                ranges[-1][1] = pos + 1
            else:
                ranges.append([pos, pos + 1])
        for s, e in ranges:
            expected[(i, s)] = e

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = ddp.span_removal_plan(df, k=k).toPandas()
    got_ranges = {
        (int(r.doc_id), int(r.tok_start)): int(r.tok_end) for r in got.itertuples()
    }
    assert got_ranges == expected


def test_importance_sample_rate_proportional(spark):
    """Acceptance frequency tracks the per-row rate; deterministic
    across calls; rate 1.0 rows always kept, rate 0.0 never."""
    rows = [(i, 0.0) for i in range(100)] + [(100 + i, 1.0) for i in range(100)]
    rows += [(200 + i, 0.5) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    a = dmx.importance_sample(df, "score").toPandas()
    b = dmx.importance_sample(df, "score").toPandas()
    assert sorted(a.doc_id) == sorted(b.doc_id)
    kept = set(a.doc_id)
    assert all(100 + i in kept for i in range(100))       # rate 1 kept
    assert not any(i in kept for i in range(100))         # rate 0 dropped
    mid = sum(1 for i in range(400) if 200 + i in kept)
    assert 140 <= mid <= 260  # ~Binomial(400, 0.5), generous bound


def test_dedup_resolve_grouped_matches_ungrouped(spark):
    """VERDICT r4 #4: on a sharded corpus whose pair generator is
    group-scoped (pairs never cross the shard), the `group_col`
    passthrough — packed executor-side union-find, no driver count or
    collect — must produce verdicts identical to the ungrouped path."""
    docs = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    # per-shard duplicate chains: shard s{g} links g*10 .. g*10+9
    pairs = spark.createDataFrame(
        [(g * 10 + k, g * 10 + k + 1, f"s{g}") for g in range(3) for k in range(9)],
        "src long, dst long, shard string",
    )
    ung = (
        ddp.dedup_resolve(docs, pairs)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    grp = (
        ddp.dedup_resolve(docs, pairs, group_col="shard")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(ung, grp)
    # the chains must actually have resolved transitively
    assert list(ung["canonical_id"]) == [10 * (i // 10) for i in range(30)]


def test_embedding_dup_pairs_defaults_to_lsh(spark, sf_dir):
    """VERDICT r4 #3: the signature default is the scale-safe LSH path
    (exact=False); exact pairs must be a superset of the LSH pairs and
    every LSH pair must carry the true cosine (scores are computed on
    the real vectors, banding only prunes candidates)."""
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter("vec_id < 60")
    got_default = ddp.embedding_dup_pairs(embs, threshold=0.35).toPandas()
    got_exact = ddp.embedding_dup_pairs(embs, threshold=0.35, exact=True).toPandas()
    exact_pairs = {(r.src, r.dst): r.cos for r in got_exact.itertuples()}
    for r in got_default.itertuples():
        assert (r.src, r.dst) in exact_pairs
        assert abs(exact_pairs[(r.src, r.dst)] - r.cos) < 1e-9
    assert len(got_default) <= len(got_exact)


def test_quantile_bins_approx_error_bound(spark):
    """The sort-free approx-cutoff binning (VERDICT r4 #7) must agree
    with the exact global NTILE up to boundary rank error: with
    accuracy >= n the sketch is exact, so on distinct scores only the
    cutoff-rank convention can differ — at most n_bins docs sit on a
    boundary, so misassignment <= n_bins/n; bins must also be monotone
    in score (a value-range binning can never invert)."""
    import numpy as np

    n, n_bins = 400, 4
    rng = np.random.default_rng(7)
    scores = rng.normal(size=n)
    pdf = pd.DataFrame({"doc_id": range(n), "score": scores})
    df = spark.createDataFrame(pdf)
    exact = (
        dtx.quantile_bins(df, "score", n_bins=n_bins)
        .toPandas().set_index("doc_id")["bin"]
    )
    approx = (
        dtx.quantile_bins_approx(df, "score", n_bins=n_bins, accuracy=10_000)
        .toPandas().set_index("doc_id")["bin"]
    )
    assert approx.min() >= 1 and approx.max() <= n_bins
    mism = int((exact.reindex(approx.index) != approx).sum())
    assert mism <= n_bins, f"{mism} misassigned docs vs exact NTILE"
    # monotone in score: sorting by score must sort bins
    srt = pdf.assign(bin=approx.reindex(pdf.doc_id).values).sort_values("score")
    assert (srt["bin"].diff().fillna(0) >= 0).all()
    # low accuracy still respects the documented rank-error bound
    coarse = (
        dtx.quantile_bins_approx(df, "score", n_bins=n_bins, accuracy=100)
        .toPandas().set_index("doc_id")["bin"]
    )
    mism_c = int((exact.reindex(coarse.index) != coarse).sum())
    assert mism_c <= n_bins * (n // 100 + 1)
    # stratified variant: per-stratum cutoffs, same bound per stratum
    pdf2 = pdf.assign(lang=np.where(pdf.doc_id % 2 == 0, "en", "de"))
    df2 = spark.createDataFrame(pdf2)
    strat = dtx.quantile_bins_approx(
        df2, "score", n_bins=n_bins, accuracy=10_000, strat_col="lang"
    ).toPandas()
    for lang, grp in strat.groupby("lang"):
        ex = (
            dtx.quantile_bins(df2.filter(F.col("lang") == lang), "score", n_bins=n_bins)
            .toPandas().set_index("doc_id")["bin"]
        )
        got = grp.set_index("doc_id")["bin"]
        assert int((ex.reindex(got.index) != got).sum()) <= n_bins


def test_cc_pair_input_computed_exactly_once(spark, sf_dir):
    """VERDICT r4 #1 regression guard: connected_components used to run
    its input plan twice (strategy count() + collect() each re-executed
    the upstream pair-generation join — a ~2x tax on the flagship's
    dominant star-LSH stage at scale). An accumulator tap on the pair
    source proves every input row is now computed exactly ONCE (the
    eager localCheckpoint materializes the pairs; count and collect
    both read the checkpointed blocks). This is the executable form of
    the 'star-join stage executes once' event-log assertion."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    star = ddp.minhash_star_edges(docs, n_hashes=8, band_width=8)
    expected = star.count()
    assert expected > 0
    acc = spark.sparkContext.accumulator(0)

    def _tick(x):
        acc.add(1)
        return x

    tick = F.udf(_tick, "long").asNondeterministic()
    tapped = star.withColumn("src", tick(F.col("src")))
    # dedup_resolve drives connected_components eagerly (strategy count
    # + driver union-find); force the final join too for completeness
    verdict = ddp.dedup_resolve(docs, tapped)
    verdict.count()
    assert acc.value == expected, (
        f"pair plan executed {acc.value / expected:.1f}x "
        f"({acc.value} increments for {expected} pairs) — the "
        f"connected_components input is being recomputed"
    )


def test_source_cap(spark):
    from graphiti_spark.operators import dataset_mix as dmx

    rows = [(i, f"s{i % 3}") for i in range(30)] + [(100 + i, "tiny") for i in range(2)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = dmx.source_cap(df, cap=4).toPandas()

    by_src = out.groupby("source").size().to_dict()
    # over-cap sources capped exactly; under-cap kept whole
    assert by_src == {"s0": 4, "s1": 4, "s2": 4, "tiny": 2}
    # rank materialized only where the cap binds
    assert out[out.source == "tiny"].src_rank.isna().all()
    assert sorted(out[out.source == "s0"].src_rank) == [1, 2, 3, 4]
    # determinism: same membership on re-run and under repartitioning
    out2 = dmx.source_cap(df.repartition(7), cap=4).toPandas()
    assert sorted(out.doc_id) == sorted(out2.doc_id)
    # membership is the md5-smallest ranks, verified brute-force
    import hashlib

    def rk(i):
        return hashlib.md5(f"srccap:{i}".encode()).hexdigest()

    want_s0 = sorted((rk(i), i) for i in range(30) if i % 3 == 0)[:4]
    assert sorted(out[out.source == "s0"].doc_id) == sorted(i for _, i in want_s0)


def test_contamination_bloom(spark):
    from graphiti_spark.operators import dataset_dedup as ddp

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    docs = spark.createDataFrame(
        [
            (0, " ".join(words)),                       # = benchmark doc
            (1, " ".join(words[1:] + ["lambda"])),      # shares an 8-gram
            (2, " ".join(f"w{i}" for i in range(12))),  # disjoint vocab
            (3, "too short"),                           # < n tokens
        ],
        "doc_id long, text string",
    )
    bench = docs.filter("doc_id = 0")

    exact = ddp.contamination(docs, bench).toPandas().set_index("doc_id")
    bloom = ddp.contamination_bloom(docs, bench).toPandas().set_index("doc_id")

    # one-sided: every exact hit is a bloom hit (NO false negatives)
    assert set(exact[exact.contaminated].index) <= set(
        bloom[bloom.contaminated].index
    )
    # at the default 2^22 bits / handful of grams, no false positives
    # either: the two probes agree exactly
    assert (bloom.contaminated == exact.contaminated).all()
    assert (bloom.n_bloom_hits == exact.n_matched_ngrams).all()
    # the mask is built in whole bytes
    with pytest.raises(ValueError, match="multiple of 8"):
        ddp.contamination_bloom(docs, bench, bits=(1 << 10) + 3)

    # force collisions with a tiny filter: still no false negatives,
    # and the flagged set can only GROW
    tiny = ddp.contamination_bloom(docs, bench, bits=1 << 6).toPandas().set_index("doc_id")
    assert set(exact[exact.contaminated].index) <= set(tiny[tiny.contaminated].index)
    assert (tiny.n_bloom_hits >= bloom.n_bloom_hits).all()


def test_split_assign_and_token_budget(spark):
    from graphiti_spark.operators import dataset_mix as dmx

    df = spark.createDataFrame(
        [(i, f"s{i % 2}", 100 * (1 + i % 3)) for i in range(200)],
        "doc_id long, source string, n_tokens long",
    )
    out = dmx.split_assign(df, {"train": 0.9, "val": 0.05, "test": 0.05}).toPandas()
    # exhaustive + disjoint by construction: one label per doc
    assert len(out) == 200 and out.split.notna().all()
    frac = out.split.value_counts(normalize=True)
    assert frac["train"] > 0.8  # rough proportion sanity on 200 draws
    # determinism under repartitioning
    out2 = dmx.split_assign(df.repartition(7), {"train": 0.9, "val": 0.05, "test": 0.05}).toPandas()
    assert out.sort_values("doc_id").split.tolist() == out2.sort_values("doc_id").split.tolist()
    with pytest.raises(ValueError, match="sum to"):
        dmx.split_assign(df, {"train": 0.8, "val": 0.1})

    cap = dmx.token_budget_cap(df, budget=1000.0).toPandas()
    # every kept doc was admitted strictly under budget
    assert (cap.cum_before < 1000.0).all()
    # per source: kept tokens reach the budget (crossing doc admitted)
    tot = cap.groupby("source").apply(
        lambda g: (g.cum_before.max() + 0), include_groups=False
    )
    assert (tot + 100 >= 1000.0 - 300).all()  # within one max-doc of budget
    # brute-force equivalence: md5-ordered prefix under budget
    import hashlib

    pdf = df.toPandas()
    pdf["rk"] = pdf.doc_id.map(lambda i: hashlib.md5(f"budget:{i}".encode()).hexdigest())
    want = set()
    for s, g in pdf.groupby("source"):
        acc = 0
        for r in g.sort_values(["rk", "doc_id"]).itertuples():
            if acc < 1000.0:
                want.add(r.doc_id)
            acc += r.n_tokens
    assert set(cap.doc_id) == want
