"""Tests for dedup / similarity / text analysis / byte features over the
testdata parquet (documents.parquet, embeddings.parquet) plus planted
synthetic duplicates."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pytimetk_spark.webtext.dedup import (
    dedup_exact,
    embedding_near_dup_pairs,
    exact_duplicate_groups,
    minhash_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from pytimetk_spark.webtext.similarity import cosine_topk_bruteforce, lsh_bucket_ann
from pytimetk_spark.webtext.textstats import (
    byte_stats_features,
    document_fingerprint,
    language_id,
    quality_score,
    token_stats,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def planted(spark):
    """documents + planted exact and near duplicates with known ids."""
    base = spark.read.parquet(f"{SF}/documents.parquet")
    rows = base.orderBy("doc_id").limit(3).collect()
    extra = []
    for i, r in enumerate(rows):
        extra.append((10_000 + i, r["text"], r["lang"], r["source"], r["n_chars"]))
    # near-dup: copy with one word swapped at the end
    near = rows[0]["text"] + " zzz"
    extra.append((10_100, near, rows[0]["lang"], rows[0]["source"], len(near)))
    extra_df = spark.createDataFrame(
        extra, schema="doc_id long, text string, lang string, source string, n_chars long"
    )
    return base.unionByName(extra_df)


def test_exact_dedup(spark, planted):
    groups = exact_duplicate_groups(planted).toPandas()
    assert len(groups) == 3
    assert set(groups["n_docs"]) == {2}
    assert (groups["keeper_id"] < 10_000).all()
    kept = dedup_exact(planted)
    assert kept.count() == planted.count() - 3
    assert kept.filter(F.col("doc_id").isin([10_000, 10_001, 10_002])).count() == 0


def test_minhash_dedup_finds_planted_near_dup(spark, planted):
    sigs = minhash_signatures(planted, n_hashes=64, shingle_size=5)
    assert sigs.select(F.size("signature")).first()[0] == 64
    cands = minhash_lsh_candidates(sigs, bands=16, rows_per_band=4)
    cand_pairs = set(map(tuple, cands.toPandas().values.tolist()))
    assert (0, 10_000) in cand_pairs  # exact dup must collide
    assert (0, 10_100) in cand_pairs  # near dup should collide
    verified = ngram_jaccard_pairs(sigs, cands).toPandas()
    j = verified.set_index(["id_a", "id_b"])["jaccard"]
    assert j.loc[(0, 10_000)] == 1.0
    assert j.loc[(0, 10_100)] > 0.8
    cleaned = minhash_dedup(planted, threshold=0.8)
    ids = {r["doc_id"] for r in cleaned.select("doc_id").collect()}
    assert 0 in ids and 10_000 not in ids and 10_100 not in ids


def test_minhash_signatures_match_catalyst_reference(spark):
    """The numpy mapInArrow permutation sweep must be bit-identical to
    the interpreted Catalyst formulation it replaced (r7: the
    n_hashes × n_shingles transform-lambda visits were ~60% of the
    signature projection). Checks both hash variants and the degenerate
    docs (empty text, doc shorter than the shingle size, NULL text)
    whose guard path reproduces array_min's NULL semantics."""
    import pandas as pd

    from pytimetk_spark.webtext.dedup import (
        _MOD31,
        _h64,
        _perm_params,
        shingle_tokens,
    )

    docs = pd.DataFrame({
        "doc_id": range(6),
        "text": [
            "the quick brown fox jumps over the lazy dog again and again",
            "a b c d e f g h i j k l m n o p",
            "one two",
            "",
            None,
            "x " * 200,
        ],
    })
    df = spark.createDataFrame(docs)
    # one Arrow batch of >=100 normal documents with the degenerate docs
    # mixed in: they must not change the normal rows' signatures
    rng = np.random.RandomState(7)
    words = np.array(["alpha", "beta", "gamma", "delta", "eps", "zeta"])
    mixed = pd.DataFrame({
        "doc_id": range(100, 230),
        "text": [
            [None, "", "one two"][i % 3] if i % 10 == 0
            else " ".join(rng.choice(words, 5 + i % 40))
            for i in range(130)
        ],
    })
    mixed_df = spark.createDataFrame(mixed).coalesce(1)
    for variant, df, docs in [
        ("xxhash64", df, docs), ("md5", df, docs),
        ("xxhash64", mixed_df, mixed), ("md5", mixed_df, mixed),
    ]:
        shingles = shingle_tokens(F.col("text"), 5)
        hashed = F.transform(shingles, lambda s: _h64(s, variant))
        staged = df.select("doc_id", hashed.alias("shingle_hashes"))
        base = F.transform(
            F.col("shingle_hashes"), lambda h: F.pmod(h, F.lit(_MOD31))
        )
        ref_sig = F.array(*[
            F.array_min(F.transform(
                base, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_MOD31)
            ))
            for a, b in _perm_params(8, 42)
        ])
        ref = (staged.select("doc_id", ref_sig.alias("signature"),
                             "shingle_hashes")
               .toPandas().sort_values("doc_id").reset_index(drop=True))
        got = (minhash_signatures(df, "text", "doc_id", 8, 5,
                                  hash_variant=variant)
               .toPandas().sort_values("doc_id").reset_index(drop=True))
        def canon(arr):
            if arr is None or (not hasattr(arr, "__len__")
                               and pd.isna(arr)):
                return None
            return [None if pd.isna(x) else int(x) for x in arr]

        for i in range(len(docs)):
            assert canon(got.signature[i]) == canon(ref.signature[i]), (
                variant, i)
            assert canon(got.shingle_hashes[i]) == canon(
                ref.shingle_hashes[i]), (variant, i)


def test_minhash_batch_degenerate_rows_vectorized():
    """The Arrow-batch MinHash kernel handles empty lists, NULL lists and
    NULL elements inside the vectorized sweep with array_min's
    semantics (NULL elements skipped; no non-NULL hash -> signature of
    NULLs; NULL row -> NULL signature), also on a sliced batch whose
    offsets do not start at 0."""
    import pyarrow as pa

    from pytimetk_spark.webtext.dedup import _MOD31, _minhash_batch, _perm_params

    rng = np.random.RandomState(3)
    rows = [
        [int(x) for x in rng.randint(-2**62, 2**62, size=n)]
        for n in rng.randint(1, 30, size=120)
    ]
    for i, bad in zip((0, 5, 50, 51, 118, 119),
                      ([], None, [None, 2**61 + 7], [None], [], None)):
        rows[i] = bad
    params = _perm_params(16, 42)
    a_vec = np.array([a for a, _ in params], dtype=np.int64)
    b_vec = np.array([b for _, b in params], dtype=np.int64)

    def reference(row):
        if row is None:
            return None
        hs = [h % _MOD31 for h in row if h is not None]
        if not hs:
            return [None] * len(params)
        return [min((a * h + b) % _MOD31 for h in hs) for a, b in params]

    lst = pa.array(rows, type=pa.list_(pa.int64()))
    for arr, expect in ((lst, rows), (lst.slice(3, 100), rows[3:103]),
                        (lst.slice(119, 1), rows[119:]),
                        (lst.slice(0, 0), [])):
        got = _minhash_batch(arr, a_vec, b_vec).to_pylist()
        assert got == [reference(r) for r in expect]


def test_simhash_near_dup(spark, planted):
    sh = simhash(planted).filter(F.col("doc_id").isin(0, 10_000)).toPandas()
    fp = sh.set_index("doc_id")["simhash"]
    assert fp.loc[0] == fp.loc[10_000]  # identical text → equal fingerprint


def test_embedding_near_dup(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dup = emb.limit(2).select(
        (F.col("vec_id") + 20_000).alias("vec_id"),
        "embedding",
        "label",
    )
    all_vecs = emb.unionByName(dup)
    pairs = embedding_near_dup_pairs(all_vecs, threshold=0.999, n_planes=8).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].values.tolist()))
    assert (0, 20_000) in got and (1, 20_001) in got


def test_embedding_near_dup_flood_bucket_shed(spark):
    """A flooded LSH bucket (here: one vector repeated 60×) is dropped by
    max_bucket before the self-join, so candidate volume stays bounded;
    normal-sized buckets keep producing pairs."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    flood = (
        emb.filter(F.col("vec_id") == 2)
        .crossJoin(spark.range(60).select(F.col("id").alias("__i__")))
        .select((F.lit(50_000) + F.col("__i__")).alias("vec_id"),
                "embedding", "label")
    )
    pair = emb.limit(2).select(
        (F.col("vec_id") + 90_000).alias("vec_id"), "embedding", "label"
    )
    all_vecs = emb.unionByName(flood).unionByName(pair)
    pairs = embedding_near_dup_pairs(
        all_vecs, threshold=0.999, n_planes=8, max_bucket=50
    ).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].values.tolist()))
    # the 60-clone flood bucket was shed: none of its C(60,2) pairs emitted
    assert not any(50_000 <= a < 50_060 and 50_000 <= b < 50_060
                   for a, b in got)
    # duplicates living in ordinary buckets still found
    assert (0, 90_000) in got and (1, 90_001) in got


def test_ivf_ann_sampled_fit(spark):
    """KMeans fit input is capped at fit_sample rows; the model still
    assigns the full corpus and self-vectors still rank first."""
    from pytimetk_spark.webtext.similarity import ivf_ann

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    approx = ivf_ann(
        emb, queries, k=5, n_cells=8, n_probe=3, fit_sample=100
    ).toPandas()
    firsts = approx[approx["rank"] == 1]
    assert (firsts["query_id"].values == firsts["vec_id"].values).all()
    assert (approx.groupby("query_id").size() == 5).all()


def test_cosine_topk_exact_vs_numpy(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk_bruteforce(emb, queries, k=5).toPandas()
    assert set(out["query_id"]) == {0, 1, 2}
    assert (out.groupby("query_id").size() == 5).all()
    # self always ranks first with cosine ~1
    firsts = out[out["rank"] == 1]
    assert (firsts["query_id"].values == firsts["vec_id"].values).all()
    np.testing.assert_allclose(firsts["cosine"], 1.0, rtol=1e-6)

    # numpy oracle for query 0
    pdf = emb.toPandas()
    mat = np.vstack(pdf["embedding"].values).astype("float64")
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    q = mat[pdf.index[pdf["vec_id"] == 0][0]]
    sims = mat @ q
    top5 = pdf["vec_id"].values[np.lexsort((pdf["vec_id"].values, -sims))][:5]
    got5 = out[out["query_id"] == 0].sort_values("rank")["vec_id"].values
    np.testing.assert_array_equal(got5, top5)


def test_lsh_ann_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = cosine_topk_bruteforce(emb, queries, k=5).toPandas()
    # random gaussian embeddings have weak neighbor structure — use few
    # planes so candidate volume (≈ (1+planes)/2^planes of corpus) is
    # meaningful, and assert recall far above the random-candidate baseline
    approx = lsh_bucket_ann(emb, queries, k=5, n_planes=5, multiprobe=True).toPandas()
    recall = 0.0
    for qid in range(5):
        e = set(exact[exact["query_id"] == qid]["vec_id"])
        a = set(approx[approx["query_id"] == qid]["vec_id"])
        recall += len(e & a) / 5
    recall /= 5
    assert recall >= 0.3, recall  # random baseline would be ~(6/32)·k/N ≈ 0.2%


def test_ivf_ann_recall(spark):
    from pytimetk_spark.webtext.similarity import ivf_ann

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = cosine_topk_bruteforce(emb, queries, k=5).toPandas()
    approx = ivf_ann(emb, queries, k=5, n_cells=8, n_probe=3).toPandas()
    firsts = approx[approx["rank"] == 1]
    assert (firsts["query_id"].values == firsts["vec_id"].values).all()
    recall = 0.0
    for qid in range(5):
        e = set(exact[exact["query_id"] == qid]["vec_id"])
        a = set(approx[approx["query_id"] == qid]["vec_id"])
        recall += len(e & a) / 5
    assert recall / 5 >= 0.4  # probing 3/8 cells of random vectors


def test_token_stats_and_quality(spark, docs):
    out = token_stats(docs).toPandas()
    assert (out["n_tokens_ws"] > 0).all()
    assert (out["n_tokens_bpe"] >= out["n_tokens_ws"]).all()
    assert (out["n_chars"] == out["text"].str.len()).all()

    q = quality_score(docs).toPandas()
    assert q["quality_score"].between(0, 1).all()
    assert (q["q_stopword_hits"] > 0).mean() > 0.5  # synthetic docs contain 'the'


def test_language_id(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "the cat is on the mat and it is happy with this",
                "der Hund ist nicht mit der Katze im Haus und das ist gut",
                "le chat est dans la maison et il est avec les enfants pour le jeu",
            ],
        }
    )
    out = language_id(spark.createDataFrame(pdf)).toPandas().sort_values("doc_id")
    assert out["lang_pred"].tolist() == ["en", "de", "fr"]


def test_document_fingerprint(spark, planted):
    fp = document_fingerprint(planted).toPandas().set_index("doc_id")
    assert fp.loc[0, "fingerprint64"] == fp.loc[10_000, "fingerprint64"]
    # near-dup shares most minima but may differ in the combined hash
    a = set(fp.loc[0, "fingerprint_minhashes"])
    b = set(fp.loc[10_100, "fingerprint_minhashes"])
    assert len(a & b) >= 6


def test_multimodal_byte_features(spark, docs):
    src = docs.withColumn("blob", F.to_binary(F.col("text"), F.lit("utf-8")))
    out = byte_stats_features(src, "blob").toPandas()
    assert len(out) == docs.count()
    assert (out["n_bytes"] > 0).all()
    assert out["byte_entropy"].between(0, 4).all()
    assert (out["hist16"].apply(len) == 16).all()


def test_shed_observation_and_minhash_cache_release(spark):
    """The r5 'no silent caps' plumbing: (a) the shed Observation reports
    how many buckets/rows the max_bucket cap dropped, collected during the
    SAME action (no second scan); (b) release_minhash_cache unpersists the
    signature cache minhash_dedup attaches to its result."""
    import warnings

    from pytimetk_spark.webtext.dedup import (
        BucketShedWarning,
        embedding_near_dup_pairs,
        minhash_dedup,
        release_minhash_cache,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    flood = (
        emb.filter(F.col("vec_id") == 2)
        .crossJoin(spark.range(60).select(F.col("id").alias("__i__")))
        .select((F.lit(70_000) + F.col("__i__")).alias("vec_id"),
                "embedding", "label")
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        pairs = embedding_near_dup_pairs(
            emb.unionByName(flood), threshold=0.999, n_planes=8, max_bucket=50
        )
        assert any(issubclass(x.category, BucketShedWarning) for x in w)
    pairs.count()  # action -> observation materializes
    shed = pairs._shed_observation.get
    assert shed["shed_buckets"] >= 1
    assert shed["shed_rows"] >= 60
    # max_bucket=None disables both the cap and the observation
    no_cap = embedding_near_dup_pairs(
        emb.limit(20), threshold=0.999, n_planes=8, max_bucket=None
    )
    assert not hasattr(no_cap, "_shed_observation")

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(200)
    deduped = minhash_dedup(docs)
    deduped.count()
    sigs = deduped._minhash_sigs_handle
    assert sigs.storageLevel.useMemory or sigs.storageLevel.useDisk
    assert release_minhash_cache(deduped) is True
    assert not sigs.storageLevel.useMemory and not sigs.storageLevel.useDisk
    assert release_minhash_cache(deduped) is False


def _repetition_reference(text, top_ns=(2, 3, 4), dup_ns=(5, 6, 7, 8, 9, 10)):
    """Plain-python Gopher repetition signals for the differential."""
    from collections import Counter

    n_chars = len(text)
    out = {"n_chars": n_chars}

    def dup_fracs(items):
        if not items:
            return 0.0, 0.0
        c = Counter(items)
        total_chars = sum(len(x) * k for x, k in c.items())
        dup_chars = sum(len(x) * k for x, k in c.items() if k > 1)
        return (1 - len(c) / len(items),
                dup_chars / max(total_chars, 1))

    lines = [x for x in text.split("\n") if x]
    paras = [x for x in __import__("re").split(r"\n{2,}", text) if x]
    out["dup_line_frac"], out["dup_line_char_frac"] = dup_fracs(lines)
    out["dup_para_frac"], out["dup_para_char_frac"] = dup_fracs(paras)
    toks = __import__("re").sub(r"\s+", " ", text).strip().lower().split(" ")
    for n in top_ns:
        grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        if not grams:
            out[f"top_{n}gram_char_frac"] = 0.0
            continue
        c = Counter(grams)
        top = max(c.items(), key=lambda kv: (kv[1], kv[1] * len(kv[0])))
        out[f"top_{n}gram_char_frac"] = min(
            top[1] * len(top[0]) / max(n_chars, 1), 1.0)
    for n in dup_ns:
        grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        c = Counter(grams)
        dup = sum(k * len(g) for g, k in c.items() if k > 1)
        out[f"dup_{n}gram_char_frac"] = min(dup / max(n_chars, 1), 1.0)
    return out


def test_repetition_signals_differential(spark):
    """All 14 Gopher repetition columns match a plain-python reference
    on crafted docs covering duplicated lines/paragraphs, run-heavy
    token streams, short docs (< n tokens), and the empty doc (which
    must still yield a zero row — probing must be total)."""
    from pytimetk_spark.webtext.textstats import repetition_signals

    rng = np.random.RandomState(41)
    docs = [
        (1, "aaa bbb ccc\naaa bbb ccc\nddd eee\n\npara one\n\npara one"),
        (2, "x y " * 30),
        (3, " ".join(rng.choice(["a", "b", "c", "dd", "eee"], 200))),
        (4, "short doc"),
        (5, "one"),
        (6, ""),
        (7, "Mixed CASE   with\nmulti  spaces\nMixed CASE   with"),
    ]
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    got = (repetition_signals(df, "text").toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    assert list(got["doc_id"]) == [1, 2, 3, 4, 5, 6, 7]
    for _, row in got.iterrows():
        ref = _repetition_reference(dict(docs)[row["doc_id"]])
        for k, v in ref.items():
            assert abs(row[k] - v) < 1e-9, (row["doc_id"], k, row[k], v)


def test_repetition_signals_plan_staged(spark):
    """The token/line arrays must be STAGED columns: if the split-of-
    regexp were inlined into the n-gram lambdas it would re-evaluate
    per n-gram position (O(len^2) document scans). Pin: exactly one
    regexp_replace in the executed plan and none inside a lambda."""
    import re

    from pytimetk_spark.webtext.textstats import repetition_signals

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (repetition_signals(docs, top_ns=(2, 3), dup_ns=(5, 10))
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("regexp_replace") == 1
    assert not re.findall(r"lambdafunction[^\n]*regexp_replace", plan)


def test_repetition_signals_plan_hash_aggregated(spark):
    """Every aggregate in the repetition plan must be hash-based: the
    old max_by(occ, struct(cnt, occ)) argmax had a non-fixed-width
    buffer, which kicked the per-(doc, kind) aggregate into
    SortAggregate — both sides of its exchange then SORTED the full
    counts frame (~150M rows at bench scale; measured −28% when the
    argmax became a packed-bigint max). Pin: no SortAggregate, and the
    packed shiftleft argmax is present."""
    from pytimetk_spark.webtext.textstats import repetition_signals

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (repetition_signals(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "SortAggregate" not in plan
    assert "max_by" not in plan
    assert "shiftleft" in plan


def test_cleaning_operators(spark):
    """PII masking (typed tokens + counts), C4 line filtering (terminal
    punctuation / min words / boilerplate), and GPT-3-style 13-gram
    decontamination against a broadcast benchmark set."""
    from pytimetk_spark.webtext.cleaning import (
        c4_line_filter,
        decontaminate,
        mask_pii,
    )

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [
            "Contact me at bob@example.com or 555-123-4567.\n"
            "My IP is 192.168.1.1 and SSN 123-45-6789.",
            "This is a good sentence with enough words.\nshort\n"
            "Buy now{}\nEnable javascript to continue\n"
            "Another proper sentence ends here.",
            "",
        ],
    })
    df = spark.createDataFrame(docs)

    m = mask_pii(df).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert (m.loc[0, ["n_email", "n_ipv4", "n_ssn", "n_phone"]] == 1).all()
    assert m.loc[0, "text_masked"] == (
        "Contact me at <|email|> or <|phone|>.\n"
        "My IP is <|ipv4|> and SSN <|ssn|>.")
    assert (m.loc[1, ["n_email", "n_ipv4", "n_ssn", "n_phone"]] == 0).all()
    assert m.loc[1, "text_masked"] == docs.loc[1, "text"]

    c = c4_line_filter(df).toPandas().sort_values("doc_id").reset_index(
        drop=True)
    assert (c.loc[1, "n_lines"], c.loc[1, "n_lines_kept"]) == (5, 2)
    assert c.loc[1, "text_clean"] == (
        "This is a good sentence with enough words.\n"
        "Another proper sentence ends here.")
    assert c.loc[2, "line_keep_frac"] == 0.0

    bench = spark.createDataFrame(pd.DataFrame({"text": [
        "this is a good sentence with enough words and some extra "
        "padding tokens here today"]}))
    corpus = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["prefix this is a good sentence with enough words and "
                 "some extra padding tokens here today suffix",
                 "completely different content sharing nothing with the "
                 "benchmark set at all whatsoever ok then"],
    }))
    d = decontaminate(corpus, bench, n=13).toPandas().sort_values(
        "doc_id").reset_index(drop=True)
    # 15-word benchmark -> 3 distinct 13-grams, all inside doc 1
    assert (d.loc[0, "n_contaminated_ngrams"],
            bool(d.loc[0, "is_contaminated"])) == (3, True)
    assert not d.loc[1, "is_contaminated"]
    # the benchmark side must be a broadcast join (corpus never shuffles
    # on the gram key)
    plan = decontaminate(corpus, bench, n=13)._jdf.queryExecution(
        ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_connected_components_clusters(spark):
    """Hash-to-min label propagation matches a union-find reference on
    a random graph plus a 16-node chain (multi-round convergence), and
    composes with the near-dup pair outputs: every pair's two sides get
    the same cluster id and the id equals the component minimum."""
    from pytimetk_spark.webtext.dedup import connected_components

    rng = np.random.RandomState(7)
    edges = [(int(rng.randint(200)), int(rng.randint(200)))
             for _ in range(150)]
    edges += [(1000 + i, 1001 + i) for i in range(15)]  # diameter stress
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["id_a", "id_b"]))
    got = connected_components(df).toPandas()

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for x in parent:
        comp.setdefault(find(x), []).append(x)
    expect = {x: min(members) for members in comp.values() for x in members}
    assert len(got) == len(expect)
    for _, row in got.iterrows():
        assert expect[row["id"]] == row["cluster_id"], row["id"]


def test_connected_components_string_ids_and_null_guard(spark):
    """String/uuid doc ids must label correctly (ADVICE r5 dedup.py:538:
    the old long cast silently NULLed every edge): labels propagate in
    the ids' native string form, cluster_id = lexicographic min member.
    NULL ids raise instead of silently dropping rows."""
    from pytimetk_spark.webtext.dedup import connected_components

    df = spark.createDataFrame(pd.DataFrame({
        "id_a": ["doc-b", "doc-a", "doc-x", "uuid-9"],
        "id_b": ["doc-c", "doc-b", "doc-y", "uuid-9"],
    }))
    got = (connected_components(df).toPandas()
           .set_index("id")["cluster_id"].to_dict())
    assert got == {
        "doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a",
        "doc-x": "doc-x", "doc-y": "doc-x", "uuid-9": "uuid-9",
    }
    bad = spark.createDataFrame(pd.DataFrame({
        "id_a": ["doc-a", None], "id_b": ["doc-b", "doc-c"]}))
    with pytest.raises(ValueError, match="NULL ids"):
        connected_components(bad)


def test_webtext_pipeline_end_to_end(spark):
    """The spark-submit curation pipeline chains clean -> mask ->
    quality/repetition filter -> exact + near dedup -> decontaminate
    and reports monotone per-stage survival counts; curated output
    keeps the raw text alongside the masked/cleaned text."""
    import sys

    sys.path.insert(0, "jobs")
    from webtext_pipeline import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter("doc_id < 3").select("text")
    curated, stats = run_pipeline(spark, docs, benchmark=bench,
                                  min_quality=0.3, max_dup_5gram=0.5)
    n = curated.count()
    assert stats["n_input"] == docs.count()
    order = ["n_input", "n_after_clean", "n_after_filters",
             "n_after_exact_dedup", "n_after_near_dedup",
             "n_after_decontamination"]
    vals = [stats[k] for k in order]
    assert vals == sorted(vals, reverse=True)  # stages only remove docs
    assert n == stats["n_after_decontamination"]
    # the 3 benchmark docs must be gone (they contaminate themselves)
    survivors = {r.doc_id for r in curated.select("doc_id").collect()}
    assert not ({0, 1, 2} & survivors)
    assert {"text", "text_raw", "quality_score"} <= set(curated.columns)

    # tokenize/pack/split tail stages: every surviving doc gets a BPE
    # count, a sequence assignment within budget, and a split label
    curated2, stats2 = run_pipeline(
        spark, docs, min_quality=0.3, max_dup_5gram=0.5,
        pack_tokens=512, split_fractions={"train": 0.9, "val": 0.1},
    )
    pdf2 = curated2.toPandas()
    assert {"bpe_n_tokens", "seq_id", "seq_fill", "split"} <= set(
        pdf2.columns)
    assert stats2["n_sequences"] == pdf2["seq_id"].nunique()
    assert set(pdf2["split"].unique()) <= {"train", "val"}

    # url_col: PSL-correct registrable domains (co.uk hosts must group
    # by the THIRD label, not the two-label approximation) + stats
    docs3 = docs.withColumn(
        "url",
        F.concat(F.lit("https://www.site"), F.col("doc_id") % 7,
                 F.lit(".co.uk/p/"), F.col("doc_id")),
    )
    curated3, stats3 = run_pipeline(
        spark, docs3, min_quality=0.3, max_dup_5gram=0.5, url_col="url")
    pdf3 = curated3.select("doc_id", "url_domain").toPandas()
    assert (pdf3["url_domain"] ==
            "site" + (pdf3["doc_id"] % 7).astype(str) + ".co.uk").all()
    assert stats3["n_domains"] == pdf3["url_domain"].nunique()
    assert stats3["top_domain"].endswith(".co.uk")

    # CCNet-style self-fit perplexity gate + temperature mixing tail:
    # the gate drops the tail ppl bucket; mixing emits deterministic
    # per-doc copies keyed by (doc_id, copy_idx)
    curated4, stats4 = run_pipeline(
        spark, docs, min_quality=0.3, max_dup_5gram=0.5,
        ppl_reference="self", mix_alpha=0.5,
    )
    assert stats4["n_after_ppl_gate"] < stats4["n_after_near_dedup"]
    assert stats4["n_after_mixing"] == curated4.count()
    pdf4 = curated4.select(
        "doc_id", "copy_idx", "n_copies", "ppl_bucket", "ppl"
    ).toPandas()
    assert set(pdf4["ppl_bucket"].unique()) <= {"head", "middle"}
    assert (pdf4["copy_idx"] < pdf4["n_copies"]).all()
    assert not pdf4.duplicated(["doc_id", "copy_idx"]).any()

    # trained-classifier gate: target = a slice of the corpus itself;
    # survivors carry the score + draw and the stage count is monotone
    curated5, stats5 = run_pipeline(
        spark, docs, min_quality=0.3, max_dup_5gram=0.5,
        quality_target=docs.filter("doc_id % 4 = 0").select("doc_id", "text"),
        quality_alpha=2.0,
    )
    assert stats5["n_after_quality_classifier"] <= stats5[
        "n_after_near_dedup"]
    assert stats5["n_after_quality_classifier"] == curated5.count()
    pdf5 = curated5.select("quality_prob", "pareto_draw").toPandas()
    assert ((pdf5.quality_prob > 1.0 - pdf5.pareto_draw).all())


def test_extract_html_text(spark):
    """Regex-tier HTML extraction: head/script/style/comment subtrees
    dropped, block closers become newlines, entities decoded,
    whitespace collapsed; on the synthetic webpages source the
    extracted body must equal the generator's ground-truth text (up to
    the extractor's outer-whitespace trim)."""
    from pyspark.sql import functions as SF

    from pytimetk_spark.sources.webpages import generate_webpages
    from pytimetk_spark.webtext.html import extract_html_text

    cases = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "html": [
            '<html><head><title> My Page </title><style>b{c:1}</style>'
            '<script>var x="<p>not text</p>";</script></head><body>'
            '<h1>Header</h1><p>First  paragraph &amp; stuff.</p>'
            '<!-- hidden <p>comment</p> -->'
            '<div>Second <b>bold</b> line&nbsp;here.</div>'
            '<ul><li>item one</li><li>item two</li></ul></body></html>',
            'no markup at all',
            '',
        ],
    })
    out = (extract_html_text(spark.createDataFrame(cases), "html")
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    assert out.loc[0, "title"] == "My Page"
    assert out.loc[0, "text_extracted"] == (
        "Header\nFirst paragraph & stuff.\nSecond bold line here.\n"
        "item one\nitem two")
    assert out.loc[1, "text_extracted"] == "no markup at all"
    assert out.loc[2, "text_extracted"] == ""

    wp = generate_webpages(spark, n_urls=40, crawls_per_url=4)
    ex = extract_html_text(wp, "html", title_col=None)  # binary input
    bad = ex.filter(
        SF.col("text_extracted") != SF.trim(SF.col("text"))).count()
    assert bad == 0


def test_bpe_train_encode(spark):
    """Corpus-fit BPE: deterministic merge learning, classic subword
    behavior on the Sennrich low/lower/newest corpus (shared stems and
    suffixes become units), lossless round-trip through the end-of-word
    marker, and count bounds n_words <= n_bpe <= n_chars."""
    from pytimetk_spark.webtext.bpe import (
        _EOW,
        _encode_word,
        bpe_encode,
        bpe_train,
    )

    corpus = pd.DataFrame({
        "doc_id": range(4),
        "text": ["low low low low low lower lower",
                 "newest newest newest newest newest newest",
                 "widest widest widest",
                 "low newest widest lowest"],
    })
    df = spark.createDataFrame(corpus)
    merges = bpe_train(df, n_merges=60, fit_sample=100, seed=1)
    assert merges == bpe_train(df, n_merges=60, fit_sample=100, seed=1)
    ranks = {p: i for i, p in enumerate(merges)}
    # frequent whole words collapse to single tokens
    assert _encode_word("low", ranks) == ["low" + _EOW]
    assert _encode_word("newest", ranks) == ["newest" + _EOW]
    # unseen word built from learned subwords, not raw chars
    lowest = _encode_word("lowest", ranks)
    assert 1 <= len(lowest) <= 4 and "".join(lowest) == "lowest" + _EOW

    enc = bpe_encode(df, merges, return_tokens=True).join(
        df, "doc_id").toPandas()
    for _, r in enc.iterrows():
        detok = "".join(r["bpe_tokens"]).replace(_EOW, " ").strip()
        assert detok == " ".join(r["text"].lower().split())
        n_words = len(r["text"].split())
        assert n_words <= r["bpe_n_tokens"] <= len(r["text"])

    # real-corpus sanity: merges fit on testdata docs, counts bounded
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    m2 = bpe_train(docs, n_merges=120, fit_sample=300, seed=2)
    out = bpe_encode(docs, m2).join(docs, "doc_id").limit(50).toPandas()
    assert (out["bpe_n_tokens"] >= out["text"].str.split().str.len()).all()


def test_text_ops_run_on_streams(spark, tmp_path):
    """The stateless corpus operators (PII masking, C4 line filter,
    quality score) are pure Catalyst projections, so they
    must run unchanged under Structured Streaming — batch and stream
    results over the same files must match exactly."""
    from pyspark.sql import functions as SF

    from pytimetk_spark.webtext.cleaning import c4_line_filter, mask_pii
    from pytimetk_spark.webtext.textstats import quality_score

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "docs_src")
    docs.write.mode("overwrite").parquet(src)

    def transform(frame):
        out = c4_line_filter(mask_pii(frame, kinds=("email",)),
                             text_col="text_masked", min_words=40,
                             require_terminal_punct=False)
        return quality_score(out).select(
            "doc_id", "n_email", "n_lines_kept", "line_keep_frac",
            "quality_score")

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        transform(stream).writeStream.format("memory")
        .queryName("webtext_stream").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = (spark.table("webtext_stream").toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    want = (transform(docs).toPandas()
            .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want)


def test_repetition_signals_hypothesis(spark):
    """Property sweep: random small documents (random words, newlines,
    blank lines, repeated segments) must match the plain-python
    reference on every column. One Spark job for all examples (rows in
    one frame), so the sweep stays cheap."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pytimetk_spark.webtext.textstats import repetition_signals

    texts = []

    @settings(max_examples=40, deadline=None, derandomize=True,
              suppress_health_check=list(HealthCheck))
    @given(st.data())
    def gen(data):
        rng = np.random.RandomState(data.draw(st.integers(0, 10_000)))
        words = ["aa", "b", "ccc", "dd", "ee"]
        parts = []
        for _ in range(data.draw(st.integers(1, 6))):
            line = " ".join(rng.choice(words, rng.randint(1, 12)))
            if data.draw(st.booleans()):
                parts.extend([line, line])  # force duplicate lines
            else:
                parts.append(line)
            if data.draw(st.booleans()):
                parts.append("")  # blank line -> paragraph split
        texts.append("\n".join(parts))

    gen()
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = (repetition_signals(spark.createDataFrame(pdf), "text")
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    for _, row in got.iterrows():
        ref = _repetition_reference(texts[int(row["doc_id"])])
        for k, v in ref.items():
            assert abs(row[k] - v) < 1e-9, (row["doc_id"], k, row[k], v)


def test_hash_split_and_pack_sequences(spark):
    """hash_split: proportions within tolerance, deterministic and
    partition-layout independent (no val/train leakage across re-runs);
    pack_sequences: every doc assigned once, per-sequence fills match
    the member sums, budget respected except singleton oversize docs."""
    from pytimetk_spark.webtext.cleaning import hash_split, pack_sequences

    docs = spark.range(8000).withColumnRenamed("id", "doc_id")
    fr = {"train": 0.9, "val": 0.05, "test": 0.05}
    sp = hash_split(docs, fr)
    counts = {r["split"]: r["count"] for r in
              sp.groupBy("split").count().collect()}
    assert abs(counts["train"] / 8000 - 0.9) < 0.02
    assert abs(counts["val"] / 8000 - 0.05) < 0.015
    val_a = {r.doc_id for r in sp.filter("split='val'").collect()}
    val_b = {r.doc_id for r in
             hash_split(docs.repartition(13), fr)
             .filter("split='val'").collect()}
    assert val_a == val_b
    with pytest.raises(ValueError):
        hash_split(docs, {"train": 0.5})

    rng = np.random.RandomState(3)
    toks = pd.DataFrame({"doc_id": range(500),
                         "bpe_n_tokens": rng.randint(10, 900, 500)})
    packed = pack_sequences(spark.createDataFrame(toks).repartition(4),
                            max_tokens=2048).toPandas()
    assert len(packed) == 500
    j = packed.merge(toks, on="doc_id")
    fills = j.groupby("seq_id")["bpe_n_tokens"].sum()
    assert (fills == j.groupby("seq_id")["seq_fill"].first()).all()
    sizes = j.groupby("seq_id").size()
    over = fills[fills > 2048]
    assert (sizes[over.index] == 1).all()  # only oversize singletons
    assert fills.mean() > 1200  # greedy packing actually packs


def test_review_hardening_regressions(spark):
    """Pinned fixes from the round-5 self-review: string doc ids pass
    through bpe_encode/pack_sequences verbatim (a long cast silently
    corrupted them to garbage) and NULL token counts pack as 0."""
    from pytimetk_spark.webtext.bpe import bpe_encode, bpe_train
    from pytimetk_spark.webtext.cleaning import pack_sequences

    sdocs = pd.DataFrame({"doc_id": ["url-a", "url-b"],
                          "text": ["hello world", "hello there"]})
    sdf = spark.createDataFrame(sdocs)
    merges = bpe_train(sdf, n_merges=10, fit_sample=10)
    enc = bpe_encode(sdf, merges).toPandas()
    assert set(enc["doc_id"]) == {"url-a", "url-b"}
    toks = spark.createDataFrame(pd.DataFrame(
        {"doc_id": ["x", "y", "z"], "bpe_n_tokens": [100, None, 50]}))
    packed = pack_sequences(toks, max_tokens=256).toPandas()
    assert set(packed["doc_id"]) == {"x", "y", "z"}  # NULL packs as 0


def test_url_features(spark):
    """URL structure features (parse_url + regex, pure Catalyst): host
    lowercasing, last-two-label registrable-domain approximation, path
    depth over non-empty segments, scheme/query flags; synthetic
    webpages group correctly by domain."""
    from pytimetk_spark.sources.webpages import generate_webpages
    from pytimetk_spark.webtext.textstats import url_features

    urls = pd.DataFrame({"doc_id": range(3), "url": [
        "https://Sub.Example.COM/a/b/page.html?q=1",
        "http://example.org/",
        "https://single",
    ]})
    out = (url_features(spark.createDataFrame(urls), "url").toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    assert out.loc[0, "url_host"] == "sub.example.com"
    assert out.loc[0, "url_domain"] == "example.com"
    assert (out.loc[0, "url_path_depth"], out.loc[1, "url_path_depth"]) \
        == (3, 0)
    assert bool(out.loc[0, "url_has_query"])
    assert not bool(out.loc[1, "url_is_https"])
    assert out.loc[2, "url_domain"] == "single"

    wp = url_features(generate_webpages(spark, n_urls=30,
                                        crawls_per_url=2), "url")
    doms = wp.select("url_domain").distinct().count()
    assert doms >= 1  # synthetic urls share the example.com suffix
    assert wp.filter("url_tld != 'com'").count() == 0


def test_url_features_psl_registrable_domain(spark):
    """PSL-backed registrable domains (VERDICT r5 #5): the full rule
    semantics — longest match, ``*.ck`` wildcards, ``!www.ck``
    exceptions, multi-level registry rules, the ``*`` default — against
    hand-derived expectations from publicsuffix.org's own test vectors;
    and the plan stays broadcast-join-only (no shuffle added)."""
    from pytimetk_spark.sources.psl import psl_rules
    from pytimetk_spark.webtext.textstats import url_features

    cases = [
        # (url, expected url_domain, expected public suffix)
        ("https://www.example.co.uk/a?x=1", "example.co.uk", "co.uk"),
        ("http://shop.books.com.au/", "books.com.au", "com.au"),
        ("https://a.b.example.com/x", "example.com", "com"),
        ("http://example.com", "example.com", "com"),
        # wildcard *.ck: public suffix is <label>.ck
        ("http://x.foo.bar.ck/", "foo.bar.ck", "bar.ck"),
        # host IS a public suffix under the wildcard -> fallback host
        ("http://bar.ck/", "bar.ck", "bar.ck"),
        # exception !www.ck: registrable is www.ck itself
        ("http://www.ck/page", "www.ck", "ck"),
        ("http://deep.www.ck/page", "www.ck", "ck"),
        # multi-level registry rule (4 labels)
        ("https://school.pvt.k12.ma.us/", "school.pvt.k12.ma.us",
         "pvt.k12.ma.us"),
        # unknown TLD -> PSL default rule "*": last two labels
        ("http://foo.example.unknowntld/", "example.unknowntld",
         "unknowntld"),
        # host equal to a plain public suffix -> fallback host
        ("https://co.uk/", "co.uk", "co.uk"),
        ("https://www.example.govt.nz/x", "example.govt.nz", "govt.nz"),
    ]
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(len(cases)), "url": [c[0] for c in cases]}))
    rules = psl_rules(spark)
    out = (url_features(df, "url", psl_rules=rules).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    for i, (u, dom, _sfx) in enumerate(cases):
        assert out.loc[i, "url_domain"] == dom, (u, out.loc[i, "url_domain"])
    # public suffix column (host == suffix cases report the suffix match)
    assert out.loc[0, "url_public_suffix"] == "co.uk"
    assert out.loc[4, "url_public_suffix"] == "bar.ck"
    assert out.loc[6, "url_public_suffix"] == "ck"
    # plan: PSL lookups are broadcast hash joins; no exchange beyond them
    plan = url_features(df, "url", psl_rules=rules)._jdf.queryExecution(
        ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_paragraphs(spark):
    """RefinedWeb-style repeated-paragraph removal: lines recurring in
    >= min_docs documents are dropped (or kept once with keep_first),
    text reassembled in order, counts per doc exact."""
    from pytimetk_spark.webtext.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [
            (0, "INTRO\nunique zero\nFOOTER"),
            (1, " INTRO \nunique one\nFOOTER"),  # trimmed form matches
            (2, "only unique\ntext here"),
            (3, "INTRO"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_paragraphs(docs).collect()}
    assert out[0].text == "unique zero" and out[0].n_paras == 3
    assert out[0].n_paras_dropped == 2
    assert out[1].text == "unique one"
    assert out[2].text == "only unique\ntext here"
    assert out[2].n_paras_dropped == 0
    assert out[3].text == "" and out[3].n_paras_dropped == 1
    assert out[4].text == "" and out[4].n_paras == 0
    assert set(out[0].__fields__) >= {"doc_id", "text", "n_paras",
                                      "n_paras_dropped"}

    # keep_first: the lowest-id doc retains the shared copy
    kf = {r.doc_id: r for r in
          dedup_paragraphs(docs, keep_first=True).collect()}
    assert kf[0].text == "INTRO\nunique zero\nFOOTER"
    assert kf[0].n_paras_dropped == 0
    assert kf[1].text == "unique one" and kf[1].n_paras_dropped == 2
    assert kf[3].text == "" and kf[3].n_paras_dropped == 1

    # min_docs raises the bar: nothing repeats 3+ times except INTRO
    m3 = {r.doc_id: r for r in
          dedup_paragraphs(docs, min_docs=3).collect()}
    assert m3[0].text == "unique zero\nFOOTER"
    assert m3[1].text == "unique one\nFOOTER"

    # out_col preserves the source text
    oc = dedup_paragraphs(docs, out_col="text_clean")
    assert {"text", "text_clean"} <= set(oc.columns)
    r0 = oc.filter("doc_id = 0").collect()[0]
    assert r0.text == "INTRO\nunique zero\nFOOTER"
    assert r0.text_clean == "unique zero"

    with pytest.raises(ValueError, match="min_docs"):
        dedup_paragraphs(docs, min_docs=1)


def test_dedup_paragraphs_plan_three_shuffles(spark, tmp_path):
    """Scale contract: one posexplode feeding a hashed-count Exchange,
    one join-back, one per-doc reassembly — no more than three
    exchanges and no window over the corpus (parquet-backed input so
    the plan prints untruncated)."""
    from pytimetk_spark.webtext.dedup import dedup_paragraphs

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"HEAD\nbody {i}\nTAIL") for i in range(50)],
        "doc_id long, text string",
    ).write.parquet(p)
    out = dedup_paragraphs(spark.read.parquet(p))
    plan = out._jdf.queryExecution().executedPlan().toString()
    # hash shuffles only (joins broadcast at this size; at scale they
    # add their own exchanges but stay keyed on the 8-byte hash):
    # (h, did) dedup + (h) count [two-phase distinct] + (did) reassembly
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "Window" not in plan
