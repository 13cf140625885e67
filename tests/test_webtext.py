"""Tests for dedup / similarity / text analysis / multimodal plumbing over
the driver testdata (documents.parquet, embeddings.parquet) plus planted
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
    simhash_near_dup_pairs,
)
from pytimetk_spark.webtext.multimodal import byte_stats_features, decode_image_batch, sample_video_frames
from pytimetk_spark.webtext.similarity import cosine_topk_bruteforce, lsh_bucket_ann
from pytimetk_spark.webtext.textstats import (
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
    sh = simhash(planted)
    pairs = simhash_near_dup_pairs(sh, max_hamming=6).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].values.tolist()))
    assert (0, 10_000) in got  # identical text → hamming 0
    ham = pairs.set_index(["id_a", "id_b"])["hamming"]
    assert ham.loc[(0, 10_000)] == 0


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


def test_multimodal_decode_stub(spark, docs):
    src = docs.withColumn("blob", F.to_binary(F.col("text"), F.lit("utf-8"))).limit(20)
    fake = decode_image_batch(src, "blob", fake=True).toPandas()
    assert list(fake.columns) == ["doc_id", "n_bytes", "width", "height", "features"]
    assert (fake["width"] == 224).all()
    assert (fake["features"].apply(len) == 8).all()
    with pytest.raises(Exception, match="NotImplementedError|decode requires"):
        decode_image_batch(src, "blob", fake=False).collect()
    with pytest.raises(Exception, match="NotImplementedError|ffmpeg"):
        sample_video_frames(src, "blob").collect()


def _make_bmp(pix: np.ndarray) -> bytes:
    """Minimal 24-bpp bottom-up BMP from an HxWx3 uint8 RGB array."""
    import struct

    h, w = pix.shape[:2]
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for row in pix[::-1]:  # bottom-up
        line = bytearray()
        for r, g, b in row:
            line += bytes((b, g, r))
        line += b"\x00" * (stride - len(line))
        body += line
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(body), 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                    2835, 2835, 0, 0)
    return bytes(header) + bytes(body)


def _make_ppm(pix: np.ndarray) -> bytes:
    h, w = pix.shape[:2]
    return f"P6\n# test\n{w} {h}\n255\n".encode() + pix.tobytes()


def _make_wav(samples: np.ndarray, rate: int = 8000, bits: int = 16) -> bytes:
    import struct

    if bits == 16:
        raw = (samples * 32767).astype("<i2").tobytes()
    else:
        raw = ((samples * 127) + 128).clip(0, 255).astype("u1").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * bits // 8, bits // 8, bits)
    return (b"RIFF" + struct.pack("<I", 36 + len(raw)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(raw)) + raw)


def test_real_image_decode_bmp_ppm(spark):
    from pytimetk_spark.webtext.multimodal import (
        _decode_uncompressed_image,
        decode_image_batch,
    )

    rng = np.random.RandomState(9)
    pix = rng.randint(0, 256, (10, 7, 3)).astype(np.uint8)
    # kernel-level: both containers round-trip to the exact pixels
    np.testing.assert_array_equal(_decode_uncompressed_image(_make_bmp(pix)), pix)
    np.testing.assert_array_equal(_decode_uncompressed_image(_make_ppm(pix)), pix)
    assert _decode_uncompressed_image(b"\x89PNG\r\n") is None  # compressed

    pdf = pd.DataFrame(
        {"doc_id": [1, 2], "img": [_make_bmp(pix), _make_ppm(pix)]}
    )
    out = (
        decode_image_batch(
            spark.createDataFrame(pdf), "img", target_size=(4, 4)
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert (out["width"] == 4).all() and (out["height"] == 4).all()
    # identical pixels through either container -> identical features
    np.testing.assert_allclose(
        np.array(out.loc[0, "features"]), np.array(out.loc[1, "features"])
    )
    np.testing.assert_allclose(np.array(out.loc[0, "features"]).sum(), 1.0,
                               rtol=1e-6)
    # compressed bytes still raise (stub tier), fake=True still works
    bad = spark.createDataFrame(
        pd.DataFrame({"doc_id": [3], "img": [b"\x89PNG\r\n\x1a\n"]})
    )
    with pytest.raises(Exception, match="NotImplementedError|PIL"):
        decode_image_batch(bad, "img").collect()
    assert decode_image_batch(bad, "img", fake=True).count() == 1


def test_real_wav_decode(spark):
    from pytimetk_spark.webtext.multimodal import decode_audio_batch

    t = np.arange(8000, dtype=np.float64) / 8000.0
    sine = 0.5 * np.sin(2 * np.pi * 440 * t)  # 1 s of A440 at half scale
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "wav": [_make_wav(sine, 8000, 16), _make_wav(sine, 8000, 8)],
        }
    )
    out = (
        decode_audio_batch(spark.createDataFrame(pdf), "wav")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert (out["sample_rate"] == 8000).all()
    assert (out["n_samples"] == 8000).all()
    np.testing.assert_allclose(out["duration_sec"], 1.0, rtol=1e-9)
    # sine RMS = amplitude/sqrt(2); 440 Hz -> 880 zero crossings/sec
    np.testing.assert_allclose(out.loc[0, "rms"], 0.5 / np.sqrt(2), rtol=1e-3)
    np.testing.assert_allclose(out.loc[0, "peak"], 0.5, rtol=1e-3)
    np.testing.assert_allclose(
        out["zero_crossing_rate"], 880 / 8000, rtol=0.05
    )
    # non-WAV bytes raise (needs ffmpeg)
    bad = spark.createDataFrame(
        pd.DataFrame({"doc_id": [3], "wav": [b"ID3\x03mp3junk"]})
    )
    with pytest.raises(Exception, match="NotImplementedError|ffmpeg|WAVE"):
        decode_audio_batch(bad, "wav").collect()


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


def _gradient_img(h=41, w=67):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack([
        (xx * 3 + yy) % 256,
        (128 + 60 * np.sin(xx / 9.0) + 40 * np.cos(yy / 7.0)),
        (255 - xx * 2 - yy) % 256,
    ], axis=-1).clip(0, 255).astype(np.uint8)


def test_jpeg_baseline_decode_differential():
    """Pixel differential for the pure-numpy baseline JPEG decoder against
    an independent in-tests encoder (tests/jpeg_ref.py): 4:4:4 and
    grayscale at flat quant=1 must round-trip within DCT+YCbCr rounding
    (|err| <= 3); 4:2:0 and coarser quant within quantization bounds;
    restart intervals decode identically to the unrestarted stream."""
    from jpeg_ref import encode_baseline_jpeg

    from pytimetk_spark.webtext.jpeg import decode_baseline_jpeg

    img = _gradient_img()
    h, w = img.shape[:2]

    dec = decode_baseline_jpeg(encode_baseline_jpeg(img, quant=1))
    assert dec.shape == (h, w, 3)
    assert np.abs(dec.astype(float) - img.astype(float)).max() <= 3

    gray = decode_baseline_jpeg(
        encode_baseline_jpeg(img, quant=1, grayscale=True)
    )
    luma = 0.299 * img[..., 0] + 0.587 * img[..., 1] + 0.114 * img[..., 2]
    assert np.abs(gray[..., 0].astype(float) - luma).max() <= 3
    np.testing.assert_array_equal(gray[..., 0], gray[..., 1])

    sub = decode_baseline_jpeg(
        encode_baseline_jpeg(img, quant=1, subsample=True)
    )
    assert np.abs(sub.astype(float) - img.astype(float)).max() <= 12
    assert np.abs(sub.astype(float) - img.astype(float)).mean() <= 3

    q8 = decode_baseline_jpeg(encode_baseline_jpeg(img, quant=8))
    assert np.abs(q8.astype(float) - img.astype(float)).max() <= 16

    plain = decode_baseline_jpeg(encode_baseline_jpeg(img, quant=1))
    dri = decode_baseline_jpeg(
        encode_baseline_jpeg(img, quant=1, restart_interval=2)
    )
    np.testing.assert_array_equal(plain, dri)


def test_jpeg_decoder_rejects_out_of_scope():
    """Non-JPEG and unsupported variants return None (stub fallback)."""
    from jpeg_ref import encode_baseline_jpeg

    from pytimetk_spark.webtext.jpeg import decode_baseline_jpeg

    assert decode_baseline_jpeg(b"\x89PNG\r\n\x1a\n") is None
    assert decode_baseline_jpeg(b"") is None
    blob = bytearray(encode_baseline_jpeg(_gradient_img(17, 19), quant=1))
    sof = blob.find(b"\xff\xc0")
    # SOF0 relabeled SOF2: the baseline full-band interleaved scan is
    # malformed AS progressive (DC scan must have Se=0) -> None
    blob[sof + 1] = 0xC2
    assert decode_baseline_jpeg(bytes(blob)) is None
    blob[sof + 1] = 0xC9  # arithmetic coding: unsupported
    assert decode_baseline_jpeg(bytes(blob)) is None


def test_progressive_jpeg_matches_baseline_decode():
    """Progressive (SOF2) scans must reconstruct the EXACT same DCT
    coefficients as the baseline encoding of the same image — so the
    decoded pixels must be bit-identical to the baseline decode, for
    every scan-script shape: successive-approximation depths 0-2,
    spectral band splits, grayscale, 4:2:0 subsampling, odd sizes."""
    from jpeg_ref import encode_baseline_jpeg, encode_progressive_jpeg

    from pytimetk_spark.webtext.jpeg import decode_jpeg

    rng = np.random.RandomState(13)
    rgb = rng.randint(0, 256, (24, 31, 3)).astype(np.uint8)
    for kw in ({}, {"al": 2}, {"al": 0}, {"split_band": True},
               {"al": 2, "split_band": True}):
        np.testing.assert_array_equal(
            decode_jpeg(encode_progressive_jpeg(rgb, quant=2, **kw)),
            decode_jpeg(encode_baseline_jpeg(rgb, quant=2)),
            err_msg=str(kw),
        )
    np.testing.assert_array_equal(
        decode_jpeg(encode_progressive_jpeg(rgb, quant=1, grayscale=True)),
        decode_jpeg(encode_baseline_jpeg(rgb, quant=1, grayscale=True)),
    )
    np.testing.assert_array_equal(
        decode_jpeg(encode_progressive_jpeg(rgb, quant=1, subsample=True)),
        decode_jpeg(encode_baseline_jpeg(rgb, quant=1, subsample=True)),
    )
    for h, w in [(1, 1), (7, 40), (9, 1), (16, 16)]:
        img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        np.testing.assert_array_equal(
            decode_jpeg(encode_progressive_jpeg(img, quant=1, al=1)),
            decode_jpeg(encode_baseline_jpeg(img, quant=1)),
            err_msg=f"{h}x{w}",
        )
    # near-lossless sanity against the source pixels too
    yy, xx = np.mgrid[0:24, 0:31]
    base = ((xx * 3 + yy * 2) % 256).astype(np.uint8)
    smooth = np.stack([base, 255 - base, (base * 2) % 256], axis=-1)
    dec = decode_jpeg(encode_progressive_jpeg(smooth, quant=1))
    assert np.abs(dec.astype(float) - smooth.astype(float)).max() <= 2


def test_jpeg_through_decode_image_batch(spark):
    """decode_image_batch now handles baseline JPEG in the REAL tier:
    the same pixels through BMP and JPEG (quant=1) give near-identical
    luminance-histogram features."""
    from jpeg_ref import encode_baseline_jpeg

    from pytimetk_spark.webtext.multimodal import decode_image_batch

    img = _gradient_img(32, 48)
    pdf = pd.DataFrame({
        "doc_id": [1, 2],
        "img": [_make_bmp(img), encode_baseline_jpeg(img, quant=1)],
    })
    out = (
        decode_image_batch(spark.createDataFrame(pdf), "img",
                           target_size=(16, 16))
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    f_bmp = np.array(out.loc[0, "features"])
    f_jpg = np.array(out.loc[1, "features"])
    assert np.abs(f_bmp - f_jpg).max() <= 0.05


def _make_png(pix: np.ndarray, color: int, filters=None, palette=None,
              interlace: int = 0) -> bytes:
    """Minimal PNG encoder (test fixture): forward-filters each row with
    the given filter type (cycling), so every unfilter path is exercised.
    ``pix``: HxW (gray/palette-index), HxWx2 (gray+alpha), HxWx3 (RGB),
    HxWx4 (RGBA) uint8."""
    import struct
    import zlib

    def chunk(ctype, data):
        c = ctype + data
        return struct.pack(">I", len(data)) + c + struct.pack(
            ">I", zlib.crc32(c) & 0xFFFFFFFF
        )

    h, w = pix.shape[:2]
    ch = 1 if pix.ndim == 2 else pix.shape[2]
    bpp = ch
    filters = filters or [0]

    def filter_rows(flat):
        enc_rows = bytearray()
        prev = np.zeros(flat.shape[1], np.int32)
        for y in range(flat.shape[0]):
            f = filters[y % len(filters)]
            r = flat[y]
            if f == 0:
                enc = r.copy()
            elif f == 1:  # Sub
                left = np.concatenate([np.zeros(bpp, np.int32), r[:-bpp]])
                enc = (r - left) & 0xFF
            elif f == 2:  # Up
                enc = (r - prev) & 0xFF
            elif f == 3:  # Average
                left = np.concatenate([np.zeros(bpp, np.int32), r[:-bpp]])
                enc = (r - ((left + prev) >> 1)) & 0xFF
            else:  # Paeth
                left = np.concatenate([np.zeros(bpp, np.int32), r[:-bpp]])
                upleft = np.concatenate(
                    [np.zeros(bpp, np.int32), prev[:-bpp]]
                )
                p = left + prev - upleft
                pa, pb, pc = (np.abs(p - left), np.abs(p - prev),
                              np.abs(p - upleft))
                pred = np.where((pa <= pb) & (pa <= pc), left,
                                np.where(pb <= pc, prev, upleft))
                enc = (r - pred) & 0xFF
            enc_rows.append(f)
            enc_rows += enc.astype(np.uint8).tobytes()
            prev = r
        return enc_rows

    grid = pix.reshape(h, w, ch).astype(np.int32)
    raw = bytearray()
    if interlace:
        from pytimetk_spark.webtext.png import ADAM7_PASSES

        for x0, y0, dx, dy in ADAM7_PASSES:
            sub = grid[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                raw += filter_rows(sub.reshape(sub.shape[0], -1))
    else:
        raw = filter_rows(grid.reshape(h, w * ch))
    out = bytearray(b"\x89PNG\r\n\x1a\n")
    out += chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0,
                                      interlace))
    if palette is not None:
        out += chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    out += chunk(b"IEND", b"")
    return bytes(out)


def test_png_decode_exact_roundtrip_all_filters():
    """PNG is lossless: decode must reproduce EXACT pixels for every
    color type, with rows cycling through all five filter types so each
    unfilter recurrence (None/Sub/Up/Average/Paeth) is hit."""
    from pytimetk_spark.webtext.png import decode_png

    rng = np.random.RandomState(4)
    filters = [0, 1, 2, 3, 4, 4, 3, 2, 1]
    rgb = rng.randint(0, 256, (23, 17, 3)).astype(np.uint8)
    np.testing.assert_array_equal(
        decode_png(_make_png(rgb, color=2, filters=filters)), rgb
    )
    gray = rng.randint(0, 256, (23, 17)).astype(np.uint8)
    out = decode_png(_make_png(gray, color=0, filters=filters))
    np.testing.assert_array_equal(out[..., 0], gray)
    np.testing.assert_array_equal(out[..., 1], gray)
    # palette
    palette = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    idx = rng.randint(0, 16, (23, 17)).astype(np.uint8)
    np.testing.assert_array_equal(
        decode_png(_make_png(idx, color=3, filters=filters, palette=palette)),
        palette[idx],
    )
    # RGBA: fully-opaque alpha must reproduce RGB exactly; transparent
    # composites to white
    rgba = np.dstack([rgb, np.full((23, 17), 255, np.uint8)])
    np.testing.assert_array_equal(
        decode_png(_make_png(rgba, color=6, filters=filters)), rgb
    )
    rgba[..., 3] = 0
    np.testing.assert_array_equal(
        decode_png(_make_png(rgba, color=6, filters=filters)),
        np.full((23, 17, 3), 255, np.uint8),
    )
    # gray+alpha opaque
    ga = np.dstack([gray, np.full((23, 17), 255, np.uint8)])
    np.testing.assert_array_equal(
        decode_png(_make_png(ga, color=4, filters=filters))[..., 0], gray
    )


def test_png_adam7_interlace_roundtrip():
    """Adam7 rows live in 7 independently-filtered sub-images; decode
    must reassemble the exact pixel grid for every color type, for
    sizes that exercise empty passes (tiny images) and ragged pass
    edges (dims not multiples of 8)."""
    from pytimetk_spark.webtext.png import decode_png

    rng = np.random.RandomState(11)
    filters = [0, 1, 2, 3, 4]
    for h, w in [(23, 17), (8, 8), (1, 1), (2, 3), (5, 40), (9, 1)]:
        rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        np.testing.assert_array_equal(
            decode_png(_make_png(rgb, color=2, filters=filters,
                                 interlace=1)),
            rgb, err_msg=f"{h}x{w}",
        )
    gray = rng.randint(0, 256, (19, 21)).astype(np.uint8)
    out = decode_png(_make_png(gray, color=0, filters=filters, interlace=1))
    np.testing.assert_array_equal(out[..., 0], gray)
    rgba = rng.randint(0, 256, (13, 10, 4)).astype(np.uint8)
    dec = decode_png(_make_png(rgba, color=6, filters=filters, interlace=1))
    af = rgba[..., 3:4].astype(float) / 255.0
    expect = np.clip(rgba[..., :3] * af + 255.0 * (1 - af), 0, 255)
    np.testing.assert_array_equal(dec, expect.astype(np.uint8))


def test_png_decoder_rejects_out_of_scope(spark):
    from jpeg_ref import encode_baseline_jpeg

    from pytimetk_spark.webtext.multimodal import decode_image_batch
    from pytimetk_spark.webtext.png import decode_png

    rng = np.random.RandomState(5)
    rgb = rng.randint(0, 256, (9, 9, 3)).astype(np.uint8)
    assert decode_png(b"\xff\xd8\xff") is None  # not PNG
    bad = bytearray(_make_png(rgb, color=2))
    bad[28] = 2  # unknown interlace method
    assert decode_png(bytes(bad)) is None
    # end-to-end through decode_image_batch: PNG exact == BMP features
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "img": [_make_bmp(rgb), _make_png(rgb, color=2, filters=[0, 4]),
                encode_baseline_jpeg(rgb, quant=1)],
    })
    out = (
        decode_image_batch(spark.createDataFrame(pdf), "img",
                           target_size=(8, 8))
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    np.testing.assert_allclose(np.array(out.loc[0, "features"]),
                               np.array(out.loc[1, "features"]))


def test_png_decoder_rejects_bombs():
    """Attacker-controlled crawl blobs: a tiny IDAT declaring a 2^31-pixel
    IHDR (allocation bomb) and an IDAT inflating far past the declared
    geometry (decompression bomb) must both return None WITHOUT
    allocating header-declared buffers (ADVICE r5 png.py:72)."""
    import struct
    import zlib

    from pytimetk_spark.webtext.png import decode_png

    def chunk(ctype, data):
        c = ctype + data
        return struct.pack(">I", len(data)) + c + struct.pack(
            ">I", zlib.crc32(c) & 0xFFFFFFFF
        )

    # 1) allocation bomb: 65500 x 65500 RGB header (4.3 G pixels), tiny body
    bomb = bytearray(b"\x89PNG\r\n\x1a\n")
    bomb += chunk(b"IHDR", struct.pack(">IIBBBBB", 65500, 65500, 8, 2, 0, 0, 0))
    bomb += chunk(b"IDAT", zlib.compress(b"\x00" * 64))
    bomb += chunk(b"IEND", b"")
    assert decode_png(bytes(bomb)) is None

    # 2) decompression bomb: sane 4x4 geometry, IDAT inflating to 100 MB
    bomb2 = bytearray(b"\x89PNG\r\n\x1a\n")
    bomb2 += chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
    bomb2 += chunk(b"IDAT", zlib.compress(b"\x00" * (100 * 1024 * 1024)))
    bomb2 += chunk(b"IEND", b"")
    assert decode_png(bytes(bomb2)) is None

    # 3) zero-dimension header
    z = bytearray(b"\x89PNG\r\n\x1a\n")
    z += chunk(b"IHDR", struct.pack(">IIBBBBB", 0, 4, 8, 2, 0, 0, 0))
    z += chunk(b"IDAT", zlib.compress(b""))
    z += chunk(b"IEND", b"")
    assert decode_png(bytes(z)) is None

    # 4) a well-formed image still decodes exactly (guards didn't tighten
    #    the happy path)
    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, (6, 5, 3)).astype(np.uint8)
    np.testing.assert_array_equal(decode_png(_make_png(rgb, color=2)), rgb)


def _lzw_encode(indices, min_code: int) -> bytes:
    """Real GIF-variant LZW encoder (test fixture): builds the string
    table so the decoder's growth + KwKwK paths are exercised."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    out_bits = []
    width = min_code + 1

    def emit(code):
        nonlocal width
        out_bits.append((code, width))

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    prev = b""
    for px in indices:
        cur = prev + bytes([px])
        if cur in table:
            prev = cur
            continue
        emit(table[prev])
        table[cur] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code >= 4096:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code + 1
        prev = bytes([px])
    if prev:
        emit(table[prev])
    emit(eoi)
    acc = nbits = 0
    raw = bytearray()
    for code, w in out_bits:
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            raw.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        raw.append(acc & 0xFF)
    return bytes(raw)


def _make_gif(idx: np.ndarray, palette: np.ndarray, interlaced=False,
              transparent=None, version=b"GIF89a") -> bytes:
    import struct

    h, w = idx.shape
    bits = max(2, int(palette.shape[0] - 1).bit_length())
    size_field = bits - 1
    pal = np.zeros(((1 << bits), 3), np.uint8)
    pal[: len(palette)] = palette
    out = bytearray(version)
    out += struct.pack("<HHBBB", w, h, 0x80 | size_field, 0, 0)
    out += pal.tobytes()
    if transparent is not None:
        out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
    rows = idx
    if interlaced:
        order = np.concatenate(
            [np.arange(0, h, 8), np.arange(4, h, 8),
             np.arange(2, h, 4), np.arange(1, h, 2)]
        )
        rows = idx[order]
    out += bytes([0x2C]) + struct.pack(
        "<HHHHB", 0, 0, w, h, 0x40 if interlaced else 0
    )
    min_code = bits
    out += bytes([min_code])
    data = _lzw_encode(rows.reshape(-1).tolist(), min_code)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += bytes([0, 0x3B])
    return bytes(out)


def test_gif_decode_exact_roundtrip():
    """GIF is lossless palette indexing: LZW round-trip must reproduce
    exact pixels, including interlaced row ordering, transparency
    compositing, and table-growth/KwKwK code paths (large random index
    grids force dictionary growth past several width bumps)."""
    from pytimetk_spark.webtext.gif import decode_gif

    rng = np.random.RandomState(6)
    palette = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    idx = rng.randint(0, 16, (37, 29)).astype(np.uint8)
    np.testing.assert_array_equal(
        decode_gif(_make_gif(idx, palette)), palette[idx]
    )
    np.testing.assert_array_equal(
        decode_gif(_make_gif(idx, palette, interlaced=True)), palette[idx]
    )
    # GIF87a + larger grid to push the code width up
    big = rng.randint(0, 16, (80, 90)).astype(np.uint8)
    np.testing.assert_array_equal(
        decode_gif(_make_gif(big, palette, version=b"GIF87a")),
        palette[big],
    )
    # transparency -> white
    t = decode_gif(_make_gif(idx, palette, transparent=3))
    expect = palette[idx].astype(float)
    expect[idx == 3] = 255.0
    np.testing.assert_array_equal(t, expect.astype(np.uint8))
    # KwKwK stress: long runs of one symbol generate cScSc patterns
    runs = np.repeat(np.arange(4, dtype=np.uint8), 300).reshape(30, 40)
    np.testing.assert_array_equal(
        decode_gif(_make_gif(runs, palette)), palette[runs]
    )
    assert decode_gif(b"NOTGIF") is None


def test_gif_through_decode_image_batch(spark):
    from pytimetk_spark.webtext.multimodal import decode_image_batch

    rng = np.random.RandomState(8)
    rgb_levels = (rng.randint(0, 8, (16, 16)) * 32).astype(np.uint8)
    palette = np.stack([np.arange(8) * 32] * 3, axis=-1).astype(np.uint8)
    idx = (rgb_levels // 32).astype(np.uint8)
    rgb = palette[idx]
    pdf = pd.DataFrame({
        "doc_id": [1, 2],
        "img": [_make_bmp(rgb), _make_gif(idx, palette)],
    })
    out = (
        decode_image_batch(spark.createDataFrame(pdf), "img",
                           target_size=(8, 8))
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    np.testing.assert_allclose(np.array(out.loc[0, "features"]),
                               np.array(out.loc[1, "features"]))


def test_webp_lossless_decode_roundtrip():
    """VP8L is lossless: every feature of the bitstream must round-trip
    bit-exact through the tests-side reference encoder — literal prefix
    coding, LZ77 dist=1 runs, color cache, meta-prefix groups, and all
    four transforms (subtract-green, predictor, color, palette)."""
    from webp_ref import encode_vp8l

    from pytimetk_spark.webtext.webp import decode_webp_lossless

    rng = np.random.RandomState(42)
    rgb = rng.randint(0, 256, (13, 17, 3)).astype(np.uint8)
    for kw in (
        {},
        {"subtract_green": True},
        {"predictor_bits": 3},
        {"color_bits": 3, "color_deltas": (20, 200, 7)},
        {"subtract_green": True, "predictor_bits": 2},
        {"lz77": True},
        {"cache_bits": 4},
        {"meta_bits": 2,
         "group_of": lambda y, x: ((y >> 2) + (x >> 2)) % 2},
    ):
        np.testing.assert_array_equal(
            decode_webp_lossless(encode_vp8l(rgb, **kw)), rgb, err_msg=str(kw)
        )
    # degenerate geometries (single pixel / single row / single column)
    for h, w in [(1, 1), (1, 9), (9, 1)]:
        img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        np.testing.assert_array_equal(
            decode_webp_lossless(encode_vp8l(img, predictor_bits=2)), img
        )
    # palette sizes across every index-packing width (8/4/2/1 px per byte)
    for n in (2, 4, 16, 200):
        colors = rng.randint(0, 256, (n, 3)).astype(np.uint8)
        img = colors[rng.randint(0, n, (11, 23))]
        np.testing.assert_array_equal(
            decode_webp_lossless(encode_vp8l(img, palette=True)), img
        )
    # LZ77 runs long enough to need length extra-bits
    runs = np.repeat(rng.randint(0, 256, (5, 7, 3)), 40, axis=1).astype(
        np.uint8
    )
    np.testing.assert_array_equal(
        decode_webp_lossless(encode_vp8l(runs, lz77=True)), runs
    )


def test_webp_alpha_and_rejects():
    from webp_ref import encode_vp8l

    from pytimetk_spark.webtext.webp import decode_webp_lossless

    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, (9, 12, 3)).astype(np.uint8)
    a = rng.randint(0, 256, (9, 12)).astype(np.uint8)
    af = a[..., None] / 255.0
    expect = np.clip(rgb * af + 255.0 * (1 - af), 0, 255).astype(np.uint8)
    np.testing.assert_array_equal(
        decode_webp_lossless(encode_vp8l(rgb, alpha=a)), expect
    )
    # lossy VP8 chunk and non-WebP bytes -> None (stub fallback)
    assert decode_webp_lossless(
        b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00abcd"
    ) is None
    assert decode_webp_lossless(b"NOTAWEBP____") is None


def test_webp_through_decode_image_batch(spark):
    from webp_ref import encode_vp8l

    from pytimetk_spark.webtext.multimodal import decode_image_batch

    rng = np.random.RandomState(9)
    rgb = (rng.randint(0, 8, (16, 16, 1)) * 32 + np.zeros(3, np.uint8)
           ).astype(np.uint8)
    pdf = pd.DataFrame({
        "doc_id": [1, 2],
        "img": [_make_bmp(rgb), encode_vp8l(rgb, subtract_green=True)],
    })
    out = (
        decode_image_batch(spark.createDataFrame(pdf), "img",
                           target_size=(8, 8))
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    np.testing.assert_allclose(np.array(out.loc[0, "features"]),
                               np.array(out.loc[1, "features"]))


def _make_mp4(frames, fps=4.0, sync_every=4, timescale=1000,
              codec=b"avc1", n_chunks=2, avcc=None):
    """Minimal unfragmented MP4 (test fixture): one video track whose
    samples are the given payload byte strings, spread over ``n_chunks``
    mdat chunks, keyframe every ``sync_every`` samples."""
    import struct

    def box(btype, payload):
        return struct.pack(">I", len(payload) + 8) + btype + payload

    def fullbox(btype, ver, payload):
        return box(btype, bytes([ver, 0, 0, 0]) + payload)

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isommp41")
    mdat_payload = b"".join(frames)
    mdat_start = len(ftyp) + 8  # first sample offset
    mdat = box(b"mdat", mdat_payload)

    n = len(frames)
    delta = int(round(timescale / fps))
    duration = n * delta
    sizes = [len(f) for f in frames]
    # chunk split: n_chunks roughly equal runs
    per = (n + n_chunks - 1) // n_chunks
    chunk_first_sample = list(range(0, n, per))
    chunk_offsets = []
    off = mdat_start
    si = 0
    for c, first in enumerate(chunk_first_sample):
        chunk_offsets.append(off)
        cnt = min(per, n - first)
        off += sum(sizes[first:first + cnt])
        si += cnt

    mvhd = fullbox(b"mvhd", 0, struct.pack(
        ">IIII", 0, 0, timescale, duration) + b"\x00" * 80)
    tkhd = fullbox(b"tkhd", 0, struct.pack(">IIIII", 0, 0, 1, 0, duration)
                   + b"\x00" * 52
                   + struct.pack(">II", 320 << 16, 240 << 16))
    mdhd = fullbox(b"mdhd", 0, struct.pack(">IIIIHH", 0, 0, timescale,
                                           duration, 0x55C4, 0))
    hdlr = fullbox(b"hdlr", 0, struct.pack(">I", 0) + b"vide"
                   + b"\x00" * 12 + b"vh\x00")
    if avcc is None:
        stsd_entry = struct.pack(">I", 16) + codec + b"\x00" * 8
    else:
        # full 86-byte VisualSampleEntry + avcC codec-config child box
        fixed = (b"\x00" * 6 + struct.pack(">H", 1)  # dref index
                 + b"\x00" * 16
                 + struct.pack(">HH", 320, 240)      # declared dims
                 + struct.pack(">II", 0x480000, 0x480000)
                 + b"\x00" * 4 + struct.pack(">H", 1)
                 + b"\x00" * 32 + struct.pack(">Hh", 24, -1))
        assert len(fixed) == 78
        child = box(b"avcC", avcc)
        stsd_entry = (struct.pack(">I", 8 + 78 + len(child)) + codec
                      + fixed + child)
    stsd = fullbox(b"stsd", 0, struct.pack(">I", 1) + stsd_entry)
    stts = fullbox(b"stts", 0, struct.pack(">III", 1, n, delta))
    if len(set(sizes)) == 1:
        stsz = fullbox(b"stsz", 0, struct.pack(">II", sizes[0], n))
    else:
        stsz = fullbox(b"stsz", 0, struct.pack(">II", 0, n)
                       + b"".join(struct.pack(">I", s) for s in sizes))
    # stsc: runs where samples-per-chunk changes
    runs = []
    for c, first in enumerate(chunk_first_sample):
        cnt = min(per, n - first)
        if not runs or runs[-1][1] != cnt:
            runs.append((c + 1, cnt))
    stsc = fullbox(b"stsc", 0, struct.pack(">I", len(runs))
                   + b"".join(struct.pack(">III", fc, cnt, 1)
                              for fc, cnt in runs))
    stco = fullbox(b"stco", 0, struct.pack(">I", len(chunk_offsets))
                   + b"".join(struct.pack(">I", o) for o in chunk_offsets))
    sync = list(range(1, n + 1, sync_every))
    stss = fullbox(b"stss", 0, struct.pack(">I", len(sync))
                   + b"".join(struct.pack(">I", s) for s in sync))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco + stss)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def test_mp4_container_parse_and_keyframe_extraction():
    """The ISO BMFF parser recovers the exact sample geometry a real
    muxer would write (sizes, per-chunk offsets via stsc runs, stts
    timestamps, stss sync set), and extract_keyframes returns the exact
    encoded payload bytes of the sync sample at-or-before each target
    timestamp."""
    from pytimetk_spark.webtext.mp4 import extract_keyframes, parse_mp4

    rng = np.random.RandomState(12)
    frames = [bytes(rng.randint(0, 256, rng.randint(40, 200)).astype(np.uint8))
              for _ in range(24)]
    blob = _make_mp4(frames, fps=4.0, sync_every=4, n_chunks=3)

    info = parse_mp4(blob)
    trk = info.video_track()
    assert trk.codec == "avc1" and trk.handler == "vide"
    assert (trk.width, trk.height) == (320.0, 240.0)
    assert trk.n_samples == 24
    np.testing.assert_array_equal(trk.sample_sizes,
                                  [len(f) for f in frames])
    # offsets address the exact payloads
    for i in (0, 7, 11, 23):
        o, s = int(trk.sample_offsets[i]), int(trk.sample_sizes[i])
        assert blob[o:o + s] == frames[i]
    np.testing.assert_allclose(trk.sample_ts,
                               np.arange(24) * 0.25, rtol=1e-9)
    np.testing.assert_array_equal(trk.sync_samples, [0, 4, 8, 12, 16, 20])

    got = extract_keyframes(blob, every_n_seconds=1.0)
    # 6s of video @1s cadence -> targets 0..5s -> sync samples 0,4,8,...20
    assert [g[0] for g in got] == [0, 4, 8, 12, 16, 20]
    for idx, ts, codec, payload in got:
        assert codec == "avc1"
        assert payload == frames[idx]
        assert abs(ts - idx * 0.25) < 1e-9

    assert parse_mp4(b"\x00\x00\x00\x08freeXXXX") is None
    assert extract_keyframes(b"not a container") is None


def test_mp4_stts_run_count_bomb():
    """stts run counts are attacker-controlled: a crafted count=2^31
    entry must NOT force a multi-GB np.repeat (ADVICE r5 mp4.py:198) —
    runs are clipped to the stsz-derived sample count and the remaining
    samples still get exact timestamps."""
    import struct

    from pytimetk_spark.webtext.mp4 import parse_mp4

    rng = np.random.RandomState(21)
    frames = [bytes(rng.randint(0, 256, 50).astype(np.uint8))
              for _ in range(8)]
    blob = bytearray(_make_mp4(frames, fps=4.0, sync_every=4, n_chunks=2))
    # stts body: [version/flags:4][entry_count:4][run_count:4][delta:4];
    # overwrite run_count (sample count for the single run) with 2^31
    i = blob.rfind(b"stts")
    assert i > 0
    struct.pack_into(">I", blob, i + 4 + 4 + 4, 2**31)
    info = parse_mp4(bytes(blob))
    trk = info.video_track()
    assert trk.n_samples == 8
    # timestamps still exact for the real 8 samples, no bomb allocation
    np.testing.assert_allclose(trk.sample_ts, np.arange(8) * 0.25, rtol=1e-9)


def test_sample_video_frames_spark(spark):
    from pytimetk_spark.webtext.multimodal import sample_video_frames

    rng = np.random.RandomState(13)
    frames = [bytes(rng.randint(0, 256, 64).astype(np.uint8))
              for _ in range(8)]
    blob = _make_mp4(frames, fps=2.0, sync_every=2)
    pdf = pd.DataFrame({"doc_id": [7], "video": [blob]})
    out = (
        sample_video_frames(spark.createDataFrame(pdf), "video",
                            every_n_seconds=1.0)
        .toPandas().sort_values("frame_idx").reset_index(drop=True)
    )
    assert list(out["frame_idx"]) == [0, 2, 4, 6]
    assert (out["codec"] == "avc1").all()
    for _, r in out.iterrows():
        assert bytes(r["frame_payload"]) == frames[r["frame_idx"]]
    # pixel decode stays the honest stub
    with pytest.raises(Exception, match="ffmpeg|pyav"):
        sample_video_frames(spark.createDataFrame(pdf), "video",
                            decode=True).collect()


def _make_webm(frames, fps=4.0, sync_every=4, codec="V_VP9",
               use_blockgroup=False, with_audio=True) -> bytes:
    """Minimal Matroska/WebM muxer (test fixture): one cluster per
    second, SimpleBlocks with the keyframe flag (or BlockGroups whose
    keyframes are marked by ABSENT ReferenceBlock), ms timestamps."""

    def esize(n):
        for length in range(1, 9):
            if n < (1 << (7 * length)) - 1:
                out = bytearray(length)
                v = n | (1 << (7 * length))
                for i in range(length - 1, -1, -1):
                    out[i] = v & 0xFF
                    v >>= 8
                return bytes(out)
        raise ValueError

    def el(eid, payload):
        return eid + esize(len(payload)) + payload

    def uint(v):
        out = v.to_bytes(max((v.bit_length() + 7) // 8, 1), "big")
        return out

    import struct as _s

    dur_ms = len(frames) / fps * 1000.0
    info = el(b"\x15\x49\xa9\x66",
              el(b"\x2a\xd7\xb1", uint(1_000_000))
              + el(b"\x44\x89", _s.pack(">d", dur_ms)))
    video_entry = el(b"\xae",
                     el(b"\xd7", uint(1)) + el(b"\x83", uint(1))
                     + el(b"\x86", codec.encode())
                     + el(b"\xe0", el(b"\xb0", uint(320))
                          + el(b"\xba", uint(240))))
    audio_entry = el(b"\xae",
                     el(b"\xd7", uint(2)) + el(b"\x83", uint(2))
                     + el(b"\x86", b"A_OPUS")
                     + el(b"\xe1", el(b"\xb5", _s.pack(">f", 48000.0))
                          + el(b"\x9f", uint(2))))
    tracks = el(b"\x16\x54\xae\x6b",
                video_entry + (audio_entry if with_audio else b""))

    clusters = b""
    per_cluster = max(int(fps), 1)
    for c0 in range(0, len(frames), per_cluster):
        cts = int(c0 / fps * 1000)
        body = el(b"\xe7", uint(cts))
        for i in range(c0, min(c0 + per_cluster, len(frames))):
            rel = int(i / fps * 1000) - cts
            key = i % sync_every == 0
            blk = b"\x81" + _s.pack(">h", rel)
            if use_blockgroup:
                bg = el(b"\xa1", blk + b"\x00" + frames[i])
                if not key:
                    bg += el(b"\xfb", uint(1))
                body += el(b"\xa0", bg)
            else:
                body += el(b"\xa3",
                           blk + (b"\x80" if key else b"\x00") + frames[i])
            if with_audio:  # interleave an audio block (must be skipped)
                body += el(b"\xa3", b"\x82" + _s.pack(">h", rel)
                           + b"\x80" + b"\xAA" * 10)
        clusters += el(b"\x1f\x43\xb6\x75", body)

    ebml_hdr = el(b"\x1a\x45\xdf\xa3", el(b"\x42\x82", b"webm"))
    return ebml_hdr + el(b"\x18\x53\x80\x67", info + tracks + clusters)


def test_webm_container_parse_and_keyframe_extraction():
    """The EBML walker recovers track metadata and exact keyframe
    payloads/timestamps from SimpleBlock flags AND from BlockGroups
    (keyframe = absent ReferenceBlock), skipping interleaved audio
    blocks; cadence selection mirrors the MP4 twin."""
    from pytimetk_spark.webtext.webm import extract_keyframes_webm, parse_webm

    rng = np.random.RandomState(21)
    frames = [bytes(rng.randint(0, 256, rng.randint(30, 90)).astype(np.uint8))
              for _ in range(24)]
    blob = _make_webm(frames, fps=4.0, sync_every=4)

    info = parse_webm(blob)
    trk = info.video_track()
    assert (trk.codec, trk.width, trk.height) == ("V_VP9", 320, 240)
    assert info.tracks[1].codec == "A_OPUS"
    assert info.tracks[1].sample_rate == 48000.0
    assert abs(info.duration_sec - 6.0) < 1e-9
    assert len(info.keyframes) == 6  # every 4th of 24

    got = extract_keyframes_webm(blob, every_n_seconds=1.0)
    assert [g[1] for g in got] == [0.0, 1.0, 2.0, 3.0, 4.0, 5.0]
    for _idx, ts, codec, payload in got:
        assert codec == "V_VP9"
        assert payload == frames[int(round(ts * 4.0))]

    # BlockGroup keyframe marking (absent ReferenceBlock)
    blob2 = _make_webm(frames[:8], fps=4.0, sync_every=2,
                       use_blockgroup=True, with_audio=False)
    got2 = extract_keyframes_webm(blob2, every_n_seconds=0.5)
    assert [g[1] for g in got2] == [0.0, 0.5, 1.0, 1.5]

    assert parse_webm(b"not ebml") is None
    assert extract_keyframes_webm(b"\x1a\x45\xdf\xa3\x80") is None


def test_webm_through_sample_video_frames(spark):
    from pytimetk_spark.webtext.multimodal import sample_video_frames

    rng = np.random.RandomState(22)
    frames = [bytes(rng.randint(0, 256, 48).astype(np.uint8))
              for _ in range(8)]
    pdf = pd.DataFrame({
        "doc_id": [1, 2],
        "video": [_make_mp4(frames, fps=2.0, sync_every=2),
                  _make_webm(frames, fps=2.0, sync_every=2)],
    })
    out = (
        sample_video_frames(spark.createDataFrame(pdf), "video",
                            every_n_seconds=1.0)
        .toPandas().sort_values(["doc_id", "frame_ts_sec"])
        .reset_index(drop=True)
    )
    mp4_rows = out[out.doc_id == 1]
    webm_rows = out[out.doc_id == 2]
    assert list(mp4_rows["frame_ts_sec"]) == list(webm_rows["frame_ts_sec"])
    assert (webm_rows["codec"] == "V_VP9").all()
    for _, r in webm_rows.iterrows():
        assert bytes(r["frame_payload"]) == frames[int(r["frame_ts_sec"] * 2)]


class _SpsWriter:
    """MSB-first bit writer with exp-Golomb, for SPS fixtures."""

    def __init__(self):
        self.bits = []

    def u(self, v, n):
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def ue(self, v):
        k = v + 1
        n = k.bit_length()
        self.u(0, n - 1)
        self.u(k, n)

    def tobytes(self):
        out = bytearray()
        bits = self.bits + [1] + [0] * 7  # rbsp stop bit + pad
        for i in range(0, len(bits) - 7, 8):
            b = 0
            for j in range(8):
                b = (b << 1) | bits[i + j]
            out.append(b)
        return bytes(out)


def _make_sps(width, height, profile_idc=66, level_idc=31,
              crop_right_px=0, crop_bottom_px=0):
    """Baseline-profile SPS whose cropped dims equal (width, height)."""
    w = _SpsWriter()
    w.u(profile_idc, 8)
    w.u(0, 8)  # constraint flags
    w.u(level_idc, 8)
    w.ue(0)  # sps id
    w.ue(0)  # log2_max_frame_num_minus4
    w.ue(0)  # poc type 0
    w.ue(0)  # log2_max_poc_lsb_minus4
    w.ue(1)  # max_num_ref_frames
    w.u(0, 1)  # gaps allowed
    total_w = width + crop_right_px
    total_h = height + crop_bottom_px
    assert total_w % 16 == 0 and total_h % 16 == 0
    w.ue(total_w // 16 - 1)
    w.ue(total_h // 16 - 1)
    w.u(1, 1)  # frame_mbs_only
    w.u(1, 1)  # direct_8x8
    if crop_right_px or crop_bottom_px:
        w.u(1, 1)
        w.ue(0)
        w.ue(crop_right_px // 2)  # chroma 4:2:0 -> CropUnitX = 2
        w.ue(0)
        w.ue(crop_bottom_px // 2)
    else:
        w.u(0, 1)
    return b"\x67" + w.tobytes()  # NAL header (type 7) + payload


def _make_avcc(sps: bytes) -> bytes:
    return (bytes([1, sps[1], sps[2], sps[3], 0xFF, 0xE1])
            + len(sps).to_bytes(2, "big") + sps)


def _make_vp8_keyframe_payload(width, height) -> bytes:
    tag = 0  # keyframe, profile 0, not shown; partition size 0
    return (tag.to_bytes(3, "little") + b"\x9d\x01\x2a"
            + width.to_bytes(2, "little") + height.to_bytes(2, "little")
            + bytes(20))


def _make_vp9_keyframe_payload(width, height, profile=0) -> bytes:
    w = _SpsWriter()
    w.u(2, 2)  # frame marker
    w.u(profile & 1, 1)
    w.u((profile >> 1) & 1, 1)
    if profile == 3:
        w.u(0, 1)
    w.u(0, 1)  # show_existing_frame
    w.u(0, 1)  # frame_type = KEY
    w.u(1, 1)  # show_frame
    w.u(0, 1)  # error_resilient
    w.u(0x498342, 24)  # sync code
    if profile >= 2:
        w.u(0, 1)  # 10-bit
    w.u(0, 3)  # color_space = CS_UNKNOWN
    w.u(0, 1)  # color_range
    if profile in (1, 3):
        w.u(0, 2)
        w.u(0, 1)
    w.u(width - 1, 16)
    w.u(height - 1, 16)
    w.u(0, 1)  # render_size_present
    return w.tobytes() + bytes(10)


def test_h264_sps_and_video_probe(spark):
    """Exp-Golomb SPS parse recovers exact coded dims (incl. the 4:2:0
    cropping arithmetic), profile and level from synthesized parameter
    sets; VP8/VP9 keyframe headers yield bitstream dims from WebM
    payloads; the Spark probe operator is total over junk blobs."""
    from pytimetk_spark.webtext.videoprobe import (
        parse_avcc,
        parse_h264_sps,
        parse_vp8_keyframe,
        parse_vp9_keyframe,
        video_stream_info,
    )

    got = parse_h264_sps(_make_sps(320, 240))
    assert (got["width"], got["height"], got["profile_idc"]) == (320, 240, 66)
    # non-multiple-of-16 dims via cropping: 1920x1080 = 1920x1088 - 8
    got = parse_h264_sps(_make_sps(1920, 1080, crop_bottom_px=8))
    assert (got["width"], got["height"]) == (1920, 1080)
    got = parse_avcc(_make_avcc(_make_sps(640, 360, crop_bottom_px=8)))
    assert (got["width"], got["height"]) == (640, 360)
    assert parse_h264_sps(b"") is None

    assert parse_vp8_keyframe(_make_vp8_keyframe_payload(426, 240)) == {
        "width": 426, "height": 240, "profile": 0, "bit_depth": 8}
    v9 = parse_vp9_keyframe(_make_vp9_keyframe_payload(1280, 720))
    assert (v9["width"], v9["height"], v9["profile"]) == (1280, 720, 0)
    v9hi = parse_vp9_keyframe(_make_vp9_keyframe_payload(64, 64, profile=2))
    assert v9hi["bit_depth"] == 10
    assert parse_vp9_keyframe(b"\xff\xff\xff") is None

    # Spark operator over MP4(avcC) + WebM(VP9 payload) + junk
    rng = np.random.RandomState(31)
    frames = [bytes(rng.randint(0, 256, 40).astype(np.uint8))
              for _ in range(8)]
    avcc = _make_avcc(_make_sps(640, 360, crop_bottom_px=8))
    mp4_blob = _make_mp4(frames, fps=2.0, sync_every=2, avcc=avcc)
    vp9_frames = [_make_vp9_keyframe_payload(1280, 720)] + frames[1:]
    webm_blob = _make_webm(vp9_frames, fps=2.0, sync_every=1)
    pdf = pd.DataFrame({"doc_id": [1, 2, 3],
                        "video": [mp4_blob, webm_blob, b"junkbytes"]})
    out = (
        video_stream_info(spark.createDataFrame(pdf), "video")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert out.loc[0, "container"] == "mp4"
    assert (out.loc[0, "coded_width"], out.loc[0, "coded_height"]) == (640, 360)
    assert out.loc[0, "profile"] == "66"
    assert out.loc[1, "container"] == "webm"
    assert (out.loc[1, "coded_width"], out.loc[1, "coded_height"]) == (1280, 720)
    assert out.loc[1, "codec"] == "V_VP9"
    # 8 frames over a 4 s declared duration -> 2 fps (ALL video blocks
    # counted, not just keyframes)
    assert abs(out.loc[1, "fps_avg"] - 2.0) < 1e-9
    assert pd.isna(out.loc[2, "container"])  # junk -> NULL row, no fail


def test_codec_roundtrips_hypothesis():
    """Property test over random image shapes/content for all four
    decoders: PNG and GIF are lossless (bit-exact); baseline JPEG at
    flat quant=1 bounded by DCT+colorspace rounding; every PNG example
    uses a random per-row filter mix. Kernel-level (no Spark job per
    example), so examples are cheap."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from jpeg_ref import encode_baseline_jpeg
    from webp_ref import encode_vp8l

    from pytimetk_spark.webtext.gif import decode_gif
    from pytimetk_spark.webtext.jpeg import decode_baseline_jpeg
    from pytimetk_spark.webtext.png import decode_png
    from pytimetk_spark.webtext.webp import decode_webp_lossless

    @settings(
        max_examples=25, deadline=None, derandomize=True,
        suppress_health_check=list(HealthCheck),
    )
    @given(st.data())
    def run(data):
        rng = np.random.RandomState(data.draw(st.integers(0, 10_000)))
        h = data.draw(st.integers(1, 40))
        w = data.draw(st.integers(1, 40))
        smooth = data.draw(st.booleans())
        if smooth:
            yy, xx = np.mgrid[0:h, 0:w]
            base = (xx * rng.randint(1, 5) + yy * rng.randint(1, 5)) % 256
            rgb = np.stack([base, 255 - base, (base * 2) % 256],
                           axis=-1).astype(np.uint8)
        else:
            rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)

        # PNG: bit-exact under a random filter mix, plain or Adam7
        filters = [data.draw(st.integers(0, 4)) for _ in range(5)]
        np.testing.assert_array_equal(
            decode_png(_make_png(rgb, color=2, filters=filters,
                                 interlace=data.draw(st.integers(0, 1)))),
            rgb,
        )
        # GIF: bit-exact through a palette quantization of the content
        idx = (rgb[..., 0] >> 4).astype(np.uint8)
        palette = np.stack([np.arange(16) * 17] * 3, axis=-1).astype(np.uint8)
        interlaced = data.draw(st.booleans())
        np.testing.assert_array_equal(
            decode_gif(_make_gif(idx, palette, interlaced=interlaced)),
            palette[idx],
        )
        # WebP-lossless: bit-exact under a random transform combination
        np.testing.assert_array_equal(
            decode_webp_lossless(encode_vp8l(
                rgb,
                subtract_green=data.draw(st.booleans()),
                predictor_bits=data.draw(st.sampled_from([0, 2, 4])),
                lz77=data.draw(st.booleans()),
                cache_bits=data.draw(st.sampled_from([0, 3])),
            )),
            rgb,
        )
        # JPEG: 4:4:4 quant=1 within rounding; random images are the
        # hardest case for DCT ringing so the bound is looser than the
        # smooth-gradient golden (still tight in mean)
        dec = decode_baseline_jpeg(encode_baseline_jpeg(rgb, quant=1))
        assert dec.shape == rgb.shape
        err = np.abs(dec.astype(float) - rgb.astype(float))
        assert err.max() <= 4 and err.mean() <= 1.5
        # progressive carries the same coefficients -> identical decode
        from jpeg_ref import encode_progressive_jpeg

        np.testing.assert_array_equal(
            decode_baseline_jpeg(encode_progressive_jpeg(
                rgb, quant=1,
                al=data.draw(st.sampled_from([0, 1, 2])),
                split_band=data.draw(st.booleans()),
            )),
            dec,
        )

    run()


def test_mp3_frame_walker(spark):
    """MPEG frame-header walking recovers exact stream geometry from a
    synthesized valid frame chain: rate/channels/frame count/duration/
    average bitrate, ID3v2 skip, false-sync rejection; Spark audio
    extractor returns the metadata tier with NULL sample-level stats."""
    from pytimetk_spark.webtext.mp3 import parse_mp3_info, synthesize_mp3_stream
    from pytimetk_spark.webtext.multimodal import decode_audio_batch

    # MPEG1 Layer III, br_idx 9 = 128 kbps, sr_idx 0 = 44100 Hz
    blob = synthesize_mp3_stream(100, br_idx=9, sr_idx=0)
    info = parse_mp3_info(blob)
    assert (info.sample_rate, info.layer, info.version) == (44100, 3, "MPEG1")
    assert info.n_frames == 100 and info.n_channels == 2
    assert abs(info.duration_sec - 100 * 1152 / 44100) < 1e-9
    assert abs(info.bitrate_kbps_avg - 128.0) < 0.5
    # ID3v2-prefixed + mono + MPEG2 (576 samples/frame layer III)
    blob2 = synthesize_mp3_stream(40, version_bits=2, br_idx=5, sr_idx=1,
                                  mono=True, id3=True)
    info2 = parse_mp3_info(blob2)
    assert (info2.version, info2.n_channels, info2.sample_rate) == (
        "MPEG2", 1, 24000)
    assert abs(info2.duration_sec - 40 * 576 / 24000) < 1e-9
    # arbitrary binary with a lone fake sync byte must NOT parse
    assert parse_mp3_info(b"\xff\xfbjunk" + b"A" * 50) is None

    pdf = pd.DataFrame({"doc_id": [1, 2],
                        "audio": [_make_wav(np.sin(np.linspace(0, 80, 8000))),
                                  blob]})
    out = (
        decode_audio_batch(spark.createDataFrame(pdf), "audio")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert out.loc[1, "sample_rate"] == 44100
    assert abs(out.loc[1, "duration_sec"] - 100 * 1152 / 44100) < 1e-6
    assert np.isnan(out.loc[1, "rms"])  # sample stats need the codec
    assert out.loc[0, "rms"] > 0  # WAV path unaffected


def test_aac_adts_frame_walker(spark):
    """ADTS header walking recovers exact stream geometry: rate index,
    channels, frame count, duration (1024 samples per raw data block),
    avg bitrate incl. header bytes, CRC-present headers, multi-block
    frames, false-sync rejection; Spark audio extractor returns the
    metadata tier with NULL sample-level stats."""
    from pytimetk_spark.webtext.aac import parse_aac_info, synthesize_adts_stream
    from pytimetk_spark.webtext.multimodal import decode_audio_batch

    # LC profile, sf_idx 4 = 44100, stereo
    blob = synthesize_adts_stream(80, sf_idx=4, channels=2, payload_size=300)
    info = parse_aac_info(blob)
    assert (info.sample_rate, info.n_channels, info.profile,
            info.mpeg_version) == (44100, 2, "LC", 4)
    assert info.n_frames == 80
    assert abs(info.duration_sec - 80 * 1024 / 44100) < 1e-9
    expect_kbps = 80 * 307 * 8 / info.duration_sec / 1000.0
    assert abs(info.bitrate_kbps_avg - expect_kbps) < 1e-6
    # MPEG-2 variant with CRC headers and 2 raw data blocks per frame
    blob2 = synthesize_adts_stream(30, sf_idx=8, channels=1, profile=0,
                                   mpeg2=True, with_crc=True, n_blocks=2)
    info2 = parse_aac_info(blob2)
    assert (info2.sample_rate, info2.n_channels, info2.profile,
            info2.mpeg_version) == (16000, 1, "Main", 2)
    assert abs(info2.duration_sec - 30 * 2048 / 16000) < 1e-9
    # a lone ADTS-looking sync in arbitrary binary must NOT parse
    assert parse_aac_info(b"\xff\xf1junkjunk" + b"B" * 60) is None

    pdf = pd.DataFrame({"doc_id": [1, 2],
                        "audio": [_make_wav(np.sin(np.linspace(0, 80, 8000))),
                                  blob]})
    out = (
        decode_audio_batch(spark.createDataFrame(pdf), "audio")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert out.loc[1, "sample_rate"] == 44100
    assert abs(out.loc[1, "duration_sec"] - 80 * 1024 / 44100) < 1e-6
    assert np.isnan(out.loc[1, "rms"])
    assert out.loc[0, "rms"] > 0


def test_flac_ogg_metadata_walkers(spark):
    """FLAC STREAMINFO and Ogg granule-position walks recover exact
    stream geometry (rate/channels/bits/duration; Opus pre-skip at the
    fixed 48 kHz granule rate, Vorbis at the stream rate); non-audio
    Ogg and junk bytes reject; Spark extractor returns the metadata
    tier with NULL sample-level stats."""
    from pytimetk_spark.webtext.flac_ogg import (
        parse_flac_info,
        parse_ogg_info,
        synthesize_flac,
        synthesize_ogg_opus,
        synthesize_ogg_vorbis,
    )
    from pytimetk_spark.webtext.multimodal import decode_audio_batch

    f = parse_flac_info(synthesize_flac(rate=96000, channels=6, bits=24,
                                        total_samples=9_600_000))
    assert (f.codec, f.sample_rate, f.n_channels, f.bits_per_sample,
            f.total_samples) == ("flac", 96000, 6, 24, 9_600_000)
    assert abs(f.duration_sec - 100.0) < 1e-12

    o = parse_ogg_info(synthesize_ogg_opus(duration_sec=2.5, channels=2,
                                           preskip=312))
    assert (o.codec, o.sample_rate, o.n_channels) == ("opus", 48000, 2)
    assert abs(o.duration_sec - 2.5) < 1e-9  # pre-skip subtracted

    v = parse_ogg_info(synthesize_ogg_vorbis(duration_sec=1.25,
                                             channels=1, rate=22050))
    assert (v.codec, v.sample_rate, v.n_channels) == ("vorbis", 22050, 1)
    assert abs(v.duration_sec - 1.25) < 1e-4  # granule rounding only

    assert parse_flac_info(b"fLaCjunk") is None
    assert parse_ogg_info(b"OggS" + bytes(30)) is None  # no codec header
    assert parse_ogg_info(b"notogg") is None

    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "audio": [synthesize_flac(rate=44100, channels=2,
                                  total_samples=44100),
                  synthesize_ogg_opus(duration_sec=2.5),
                  _make_wav(np.sin(np.linspace(0, 80, 8000)))],
    })
    out = (
        decode_audio_batch(spark.createDataFrame(pdf), "audio")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert out.loc[0, "sample_rate"] == 44100
    assert abs(out.loc[0, "duration_sec"] - 1.0) < 1e-9
    assert np.isnan(out.loc[0, "rms"]) and np.isnan(out.loc[1, "rms"])
    assert abs(out.loc[1, "duration_sec"] - 2.5) < 1e-9
    assert out.loc[2, "rms"] > 0


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


def test_duplicate_passages_chunking_bounds_rows(spark):
    """duplicate_passages explodes documents into bounded spans (ADVICE
    r5 dedup.py:630): a document much longer than chunk_chars must find
    the same cross-document passages as the unchunked path — including
    a shared span that straddles a chunk boundary — while never
    building a per-row array longer than chunk_chars."""
    from pytimetk_spark.webtext.dedup import duplicate_passages

    rng = np.random.RandomState(3)
    alph = np.array(list("abcdefgh "))
    shared = "".join(rng.choice(alph, 300))
    # place the shared passage straddling the 1000-char chunk boundary
    long_doc = ("".join(rng.choice(alph, 900)) + shared
                + "".join(rng.choice(alph, 2200)))
    other = "".join(rng.choice(alph, 150)) + shared + "".join(
        rng.choice(alph, 100))
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2], "text": [long_doc, other]}))
    kw = dict(window=100, stride=20, anchor_gram=8, min_docs=2)
    chunked = duplicate_passages(df, chunk_chars=1000, **kw).toPandas()
    whole = duplicate_passages(df, chunk_chars=1 << 20, **kw).toPandas()
    key = ["doc_id", "pos", "passage_hash", "n_docs"]
    pd.testing.assert_frame_equal(
        chunked.sort_values(key).reset_index(drop=True)[key],
        whole.sort_values(key).reset_index(drop=True)[key],
    )
    # the planted shared span was actually detected in both docs
    assert set(chunked["doc_id"]) == {1, 2}


def test_product_quantization_adc(spark):
    """PQ exactness + approximation properties: (1) when corpus vectors
    ARE centroid combinations the ADC distance to a self-query is ~0 and
    top-1 is the query itself; (2) on clustered data every ADC top-10
    neighbor comes from the query's true cluster (point-level order
    inside a cluster is quantized away by design); (3) codes are m
    integers in [0, 2^nbits)."""
    from pytimetk_spark.webtext.pq import pq_encode, pq_search, pq_train

    rng = np.random.RandomState(0)
    m, nbits, ds = 4, 4, 4
    books = [rng.randn(16, ds) for _ in range(m)]
    codes_true = rng.randint(0, 16, (400, m))
    X = np.concatenate([books[j][codes_true[:, j]] for j in range(m)],
                       axis=1)
    corpus = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(len(X)), "embedding": list(X.tolist())}))
    queries = spark.createDataFrame(pd.DataFrame({
        "query_id": [0, 1], "embedding": list(X[:2].tolist())}))
    trained = pq_train(corpus, m=m, nbits=nbits, fit_sample=400, seed=1)
    enc = pq_encode(corpus, trained).toPandas()
    codes = np.asarray(list(enc.sort_values("vec_id")["pq_code"]))
    assert codes.shape == (400, m)
    assert codes.min() >= 0 and codes.max() < 16
    encdf = spark.createDataFrame(enc)
    res = pq_search(encdf, queries, trained, k=5).toPandas()
    top = res[res["rank"] == 1]
    assert (top["adc_dist2"] < 1e-9).all()
    assert set(top["vec_id"]) == {0, 1}

    centers = rng.randn(10, 16) * 5
    Xc = np.vstack([c + 0.1 * rng.randn(40, 16) for c in centers])
    corpus2 = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(len(Xc)), "embedding": list(Xc.tolist())}))
    qsrc = [0, 150, 300]
    q2 = spark.createDataFrame(pd.DataFrame({
        "query_id": [0, 1, 2], "embedding": list(Xc[qsrc].tolist())}))
    tr2 = pq_train(corpus2, m=4, nbits=4, fit_sample=400, seed=3)
    got = pq_search(pq_encode(corpus2, tr2), q2, tr2, k=10).toPandas()
    for qi, src in enumerate(qsrc):
        ids = got[got.query_id == qi]["vec_id"].to_numpy()
        assert (ids // 40 == src // 40).all(), qi


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


def test_duplicate_passages_content_defined(spark):
    """Cross-doc repeated-passage detection with CONTENT-DEFINED window
    anchors: a 260-char span shared at different alignments must yield
    identical window-hash sets in both documents (fixed-stride sampling
    would miss misaligned spans), the in-span offsets of matches must
    agree, and a no-overlap doc contributes nothing. Whole-document
    duplicates are caught via the always-anchored position 1."""
    from pytimetk_spark.webtext.dedup import duplicate_passages

    rng = np.random.RandomState(5)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz "))

    def mk(n):
        return "".join(rng.choice(letters, n))

    shared = mk(260)
    offs = {1: 37, 2: 211}
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [mk(offs[1]) + shared + mk(80),
                 mk(offs[2]) + shared + mk(15),
                 mk(400)],
    })
    out = duplicate_passages(spark.createDataFrame(docs),
                             window=100, stride=20).toPandas()
    assert set(out["doc_id"]) == {1, 2}
    assert (out["n_docs"] == 2).all()
    g1 = out[out.doc_id == 1].set_index("passage_hash")["pos"]
    g2 = out[out.doc_id == 2].set_index("passage_hash")["pos"]
    assert set(g1.index) == set(g2.index) and len(g1) >= 3
    for h in g1.index:  # same offset inside the shared span
        assert g1[h] - offs[1] == g2[h] - offs[2]

    # exact whole-doc duplicate shorter than window+stride still caught
    short = mk(120)
    docs2 = pd.DataFrame({"doc_id": [7, 8],
                          "text": [short, short]})
    out2 = duplicate_passages(spark.createDataFrame(docs2),
                              window=100, stride=20).toPandas()
    assert set(out2["doc_id"]) == {7, 8}
    assert (out2["pos"] == 1).any()


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


def test_sniff_media_type_all_formats(spark):
    """Magic-byte sniffing routes every format the engine handles —
    one synthesized blob per format, all 12 recognized + junk NULL."""
    from jpeg_ref import encode_baseline_jpeg
    from webp_ref import encode_vp8l

    from pytimetk_spark.webtext.aac import synthesize_adts_stream
    from pytimetk_spark.webtext.flac_ogg import (
        synthesize_flac,
        synthesize_ogg_opus,
    )
    from pytimetk_spark.webtext.mp3 import synthesize_mp3_stream
    from pytimetk_spark.webtext.multimodal import sniff_media_type

    rng = np.random.RandomState(1)
    rgb = rng.randint(0, 256, (8, 8, 3)).astype(np.uint8)
    idx = rng.randint(0, 4, (8, 8)).astype(np.uint8)
    pal = rng.randint(0, 256, (4, 3)).astype(np.uint8)
    frames = [bytes(16)] * 4
    blobs = {
        "image/jpeg": encode_baseline_jpeg(rgb, quant=1),
        "image/png": _make_png(rgb, color=2),
        "image/gif": _make_gif(idx, pal),
        "image/webp": encode_vp8l(rgb),
        "image/bmp": _make_bmp(rgb),
        "audio/wav": _make_wav(np.sin(np.linspace(0, 5, 500))),
        "audio/flac": synthesize_flac(),
        "audio/ogg": synthesize_ogg_opus(),
        "audio/mpeg": synthesize_mp3_stream(3),
        "audio/aac": synthesize_adts_stream(3),
        "video/mp4": _make_mp4(frames),
        "video/webm": _make_webm(frames),
        None: b"garbage bytes here",
    }
    pdf = pd.DataFrame({"doc_id": range(len(blobs)),
                        "blob": list(blobs.values()),
                        "expect": list(blobs.keys())})
    out = sniff_media_type(spark.createDataFrame(pdf), "blob").toPandas()
    for _, r in out.iterrows():
        if r["expect"] is None:
            assert r["media_type"] is None
        else:
            assert r["media_type"] == r["expect"], r["expect"]


def test_image_stream_info_header_probe(spark):
    """Header-only geometry probe recovers exact dims for every image
    format WITHOUT decoding — including lossy-VP8 WebP whose pixel
    decode is a stub and progressive JPEG (format distinguished from
    baseline); junk yields a NULL row."""
    from jpeg_ref import encode_baseline_jpeg, encode_progressive_jpeg
    from webp_ref import encode_vp8l

    from pytimetk_spark.webtext.imageinfo import (
        image_stream_info,
        parse_image_dims,
    )

    rng = np.random.RandomState(2)
    rgb = rng.randint(0, 256, (24, 31, 3)).astype(np.uint8)
    idx = rng.randint(0, 4, (24, 31)).astype(np.uint8)
    pal = rng.randint(0, 256, (4, 3)).astype(np.uint8)
    # lossy-VP8 WebP: container + uncompressed keyframe header only
    vp8_frame = (b"\x00\x00\x00" + b"\x9d\x01\x2a"
                 + (31).to_bytes(2, "little") + (24).to_bytes(2, "little")
                 + bytes(20))
    vp8_chunk = b"VP8 " + len(vp8_frame).to_bytes(4, "little") + vp8_frame
    lossy = (b"RIFF" + (4 + len(vp8_chunk)).to_bytes(4, "little")
             + b"WEBP" + vp8_chunk)
    cases = {
        "jpeg-baseline": encode_baseline_jpeg(rgb, quant=1),
        "jpeg-progressive": encode_progressive_jpeg(rgb, quant=1),
        "png": _make_png(rgb, color=2),
        "gif": _make_gif(idx, pal),
        "bmp": _make_bmp(rgb),
        "webp-lossless": encode_vp8l(rgb),
        "webp-lossy": lossy,
    }
    for fmt, blob in cases.items():
        got = parse_image_dims(blob)
        assert got is not None, fmt
        assert (got["format"], got["width"], got["height"]) == (fmt, 31, 24)
    assert parse_image_dims(b"not an image") is None

    pdf = pd.DataFrame({"doc_id": range(3),
                        "img": [cases["jpeg-progressive"], lossy, b"junk"]})
    out = (image_stream_info(spark.createDataFrame(pdf), "img")
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    assert out.loc[0, "format"] == "jpeg-progressive"
    assert (out.loc[1, "width"], out.loc[1, "height"]) == (31, 24)
    assert abs(out.loc[0, "megapixels"] - 31 * 24 / 1e6) < 1e-12
    assert pd.isna(out.loc[2, "format"])


def test_text_ops_run_on_streams(spark, tmp_path):
    """The stateless corpus operators (PII masking, C4 line filter,
    quality score, sniffing) are pure Catalyst projections, so they
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


def _make_av1_seq_obu(width, height, profile=0, reduced=False):
    """Temporal-delimiter OBU + sized sequence-header OBU (AV1 §5.5)."""
    w = _SpsWriter()
    w.u(profile, 3)
    w.u(0, 1)  # still_picture
    w.u(1 if reduced else 0, 1)
    if reduced:
        w.u(8, 5)  # seq_level_idx_0
    else:
        w.u(0, 1)   # timing_info_present
        w.u(0, 1)   # initial_display_delay_present
        w.u(0, 5)   # operating_points_cnt_minus_1
        w.u(0, 12)  # operating_point_idc
        w.u(8, 5)   # seq_level_idx > 7 -> tier bit follows
        w.u(0, 1)   # seq_tier
    wb = max((width - 1).bit_length(), 1)
    hb = max((height - 1).bit_length(), 1)
    w.u(wb - 1, 4)
    w.u(hb - 1, 4)
    w.u(width - 1, wb)
    w.u(height - 1, hb)
    body = w.tobytes()

    def leb(n):
        out = bytearray()
        while True:
            b = n & 0x7F
            n >>= 7
            out.append(b | (0x80 if n else 0))
            if not n:
                return bytes(out)

    td = bytes([0x12, 0x00])  # temporal delimiter, sized 0
    return td + bytes([0x0A]) + leb(len(body)) + body


def test_av1_sequence_header_probe(spark):
    """AV1 OBU walking recovers max frame geometry/profile from the
    sequence header (skipping the leading temporal delimiter), for
    full and reduced-still-picture header shapes; WebM V_AV1 tracks
    route through video_stream_info."""
    from pytimetk_spark.webtext.videoprobe import (
        parse_av1_seq_header,
        video_stream_info,
    )

    for wd, ht, prof, red in [(1920, 1080, 0, False), (640, 360, 2, True),
                              (64, 64, 1, False)]:
        got = parse_av1_seq_header(_make_av1_seq_obu(wd, ht, prof, red))
        assert (got["width"], got["height"], got["profile"]) == (wd, ht, prof)
    assert parse_av1_seq_header(b"\x80junk") is None

    frames = [_make_av1_seq_obu(1280, 720)] + [bytes(16)] * 3
    blob = _make_webm(frames, fps=2.0, sync_every=1, codec="V_AV1",
                      with_audio=False)
    out = (video_stream_info(
        spark.createDataFrame(pd.DataFrame({"doc_id": [1], "video": [blob]})),
        "video").toPandas())
    assert out.loc[0, "codec"] == "V_AV1"
    assert (out.loc[0, "coded_width"], out.loc[0, "coded_height"]) == (1280, 720)


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


def test_duplicate_passages_hypothesis(spark):
    """Property sweep: a shared span injected at RANDOM alignments into
    two documents is always detected when long enough for an anchor
    (span >> window), and the matched windows' in-span offsets agree."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pytimetk_spark.webtext.dedup import duplicate_passages

    cases = []

    @settings(max_examples=15, deadline=None, derandomize=True,
              suppress_health_check=list(HealthCheck))
    @given(st.data())
    def gen(data):
        rng = np.random.RandomState(data.draw(st.integers(0, 10_000)))
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz "))
        mk = lambda n: "".join(rng.choice(letters, n))
        shared = mk(300)  # window 100 + ~200 anchor chances
        o1 = data.draw(st.integers(0, 150))
        o2 = data.draw(st.integers(0, 150))
        cases.append((mk(o1) + shared + mk(30), mk(o2) + shared + mk(30),
                      o1, o2))

    gen()
    rows = []
    for i, (t1, t2, _o1, _o2) in enumerate(cases):
        rows.append((2 * i, t1))
        rows.append((2 * i + 1, t2))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    out = duplicate_passages(spark.createDataFrame(pdf),
                             window=100, stride=20).toPandas()
    for i, (_t1, _t2, o1, o2) in enumerate(cases):
        a = out[out.doc_id == 2 * i].set_index("passage_hash")["pos"]
        b = out[out.doc_id == 2 * i + 1].set_index("passage_hash")["pos"]
        common = set(a.index) & set(b.index)
        assert common, f"case {i}: shared span not detected"
        for h in common:
            assert a[h] - o1 == b[h] - o2, f"case {i}: offsets disagree"


def test_parsers_total_over_fuzzed_bytes():
    """Every public decoder/parser must be TOTAL: random bytes and
    truncated prefixes of every valid fixture return None (or a valid
    result) — never an exception that would kill a Spark task on one
    corrupt blob in a crawl shard."""
    from jpeg_ref import encode_baseline_jpeg
    from webp_ref import encode_vp8l

    from pytimetk_spark.webtext.aac import (
        parse_aac_info,
        synthesize_adts_stream,
    )
    from pytimetk_spark.webtext.flac_ogg import (
        parse_flac_info,
        parse_ogg_info,
        synthesize_flac,
        synthesize_ogg_opus,
    )
    from pytimetk_spark.webtext.gif import decode_gif
    from pytimetk_spark.webtext.imageinfo import parse_image_dims
    from pytimetk_spark.webtext.jpeg import decode_jpeg
    from pytimetk_spark.webtext.mp3 import (
        parse_mp3_info,
        synthesize_mp3_stream,
    )
    from pytimetk_spark.webtext.mp4 import parse_mp4
    from pytimetk_spark.webtext.png import decode_png
    from pytimetk_spark.webtext.webm import parse_webm
    from pytimetk_spark.webtext.webp import decode_webp_lossless

    rng = np.random.RandomState(99)
    rgb = rng.randint(0, 256, (9, 9, 3)).astype(np.uint8)
    idx = rng.randint(0, 4, (9, 9)).astype(np.uint8)
    pal = rng.randint(0, 256, (4, 3)).astype(np.uint8)
    fixtures = [
        encode_baseline_jpeg(rgb, quant=1), _make_png(rgb, color=2),
        _make_gif(idx, pal), encode_vp8l(rgb), _make_bmp(rgb),
        synthesize_mp3_stream(4), synthesize_adts_stream(4),
        synthesize_flac(), synthesize_ogg_opus(),
        _make_mp4([bytes(16)] * 4), _make_webm([bytes(16)] * 4),
    ]
    parsers = [decode_jpeg, decode_png, decode_gif, decode_webp_lossless,
               parse_mp3_info, parse_aac_info, parse_flac_info,
               parse_ogg_info, parse_mp4, parse_webm, parse_image_dims]
    blobs = []
    for f in fixtures:
        for cut in (3, 7, len(f) // 3, len(f) // 2, len(f) - 1):
            blobs.append(f[:cut])
        # bit-flipped mid-stream corruption
        ba = bytearray(f)
        for _ in range(4):
            ba[rng.randint(len(ba))] ^= 0xFF
        blobs.append(bytes(ba))
    for _ in range(30):
        blobs.append(bytes(rng.randint(0, 256, rng.randint(0, 120),
                                       dtype=np.uint8).tobytes()))
    for blob in blobs:
        for p in parsers:
            p(blob)  # must not raise; value unchecked


def test_aac_71_channel_config():
    """ADTS channel_configuration 7 means a 7.1 layout = 8 channels."""
    from pytimetk_spark.webtext.aac import (
        parse_aac_info,
        synthesize_adts_stream,
    )

    info = parse_aac_info(synthesize_adts_stream(10, channels=7))
    assert info.n_channels == 8


def test_sniff_covers_all_mp3_syncs(spark):
    """Every legal MPEG-audio sync (3 versions x 3 layers x CRC flag)
    must sniff as audio/mpeg — the walker accepts them all, so the
    router must too; AAC's layer-00 syncs stay distinct."""
    from pytimetk_spark.webtext.multimodal import sniff_media_type

    seconds = sorted({0xE0 | (v << 3) | (l << 1) | p
                      for v in (0, 2, 3) for l in (1, 2, 3)
                      for p in (0, 1)})
    pdf = pd.DataFrame({
        "doc_id": range(len(seconds) + 2),
        "blob": [bytes([0xFF, b2]) + bytes(30) for b2 in seconds]
        + [bytes([0xFF, 0xF1]) + bytes(30),
           bytes([0xFF, 0xF9]) + bytes(30)],
    })
    out = (sniff_media_type(spark.createDataFrame(pdf), "blob")
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    assert (out.loc[: len(seconds) - 1, "media_type"] == "audio/mpeg").all()
    assert (out.loc[len(seconds):, "media_type"] == "audio/aac").all()


def test_script_profile(spark):
    """Unicode-script fractions + dominant script for Latin, Cyrillic,
    Han, kana, Hangul, Arabic mixes; letterless docs get NULL dominant;
    a mixed doc reports proportional fractions."""
    from pytimetk_spark.webtext.textstats import script_profile

    docs = pd.DataFrame({"doc_id": [1, 2, 3, 4, 5, 6, 7],
                         "text": ["hello latin world",
                                  "привет мир",
                                  "这是中文文本",
                                  "こんにちはカタカナ",
                                  "안녕하세요",
                                  "1234 !!!",
                                  "half latin половина русских"]})
    out = (script_profile(spark.createDataFrame(docs)).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    assert list(out["dominant_script"][:5]) == [
        "latin", "cyrillic", "cjk", "hiragana_katakana", "hangul"]
    assert pd.isna(out.loc[5, "dominant_script"])
    mixed = out.iloc[6]
    assert 0 < mixed["script_latin_frac"] < 1
    assert abs(mixed["script_latin_frac"] + mixed["script_cyrillic_frac"]
               - 1.0) < 1e-9
    # fractions are over LETTERS only: digits/punct don't dilute
    assert out.loc[0, "script_latin_frac"] == 1.0


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


def test_hash_embed_feature_hashing(spark):
    """Model-free feature-hashing embeddings: unit-norm, deterministic
    (blake2b keyed by seed — NOT process-salted builtin hash), near-dup
    texts land closer than unrelated texts, different seeds decorrelate,
    and the vectors plug straight into the exact ANN searcher."""
    from pytimetk_spark.webtext.similarity import (
        cosine_topk_bruteforce,
        hash_embed,
    )

    docs = pd.DataFrame({"doc_id": [1, 2, 3],
                         "text": ["spark query engine rollup tier data",
                                  "spark query engine rollup tier value",
                                  "completely different words entirely "
                                  "here now"]})
    df = spark.createDataFrame(docs)
    v = np.array(hash_embed(df, dim=64).toPandas()
                 .sort_values("doc_id")["embedding"].tolist())
    np.testing.assert_allclose(np.linalg.norm(v, axis=1), 1.0)
    assert v[0] @ v[1] > 0.6 > v[0] @ v[2]
    v2 = np.array(hash_embed(df, dim=64).toPandas()
                  .sort_values("doc_id")["embedding"].tolist())
    np.testing.assert_allclose(v, v2)  # cross-job determinism
    v_seed = np.array(hash_embed(df, dim=64, seed=7).toPandas()
                      .sort_values("doc_id")["embedding"].tolist())
    assert not np.allclose(v, v_seed)

    emb = hash_embed(df, dim=64)
    q = emb.filter("doc_id = 1").selectExpr("doc_id as query_id",
                                            "embedding")
    top = cosine_topk_bruteforce(
        emb.withColumnRenamed("doc_id", "vec_id"), q, k=2).toPandas()
    assert list(top["vec_id"]) == [1, 2]


def _make_avif(w, h, brand=b"avif"):
    import struct

    def box(t, p):
        return struct.pack(">I", len(p) + 8) + t + p

    ispe = box(b"ispe", struct.pack(">III", 0, w, h))
    meta = box(b"meta", struct.pack(">I", 0)
               + box(b"iprp", box(b"ipco", ispe)))
    return box(b"ftyp", brand + struct.pack(">I", 0) + brand) + meta


def _make_tiff(w, h, le=True):
    import struct

    bo = "<" if le else ">"
    hdr = (b"II*\x00" if le else b"MM\x00*") + struct.pack(bo + "I", 8)
    entries = struct.pack(bo + "H", 2)
    entries += (struct.pack(bo + "HHI", 256, 3, 1)
                + struct.pack(bo + "H", w) + b"\x00\x00")
    entries += struct.pack(bo + "HHI", 257, 4, 1) + struct.pack(bo + "I", h)
    return hdr + entries + struct.pack(bo + "I", 0)


def test_avif_heic_tiff_probes_and_sniff(spark):
    """Modern-web image formats probe header-only: AVIF/HEIC via the
    ISO BMFF ispe property, TIFF via the first IFD (both byte orders);
    the sniffer distinguishes avif/heic brands from plain MP4."""
    from pytimetk_spark.webtext.imageinfo import parse_image_dims
    from pytimetk_spark.webtext.multimodal import sniff_media_type

    assert parse_image_dims(_make_avif(1200, 800)) == {
        "format": "avif", "width": 1200, "height": 800, "n_channels": 3}
    assert parse_image_dims(_make_avif(640, 480, b"heic"))["format"] == "heic"
    assert parse_image_dims(_make_tiff(321, 123, le=True)) == {
        "format": "tiff", "width": 321, "height": 123, "n_channels": 3}
    assert parse_image_dims(_make_tiff(800, 600, le=False))["height"] == 600

    frames = [bytes(16)] * 4
    pdf = pd.DataFrame({
        "doc_id": range(4),
        "blob": [_make_avif(10, 10), _make_avif(10, 10, b"heic"),
                 _make_tiff(5, 5), _make_mp4(frames)],
    })
    out = (sniff_media_type(spark.createDataFrame(pdf), "blob")
           .toPandas().sort_values("doc_id"))
    assert list(out["media_type"]) == [
        "image/avif", "image/heic", "image/tiff", "video/mp4"]


def test_review_hardening_regressions(spark):
    """Pinned fixes from the round-5 self-review: string doc ids pass
    through hash_embed/bpe_encode/pack_sequences verbatim (a long cast
    silently corrupted them to garbage), NULL token counts pack as 0,
    all-unlisted-script docs get NULL dominance (not the alphabetical
    tie-winner), CRC-protected ADTS sniffs as aac, and deeply-nested
    HEIF boxes return None instead of blowing the stack."""
    from pytimetk_spark.webtext.bpe import bpe_encode, bpe_train
    from pytimetk_spark.webtext.cleaning import pack_sequences
    from pytimetk_spark.webtext.imageinfo import parse_image_dims
    from pytimetk_spark.webtext.multimodal import sniff_media_type
    from pytimetk_spark.webtext.similarity import hash_embed
    from pytimetk_spark.webtext.textstats import script_profile

    sdocs = pd.DataFrame({"doc_id": ["url-a", "url-b"],
                          "text": ["hello world", "hello there"]})
    sdf = spark.createDataFrame(sdocs)
    got = hash_embed(sdf, dim=16).toPandas()
    assert set(got["doc_id"]) == {"url-a", "url-b"}
    merges = bpe_train(sdf, n_merges=10, fit_sample=10)
    enc = bpe_encode(sdf, merges).toPandas()
    assert set(enc["doc_id"]) == {"url-a", "url-b"}
    toks = spark.createDataFrame(pd.DataFrame(
        {"doc_id": ["x", "y", "z"], "bpe_n_tokens": [100, None, 50]}))
    packed = pack_sequences(toks, max_tokens=256).toPandas()
    assert set(packed["doc_id"]) == {"x", "y", "z"}  # NULL packs as 0

    sp = script_profile(spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["ქართული ტექსტი"]}))
    ).toPandas()  # Georgian: in no listed script
    assert pd.isna(sp.loc[0, "dominant_script"])

    crc_adts = bytes([0xFF, 0xF0]) + bytes(30)
    out = sniff_media_type(spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "blob": [crc_adts]})), "blob"
    ).toPandas()
    assert out.loc[0, "media_type"] == "audio/aac"

    deep = b"\x00\x00\x00\x14ftypavif\x00\x00\x00\x00avif"
    deep += b"".join(b"\x00\x00\x00\x08iprp" for _ in range(2000))
    assert parse_image_dims(deep) is None  # bounded, no RecursionError


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
