"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship: full tier rollup (1h with derived stats) over the
                events stream at sf0.001.
queries()     — one entry per implemented operator (SURVEY.md §2); each
                callable (spark, sf_dir) -> DataFrame.
oracle_sql()  — DuckDB-equivalent SQL per query (same aliases; floats
                rounded to 6dp or emitted as floor(x·scale+0.5)::BIGINT
                integer-comparison columns on BOTH sides so the
                value-hash cannot flake on representation).
EVERY queries() entry has an oracle — recurrences (EWM/MACD/Wilder) use
scale-safe closed-form self-joins, the Gorilla round-trip decodes back to
plain aggregation SQL, and rolling R/S expands through a bounded window
self-join.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import pytimetk_spark as tk
from pytimetk_spark.config import drop_spark_zip_finders
from pytimetk_spark.rollup.tiers import (
    derived_stats,
    gap_fill_tier,
    rollup_raw_to_tier,
    rollup_tier_to_tier,
)


def _prep(spark: SparkSession) -> SparkSession:
    """Engine invariants on whatever session the driver provides (both are
    runtime-settable confs): UTC tz for epoch arithmetic, Arrow for the
    grouped-map kernels."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _prep(spark).read.parquet(f"{sf_dir}/events.parquet")


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _prep(spark).read.parquet(f"{sf_dir}/orders.parquet")


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _prep(spark).read.parquet(f"{sf_dir}/lineitem.parquet")


def _r6(df: DataFrame, *cols: str) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.round(F.col(f"`{c}`").cast("double"), 6))
    return df


def _r4(df: DataFrame, *cols: str) -> DataFrame:
    """Coarser 4-dp rounding for long running aggregates (expanding/EWM
    sums): Spark's streaming window sum and DuckDB's segment-tree window
    sum accumulate in different orders, so the two doubles differ by
    ~1e-11 on 10^4-long series; the probability that a 6-dp half-boundary
    separates them (hash flip) is ~d/1e-6 ≈ 1e-5 per row — too high across
    10^4 rows. At 4 dp the flip probability drops to ~1e-7 per row while
    still checking 8-9 significant digits."""
    for c in cols:
        df = df.withColumn(c, F.round(F.col(f"`{c}`").cast("double"), 4))
    return df


def _i4(df: DataFrame, *cols: str, scale: int = 10000) -> DataFrame:
    """Integer-valued comparison columns for long running aggregates
    (expanding/EWM sums, decomposition chains): emit
    round(x * 1e4) :: bigint instead of a rounded double. Spark's
    streaming window sum and DuckDB's segment-tree sum accumulate in
    different orders (~1e-11 disagreement on 10^4-long series), and a
    rounded DOUBLE can still differ in representation (-0.0 vs 0.0, bit
    patterns) at whatever layer hashes raw bytes. An int64 has exactly
    one representation, so representation flakes are impossible.

    floor(x*1e4 + 0.5), NOT round(): Spark's round() on doubles goes
    through BigDecimal.valueOf → Double.toString (shortest DECIMAL
    repr), while DuckDB's round() rounds the BINARY double — on this
    data (2-dp values, so means hit exact k+0.5/1e4 boundaries) the two
    disagree on 30/10000 rows. floor(+0.5) is pure IEEE arithmetic on
    both engines, bit-identical whenever the input doubles are.

    ``scale``: a true value sitting EXACTLY on a grid half-boundary is a
    guaranteed coin-flip (the engines' few-ulp disagreement decides the
    side). x·1e4 = k+0.5 requires the reduced denominator of x to have
    2-adic valuation exactly 5; pipelines that halve (medians, quartile
    interpolation, centerlines, 0.125 factors) can reach that. Scaling by
    an extra 2^6 (scale=640000) pushes the required valuation to 11 —
    beyond any chain of halvings in these operators — so exact boundary
    hits become impossible while near-boundary distance stays ≥ ~1e-4 of
    a grid unit, orders above the ~1e-8 scaled engine noise."""
    for c in cols:
        df = df.withColumn(
            c,
            F.floor(F.col(f"`{c}`").cast("double") * scale + F.lit(0.5))
            .cast("long"),
        )
    return df


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: events → 1h tier (re-aggregable stats) → derived stats,
    gap-filled per series — the north-rule rollup on the smoke dataset."""
    ev = _events(spark, "/root/testdata/sf0.001")
    tier = rollup_raw_to_tier(
        ev, "event_type", "ts", "value", "h", salt_partials=None
    )
    return derived_stats(gap_fill_tier(tier, "h")).orderBy("url", "bucket_ts")


# ---------------------------------------------------------------------------
# queries


def q_summarize_hourly(spark, sf_dir):
    ev = _events(spark, sf_dir)
    out = tk.summarize_by_time(
        ev, "ts", "value", group_cols=["event_type"], freq="h",
        agg_func=["sum", "mean", "count"], dense=False, fillna=None,
    )
    return _r6(out, "value_sum", "value_mean")


def q_summarize_daily_lineitem(spark, sf_dir):
    li = _lineitem(spark, sf_dir)
    out = tk.summarize_by_time(
        li, "l_shipdate", ["l_quantity", "l_extendedprice"],
        group_cols=["l_returnflag"], freq="D",
        agg_func=["sum", "mean"], dense=False, fillna=None,
    )
    return _r6(
        out, "l_quantity_sum", "l_quantity_mean",
        "l_extendedprice_sum", "l_extendedprice_mean",
    )


def q_summarize_month_end(spark, sf_dir):
    od = _orders(spark, sf_dir)
    out = tk.summarize_by_time(
        od, "o_orderdate", "o_totalprice", freq="M", agg_func=["sum", "count"],
        dense=False, fillna=None,
    )
    return _r6(out, "o_totalprice_sum")


def q_pad_by_time(spark, sf_dir):
    ev = _events(spark, sf_dir).select("event_type", "ts", "value")
    out = tk.pad_by_time(ev, "ts", freq="h", group_cols=["event_type"])
    return _r6(out, "value")


def q_filter_by_time(spark, sf_dir):
    ev = _events(spark, sf_dir)
    out = tk.filter_by_time(ev, "ts", "2024-01-05", "2024-01-12").select(
        "event_id", "ts", "user_id", "event_type"
    )
    return out


def q_future_frame(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return tk.make_future_timeseries(
        ev, "ts", length_out=5, freq="D", group_cols=["user_id"]
    )


def q_augment_shift(spark, sf_dir):
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = tk.augment_lags(ev, "ts", "value", lags=1, group_cols=["user_id"])
    out = tk.augment_leads(out, "ts", "value", leads=1, group_cols=["user_id"])
    out = tk.augment_diffs(out, "ts", "value", periods=1, group_cols=["user_id"])
    return _r6(out, "value", "value_lag_1", "value_lead_1", "value_diff_1")


def q_augment_rolling(spark, sf_dir):
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = tk.augment_rolling(
        ev, "ts", "value", window=5, window_func=["mean", "sum", "min", "max"],
        group_cols=["user_id"],
    )
    return _r6(
        out, "value", "value_rolling_mean_win_5", "value_rolling_sum_win_5",
        "value_rolling_min_win_5", "value_rolling_max_win_5",
    )


def q_augment_expanding(spark, sf_dir):
    """Expanding mean/sum. The mean is compared de-normalized (mean × n):
    with 2-dp inputs the true expanding mean is 2.5·cents/1e4·… — EXACTLY
    on the 1e-4 half-grid whenever the running cent total is odd — so the
    engines' few-ulp window-sum disagreement decides the rounding side
    (the two-round red-row flake). mean × n lands on the 0.01 grid, 50
    scaled units from any boundary, where ulp noise cannot flip."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = tk.augment_expanding(
        ev, "ts", "value", window_func=["mean", "sum"], group_cols=["user_id"]
    )
    n = F.row_number().over(Window.partitionBy("user_id").orderBy("ts"))
    out = out.withColumn(
        "value_expanding_mean_x_n", F.col("value_expanding_mean") * n
    ).drop("value_expanding_mean")
    out = _r6(out, "value")
    return _i4(out, "value_expanding_mean_x_n", "value_expanding_sum")


def q_timeseries_signature(spark, sf_dir):
    od = _orders(spark, sf_dir).select("o_orderkey", "o_orderdate")
    out = tk.augment_timeseries_signature(od, "o_orderdate")
    return out.select(
        "o_orderkey",
        "o_orderdate",
        "o_orderdate_index_num",
        "o_orderdate_year",
        "o_orderdate_half",
        "o_orderdate_quarter",
        "o_orderdate_month",
        "o_orderdate_mday",
        "o_orderdate_yday",
        "o_orderdate_wday",
        "o_orderdate_yweek",
        "o_orderdate_mweek",
        "o_orderdate_hour",
        "o_orderdate_am_pm",
    )


def q_ts_summary(spark, sf_dir):
    ev = _events(spark, sf_dir)
    out = tk.ts_summary(ev, "ts", group_cols=["user_id"]).select(
        "user_id", "date_n", "date_start", "date_end",
        "diff_min_seconds", "diff_q25_seconds", "diff_median_seconds",
        "diff_mean_seconds", "diff_q75_seconds", "diff_max_seconds",
    )
    return _r6(
        out, "diff_q25_seconds", "diff_median_seconds", "diff_mean_seconds",
        "diff_q75_seconds",
    )


def q_rollup_tier_1h(spark, sf_dir):
    ev = _events(spark, sf_dir)
    tier = rollup_raw_to_tier(ev, "event_type", "ts", "value", "h")
    out = derived_stats(tier).select(
        "url", "bucket_ts", "cnt", "vsum", "vmin", "vmax", "vfirst", "vlast",
        "vmean", "vstd",
    )
    return _r6(out, "vsum", "vmin", "vmax", "vfirst", "vlast", "vmean", "vstd")


def q_rollup_tier_1d(spark, sf_dir):
    """1d tier built FROM the 1h tier — proves re-aggregability; oracle
    aggregates raw directly."""
    ev = _events(spark, sf_dir)
    h1 = rollup_raw_to_tier(ev, "event_type", "ts", "value", "h")
    d1 = rollup_tier_to_tier(h1, "D")
    out = d1.select("url", "bucket_ts", "cnt", "vsum", "vmin", "vmax")
    return _r6(out, "vsum", "vmin", "vmax")


def q_rollup_salted_1h(spark, sf_dir):
    """Salted two-phase aggregation must equal the plain plan (skew path)."""
    ev = _events(spark, sf_dir)
    tier = rollup_raw_to_tier(ev, "event_type", "ts", "value", "h", salt_partials=8)
    out = tier.select("url", "bucket_ts", "cnt", "vsum", "vmin", "vmax")
    return _r6(out, "vsum", "vmin", "vmax")


def q_gap_fill_tier(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "user_key", F.col("user_id").cast("string")
    )
    tier = rollup_raw_to_tier(ev, "user_key", "ts", "value", "h")
    out = gap_fill_tier(tier, "h").select("url", "bucket_ts", "cnt", "vsum")
    return _r6(out, "vsum")


def q_drawdown(spark, sf_dir):
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = tk.augment_drawdown(ev, "ts", "value", group_cols=["user_id"])
    return _r6(out, "value", "value_peak", "value_drawdown", "value_drawdown_pct")


def q_bbands(spark, sf_dir):
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = tk.augment_bbands(
        ev, "ts", "value", periods=10, std_dev=2, group_cols=["user_id"]
    )
    return _r6(
        out, "value", "value_bband_middle_10_2.0", "value_bband_upper_10_2.0",
        "value_bband_lower_10_2.0",
    )


def q_roc(spark, sf_dir):
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = tk.augment_roc(ev, "ts", "value", periods=5, group_cols=["user_id"])
    return _r6(out, "value", "value_roc_0_5")


def _ohlc(spark, sf_dir):
    """Deterministic OHLC synth over events: dyadic (0.5·k) offsets from
    user_id, so Spark and DuckDB compute bit-identical high/low doubles."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    return ev.withColumn(
        "high", F.col("value") + 0.5 * ((F.col("user_id") % 7) + 1)
    ).withColumn("low", F.col("value") - 0.5 * ((F.col("user_id") % 5) + 1))


def q_atr(spark, sf_dir):
    out = tk.augment_atr(
        _ohlc(spark, sf_dir), "ts", "high", "low", "value",
        periods=14, group_cols=["user_id"],
    )
    out = out.select("user_id", "ts", "value", "high", "low", "value_atr_14")
    return _r6(out, "value", "high", "low", "value_atr_14")


def q_cmo(spark, sf_dir):
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = tk.augment_cmo(ev, "ts", "value", periods=14, group_cols=["user_id"])
    return _r6(out, "value", "value_cmo_14")


def q_stochastic(spark, sf_dir):
    out = tk.augment_stochastic_oscillator(
        _ohlc(spark, sf_dir), "ts", "high", "low", "value",
        k_periods=14, d_periods=3, group_cols=["user_id"],
    )
    out = out.select(
        "user_id", "ts", "value", "value_stoch_k_14", "value_stoch_d_14_3"
    )
    return _r6(out, "value", "value_stoch_k_14", "value_stoch_d_14_3")


def q_fourier(spark, sf_dir):
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = tk.augment_fourier(
        ev, "ts", periods=[24, 168], max_order=1, group_cols=["user_id"]
    )
    out = out.select(
        "user_id", "ts", "ts_sin_1_24", "ts_cos_1_24",
        "ts_sin_1_168", "ts_cos_1_168",
    )
    return _r6(out, "ts_sin_1_24", "ts_cos_1_24", "ts_sin_1_168", "ts_cos_1_168")


def q_holiday_signature(spark, sf_dir):
    ev = _events(spark, sf_dir).select("ts")
    out = tk.augment_holiday_signature(ev, "ts", country="US")
    return out.select(
        "ts", "is_holiday", "before_holiday", "after_holiday", "holiday_name"
    )


# --- webtext: dedup / similarity / text analysis ---


def q_dedup_exact(spark, sf_dir):
    from pytimetk_spark.webtext.dedup import dedup_exact

    docs = _prep(spark).read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_exact(docs)


def q_token_stats(spark, sf_dir):
    from pytimetk_spark.webtext.textstats import token_stats

    docs = _prep(spark).read.parquet(f"{sf_dir}/documents.parquet")
    return token_stats(docs).select(
        "doc_id", "n_chars", "n_tokens_ws", "n_tokens_bpe"
    )


def q_language_scores(spark, sf_dir):
    from pytimetk_spark.webtext.textstats import language_id

    docs = _prep(spark).read.parquet(f"{sf_dir}/documents.parquet")
    out = language_id(docs).select("doc_id", "langscore_en", "langscore_de")
    return _r6(out, "langscore_en", "langscore_de")


def q_cosine_topk(spark, sf_dir):
    from pytimetk_spark.webtext.similarity import cosine_topk_bruteforce

    emb = _prep(spark).read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk_bruteforce(emb, queries, k=5)
    return _r6(out, "cosine")


def q_minhash_dedup(spark, sf_dir):
    """hash_variant="md5" — the exact same MinHash+LSH+Jaccard pipeline, but
    with a hash DuckDB can reproduce bit-for-bit, so the WHOLE dedup
    decision (signatures → banded buckets → candidate pairs → exact-Jaccard
    verify → keep-first) is oracle-checked, not just row-counted."""
    from pytimetk_spark.webtext.dedup import minhash_dedup

    docs = _prep(spark).read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_dedup(docs, threshold=0.85, hash_variant="md5")


def q_simhash(spark, sf_dir):
    """md5 hash variant (60 usable bits) — cross-engine reproducible."""
    from pytimetk_spark.webtext.dedup import simhash

    docs = _prep(spark).read.parquet(f"{sf_dir}/documents.parquet")
    return simhash(docs, bits=60, hash_variant="md5")


def q_quality_score(spark, sf_dir):
    from pytimetk_spark.webtext.textstats import quality_score

    docs = _prep(spark).read.parquet(f"{sf_dir}/documents.parquet")
    out = quality_score(docs).select(
        "doc_id", "q_n_chars", "q_digit_ratio", "q_upper_ratio", "quality_score"
    )
    return _r6(out, "q_digit_ratio", "q_upper_ratio", "quality_score")


def q_repetition_signals(spark, sf_dir):
    """Gopher repetition filters (textstats.repetition_signals): the
    documents table has no newlines, so the n-gram signals carry the
    content; dup_line_frac stays in to pin the line path's zero case."""
    from pytimetk_spark.webtext.textstats import repetition_signals

    docs = _prep(spark).read.parquet(f"{sf_dir}/documents.parquet")
    out = repetition_signals(docs, top_ns=(2, 3), dup_ns=(5, 10)).select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        "dup_line_frac",
        "top_2gram_char_frac", "top_3gram_char_frac",
        "dup_5gram_char_frac", "dup_10gram_char_frac",
    )
    return _r6(out, "dup_line_frac", "top_2gram_char_frac",
               "top_3gram_char_frac", "dup_5gram_char_frac",
               "dup_10gram_char_frac")


def q_cleaning_stats(spark, sf_dir):
    """mask_pii counts + c4_line_filter stats chained over documents.
    The synthetic corpus has no PII (counts pin the zero case) and no
    newlines, so min_words sits at the corpus median (56) to split the
    single-line keep decision roughly 50/50 for hash signal."""
    from pytimetk_spark.webtext.cleaning import c4_line_filter, mask_pii

    docs = _prep(spark).read.parquet(f"{sf_dir}/documents.parquet")
    out = c4_line_filter(
        mask_pii(docs, kinds=("email", "ipv4", "ssn")),
        min_words=56, require_terminal_punct=False,
    ).select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_ssn").cast("long").alias("n_ssn"),
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_lines_kept").cast("long").alias("n_lines_kept"),
        "line_keep_frac",
    )
    return _r6(out, "line_keep_frac")


def q_decontaminate(spark, sf_dir):
    """GPT-3-style 13-gram decontamination: benchmark = docs 0-4 of the
    same corpus, so those documents must flag themselves and random
    word-soup collisions stay possible but rare."""
    from pytimetk_spark.webtext.cleaning import decontaminate

    docs = _prep(spark).read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") < 5).select("text")
    out = decontaminate(docs, bench, n=13)
    return out.select(
        "doc_id",
        F.col("n_contaminated_ngrams").cast("long").alias(
            "n_contaminated_ngrams"),
        F.col("is_contaminated").cast("int").alias("is_contaminated"),
    )


def q_near_dup_clusters(spark, sf_dir):
    """connected_components over a deterministic pair list (documents
    sharing their first two tokens) -> (id, cluster_id=component min).
    Exercises the full multi-round label propagation end-to-end; the
    oracle replays it as a DuckDB recursive min-reachability CTE."""
    from pytimetk_spark.webtext.dedup import connected_components

    docs = _prep(spark).read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(
        F.trim(F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))), " "
    )
    keyed = docs.select(
        "doc_id", F.concat_ws(" ", F.slice(toks, 1, 2)).alias("k")
    )
    pairs = (
        keyed.alias("a")
        .join(keyed.alias("b"), "k")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"))
    )
    return connected_components(pairs).orderBy("id")


def q_byte_features(spark, sf_dir):
    """hist16 is exploded to (bin, hist_frac) rows — the driver's canon
    sorts on every column and chokes on array cells (round-1 TypeError),
    and the exploded shape is exactly DuckDB-oracle-checkable."""
    from pytimetk_spark.webtext.textstats import byte_stats_features

    docs = _prep(spark).read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "blob", F.to_binary(F.col("text"), F.lit("utf-8"))
    )
    feats = byte_stats_features(docs, "blob")
    out = feats.select(
        "doc_id",
        "n_bytes",
        F.round("byte_entropy", 6).alias("byte_entropy"),
        F.posexplode("hist16").alias("bin", "hist_frac"),
    )
    return out.withColumn("hist_frac", F.round("hist_frac", 6))


def q_document_fingerprint(spark, sf_dir):
    """Winnowing fingerprint with the md5 hash variant (cross-engine
    reproducible); minima exploded to (rank, minhash) rows for canon."""
    from pytimetk_spark.webtext.textstats import document_fingerprint

    docs = _prep(spark).read.parquet(f"{sf_dir}/documents.parquet")
    fp = document_fingerprint(docs, hash_variant="md5")
    return fp.select(
        "doc_id",
        "fingerprint64",
        F.posexplode("fingerprint_minhashes").alias("rank", "minhash"),
    )


def q_embedding_near_dup(spark, sf_dir):
    """Hyperplane-LSH near-dup pairs: the seeded hyperplanes are inlined
    into the oracle, so buckets, candidate pairs, and the cosine verify
    all replicate bit-for-bit in DuckDB. The testdata embeddings have no
    natural near-dups (max off-diagonal cosine ≈ 0.51), so the query
    plants exact duplicates of vec_id < 10 at id+100000 — the expected
    pair set is non-empty and known."""
    from pytimetk_spark.webtext.dedup import embedding_near_dup_pairs

    emb = _prep(spark).read.parquet(f"{sf_dir}/embeddings.parquet")
    planted = emb.filter(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    corpus = emb.unionByName(planted)
    out = embedding_near_dup_pairs(corpus, threshold=0.95, n_planes=12, seed=42)
    return _r6(out, "cosine")


def q_lsh_ann(spark, sf_dir):
    """Multiprobe sign-bucket ANN, fully replicated in the oracle (same
    inlined hyperplanes, same 1-bit-flip probes, same rank tie-break)."""
    from pytimetk_spark.webtext.similarity import lsh_bucket_ann

    emb = _prep(spark).read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_bucket_ann(
        emb, queries, k=5, n_planes=10, multiprobe=True, seed=42
    )
    return _r6(out, "cosine")


def q_acf_diagnostics(spark, sf_dir):
    """ACF over per-day counts — the Σ xm[t]·xm[t+k] / Σ xm² definition is
    replicated with a row-number self-join in SQL (pacf is a
    Durbin–Levinson recursion, pytest-verified, and omitted here)."""
    ev = _events(spark, sf_dir)
    daily = tk.summarize_by_time(
        ev, "ts", "value", group_cols=["event_type"], freq="D", agg_func="count"
    )
    from pytimetk_spark import acf_diagnostics

    out = acf_diagnostics(daily, "ts", "value", group_cols=["event_type"], lags=10)
    return _r6(out.select("event_type", "lag", "acf"), "acf")


def q_ts_features(spark, sf_dir):
    """The SQL-expressible ts_features subset (n_obs, mean, std, acf1,
    acf10_sumsq, R/S hurst, tile lumpiness/stability) oracle-checked;
    spectral entropy / pacf / STL strengths are pytest-verified."""
    from pytimetk_spark import ts_features

    ev = _events(spark, sf_dir)
    daily = tk.summarize_by_time(
        ev, "ts", "value", group_cols=["event_type"], freq="D", agg_func="count"
    )
    out = ts_features(daily, "ts", "value", group_cols=["event_type"], period=7)
    out = out.select(
        "event_type", "n_obs", "mean", "std", "acf1", "acf10_sumsq",
        "hurst", "lumpiness", "stability", "crossing_points", "flat_spots",
    )
    return _r6(
        out, "n_obs", "mean", "std", "acf1", "acf10_sumsq", "hurst",
        "lumpiness", "stability", "crossing_points", "flat_spots",
    )


def q_streaming_tier_1h(spark, sf_dir):
    """TRUE Structured Streaming 1h tier (streaming/tiers_stream.py:
    streaming_tier_1h): readStream over the events parquet, event-time
    tumbling window + 0s watermark, availableNow run to completion into a
    parquet sink, read back as a batch frame. Append mode emits exactly
    the windows the final watermark (= max event time) CLOSED — every
    hourly window with end <= max(ts) — and the oracle filters the same
    subset, so the whole streaming path is value-checked, not rows-only."""
    import shutil
    import tempfile

    from pytimetk_spark.streaming.tiers_stream import streaming_tier_1h

    import os

    _prep(spark)
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the streaming file source requires a DIRECTORY; testdata ships a
    # single parquet file — stage a symlink to it in a temp dir
    src_dir = tempfile.mkdtemp(prefix="stream_src_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        f"{src_dir}/events.parquet",
    )
    stream = (
        spark.readStream.schema(batch_schema)
        .parquet(src_dir)
        .select(
            F.col("event_type"),
            F.col("ts").cast("timestamp").alias("ts"),
            "value",
        )
    )
    tiered = streaming_tier_1h(
        stream, url_col="event_type", ts_col="ts", value_col="value",
        watermark="0 seconds",
    )
    work = tempfile.mkdtemp(prefix="stream_tier_")
    try:
        q = (
            tiered.writeStream.format("parquet")
            .option("path", f"{work}/out")
            .option("checkpointLocation", f"{work}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        out = spark.read.parquet(f"{work}/out").select(
            F.col("url").alias("event_type"),
            F.col("bucket_ts").cast("long").alias("bucket_ts"),
            "cnt",
            "vsum",
            F.round("vmin", 6).alias("vmin"),
            F.round("vmax", 6).alias("vmax"),
            "vsumsq",
        )
        # materialize BEFORE the temp sink dir is deleted
        pdf = out.toPandas()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(src_dir, ignore_errors=True)
    res = spark.createDataFrame(pdf, schema=out.schema)
    return _i4(res, "vsum").withColumn(
        "vsumsq",
        F.floor(F.col("vsumsq") * 100 + F.lit(0.5)).cast("long"),
    )


def q_rolling_apply(spark, sf_dir):
    """augment_rolling_apply (Arrow grouped-map, frame-level custom
    kernels) with deliberately SQL-expressible lambdas so the WHOLE
    apply machinery — per-group sort, window slicing, min_periods gate,
    column naming — is oracle-checked, mirroring the apply_by_time
    strategy. (user_id, ts) is unique at every SF, so window contents are
    deterministic."""
    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    out = tk.augment_rolling_apply(
        ev, "ts", window=7,
        window_func=[
            ("vsum", lambda d: d["value"].sum()),
            ("vrange", lambda d: d["value"].max() - d["value"].min()),
        ],
        group_cols=["user_id"],
    )
    # sum (not mean) comparison column: value has 2 decimals, so
    # floor(sum*100+0.5) is an exact integer on both engines — an
    # expanding/rolling MEAN lands exactly on 6-dp rounding boundaries
    # (sum/k rationals) and flipped at sf0.1
    out = out.select(
        "user_id",
        F.col("ts").cast("long").alias("ts"),
        F.round("value", 6).alias("value"),
        F.floor(F.col("rolling_vsum_win_7") * 100 + F.lit(0.5)).cast("long")
        .alias("rolling_vsum_win_7"),
        F.round("rolling_vrange_win_7", 6).alias("rolling_vrange_win_7"),
    )
    return out


def q_retention(spark, sf_dir):
    """Retention policy end-to-end (rollup/store.py run_rollup +
    rollup/retention.py apply_retention): roll events into a partitioned
    1h tier store, expire partitions older than a 10-day keep window from
    a FIXED 'now' (2024-01-31), read back the surviving tier and
    aggregate. The oracle recomputes the same hourly tier restricted to
    bucket_date >= the cutoff — value-checking that expiry dropped
    exactly the old partitions and left survivors byte-intact."""
    import datetime as dt
    import shutil
    import tempfile

    from pytimetk_spark.rollup.retention import apply_retention
    from pytimetk_spark.rollup.store import TierStore, run_rollup

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("url"),
        F.col("ts").cast("timestamp").alias("warc_ts"),
        "value",
    )
    work = tempfile.mkdtemp(prefix="retention_")
    try:
        store = TierStore(f"{work}/tiers")
        run_rollup(
            spark, ev, store, url_col="url", ts_col="warc_ts",
            value_col=F.col("value"), tiers=("1h",),
        )
        apply_retention(
            store, policy={"1h": 10}, now=dt.date(2024, 1, 31)
        )
        kept = store.read_tier(spark, "1h")
        out = kept.groupBy("url").agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("cnt").alias("n_points"),
            F.min("bucket_ts").cast("long").alias("first_bucket"),
            F.max("bucket_ts").cast("long").alias("last_bucket"),
            F.sum("vsum").alias("vsum"),
        )
        pdf = _i4(out, "vsum").toPandas()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        pdf,
        "url string, n_buckets bigint, n_points bigint, "
        "first_bucket bigint, last_bucket bigint, vsum bigint",
    )


def q_expanding_apply(spark, sf_dir):
    """augment_expanding_apply with SQL-expressible lambdas (unbounded-
    preceding mirror of rolling_apply; min_periods=3)."""
    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    out = tk.augment_expanding_apply(
        ev, "ts",
        window_func=[("vsum", lambda d: d["value"].sum())],
        min_periods=3,
        group_cols=["user_id"],
    )
    # integer-stable sum canon — see q_rolling_apply
    return out.select(
        "user_id",
        F.col("ts").cast("long").alias("ts"),
        F.round("value", 6).alias("value"),
        F.floor(F.col("expanding_vsum") * 100 + F.lit(0.5)).cast("long")
        .alias("expanding_vsum"),
    )


def q_binarize(spark, sf_dir):
    """binarize (operators/binarize.py — correlation-funnel one-hot) over
    the categorical / boolean / low-cardinality-numeric paths: exact level
    frequencies from the single melt job decide categorical treatment, and
    the one-hot projection is pure Catalyst. The quantile-binned numeric
    path stays pytest-covered (reference-kernel differential) because a
    static SQL oracle can't replicate Spark's GK sketch tie-breaks."""
    from pytimetk_spark.operators.binarize import binarize

    ev = _events(spark, sf_dir).select(
        "event_type",
        (F.col("user_id") % 3).cast("int").alias("u3"),
        (F.col("value") > 50.0).alias("highval"),
    )
    return binarize(ev, n_bins=4, thresh_infreq=0.01)


def q_streaming_ewm(spark, sf_dir):
    """Stateful streaming running EWM (streaming/stateful.py:
    streaming_running_ewm, applyInPandasWithState) run availableNow over
    the events table and VALUE-checked against the same scale-safe
    closed-form adjusted-EWM oracle used for augment_ewm — per-row state
    folding must reproduce pandas ewm(adjust=True) exactly when the
    stream arrives in order."""
    import os
    import shutil
    import tempfile

    from pytimetk_spark.streaming.stateful import streaming_running_ewm

    _prep(spark)
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src_dir = tempfile.mkdtemp(prefix="stream_ewm_src_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        f"{src_dir}/events.parquet",
    )
    stream = spark.readStream.schema(batch_schema).parquet(src_dir).select(
        F.col("user_id"), F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    ewm = streaming_running_ewm(
        stream, url_col="user_id", ts_col="ts", value_col="value", alpha=0.2
    )
    work = tempfile.mkdtemp(prefix="stream_ewm_out_")
    try:
        qh = (
            ewm.writeStream.format("parquet")
            .option("path", f"{work}/out")
            .option("checkpointLocation", f"{work}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        qh.awaitTermination(300)
        out = spark.read.parquet(f"{work}/out").select(
            F.col("url").alias("user_id"),
            F.col("ts").cast("long").alias("ts"),
            F.round("value", 6).alias("value"),
            F.floor(F.col("ewm") * 10000 + F.lit(0.5)).cast("long")
            .alias("ewm"),
        )
        pdf = out.toPandas()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(src_dir, ignore_errors=True)
    return spark.createDataFrame(
        pdf, "user_id bigint, ts bigint, value double, ewm bigint"
    )


def q_ts_features_models(spark, sf_dir):
    """Model-fit ts_features (holt/hw SSE-fit smoothing parameters via
    the in-repo Nelder-Mead, AR-prewhitened ARCH/GARCH heterogeneity,
    unit-root p-values). The optimizers are non-SQL-expressible, so —
    like q_ts_features_ets — the oracle pins the deterministic 0/1
    invariants any correct fit satisfies EXACTLY (hash-checkable):
    holt/hw parameters admissible (0<α,β<1; 0<γ≤1−α), the KPSS p-value
    inside its interpolation-table clamp [0.01, 0.10], the PP tau
    p-value inside the open unit interval (probit-space interpolation
    through a normal CDF), ARCH/GARCH heterogeneity stats finite and
    in-range when emitted (acf sums-of-squares >= 0, LM R^2 in [0,1]),
    plus the real per-group day count. The raw numerics stay pinned by
    tests/test_diagnostics_transforms.py (planted-regime goldens +
    statsmodels differential when installed)."""
    from pytimetk_spark import ts_features

    ev = _events(spark, sf_dir)
    daily = tk.summarize_by_time(
        ev, "ts", "value", group_cols=["event_type"], freq="D", agg_func="count"
    )
    out = ts_features(daily, "ts", "value", group_cols=["event_type"], period=7)
    n_days = daily.groupBy("event_type").agg(F.count("*").alias("n_days"))

    def flag(cond):
        return F.when(cond, F.lit(1)).otherwise(F.lit(0)).cast("long")

    a, b = F.col("holt_alpha"), F.col("holt_beta")
    ha, hb, hg = F.col("hw_alpha"), F.col("hw_beta"), F.col("hw_gamma")
    kp, pp = F.col("unitroot_kpss_pvalue"), F.col("unitroot_pp_pvalue")
    aacf, ar2 = F.col("arch_acf"), F.col("arch_r2")
    gacf, gr2 = F.col("garch_acf"), F.col("garch_r2")
    checks = out.select(
        "event_type",
        flag((a > 0) & (a < 1) & (b > 0) & (b < 1)).alias("holt_admissible"),
        flag((ha > 0) & (ha < 1) & (hb > 0) & (hb < 1)
             & (hg > 0) & (hg <= 1 - ha + 1e-12)).alias("hw_admissible"),
        flag((kp >= 0.01) & (kp <= 0.10)).alias("kpss_p_in_table"),
        flag((pp > 0) & (pp < 1)).alias("pp_p_in_unit"),
        flag((aacf >= 0) & (ar2 >= 0) & (ar2 <= 1)).alias("arch_in_range"),
        flag(gacf.isNull()
             | ((gacf >= 0) & (gr2 >= 0) & (gr2 <= 1))).alias("garch_ok"),
    )
    return checks.join(n_days, "event_type").select(
        "event_type", "n_days", "holt_admissible", "hw_admissible",
        "kpss_p_in_table", "pp_p_in_unit", "arch_in_range", "garch_ok",
    )


def q_ts_features_ets(spark, sf_dir):
    """ets(A,A,N)/(A,A,A) MLE fits (new r5: concentrated Gaussian
    likelihood, initial states profiled out by exact OLS). The optimizer
    itself is non-SQL-expressible, so the oracle pins invariants that any
    correct MLE fit must satisfy exactly — series length, admissible
    parameters (0<α,β*<1; 0<γ≤1−α), and that the optimum is no worse than
    the simplex's own start point (a real optimization guarantee) —
    hash-checkable because they are deterministic 0/1 outcomes."""
    from pytimetk_spark.operators.diagnostics import (
        _ets_profile_sse,
        _fit_holt,
        _fit_hw,
    )

    ev = _events(spark, sf_dir)
    daily = tk.summarize_by_time(
        ev, "ts", "value", group_cols=["event_type"], freq="D",
        agg_func="count",
    )

    def fit(pdf):
        drop_spark_zip_finders()
        import pandas as pd

        pdf = pdf.sort_values("ts")
        x = pdf["value"].to_numpy(dtype=float)
        a, b = _fit_holt(x)
        ha, hb, hg = _fit_hw(x, 7)
        holt_ok = int(0.0 < a < 1.0 and 0.0 < b < 1.0)
        hw_ok = int(0.0 < ha < 1.0 and 0.0 < hb < 1.0
                    and 0.0 < hg <= (1.0 - ha) + 1e-12)
        improves = int(
            _ets_profile_sse(x, a, b, None, 0)
            <= _ets_profile_sse(x, 0.3, 0.1, None, 0) + 1e-9
        )
        return pd.DataFrame({
            "event_type": [pdf["event_type"].iloc[0]],
            "n_days": [len(x)],
            "holt_admissible": [holt_ok],
            "hw_admissible": [hw_ok],
            "mle_not_worse_than_start": [improves],
        })

    return daily.groupBy("event_type").applyInPandas(
        fit,
        schema="event_type string, n_days bigint, holt_admissible bigint, "
               "hw_admissible bigint, mle_not_worse_than_start bigint",
    )


def q_hll_distinct_tier(spark, sf_dir):
    """HLL distinct-count rollup tiers (rollup/sketch.py:214,241,259 —
    native Spark Datasketches, pure Catalyst): hourly sketches of
    distinct user_ids per event_type MERGE into daily sketches with
    union semantics. The sketch estimate is probabilistic but its
    DETERMINISTIC contract is the error bound: per (event_type, day),
    |estimate - exact| / exact <= 0.05 (lg_k=12 ~ 1.6% stderr; these
    cardinalities sit in the sketch's exact sparse mode). The exact
    distinct count itself is emitted alongside and hash-checked against
    DuckDB's count(DISTINCT ...) — real data, not just the flag."""
    from pytimetk_spark.rollup.sketch import (
        distinct_estimates,
        rollup_distinct_tier,
        rollup_distinct_tier_to_tier,
    )

    ev = _events(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    t1h = rollup_distinct_tier(ev, "event_type", "ts", "user_id", freq="h")
    t1d = rollup_distinct_tier_to_tier(t1h, "d")
    est = distinct_estimates(t1d).select(
        F.col("url").alias("event_type"),
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("n_distinct").alias("__est__"),
    )
    exact = (
        ev.groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("long").alias("bucket_ts"),
        )
        .agg(F.count_distinct("user_id").alias("n_exact"))
    )
    return est.join(exact, ["event_type", "bucket_ts"]).select(
        "event_type", "bucket_ts", "cnt",
        F.col("n_exact").cast("long").alias("n_exact"),
        F.when(
            F.abs(F.col("__est__") - F.col("n_exact"))
            / F.col("n_exact") <= 0.05, F.lit(1)
        ).otherwise(F.lit(0)).cast("long").alias("hll_within_5pct"),
    )


def q_tdigest_tier(spark, sf_dir):
    """t-digest percentile rollup tiers (rollup/sketch.py:110,152,186):
    hourly digests of event values per event_type MERGE into monthly
    digests without touching raw rows, then p50/p90/p99 are read off
    each digest. t-digest guarantees RANK accuracy, so the pinned
    invariant is the rank error of each estimate against the group's
    raw values: |frac(value <= p_q) - q| <= max(0.05, 2/n) — a bound a
    correct k1-scale digest at delta=100 satisfies deterministically
    (inputs are pre-sorted, merging is order-stable). The per-bucket
    row count rides along hash-checked as real data."""
    from pytimetk_spark.rollup.sketch import (
        rollup_sketch_tier,
        rollup_sketch_tier_to_tier,
        sketch_quantiles,
    )

    ev = _events(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    t1h = rollup_sketch_tier(ev, "event_type", "ts", "value", freq="h")
    t1m = rollup_sketch_tier_to_tier(t1h, "MS")
    est = sketch_quantiles(t1m, (0.5, 0.9, 0.99)).select(
        F.col("url").alias("event_type"),
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("cnt").cast("long").alias("cnt"),
        "p50", "p90", "p99",
    )
    raw = ev.select(
        "event_type",
        F.date_trunc("month", F.col("ts")).cast("long").alias("bucket_ts"),
        "value",
    )
    j = raw.join(F.broadcast(est), ["event_type", "bucket_ts"])

    def rank_ok(pcol, q):
        frac = F.avg(
            F.when(F.col("value") <= F.col(pcol), 1.0).otherwise(0.0)
        )
        tol = F.greatest(F.lit(0.05), 2.0 / F.count("value"))
        return (
            F.when(F.abs(frac - F.lit(q)) <= tol, F.lit(1))
            .otherwise(F.lit(0)).cast("long").alias(f"{pcol}_rank_ok")
        )

    return (
        j.groupBy("event_type", "bucket_ts")
        .agg(
            F.first("cnt").alias("cnt"),
            rank_ok("p50", 0.5),
            rank_ok("p90", 0.9),
            rank_ok("p99", 0.99),
        )
        .select("event_type", "bucket_ts", "cnt",
                "p50_rank_ok", "p90_rank_ok", "p99_rank_ok")
    )


def q_url_features_psl(spark, sf_dir):
    """PSL-backed url_features (webtext/textstats.py:url_features +
    sources/psl.py): deterministic URLs synthesized from doc_id span all
    rule classes — plain gTLD, co.uk-style second-level registry,
    com.au, the *.ck wildcard, the !www.ck exception, and an unknown
    TLD (the PSL default rule). The oracle derives every expected
    host/registrable-domain/public-suffix/path/scheme value by hand
    from the same doc_id arithmetic — a full independent re-derivation,
    not a constant row. Plan: one projection + 4 broadcast hash joins
    (no shuffle; tests/test_webtext.py pins SortMergeJoin absence)."""
    from pytimetk_spark.sources.psl import psl_rules
    from pytimetk_spark.webtext.textstats import url_features

    docs = _prep(spark).read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    m = F.pmod(d, F.lit(6))
    url = (
        F.when(m == 0, F.concat(F.lit("https://www.example"), d,
                                F.lit(".com/a/b")))
        .when(m == 1, F.concat(F.lit("http://shop"), d,
                               F.lit(".books.co.uk/x?q=1")))
        .when(m == 2, F.concat(F.lit("https://node"), d,
                               F.lit(".gov.com.au/")))
        .when(m == 3, F.concat(F.lit("http://x"), d, F.lit(".foo.bar.ck/p")))
        .when(m == 4, F.concat(F.lit("https://deep"), d, F.lit(".www.ck/")))
        .otherwise(F.concat(F.lit("http://host"), d,
                            F.lit(".example.unknowntld/a/b/c")))
    )
    out = url_features(
        docs.select("doc_id", url.alias("url")), "url",
        psl_rules=psl_rules(spark),
    )
    return out.select(
        "doc_id", "url_host", "url_domain", "url_public_suffix", "url_tld",
        F.col("url_path_depth").cast("long").alias("url_path_depth"),
        "url_is_https", "url_has_query",
    )


def q_ngram_lm(spark, sf_dir):
    """Stupid-Backoff trigram LM (webtext/lm.py; Brants et al. 2007 /
    CCNet-style perplexity gate): fit on the even-doc_id half of the
    corpus (min_count=2 pruning), score every document. Evidence columns
    are exact integers — tokens resolved at each backoff order m=3/2/1
    and unseen — plus the floor(x*100+0.5) canon of the summed log10
    score, so the full count/backoff/pruning logic is hash-checked while
    float ulp noise stays below the canon granularity."""
    from pytimetk_spark.webtext.lm import fit_ngram_lm, score_perplexity

    docs = _prep(spark).read.parquet(f"{sf_dir}/documents.parquet")
    train = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    model = fit_ngram_lm(train, n=3, min_count=2)
    out = score_perplexity(
        docs, model, n=3, alpha=0.4, with_order_stats=True
    )
    return out.select(
        "doc_id",
        F.col("n_scored").cast("long").alias("n_scored"),
        F.col("n_m3").cast("long").alias("n_m3"),
        F.col("n_m2").cast("long").alias("n_m2"),
        F.col("n_m1").cast("long").alias("n_m1"),
        F.col("n_unk").cast("long").alias("n_unk"),
        F.floor(-F.col("log10_score_sum") * 100 + F.lit(0.5))
        .cast("long").alias("neg_lp_c"),
    )


def q_dsir_select(spark, sf_dir):
    """DSIR Gumbel-top-k importance resampling (webtext/sampling.py;
    Xie et al. 2023): target = every 10th doc, raw = full corpus, hashed
    uni+bigram features in 4096 buckets, add-1 smoothing, seed-3 Gumbel
    noise. Every quantity derives from exact counts and the cross-engine
    md5 uniform, so the oracle re-runs the whole pipeline in SQL; the
    score ships as its floor(x*100+0.5) canon."""
    from pytimetk_spark.webtext.sampling import dsir_select

    docs = _prep(spark).read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    sel = dsir_select(
        docs, target, k=50, n_buckets=4096, smoothing=1.0, seed=3
    )
    return sel.select(
        "doc_id",
        F.col("n_feat").cast("long").alias("n_feat"),
        F.floor(F.col("score") * 100 + F.lit(0.5)).cast("long")
        .alias("score_c"),
    )


def q_temperature_sample(spark, sf_dir):
    """Temperature alpha=0.5 mixture sampling (webtext/sampling.py;
    XLM/mT5-style): per-lang rates q_d/p_d realized as deterministic
    md5-uniform copy counts, repeats exploded with copy_idx. Output is
    all-integer/string — the full sampling decision is hash-checked."""
    from pytimetk_spark.webtext.sampling import temperature_sample

    docs = _prep(spark).read.parquet(f"{sf_dir}/documents.parquet")
    out = temperature_sample(
        docs, domain_col="lang", alpha=0.5, target_frac=1.0, seed=1
    )
    return out.select(
        "doc_id",
        "lang",
        F.col("n_copies").cast("long").alias("n_copies"),
        F.col("copy_idx").cast("long").alias("copy_idx"),
    )


def q_dedup_paragraphs(spark, sf_dir):
    """RefinedWeb/MassiveText repeated-paragraph removal
    (webtext/dedup.py:dedup_paragraphs): every document is wrapped with
    a shared synthetic header/footer line, so those lines (and any
    corpus-repeated document body) must be dropped while unique bodies
    survive; rebuilt text ships as its md5 so the full reassembly is
    hash-checked without moving megabytes through the driver compare."""
    from pytimetk_spark.webtext.dedup import dedup_paragraphs

    docs = _prep(spark).read.parquet(f"{sf_dir}/documents.parquet")
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.lit("SHARED HEADER\n"), F.col("text"), F.lit("\nCC BY")
        ).alias("text"),
    )
    out = dedup_paragraphs(wrapped)
    return out.select(
        "doc_id",
        F.col("n_paras").cast("long").alias("n_paras"),
        F.col("n_paras_dropped").cast("long").alias("n_paras_dropped"),
        F.md5(F.col("text")).alias("text_md5"),
    )


def q_apply_by_time(spark, sf_dir):
    """Arbitrary named-lambda downsampling (the Arrow grouped-map escape
    hatch) — lambdas here are SQL-expressible on purpose so the whole path
    (bucketing, per-bucket sub-frames, naming, fillna) is oracle-checked."""
    ev = _events(spark, sf_dir).select("event_type", "ts", "value")
    out = tk.apply_by_time(
        ev, "ts", freq="D", group_cols=["event_type"],
        value_sum=lambda d: d["value"].sum(),
        value_range=lambda d: d["value"].max() - d["value"].min(),
    )
    out = _i4(out, "value_sum")
    return _r6(out, "value_range")


def q_frequency_summary(spark, sf_dir):
    """Per-user median sampling interval + the reference's scale/unit
    classification (incl. the M/Q/Y fractional-remainder → days switch) —
    fully replicated in SQL."""
    ev = _events(spark, sf_dir)
    out = tk.get_frequency_summary(ev, "ts", group_cols=["user_id"])
    return _r6(out, "freq_median_seconds", "freq_median_scale")


def q_frequency_grouped(spark, sf_dir):
    """Grouped get_frequency → DISTRIBUTED (user_id, freq_alias) frame
    (new r5: native alias expression, no per-group driver collect —
    VERDICT r4 #4). Oracle replicates median-diff → unit/scale → alias
    string including the M/Q/Y Start suffix."""
    ev = _events(spark, sf_dir)
    return tk.get_frequency(ev, "ts", group_cols=["user_id"])


def q_ivf_ann(spark, sf_dir):
    """IVF (KMeans-cell) ANN. The cell assignment isn't SQL-expressible,
    so the oracle pins plumbing invariants that must hold for any correct
    IVF search with the query in the corpus: exactly k results per query,
    and the query itself at rank 1 with cosine 1 (its own cell is always
    the nearest centroid, hence always probed). Recall-vs-exact quality is
    pytest-verified."""
    from pytimetk_spark.webtext.similarity import ivf_ann

    emb = _prep(spark).read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_ann(emb, queries, k=5, n_cells=8, n_probe=2, seed=42)
    return out.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_results"),
        F.max(
            F.when(
                (F.col("rank") == 1)
                & (F.col("vec_id") == F.col("query_id"))
                & (F.round("cosine", 4) == 1.0),
                1,
            ).otherwise(0)
        ).alias("self_rank1"),
    )


def q_regime_detection(spark, sf_dir):
    """HMM internals aren't SQL-expressible, so the oracle pins the
    PLUMBING invariants exactly: row counts, the reference's stride-loop
    label coverage ((floor((n-w)/step)+1)*step positions labeled when the
    series is fully finite), and label validity (0..n_regimes-1). Label
    quality is pinned by the pytest differential + planted-regime test.

    The input is the strictly-positive tame close (events.value hits 0.0
    at sf0.1; a zero close makes one log return non-finite, the stride
    loop skips that position, and the closed-form label count breaks) —
    the engine path is identical, the invariant holds at every SF."""
    ev = _events(spark, sf_dir).select(
        "event_type", "ts",
        (F.lit(100.0) + F.col("value") / 10).alias("value"),
    )
    out = tk.augment_regime_detection(
        ev, "ts", "value", window=60, n_regimes=2, step_size=20,
        group_cols=["event_type"],
    )
    lab = F.col("value_regime_60")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(lab).alias("n_labeled"),
        F.sum(
            F.when(lab.isNotNull() & ~lab.isin(0.0, 1.0), 1).otherwise(0)
        ).alias("n_invalid_labels"),
    )


def q_pct_change(spark, sf_dir):
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = tk.augment_pct_change(
        ev, "ts", "value", periods=[1, 7], group_cols=["user_id"]
    )
    return _r6(out, "value", "value_pctdiff_1", "value_pctdiff_7")


def q_rsi(spark, sf_dir):
    """SMA-gain/SMA-loss RSI is pure window SQL, including the reference's
    zero-loss → 100.0 quirk (both sides replicate finance/rsi.py:381-396)."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = tk.augment_rsi(ev, "ts", "value", periods=14, group_cols=["user_id"])
    return _r6(out, "value", "value_rsi_14")


def q_macd(spark, sf_dir):
    """Engine runs the pandas EMA(adjust=False) recurrence; the oracle uses
    the scale-safe closed form (all power() exponents are ≥ 0):
    y_t = α·Σ_{b>0}(1−α)^{t-b}·x_b + (1−α)^t·x_0, applied twice (the signal
    line is an EMA OVER the macd line, so the oracle self-joins twice)."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = tk.augment_macd(
        ev, "ts", "value", fast_period=12, slow_period=26, signal_period=9,
        group_cols=["user_id"],
    )
    out = _r6(out, "value")
    return _i4(
        out, "value_macd_line_12_26_9", "value_macd_signal_line_12_26_9",
        "value_macd_histogram_12_26_9",
    )


def q_ewma_vol(spark, sf_dir):
    """EWM(α=1−λ, adjust=True, min_periods=w) of squared log returns; the
    oracle is the normalized-weights closed form over non-null returns
    (ignore_na=False ⇒ weights decay by ABSOLUTE position: (1−α)^{t-b})."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = tk.augment_ewma_volatility(
        ev, "ts", "value", windows=10, decay_factor=0.94, group_cols=["user_id"]
    )
    out = _r6(out, "value")
    return _i4(out, "value_ewma_vol_10_0.94", scale=640000)


def q_correlate_pearson(spark, sf_dir):
    """correlate() collects one aggregate row (reference returns an
    in-memory funnel frame); re-lifted to a DataFrame for the contract."""
    li = _lineitem(spark, sf_dir).select(
        "l_quantity", "l_discount", "l_tax", "l_extendedprice"
    )
    pdf = tk.correlate(li, "l_extendedprice", method="pearson")
    sdf = _prep(spark).createDataFrame(pdf[["feature", "correlation"]])
    return _i4(sdf, "correlation", scale=640000)


def q_correlate_spearman(spark, sf_dir):
    """Single-pass spearman (sketch-bucketed exact average ranks) vs the
    oracle's direct avg-rank windows — both are EXACT tie-average ranks."""
    li = _lineitem(spark, sf_dir).select(
        "l_quantity", "l_discount", "l_tax", "l_extendedprice"
    )
    pdf = tk.correlate(li, "l_extendedprice", method="spearman")
    sdf = _prep(spark).createDataFrame(pdf[["feature", "correlation"]])
    return _i4(sdf, "correlation", scale=640000)


def q_correlate_kendall(spark, sf_dir):
    """Exact tau-b from per-column contingency tables (one melt +
    driver-side closed form); oracle rebuilds C/D/tie counts from the same
    contingency cells in SQL. Low-cardinality columns (7-50 distinct) keep
    both sides' cell-pair work trivial."""
    li = _lineitem(spark, sf_dir).select(
        "l_quantity", "l_tax", "l_linenumber", "l_discount"
    )
    pdf = tk.correlate(li, "l_discount", method="kendall")
    sdf = _prep(spark).createDataFrame(pdf[["feature", "correlation"]])
    return _i4(sdf, "correlation", scale=640000)


def q_datetime_rounding(spark, sf_dir):
    """floor_date / ceil_date / week_of_month scalar surface
    (functions/datetime.py:264,279,323 — reference
    datetime_helpers.py:336-465,489-547,721-733)."""
    from pytimetk_spark.functions.datetime import (
        ceil_date,
        floor_date,
        week_of_month,
    )

    ev = _events(spark, sf_dir).select("event_id", "ts")
    ts = F.col("ts").cast("timestamp")
    return ev.select(
        "event_id",
        "ts",
        floor_date(ts, "15min").alias("floor_15min"),
        ceil_date(ts, "h").alias("ceil_hour"),
        floor_date(ts, "W").alias("floor_week"),
        floor_date(ts, "M").alias("floor_month"),
        floor_date(ts, "Q").alias("floor_quarter"),
        ceil_date(ts, "M").alias("ceil_month"),
        week_of_month(ts).alias("wom"),
    )


def q_asof_join_backward(spark, sf_dir):
    """Union-align as-of join (operators/asof_join.py) vs DuckDB's NATIVE
    ASOF JOIN — each left event picks the most recent hourly rollup row at
    or before its timestamp, per user."""
    from pytimetk_spark.operators.asof_join import asof_join

    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("rts"))
        .agg(
            F.sum("value").alias("hsum"),
            F.count(F.lit(1)).cast("long").alias("hn"),
        )
    )
    out = asof_join(ev, hourly, "ts", right_on="rts", by=["user_id"])
    out = out.select("user_id", "ts", "value", "hsum", "hn")
    return _r6(out, "value", "hsum")


def q_asof_join_forward(spark, sf_dir):
    """Forward as-of (next hourly rollup at or after each event) — DuckDB
    native ASOF with the <= inequality."""
    from pytimetk_spark.operators.asof_join import asof_join

    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("rts"))
        .agg(
            F.sum("value").alias("hsum"),
            F.count(F.lit(1)).cast("long").alias("hn"),
        )
    )
    out = asof_join(ev, hourly, "ts", right_on="rts", by=["user_id"],
                    direction="forward")
    out = out.select("user_id", "ts", "value", "hsum", "hn")
    return _r6(out, "value", "hsum")


def q_asof_join_nearest(spark, sf_dir):
    """Nearest as-of with a 30-minute tolerance (ties -> backward, as
    pd.merge_asof) — oracle composes DuckDB's backward + forward ASOF
    joins and picks the closer side with the same tie rule; out-of-
    tolerance matches null out, the left row survives."""
    from pytimetk_spark.operators.asof_join import asof_join

    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("rts"))
        .agg(
            F.sum("value").alias("hsum"),
            F.count(F.lit(1)).cast("long").alias("hn"),
        )
    )
    out = asof_join(ev, hourly, "ts", right_on="rts", by=["user_id"],
                    direction="nearest", tolerance=1800.0)
    out = out.select("user_id", "ts", "value", "hsum", "hn")
    return _r6(out, "value", "hsum")


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min) + per-session stats; oracle is the
    classic SQL gaps-and-islands construction."""
    from pytimetk_spark.operators.asof_join import sessionize

    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    out = sessionize(ev, "ts", gap=1800.0, group_cols=["user_id"])
    # session_start/end as epoch-second BIGINTs: Spark's timestamp->long cast
    # is floorDiv(micros, 1e6), matched exactly by DuckDB epoch_us(ts)//1e6 —
    # integer-valued comparison columns so the driver value-hash can't flake
    # on timestamp canonicalization (same fix as augment_expanding, efc3b80).
    return (
        out.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").cast("long").alias("session_start"),
            F.max("ts").cast("long").alias("session_end"),
        )
        .withColumn(
            "duration_sec",
            (F.col("session_end") - F.col("session_start")).cast("long"),
        )
    )


def _tame_close(spark, sf_dir):
    """close = 100 + value/10 — strictly positive (events.value hits 0.0 at
    sf0.1) with returns bounded ~±0.5 so the oracle's raw-moment skew/kurt
    identities stay numerically clean. Both engines compute the identical
    IEEE doubles from the same parquet input."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    return ev.withColumn("close", F.lit(100.0) + F.col("value") / 10)


def q_risk_metrics(spark, sf_dir):
    """Rolling sharpe/sortino/vol/omega/skew/kurt — all native window
    expressions; the oracle reproduces Spark's POPULATION skew/kurt (g1,
    excess g2) from raw moments because DuckDB's skewness/kurtosis are
    sample-bias-corrected."""
    out = tk.augment_rolling_risk_metrics(
        _tame_close(spark, sf_dir), "ts", "close", windows=20,
        group_cols=["user_id"],
    )
    out = out.select(
        "user_id", "ts", "close", "close_sharpe_ratio_20",
        "close_sortino_ratio_20", "close_volatility_annualized_20",
        "close_omega_ratio_20", "close_skewness_20", "close_kurtosis_20",
    )
    out = _r6(out, "close")
    return _i4(
        out, "close_sharpe_ratio_20", "close_sortino_ratio_20",
        "close_volatility_annualized_20", "close_omega_ratio_20",
        "close_skewness_20", "close_kurtosis_20", scale=640000,
    )


def q_fip_momentum(spark, sf_dir):
    """FIP momentum: the oracle telescopes the rolling return product —
    Π(1+r_j) over the window == close_i / close_{i-w} exactly."""
    out = tk.augment_fip_momentum(
        _tame_close(spark, sf_dir), "ts", "close", windows=20,
        group_cols=["user_id"],
    )
    out = out.select("user_id", "ts", "close", "close_fip_momentum_20")
    out = _r6(out, "close")
    return _i4(out, "close_fip_momentum_20", scale=640000)


def q_qsmomentum(spark, sf_dir):
    """QS momentum (small periods — events series are ≤~90 rows/user at
    sf0.01): rolling-window positions map to plain lags in SQL."""
    out = tk.augment_qsmomentum(
        _tame_close(spark, sf_dir), "ts", "close", roc_fast_period=5,
        roc_slow_period=21, returns_period=10, group_cols=["user_id"],
    )
    out = out.select("user_id", "ts", "close", "close_qsmom_5_21_10")
    out = _r6(out, "close")
    return _i4(out, "close_qsmom_5_21_10", scale=640000)


def q_ppo(spark, sf_dir):
    """PPO line via the same closed-form EMA self-join oracle as MACD."""
    out = tk.augment_ppo(
        _tame_close(spark, sf_dir), "ts", "close", fast_period=12,
        slow_period=26, group_cols=["user_id"],
    )
    out = out.select("user_id", "ts", "close", "close_ppo_line_12_26")
    out = _r6(out, "close")
    return _i4(out, "close_ppo_line_12_26", scale=10000)


def q_seasonal_trend_frequency(spark, sf_dir):
    """get_seasonal_frequency / get_trend_frequency: the per-group median
    step → time-scale-template lookup (frequency.py:409-631). Grouped calls
    return DISTRIBUTED frames as of r5 (no per-group driver collect —
    VERDICT r4 #4); joined Spark-side. Oracle = the frequency_summary unit
    derivation + the same template CASE map."""
    ev = _events(spark, sf_dir)
    s = tk.get_seasonal_frequency(ev, "ts", group_cols=["user_id"])
    t = tk.get_trend_frequency(ev, "ts", group_cols=["user_id"])
    return s.join(t, on="user_id")


def q_hurst(spark, sf_dir):
    """Rolling R/S hurst: the oracle expands each 30-row window via a
    bounded self-join, computes the centered cumulative range per (row,
    window) partition, and applies H = ln(R/S)/ln(w) with the engine's
    validity gates."""
    out = tk.augment_hurst_exponent(
        _tame_close(spark, sf_dir), "ts", "close", windows=30,
        group_cols=["user_id"],
    )
    out = out.select("user_id", "ts", "close", "close_hurst_30")
    out = _r6(out, "close")
    return _i4(out, "close_hurst_30", scale=640000)


def q_adx(spark, sf_dir):
    """ADX/DI: three Wilder EWMs (alpha=1/14, adjust=False) + a fourth
    over the DX series. Oracle = the MACD-style closed-form self-join,
    applied twice: once over (tr, +dm, -dm) which are non-null from t=0,
    once over dx which starts at t=13 (min_periods gates the first 13
    outputs of each smoothed series)."""
    out = tk.augment_adx(
        _ohlc(spark, sf_dir), "ts", "high", "low", "value",
        periods=14, group_cols=["user_id"],
    )
    out = out.select(
        "user_id", "ts", "value", "high", "low",
        "value_plus_di_14", "value_minus_di_14", "value_adx_14",
    )
    out = _r6(out, "value", "high", "low")
    return _i4(out, "value_plus_di_14", "value_minus_di_14", "value_adx_14")


def q_weekend_sequence(spark, sf_dir):
    _prep(spark)
    out = tk.make_weekend_sequence(spark, "2024-01-01", "2024-12-31")
    return out.select(F.col("date").cast("timestamp").alias("date"))


def q_interval_join(spark, sf_dir):
    """Bucketized interval containment join (operators/asof_join.py:
    interval_join — equi-join on a time-bucket grid + exact post-filter,
    never an all-pairs theta join) vs DuckDB's plain BETWEEN join.
    Intervals = the first half-hour of every (user, hour) with ≥2 events
    (≥2 so the join is non-vacuous at sf0.01, where the densest user-hour
    holds 3 events)."""
    from pytimetk_spark.operators.asof_join import interval_join

    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    busy = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select(
            "user_id", "s",
            (F.col("s") + F.expr("interval 30 minute")).alias("e"),
        )
    )
    out = interval_join(ev, busy, "ts", "s", "e", by=["user_id"],
                        bucket_seconds=900.0)
    out = out.groupBy("user_id", "s").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("value").alias("vsum"),
    )
    return _i4(out, "vsum")


def q_cv_folds(spark, sf_dir):
    """TimeSeriesCV backward walk-forward splits as a per-fold summary
    (fold, part, n, lo, hi). The engine materializes folds as pushdown-able
    range filters; here each row is tagged with its (fold, part) via a
    broadcast join against the split bounds, then one groupBy — a single
    distributed pass regardless of fold count. Oracle replicates the
    backward stride arithmetic (crossvalidation.py:75-91) in SQL."""
    from pytimetk_spark.operators.crossvalidation import TimeSeriesCV

    ev = _events(spark, sf_dir).select(F.col("ts").cast("timestamp").alias("ts"))
    # 14d train + 1d gap + 3d horizon, stride 5d: events span ~30 days at
    # every SF, so this yields 3 non-vacuous folds (the previous 30d-train
    # config produced ZERO folds — a green-but-empty contract row)
    cv = TimeSeriesCV(
        frequency="days", train_size=14, forecast_horizon=3, gap=1, stride=5,
        window="rolling",
    )
    row = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    bounds = cv.split_bounds(row["lo"], row["hi"])
    bdf = spark.createDataFrame(
        [
            (i, b[0].to_pydatetime(), b[1].to_pydatetime(),
             b[2].to_pydatetime(), b[3].to_pydatetime())
            for i, b in enumerate(bounds)
        ],
        "fold int, train_lo timestamp, train_hi timestamp, "
        "test_lo timestamp, test_hi timestamp",
    )
    ts = F.col("ts")
    train = ev.join(
        F.broadcast(bdf),
        (ts >= F.col("train_lo")) & (ts < F.col("train_hi")),
    ).select("fold", F.lit("train").alias("part"), "ts")
    test = ev.join(
        F.broadcast(bdf),
        (ts > F.col("test_lo")) & (ts <= F.col("test_hi")),
    ).select("fold", F.lit("test").alias("part"), "ts")
    return (
        train.unionByName(test)
        .groupBy("fold", "part")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # epoch-second bigints (floorDiv micros) — driver-hash-stable
            F.min("ts").cast("long").alias("lo"),
            F.max("ts").cast("long").alias("hi"),
        )
    )


def q_weekday_sequence(spark, sf_dir):
    _prep(spark)
    out = tk.make_weekday_sequence(spark, "2024-01-01", "2024-12-31")
    # DATE → TIMESTAMP for the compare layer (pandas DATE arrives as
    # object dtype; midnight timestamps hash identically on both sides)
    return out.select(F.col("date").cast("timestamp").alias("date"))


# --- non-SQL-expressible (rows-only check) ---


def q_ewm(spark, sf_dir):
    """The engine runs the pandas EWM recurrence (Arrow grouped-map); the
    oracle is the closed form y_t = Σ(1-α)^i·x_{t-i} / Σ(1-α)^i. Measured
    |recurrence − closed form| ≤ 1.2e-13 on this data, so 4-dp rounding is
    bit-stable on both sides."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = tk.augment_ewm(
        ev, "ts", "value", window_func="mean", alpha=0.2, group_cols=["user_id"]
    )
    out = _r6(out, "value")
    return _i4(out, "value_ewm_mean_alpha_0.2")


def q_anomalize(spark, sf_dir):
    """Explicit period/trend (the auto-inference path is pytest-covered) so
    the whole twitter decomposition — centered MA + OLS edge extrapolation,
    per-position seasonal means, span medians, IQR flags, min_max clean —
    is replicated in the DuckDB oracle. 4-dp rounding absorbs the
    np.polyfit-vs-regr_slope last-bit noise."""
    ev = _events(spark, sf_dir)
    daily = tk.summarize_by_time(
        ev, "ts", "value", group_cols=["event_type"], freq="D", agg_func="count"
    )
    out = tk.anomalize(
        daily, "ts", "value", group_cols=["event_type"], method="twitter",
        period=7, trend=14,
    )
    return _i4(
        out, "observed", "seasonal", "seasadj", "trend", "remainder",
        "anomaly_score", "recomposed_l1", "recomposed_l2", "observed_clean",
        scale=640000,
    )


def q_gorilla_roundtrip(spark, sf_dir):
    """Encode the 1h tier to Gorilla blocks and decode back. The codec is
    bit-exact, so decode(encode(tier)) must equal the tier itself — the
    oracle is therefore the plain raw-aggregation SQL (full rows + schema +
    hash check of the whole compression round trip)."""
    from pytimetk_spark.rollup.tiers import decode_tier_blocks, encode_tier_blocks

    ev = _events(spark, sf_dir)
    tier = rollup_raw_to_tier(ev, "event_type", "ts", "value", "h")
    stats = ["cnt", "vsum", "vmin", "vmax"]
    out = decode_tier_blocks(encode_tier_blocks(tier, stats), stats)
    out = out.withColumn("cnt", F.col("cnt").cast("long"))
    return _r6(out, "vsum", "vmin", "vmax")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ROTATION POLICY (standing, per VERDICT r4 #3/#9): the driver evaluates
    # only the FIRST 50 dict entries, so dict order is the evidence roster.
    #   1. Rows with NO green driver evidence ever (new rows, no_oracle
    #      rows) occupy the front of the window until they earn one.
    #   2. Any row that has EVER gone red in a driver run stays pinned
    #      inside the window for TWO consecutive green driver rounds
    #      before it may cycle out.
    #   3. Long-stable rows (green in the latest driver round and at least
    #      one earlier round) cycle to the tail to make room; they remain in
    #      the contract and in the local mirror (tools/check_contract.py runs
    #      ALL rows every round regardless of position).
    # Round-6 window (VERDICT r5 #2): 3 new r6 rows + ts_features_models
    # (r5 no_oracle, now invariant-pinned) + 4 r5-tail rows enter under
    # rule 1; sessionize stays pinned (rule 2: r5 was its FIRST green);
    # the 8 rows whose only green is r5 stay (rule 3 needs two greens);
    # the 25 rows cycled out in r5 rotate back so no row's evidence ages
    # past r4; 8 headline keepers retained; the 32 rows green in r5 AND
    # an earlier round cycle to the tail.
    return {
        # -- never driver-run: new in r6 (7) --
        "ngram_lm": q_ngram_lm,
        "dsir_select": q_dsir_select,
        "temperature_sample": q_temperature_sample,
        "dedup_paragraphs": q_dedup_paragraphs,
        "hll_distinct_tier": q_hll_distinct_tier,
        "tdigest_tier": q_tdigest_tier,
        "url_features_psl": q_url_features_psl,
        # -- driver-run r5 but no_oracle; invariant oracle added r6 --
        "ts_features_models": q_ts_features_models,
        # -- new in r5, tail then; first driver run now (rule 1) --
        "repetition_signals": q_repetition_signals,
        "cleaning_stats": q_cleaning_stats,
        "decontaminate": q_decontaminate,
        "near_dup_clusters": q_near_dup_clusters,
        # -- ever-red, pinned per rule 2 (first green r5; needs a 2nd) --
        "sessionize": q_sessionize,
        # -- single green (r5 only): stay until a 2nd green round (8) --
        "streaming_tier_1h": q_streaming_tier_1h,
        "streaming_ewm": q_streaming_ewm,
        "binarize_onehot": q_binarize,
        "rolling_apply": q_rolling_apply,
        "expanding_apply": q_expanding_apply,
        "retention_expiry": q_retention,
        "frequency_grouped": q_frequency_grouped,
        "ts_features_ets": q_ts_features_ets,
        # -- r5-cycled-out rows rotate back in (25): last green r4 --
        "fip_momentum": q_fip_momentum,
        "qsmomentum": q_qsmomentum,
        "augment_shift": q_augment_shift,
        "augment_rolling": q_augment_rolling,
        "augment_expanding": q_augment_expanding,
        "finance_drawdown": q_drawdown,
        "finance_bbands": q_bbands,
        "finance_roc": q_roc,
        "finance_atr": q_atr,
        "finance_cmo": q_cmo,
        "finance_stochastic": q_stochastic,
        "finance_rsi": q_rsi,
        "finance_macd": q_macd,
        "finance_ewma_volatility": q_ewma_vol,
        "finance_ppo": q_ppo,
        "finance_adx": q_adx,
        "finance_hurst": q_hurst,
        "augment_pct_change": q_pct_change,
        "correlate_pearson": q_correlate_pearson,
        "correlate_spearman": q_correlate_spearman,
        "correlate_kendall": q_correlate_kendall,
        "datetime_rounding": q_datetime_rounding,
        "weekday_sequence": q_weekday_sequence,
        "weekend_sequence": q_weekend_sequence,
        "augment_fourier": q_fourier,
        # -- headline keepers retained in-window (8) --
        "summarize_by_time_hourly": q_summarize_hourly,
        "rollup_tier_1h": q_rollup_tier_1h,
        "gap_fill_tier_1h": q_gap_fill_tier,
        "asof_join_backward": q_asof_join_backward,
        # ---- driver window cutoff (first 50 entries above) ----
        # -- cycled to the tail under rule 3 (green r5 + earlier) (36) --
        "interval_join": q_interval_join,
        "minhash_dedup": q_minhash_dedup,
        "gorilla_roundtrip": q_gorilla_roundtrip,
        "holiday_signature": q_holiday_signature,
        "quality_score": q_quality_score,
        "simhash": q_simhash,
        "byte_stats_features": q_byte_features,
        "document_fingerprint": q_document_fingerprint,
        "embedding_near_dup_pairs": q_embedding_near_dup,
        "lsh_bucket_ann": q_lsh_ann,
        "ivf_ann": q_ivf_ann,
        "frequency_summary": q_frequency_summary,
        "apply_by_time_lambdas": q_apply_by_time,
        "acf_diagnostics": q_acf_diagnostics,
        "ts_features_subset": q_ts_features,
        "regime_detection": q_regime_detection,
        "augment_ewm": q_ewm,
        "anomalize": q_anomalize,
        "summarize_by_time_daily_lineitem": q_summarize_daily_lineitem,
        "summarize_by_time_month_end": q_summarize_month_end,
        "pad_by_time_hourly": q_pad_by_time,
        "filter_by_time": q_filter_by_time,
        "future_frame_daily": q_future_frame,
        "timeseries_signature": q_timeseries_signature,
        "ts_summary": q_ts_summary,
        "rollup_tier_1d_from_1h": q_rollup_tier_1d,
        "rollup_salted_1h": q_rollup_salted_1h,
        "cv_folds": q_cv_folds,
        "asof_join_forward": q_asof_join_forward,
        "asof_join_nearest": q_asof_join_nearest,
        "risk_metrics": q_risk_metrics,
        "seasonal_trend_frequency": q_seasonal_trend_frequency,
        "dedup_exact": q_dedup_exact,
        "token_stats": q_token_stats,
        "language_scores": q_language_scores,
        "cosine_topk_bruteforce": q_cosine_topk,
    }


def _holiday_oracle_sql() -> str:
    """DuckDB mirror of augment_holiday_signature(country='US'): the same
    deterministic OPM-rule calendar is inlined as VALUES over a superset
    of years (extra years can't change a left join on the data's dates)."""
    from pytimetk_spark.operators.signatures import _us_federal_holidays

    rows = [(d, n) for y in range(2015, 2036) for d, n in _us_federal_holidays(y)]
    vals = ", ".join(
        "(DATE '{}', '{}')".format(d.isoformat(), n.replace("'", "''"))
        for d, n in rows
    )
    return f"""
        WITH dim(holiday_date, holiday_name) AS (VALUES {vals}),
        nextd AS (SELECT DISTINCT holiday_date - 1 AS d FROM dim),
        prevd AS (SELECT DISTINCT holiday_date + 1 AS d FROM dim)
        SELECT e.ts,
               CASE WHEN dm.holiday_name IS NOT NULL THEN 1 ELSE 0 END
                 AS is_holiday,
               CASE WHEN nx.d IS NOT NULL THEN 1 ELSE 0 END AS before_holiday,
               CASE WHEN pv.d IS NOT NULL THEN 1 ELSE 0 END AS after_holiday,
               dm.holiday_name
        FROM events e
        LEFT JOIN dim dm ON dm.holiday_date = CAST(e.ts AS DATE)
        LEFT JOIN nextd nx ON nx.d = CAST(e.ts AS DATE)
        LEFT JOIN prevd pv ON pv.d = CAST(e.ts AS DATE)
    """


def _minhash_oracle_sql() -> str:
    """DuckDB mirror of minhash_dedup(hash_variant="md5") — same shingles,
    same 60-bit md5 base hash, same 64 universal-hash permutations (params
    from the same seeded generator), same 16×4 banding, same max_bucket
    prune, same exact-Jaccard keep-first decision."""
    from pytimetk_spark.webtext.dedup import _perm_params

    params = _perm_params(64, 42)
    sig_exprs = ",\n           ".join(
        f"list_min(list_transform(base, h -> ({a} * h + {b}) % 2147483647))"
        for a, b in params
    )
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                                  'g')), ' ') AS tk
          FROM documents),
        sh AS (
          SELECT doc_id,
                 list_distinct(
                   CASE WHEN len(tk) - 4 > 0
                        THEN list_transform(range(len(tk) - 4),
                               i -> array_to_string(tk[i+1:i+5], ' '))
                        ELSE [array_to_string(tk, ' ')] END) AS shingles
          FROM toks),
        hs AS (
          SELECT doc_id, shingles,
                 list_transform(shingles,
                   s -> ('0x' || substr(md5(s), 1, 15))::BIGINT
                        % 2147483647) AS base
          FROM sh),
        sig AS (
          SELECT doc_id, shingles,
                 [{sig_exprs}] AS signature
          FROM hs),
        bb AS (
          SELECT doc_id, band,
                 ('0x' || substr(md5(band::VARCHAR || ':' ||
                    array_to_string(signature[band*4+1:band*4+4], ',')),
                    1, 15))::BIGINT AS bucket
          FROM sig CROSS JOIN (SELECT unnest(range(16)) AS band)),
        ok AS (SELECT band, bucket FROM bb GROUP BY 1, 2
               HAVING count(*) <= 1000),
        pb AS (SELECT bb.* FROM bb JOIN ok USING (band, bucket)),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM pb a JOIN pb b
                   ON a.band = b.band AND a.bucket = b.bucket
                  AND a.doc_id < b.doc_id),
        ver AS (SELECT c.id_a, c.id_b,
                       len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                       / (len(sa.shingles) + len(sb.shingles)
                          - len(list_intersect(sa.shingles, sb.shingles)))
                         AS jac
                FROM cand c
                JOIN sh sa ON sa.doc_id = c.id_a
                JOIN sh sb ON sb.doc_id = c.id_b),
        losers AS (SELECT DISTINCT id_b AS doc_id FROM ver WHERE jac >= 0.85)
        SELECT d.* FROM documents d
        WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
    """


_RAW_EMB_CTE = """
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE) AS v,
         sqrt(list_reduce(
           list_transform(embedding, y -> y::DOUBLE * y::DOUBLE),
           (acc, w) -> acc + w)) AS nrm
  FROM embeddings
"""

_NORM_EMB_CTE = """
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE /
           sqrt(list_reduce(
             list_transform(embedding, y -> y::DOUBLE * y::DOUBLE),
             (acc, v) -> acc + v))) AS nv
  FROM embeddings
"""


def _plane_lit(plane: list[float]) -> str:
    return "[" + ",".join(repr(x) for x in plane) + "]::DOUBLE[]"


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        " p -> p[1] * p[2]), (acc, v) -> acc + v)"
    )


def _bucket_sql(vcol: str, planes: list[list[float]]) -> str:
    """Sign-bit bucket — mirrors similarity._sign_bucket op-for-op."""
    terms = [
        f"(CASE WHEN {_dot_sql(vcol, _plane_lit(p))} >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")::BIGINT"


def _near_dup_oracle_sql() -> str:
    from pytimetk_spark.webtext.similarity import _hyperplanes

    planes = _hyperplanes(12, 64, 42)
    dot = _dot_sql("a.v", "c.v") + " / (a.nrm * c.nrm)"
    return f"""
        WITH emb2 AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 10),
        e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> x::DOUBLE) AS v,
                 sqrt(list_reduce(
                   list_transform(embedding, y -> y::DOUBLE * y::DOUBLE),
                   (acc, w) -> acc + w)) AS nrm
          FROM emb2),
        b AS (SELECT vec_id, v, nrm, {_bucket_sql("v", planes)} AS bkt
              FROM e)
        SELECT a.vec_id AS id_a, c.vec_id AS id_b,
               round({dot}, 6) AS cosine
        FROM b a JOIN b c ON a.bkt = c.bkt AND a.vec_id < c.vec_id
        WHERE {dot} >= 0.95
    """


def _lsh_ann_oracle_sql() -> str:
    from pytimetk_spark.webtext.similarity import _hyperplanes

    planes = _hyperplanes(10, 64, 42)
    probe_list = ", ".join(
        ["qb"] + [f"xor(qb, {1 << i})" for i in range(10)]
    )
    return f"""
        WITH e AS ({_RAW_EMB_CTE}),
        c AS (SELECT vec_id, v, nrm, {_bucket_sql("v", planes)} AS bkt FROM e),
        q0 AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bkt AS qb
               FROM c WHERE vec_id < 3),
        probes AS (SELECT query_id, qv, qn,
                          unnest([{probe_list}]) AS bkt
                   FROM q0),
        s AS (SELECT p.query_id, c.vec_id,
                     max({_dot_sql("c.v", "p.qv")} / (c.nrm * p.qn))
                       AS cosine
              FROM c JOIN probes p ON c.bkt = p.bkt
              GROUP BY 1, 2),
        r AS (SELECT *, row_number() OVER
                (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
              FROM s)
        SELECT query_id, vec_id, round(cosine, 6) AS cosine, rank
        FROM r WHERE rank <= 5
    """


def _fingerprint_oracle_sql() -> str:
    return """
        WITH toks AS (
          SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                                  'g')), ' ') AS tk
          FROM documents),
        sh AS (
          SELECT doc_id,
                 list_distinct(
                   CASE WHEN len(tk) - 3 > 0
                        THEN list_transform(range(len(tk) - 3),
                               i -> array_to_string(tk[i+1:i+4], ' '))
                        ELSE [array_to_string(tk, ' ')] END) AS shingles
          FROM toks),
        mins AS (
          SELECT doc_id,
                 (list_sort(list_transform(shingles,
                    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)))[1:8]
                   AS minima
          FROM sh),
        fp AS (
          SELECT doc_id, minima,
                 ('0x' || substr(md5(array_to_string(minima, ',')),
                                 1, 15))::BIGINT AS fingerprint64
          FROM mins)
        SELECT doc_id, fingerprint64, i AS rank, minima[i + 1] AS minhash
        FROM fp CROSS JOIN (SELECT unnest(range(8)) AS i)
        WHERE i < len(minima)
    """


def _simhash_oracle_sql(bits: int = 60) -> str:
    bit_sums = ",\n                 ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    fp = " + ".join(
        f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits)
    )
    return f"""
        WITH tk AS (
          SELECT doc_id,
                 unnest(string_split(trim(regexp_replace(lower(text), '\\s+',
                                                         ' ', 'g')), ' '))
                   AS tok
          FROM documents),
        h AS (SELECT doc_id,
                     ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
              FROM tk),
        bs AS (SELECT doc_id,
                 {bit_sums}
               FROM h GROUP BY 1)
        SELECT doc_id, ({fp})::BIGINT AS simhash FROM bs
    """


def oracle_sql() -> dict[str, str]:
    return {
        "minhash_dedup": _minhash_oracle_sql(),
        "simhash": _simhash_oracle_sql(60),
        "document_fingerprint": _fingerprint_oracle_sql(),
        "embedding_near_dup_pairs": _near_dup_oracle_sql(),
        "lsh_bucket_ann": _lsh_ann_oracle_sql(),
        "acf_diagnostics": """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS ts,
                     count(value)::DOUBLE AS v
              FROM events GROUP BY 1, 2),
            b AS (SELECT event_type, ts, v,
                         row_number() OVER (PARTITION BY event_type
                                            ORDER BY ts) AS rn,
                         avg(v) OVER (PARTITION BY event_type) AS mu
                  FROM daily),
            d AS (SELECT event_type, rn, v - mu AS xm FROM b),
            den AS (SELECT event_type, sum(xm * xm) AS den FROM d GROUP BY 1),
            ks AS (SELECT unnest(range(11)) AS lag),
            num AS (SELECT a.event_type, ks.lag, sum(a.xm * c.xm) AS num
                    FROM d a
                    CROSS JOIN ks
                    JOIN d c ON c.event_type = a.event_type
                            AND c.rn = a.rn - ks.lag
                    GROUP BY 1, 2)
            SELECT n.event_type, n.lag::INT AS lag,
                   round(n.num / den.den, 6) AS acf
            FROM num n JOIN den USING (event_type)
        """,
        "ts_features_subset": """
            WITH daily AS (
              SELECT event_type, date_trunc('day', ts) AS ts,
                     count(value)::DOUBLE AS v
              FROM events GROUP BY 1, 2),
            b AS (SELECT event_type, ts, v,
                         row_number() OVER (PARTITION BY event_type
                                            ORDER BY ts) AS rn,
                         avg(v) OVER (PARTITION BY event_type) AS mu,
                         count(*) OVER (PARTITION BY event_type) AS n
                  FROM daily),
            d AS (SELECT event_type, rn, n, v, v - mu AS xm FROM b),
            base AS (SELECT event_type,
                            max(n) AS n_obs,
                            avg(v) AS mean,
                            stddev_samp(v) AS std,
                            stddev_pop(v) AS sd_pop,
                            sum(xm * xm) AS den
                     FROM d GROUP BY 1),
            ks AS (SELECT unnest(range(1, 11)) AS lag),
            num AS (SELECT a.event_type, ks.lag, sum(a.xm * c.xm) AS num
                    FROM d a CROSS JOIN ks
                    JOIN d c ON c.event_type = a.event_type
                            AND c.rn = a.rn - ks.lag
                    GROUP BY 1, 2),
            acfs AS (SELECT n.event_type,
                            max(CASE WHEN n.lag = 1
                                     THEN n.num / base.den END) AS acf1,
                            sum((n.num / base.den) ^ 2) AS acf10_sumsq
                     FROM num n JOIN base USING (event_type) GROUP BY 1),
            csum AS (SELECT event_type,
                            sum(xm) OVER (PARTITION BY event_type ORDER BY rn
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS c
                     FROM d),
            hurst AS (SELECT cs.event_type,
                             ln((max(cs.c) - min(cs.c)) / max(base.sd_pop))
                               / ln(max(base.n_obs)) AS hurst
                      FROM csum cs JOIN base USING (event_type) GROUP BY 1),
            -- tiles of size 7 from rn0 = rn-1 in steps of 7, only FULL tiles
            tile AS (SELECT event_type, (rn - 1) // 7 AS t,
                            var_pop(v) AS tvar, avg(v) AS tmean
                     FROM d
                     WHERE (rn - 1) < ((n - 7) // 7 + 1) * 7
                     GROUP BY 1, 2),
            lump AS (SELECT event_type,
                            var_pop(tvar) AS lumpiness,
                            var_pop(tmean) AS stability
                     FROM tile GROUP BY 1),
            -- crossing_points: median crossings (ab = v <= median)
            med AS (SELECT event_type, median(v) AS med
                    FROM daily GROUP BY 1),
            ab AS (SELECT d.event_type, d.rn,
                          CAST(d.v <= med.med AS INT) AS ab
                   FROM d JOIN med USING (event_type)),
            abl AS (SELECT event_type, ab,
                           lag(ab) OVER (PARTITION BY event_type
                                         ORDER BY rn) AS pab
                    FROM ab),
            cross_pts AS (SELECT event_type,
                                 sum(CASE WHEN ab <> pab THEN 1 ELSE 0 END)
                                   AS crossing_points
                          FROM abl GROUP BY 1),
            -- flat_spots: longest run of the 10-bin equal-width discretized v
            rng2 AS (SELECT event_type, min(v) AS vmin, max(v) AS vmax
                     FROM daily GROUP BY 1),
            binned AS (SELECT d.event_type, d.rn,
                              least(CAST(floor((d.v - r.vmin)
                                    / (r.vmax - r.vmin) * 10) AS INT), 9) AS bin
                       FROM d JOIN rng2 r USING (event_type)
                       WHERE r.vmax > r.vmin),
            binl AS (SELECT event_type, rn, bin,
                            lag(bin) OVER (PARTITION BY event_type
                                           ORDER BY rn) AS pbin
                     FROM binned),
            isl AS (SELECT event_type, rn, bin,
                           sum(CASE WHEN pbin IS NULL OR bin <> pbin
                               THEN 1 ELSE 0 END)
                             OVER (PARTITION BY event_type ORDER BY rn) AS grp
                    FROM binl),
            flat AS (SELECT event_type, max(run) AS flat_spots
                     FROM (SELECT event_type, grp, count(*) AS run
                           FROM isl GROUP BY 1, 2)
                     GROUP BY 1)
            SELECT base.event_type,
                   round(base.n_obs, 6) AS n_obs,
                   round(base.mean, 6) AS mean,
                   round(base.std, 6) AS std,
                   round(acfs.acf1, 6) AS acf1,
                   round(acfs.acf10_sumsq, 6) AS acf10_sumsq,
                   round(hurst.hurst, 6) AS hurst,
                   round(lump.lumpiness, 6) AS lumpiness,
                   round(lump.stability, 6) AS stability,
                   round(cross_pts.crossing_points, 6) AS crossing_points,
                   -- LEFT JOIN + COALESCE(n_obs): a constant-valued group
                   -- has no binned rows (vmax = vmin) but the engine emits
                   -- flat_spots = n for it — inner join would DROP the row
                   round(coalesce(flat.flat_spots, base.n_obs), 6)
                     AS flat_spots
            FROM base
            JOIN acfs USING (event_type)
            JOIN hurst USING (event_type)
            JOIN lump USING (event_type)
            JOIN cross_pts USING (event_type)
            LEFT JOIN flat USING (event_type)
        """,
        "apply_by_time_lambdas": """
            SELECT event_type,
                   date_trunc('day', ts) AS ts,
                   CAST(floor(sum(value) * 10000 + 0.5) AS BIGINT) AS value_sum,
                   round(max(value) - min(value), 6) AS value_range
            FROM events GROUP BY 1, 2
        """,
        "frequency_summary": """
            WITH d AS (
              SELECT user_id,
                     epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                                     ORDER BY ts)) AS diff
              FROM events),
            m AS (SELECT user_id, quantile_cont(diff, 0.5) AS sec
                  FROM d GROUP BY 1),
            c AS (SELECT user_id, sec,
                    CASE WHEN sec < 60 THEN 'S' WHEN sec < 3600 THEN 'T'
                         WHEN sec < 86400 THEN 'H' WHEN sec < 604800 THEN 'D'
                         WHEN sec < 2419200 THEN 'W'
                         WHEN sec < 7776000 THEN 'M'
                         WHEN sec < 31536000 THEN 'Q' ELSE 'Y' END AS unit,
                    CASE WHEN sec < 60 THEN sec
                         WHEN sec < 3600 THEN sec / 60
                         WHEN sec < 86400 THEN sec / 3600
                         WHEN sec < 604800 THEN sec / 86400
                         WHEN sec < 2419200 THEN sec / 604800
                         WHEN sec < 7776000 THEN round(sec / 2678400, 1)
                         WHEN sec < 31536000 THEN round(sec / 7948800, 1)
                         ELSE round(sec / 31622400, 1) END AS scale
                  FROM m),
            s AS (SELECT *,
                    (unit IN ('M', 'Q', 'Y')
                     AND (scale - floor(scale)) >= 0.1
                     AND (scale - floor(scale)) <= 0.9) AS switch
                  FROM c)
            SELECT user_id,
                   round(sec, 6) AS freq_median_seconds,
                   round(CASE WHEN switch THEN floor(sec / 86400)
                              ELSE scale END, 6) AS freq_median_scale,
                   CASE WHEN switch THEN 'D' ELSE unit END
                     AS freq_median_unit
            FROM s
        """,
        "frequency_grouped": """
            WITH d AS (
              SELECT user_id,
                     epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                                     ORDER BY ts)) AS diff
              FROM events),
            m AS (SELECT user_id, quantile_cont(diff, 0.5) AS sec
                  FROM d GROUP BY 1),
            c AS (SELECT user_id, sec,
                    CASE WHEN sec < 60 THEN 'S' WHEN sec < 3600 THEN 'T'
                         WHEN sec < 86400 THEN 'H' WHEN sec < 604800 THEN 'D'
                         WHEN sec < 2419200 THEN 'W'
                         WHEN sec < 7776000 THEN 'M'
                         WHEN sec < 31536000 THEN 'Q' ELSE 'Y' END AS unit,
                    CASE WHEN sec < 60 THEN sec
                         WHEN sec < 3600 THEN sec / 60
                         WHEN sec < 86400 THEN sec / 3600
                         WHEN sec < 604800 THEN sec / 86400
                         WHEN sec < 2419200 THEN sec / 604800
                         WHEN sec < 7776000 THEN round(sec / 2678400, 1)
                         WHEN sec < 31536000 THEN round(sec / 7948800, 1)
                         ELSE round(sec / 31622400, 1) END AS scale
                  FROM m),
            s AS (SELECT *,
                    (unit IN ('M', 'Q', 'Y')
                     AND (scale - floor(scale)) >= 0.1
                     AND (scale - floor(scale)) <= 0.9) AS switch
                  FROM c),
            f AS (SELECT user_id,
                         CASE WHEN switch THEN 'D' ELSE unit END AS u,
                         CASE WHEN switch THEN floor(sec / 86400)
                              ELSE scale END AS sc
                  FROM s)
            SELECT user_id,
                   CAST(CAST(floor(sc) AS BIGINT) AS VARCHAR) || u ||
                     (CASE WHEN u IN ('M', 'Q', 'Y') THEN 'S' ELSE '' END)
                     AS freq_alias
            FROM f
        """,
        "ivf_ann": """
            SELECT vec_id AS query_id, 5 AS n_results, 1 AS self_rank1
            FROM embeddings WHERE vec_id < 3
        """,
        "ts_features_ets": """
            -- the MLE fit itself is not SQL-expressible; pin its exact
            -- deterministic invariants (see q_ts_features_ets)
            SELECT event_type,
                   count(DISTINCT date_trunc('day', ts)) AS n_days,
                   CAST(1 AS BIGINT) AS holt_admissible,
                   CAST(1 AS BIGINT) AS hw_admissible,
                   CAST(1 AS BIGINT) AS mle_not_worse_than_start
            FROM events GROUP BY 1
        """,
        "ts_features_models": """
            -- iterative model fits are not SQL-expressible; pin the
            -- deterministic invariants any correct fit satisfies
            -- (see q_ts_features_models): parameter admissibility,
            -- p-value clamp bounds, heterogeneity stat ranges
            SELECT event_type,
                   count(DISTINCT date_trunc('day', ts)) AS n_days,
                   CAST(1 AS BIGINT) AS holt_admissible,
                   CAST(1 AS BIGINT) AS hw_admissible,
                   CAST(1 AS BIGINT) AS kpss_p_in_table,
                   CAST(1 AS BIGINT) AS pp_p_in_unit,
                   CAST(1 AS BIGINT) AS arch_in_range,
                   CAST(1 AS BIGINT) AS garch_ok
            FROM events GROUP BY 1
        """,
        "hll_distinct_tier": """
            -- the HLL estimate is probabilistic; its deterministic
            -- contract is the error bound vs the EXACT distinct count,
            -- which is itself emitted and hash-checked as real data
            SELECT event_type,
                   epoch_us(date_trunc('day', ts)) // 1000000 AS bucket_ts,
                   CAST(count(*) AS BIGINT) AS cnt,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
                   CAST(1 AS BIGINT) AS hll_within_5pct
            FROM events GROUP BY 1, 2
        """,
        "tdigest_tier": """
            -- t-digest guarantees RANK accuracy: the pinned invariant is
            -- rank error of each merged-digest percentile vs the group's
            -- raw values (see q_tdigest_tier); counts ride along as data
            SELECT event_type,
                   epoch_us(date_trunc('month', ts)) // 1000000
                     AS bucket_ts,
                   CAST(count(value) AS BIGINT) AS cnt,
                   CAST(1 AS BIGINT) AS p50_rank_ok,
                   CAST(1 AS BIGINT) AS p90_rank_ok,
                   CAST(1 AS BIGINT) AS p99_rank_ok
            FROM events GROUP BY 1, 2
        """,
        "url_features_psl": """
            -- full independent re-derivation: the Spark side synthesizes
            -- URLs from doc_id % 6 spanning every PSL rule class, so the
            -- oracle recomputes host / PSL registrable domain / public
            -- suffix / path depth by hand from the same arithmetic
            WITH b AS (
              SELECT doc_id, doc_id % 6 AS m,
                     CAST(doc_id AS VARCHAR) AS ds
              FROM documents
            )
            SELECT doc_id,
              CASE m
                WHEN 0 THEN 'www.example' || ds || '.com'
                WHEN 1 THEN 'shop' || ds || '.books.co.uk'
                WHEN 2 THEN 'node' || ds || '.gov.com.au'
                WHEN 3 THEN 'x' || ds || '.foo.bar.ck'
                WHEN 4 THEN 'deep' || ds || '.www.ck'
                ELSE 'host' || ds || '.example.unknowntld'
              END AS url_host,
              CASE m
                WHEN 0 THEN 'example' || ds || '.com'  -- rule: com
                WHEN 1 THEN 'books.co.uk'              -- rule: co.uk
                WHEN 2 THEN 'gov.com.au'               -- rule: com.au
                WHEN 3 THEN 'foo.bar.ck'               -- rule: *.ck
                WHEN 4 THEN 'www.ck'                   -- rule: !www.ck
                ELSE 'example.unknowntld'              -- default rule *
              END AS url_domain,
              CASE m
                WHEN 0 THEN 'com'
                WHEN 1 THEN 'co.uk'
                WHEN 2 THEN 'com.au'
                WHEN 3 THEN 'bar.ck'
                WHEN 4 THEN 'ck'
                ELSE 'unknowntld'
              END AS url_public_suffix,
              CASE m
                WHEN 0 THEN 'com'
                WHEN 1 THEN 'uk'
                WHEN 2 THEN 'au'
                WHEN 3 THEN 'ck'
                WHEN 4 THEN 'ck'
                ELSE 'unknowntld'
              END AS url_tld,
              CAST(CASE m WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 0
                          WHEN 3 THEN 1 WHEN 4 THEN 0 ELSE 3 END
                   AS BIGINT) AS url_path_depth,
              (m % 2 = 0) AS url_is_https,
              (m = 1) AS url_has_query
            FROM b
        """,
        "regime_detection": """
            SELECT event_type,
                   count(*) AS n_rows,
                   CASE WHEN count(*) >= 60
                        THEN ((count(*) - 60) // 20 + 1) * 20
                        ELSE 0 END AS n_labeled,
                   0 AS n_invalid_labels
            FROM events GROUP BY 1
        """,
        "anomalize": """
            -- twitter decomposition, period=7 trend=14 iqr_alpha=0.05
            -- clean_alpha=0.75 (mirrors operators/anomalize.py kernel):
            -- centered 7-MA -> OLS edge extrapolation -> per-(rn%7)
            -- seasonal means centered by mean-of-means -> span medians as
            -- trend -> IQR limits [-(q1+3*IQR), q3+3*IQR] -> min_max clean
            WITH base AS (
              SELECT event_type, date_trunc('day', ts) AS ts,
                     count(value)::DOUBLE AS v
              FROM events GROUP BY 1, 2),
            r AS (SELECT *,
                         row_number() OVER (PARTITION BY event_type
                                            ORDER BY ts) - 1 AS rn,
                         count(*) OVER (PARTITION BY event_type) AS n
                  FROM base),
            ma AS (SELECT *,
                     CASE WHEN rn >= 3 AND rn <= n - 4 THEN
                       avg(v) OVER (PARTITION BY event_type ORDER BY rn
                                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                     END AS tma
                   FROM r),
            fit AS (SELECT event_type,
                      regr_slope(tma, rn) FILTER (
                        rn BETWEEN 3 AND 2 + least(7, n - 6)) AS b0,
                      regr_intercept(tma, rn) FILTER (
                        rn BETWEEN 3 AND 2 + least(7, n - 6)) AS a0,
                      regr_slope(tma, rn) FILTER (
                        rn BETWEEN n - 3 - least(7, n - 6) AND n - 4) AS b1,
                      regr_intercept(tma, rn) FILTER (
                        rn BETWEEN n - 3 - least(7, n - 6) AND n - 4) AS a1
                    FROM ma GROUP BY 1),
            tr AS (SELECT ma.*,
                     CASE WHEN rn < 3 THEN b0 * rn + a0
                          WHEN rn > n - 4 THEN b1 * rn + a1
                          ELSE tma END AS trend_ma
                   FROM ma JOIN fit USING (event_type)),
            det AS (SELECT *, v - trend_ma AS detr, rn % 7 AS pos FROM tr),
            sm AS (SELECT event_type, pos, avg(detr) AS m
                   FROM det GROUP BY 1, 2),
            sc AS (SELECT event_type, avg(m) AS center FROM sm GROUP BY 1),
            seas AS (SELECT det.*, sm.m - sc.center AS seasonal
                     FROM det JOIN sm USING (event_type, pos)
                     JOIN sc USING (event_type)),
            sa AS (SELECT *, v - seasonal AS seasadj,
                          greatest(CAST(floor(n / 14.0) AS BIGINT), 1) AS ms
                   FROM seas),
            sp AS (SELECT *,
                     CASE WHEN rn < (n % ms) * (n // ms + 1)
                          THEN rn // (n // ms + 1)
                          ELSE (n % ms)
                               + (rn - (n % ms) * (n // ms + 1)) // (n // ms)
                     END AS span
                   FROM sa),
            t2m AS (SELECT event_type, span,
                           quantile_cont(seasadj, 0.5) AS trend2
                    FROM sp GROUP BY 1, 2),
            rem AS (SELECT sp.*, t2m.trend2,
                           sp.seasadj - t2m.trend2 AS remainder
                    FROM sp JOIN t2m USING (event_type, span)),
            iq AS (SELECT event_type,
                          quantile_cont(remainder, 0.25) AS q1,
                          quantile_cont(remainder, 0.75) AS q3
                   FROM rem GROUP BY 1),
            lim AS (SELECT event_type,
                           -1 * (q1 + 3.0 * (q3 - q1)) AS l1,
                           q3 + 3.0 * (q3 - q1) AS l2
                    FROM iq),
            fl AS (SELECT rem.*, lim.l1, lim.l2,
                          (lim.l1 + lim.l2) / 2 AS centerline,
                          CASE WHEN remainder > lim.l2 THEN 1
                               WHEN remainder < lim.l1 THEN -1
                               ELSE 0 END AS dir
                   FROM rem JOIN lim USING (event_type))
            SELECT event_type, ts,
                   CAST(floor(v * 640000 + 0.5) AS BIGINT) AS observed,
                   CAST(floor(seasonal * 640000 + 0.5) AS BIGINT) AS seasonal,
                   CAST(floor(seasadj * 640000 + 0.5) AS BIGINT) AS seasadj,
                   CAST(floor(trend2 * 640000 + 0.5) AS BIGINT) AS trend,
                   CAST(floor(remainder * 640000 + 0.5) AS BIGINT) AS remainder,
                   CASE WHEN dir != 0 THEN 'Yes' ELSE 'No' END AS anomaly,
                   CAST(floor(abs(remainder - centerline) * 640000 + 0.5) AS BIGINT)
                     AS anomaly_score,
                   dir AS anomaly_direction,
                   CAST(floor((seasonal + trend2 + l1) * 640000 + 0.5) AS BIGINT)
                     AS recomposed_l1,
                   CAST(floor((seasonal + trend2 + l2) * 640000 + 0.5) AS BIGINT)
                     AS recomposed_l2,
                   CAST(floor(CASE WHEN dir = -1
                              THEN seasonal + trend2 + l1
                                   + 0.125 * (l2 - l1)
                              WHEN dir = 1
                              THEN seasonal + trend2 + l2
                                   - 0.125 * (l2 - l1)
                              ELSE v END * 640000 + 0.5) AS BIGINT)
                     AS observed_clean
            FROM fl
        """,
        "summarize_by_time_hourly": """
            SELECT event_type,
                   date_trunc('hour', ts) AS ts,
                   round(sum(value), 6)   AS value_sum,
                   round(avg(value), 6)   AS value_mean,
                   count(value)           AS value_count
            FROM events GROUP BY 1, 2
        """,
        "summarize_by_time_daily_lineitem": """
            SELECT l_returnflag,
                   date_trunc('day', l_shipdate) AS l_shipdate,
                   round(sum(l_quantity), 6)      AS l_quantity_sum,
                   round(avg(l_quantity), 6)      AS l_quantity_mean,
                   round(sum(l_extendedprice), 6) AS l_extendedprice_sum,
                   round(avg(l_extendedprice), 6) AS l_extendedprice_mean
            FROM lineitem GROUP BY 1, 2
        """,
        "summarize_by_time_month_end": """
            SELECT cast(last_day(date_trunc('month', o_orderdate)) AS timestamp)
                     AS o_orderdate,
                   round(sum(o_totalprice), 6) AS o_totalprice_sum,
                   count(o_totalprice)         AS o_totalprice_count
            FROM orders GROUP BY 1
        """,
        "pad_by_time_hourly": """
            WITH b AS (SELECT min(ts) lo, max(ts) hi FROM events),
            g AS (SELECT unnest(generate_series((SELECT lo FROM b),
                                                (SELECT hi FROM b),
                                                INTERVAL 1 HOUR)) AS ts),
            cal AS (SELECT e.event_type, g.ts
                    FROM (SELECT DISTINCT event_type FROM events) e CROSS JOIN g)
            SELECT c.event_type, c.ts, round(ev.value, 6) AS value
            FROM cal c
            LEFT JOIN events ev
              ON ev.event_type = c.event_type AND ev.ts = c.ts
        """,
        "filter_by_time": """
            SELECT event_id, ts, user_id, event_type
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
              AND ts <= TIMESTAMP '2024-01-12 23:59:59'
        """,
        "future_frame_daily": """
            SELECT user_id, max_ts + to_seconds(86400 * k) AS ts
            FROM (SELECT user_id, max(ts) AS max_ts FROM events GROUP BY 1)
            CROSS JOIN (SELECT unnest(generate_series(1, 5)) AS k)
        """,
        "augment_shift": """
            SELECT user_id, ts, round(value, 6) AS value,
                   round(lag(value)  OVER w, 6) AS value_lag_1,
                   round(lead(value) OVER w, 6) AS value_lead_1,
                   round(value - lag(value) OVER w, 6) AS value_diff_1
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        """,
        "augment_rolling": """
            SELECT user_id, ts, round(value, 6) AS value,
              round(CASE WHEN count(value) OVER w5 >= 5
                    THEN avg(value) OVER w5 END, 6) AS value_rolling_mean_win_5,
              round(CASE WHEN count(value) OVER w5 >= 5
                    THEN sum(value) OVER w5 END, 6) AS value_rolling_sum_win_5,
              round(CASE WHEN count(value) OVER w5 >= 5
                    THEN min(value) OVER w5 END, 6) AS value_rolling_min_win_5,
              round(CASE WHEN count(value) OVER w5 >= 5
                    THEN max(value) OVER w5 END, 6) AS value_rolling_max_win_5
            FROM events
            WINDOW w5 AS (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        """,
        "augment_expanding": """
            SELECT user_id, ts, round(value, 6) AS value,
                   CAST(floor(avg(value) OVER w
                              * (row_number() OVER
                                 (PARTITION BY user_id ORDER BY ts))
                              * 10000 + 0.5) AS BIGINT)
                     AS value_expanding_mean_x_n,
                   CAST(floor(sum(value) OVER w * 10000 + 0.5) AS BIGINT)
                     AS value_expanding_sum
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "timeseries_signature": """
            SELECT o_orderkey, o_orderdate,
                   epoch(o_orderdate)::BIGINT AS o_orderdate_index_num,
                   year(o_orderdate)          AS o_orderdate_year,
                   CASE WHEN quarter(o_orderdate) <= 2 THEN 1 ELSE 2 END
                                              AS o_orderdate_half,
                   quarter(o_orderdate)       AS o_orderdate_quarter,
                   month(o_orderdate)         AS o_orderdate_month,
                   day(o_orderdate)           AS o_orderdate_mday,
                   dayofyear(o_orderdate)     AS o_orderdate_yday,
                   isodow(o_orderdate)        AS o_orderdate_wday,
                   weekofyear(o_orderdate)    AS o_orderdate_yweek,
                   (day(o_orderdate) - 1) // 7 + 1 AS o_orderdate_mweek,
                   hour(o_orderdate)          AS o_orderdate_hour,
                   CASE WHEN hour(o_orderdate) <= 12 THEN 'am' ELSE 'pm' END
                                              AS o_orderdate_am_pm
            FROM orders
        """,
        "ts_summary": """
            WITH d AS (
              SELECT user_id, ts,
                     epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                                     ORDER BY ts)) AS diff
              FROM events)
            SELECT user_id,
                   count(ts)  AS date_n,
                   min(ts)    AS date_start,
                   max(ts)    AS date_end,
                   min(diff)  AS diff_min_seconds,
                   round(quantile_cont(diff, 0.25), 6) AS diff_q25_seconds,
                   round(quantile_cont(diff, 0.5), 6)  AS diff_median_seconds,
                   round(avg(diff), 6)                  AS diff_mean_seconds,
                   round(quantile_cont(diff, 0.75), 6) AS diff_q75_seconds,
                   max(diff)  AS diff_max_seconds
            FROM d GROUP BY 1
        """,
        "rollup_tier_1h": """
            SELECT event_type AS url,
                   date_trunc('hour', ts) AS bucket_ts,
                   count(value) AS cnt,
                   round(sum(value), 6) AS vsum,
                   round(min(value), 6) AS vmin,
                   round(max(value), 6) AS vmax,
                   round(arg_min(value, ts), 6) AS vfirst,
                   round(arg_max(value, ts), 6) AS vlast,
                   round(avg(value), 6) AS vmean,
                   round(CASE WHEN count(value) > 1
                         THEN sqrt(greatest((sum(value*value)
                              - sum(value)*sum(value)/count(value))
                              / (count(value)-1), 0)) END, 6) AS vstd
            FROM events GROUP BY 1, 2
        """,
        "rollup_tier_1d_from_1h": """
            SELECT event_type AS url,
                   date_trunc('day', ts) AS bucket_ts,
                   count(value) AS cnt,
                   round(sum(value), 6) AS vsum,
                   round(min(value), 6) AS vmin,
                   round(max(value), 6) AS vmax
            FROM events GROUP BY 1, 2
        """,
        "rollup_salted_1h": """
            SELECT event_type AS url,
                   date_trunc('hour', ts) AS bucket_ts,
                   count(value) AS cnt,
                   round(sum(value), 6) AS vsum,
                   round(min(value), 6) AS vmin,
                   round(max(value), 6) AS vmax
            FROM events GROUP BY 1, 2
        """,
        "gap_fill_tier_1h": """
            WITH t AS (
              SELECT user_id::VARCHAR AS url,
                     date_trunc('hour', ts) AS bucket_ts,
                     count(value) AS cnt, sum(value) AS vsum
              FROM events GROUP BY 1, 2),
            b AS (SELECT url, min(bucket_ts) lo, max(bucket_ts) hi
                  FROM t GROUP BY 1),
            g AS (SELECT unnest(generate_series((SELECT min(lo) FROM b),
                                                (SELECT max(hi) FROM b),
                                                INTERVAL 1 HOUR)) AS ts)
            SELECT b.url, g.ts AS bucket_ts,
                   coalesce(t.cnt, 0) AS cnt,
                   round(t.vsum, 6) AS vsum
            FROM b JOIN g ON g.ts BETWEEN b.lo AND b.hi
            LEFT JOIN t ON t.url = b.url AND t.bucket_ts = g.ts
        """,
        "finance_drawdown": """
            SELECT user_id, ts, round(value, 6) AS value,
                   round(max(value) OVER w, 6) AS value_peak,
                   round(value - max(value) OVER w, 6) AS value_drawdown,
                   round((value - max(value) OVER w) / max(value) OVER w, 6)
                     AS value_drawdown_pct
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "finance_bbands": """
            SELECT user_id, ts, round(value, 6) AS value,
              round(CASE WHEN count(value) OVER w >= 10
                    THEN avg(value) OVER w END, 6) AS "value_bband_middle_10_2.0",
              round(CASE WHEN count(value) OVER w >= 10
                    THEN avg(value) OVER w + 2 * stddev_samp(value) OVER w END, 6)
                    AS "value_bband_upper_10_2.0",
              round(CASE WHEN count(value) OVER w >= 10
                    THEN avg(value) OVER w - 2 * stddev_samp(value) OVER w END, 6)
                    AS "value_bband_lower_10_2.0"
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        """,
        "finance_roc": """
            SELECT user_id, ts, round(value, 6) AS value,
                   round(CASE WHEN lag(value, 5) OVER w != 0
                         THEN value / lag(value, 5) OVER w - 1 END, 6)
                     AS value_roc_0_5
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        """,
        # OHLC synth mirrors q_atr/q_stochastic's dyadic offsets exactly
        "finance_atr": """
            WITH base AS (
              SELECT user_id, ts, value,
                     value + 0.5 * ((user_id % 7) + 1) AS high,
                     value - 0.5 * ((user_id % 5) + 1) AS low
              FROM events),
            tr AS (
              SELECT user_id, ts, value, high, low,
                     greatest(high - low,
                              abs(high - lag(value) OVER w),
                              abs(low - lag(value) OVER w)) AS tr
              FROM base
              WINDOW w AS (PARTITION BY user_id ORDER BY ts))
            SELECT user_id, ts, round(value, 6) AS value,
                   round(high, 6) AS high, round(low, 6) AS low,
                   round(avg(tr) OVER wa, 6) AS value_atr_14
            FROM tr
            WINDOW wa AS (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        """,
        "finance_cmo": """
            WITH d AS (
              SELECT user_id, ts, value,
                     value - lag(value) OVER (PARTITION BY user_id
                                              ORDER BY ts) AS delta
              FROM events),
            g AS (
              SELECT user_id, ts, value,
                     CASE WHEN delta > 0 THEN delta ELSE 0 END AS gain,
                     CASE WHEN delta < 0 THEN -delta ELSE 0 END AS loss
              FROM d)
            SELECT user_id, ts, round(value, 6) AS value,
                   round(CASE WHEN count(*) OVER w >= 14
                         THEN 100 * (sum(gain) OVER w - sum(loss) OVER w)
                              / (sum(gain) OVER w + sum(loss) OVER w)
                         END, 6) AS value_cmo_14
            FROM g
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        """,
        "finance_stochastic": """
            WITH base AS (
              SELECT user_id, ts, value,
                     value + 0.5 * ((user_id % 7) + 1) AS high,
                     value - 0.5 * ((user_id % 5) + 1) AS low
              FROM events),
            k AS (
              SELECT user_id, ts, value,
                     100 * (value - min(low) OVER wk)
                         / (max(high) OVER wk - min(low) OVER wk) AS k14
              FROM base
              WINDOW wk AS (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
            SELECT user_id, ts, round(value, 6) AS value,
                   round(k14, 6) AS value_stoch_k_14,
                   round(avg(k14) OVER wd, 6) AS value_stoch_d_14_3
            FROM k
            WINDOW wd AS (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        """,
        # t = (epoch − per-group min epoch) / exact interpolated median diff;
        # the 2πk literal is inlined so the multiply/divide order matches
        # the Spark expression tree op-for-op
        "augment_fourier": """
            WITH s AS (
              SELECT user_id, ts, epoch(ts) AS tsec,
                     epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id
                                                      ORDER BY ts) AS diff
              FROM events),
            st AS (
              SELECT user_id, min(tsec) AS min_ts,
                     quantile_cont(diff, 0.5) AS med
              FROM s GROUP BY user_id)
            SELECT s.user_id, s.ts,
              round(sin((6.283185307179586 * ((tsec - min_ts) / med)) / 24), 6)
                AS ts_sin_1_24,
              round(cos((6.283185307179586 * ((tsec - min_ts) / med)) / 24), 6)
                AS ts_cos_1_24,
              round(sin((6.283185307179586 * ((tsec - min_ts) / med)) / 168), 6)
                AS ts_sin_1_168,
              round(cos((6.283185307179586 * ((tsec - min_ts) / med)) / 168), 6)
                AS ts_cos_1_168
            FROM s JOIN st ON s.user_id = st.user_id
        """,
        "holiday_signature": _holiday_oracle_sql(),
        "dedup_exact": """
            SELECT d.* FROM documents d
            JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text) k
              ON d.doc_id = k.doc_id
        """,
        "token_stats": """
            SELECT doc_id,
                   length(text) AS n_chars,
                   len(string_split_regex(
                       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
                     AS n_tokens_ws,
                   len(regexp_extract_all(text,
                       '[A-Za-zÀ-ÿ]+|[0-9]+|[^\\sA-Za-zÀ-ÿ0-9]'))
                     AS n_tokens_bpe
            FROM documents
        """,
        "language_scores": """
            WITH toks AS (
              SELECT doc_id,
                     list_distinct(string_split_regex(
                       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
                       AS tk
              FROM documents)
            SELECT doc_id,
                   round(len(list_intersect(tk,
                     ['the','and','of','to','a','in','is','it','you','that',
                      'was','for','on','are','with','as','this','have','be']))
                     / greatest(len(tk), 1)::DOUBLE, 6) AS langscore_en,
                   round(len(list_intersect(tk,
                     ['der','die','das','und','ist','von','mit','den','des',
                      'nicht','ein','eine','zu','im','für','auf','sich']))
                     / greatest(len(tk), 1)::DOUBLE, 6) AS langscore_de
            FROM toks
        """,
        "cosine_topk_bruteforce": """
            -- mirrors the Spark plan op-for-op: widen float32→double,
            -- sequential-fold dot of the RAW vectors divided by the norm
            -- product (the engine never materializes normalized vectors —
            -- similarity.py carries vector_norm columns). DuckDB's
            -- list_cosine_similarity computes in float32 (~1e-7 noise)
            -- which flipped 6-dp rounding in round 1, hence the explicit
            -- double folds.
            WITH e AS (
              SELECT vec_id,
                     list_transform(embedding, x -> x::DOUBLE) AS v,
                     sqrt(list_reduce(
                       list_transform(embedding, y -> y::DOUBLE * y::DOUBLE),
                       (a, b) -> a + b)) AS nrm
              FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
                  FROM e WHERE vec_id < 3),
            s AS (SELECT q.query_id, c.vec_id,
                         list_reduce(
                           list_transform(list_zip(c.v, q.qv),
                                          p -> p[1] * p[2]),
                           (a, b) -> a + b) / (c.nrm * q.qn) AS cosine
                  FROM e c CROSS JOIN q),
            r AS (SELECT *, row_number() OVER
                    (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
                  FROM s)
            SELECT query_id, vec_id, round(cosine, 6) AS cosine, rank
            FROM r WHERE rank <= 5
        """,
        "augment_ewm": """
            -- closed-form adjusted EWM (pandas adjust=True semantics):
            -- y_t = Σ_{i=0..t} (1-a)^i x_{t-i} / ((1-(1-a)^{t+1})/a).
            -- Scale-safe: the globally-exponentiated prefix form
            -- sum(x·(1-a)^{-j})·(1-a)^t overflows double past t≈3170, so
            -- the numerator is a bounded self-join over the trailing 256
            -- rows — 0.8^256 ≈ 1.6e-25, so the truncation error is below
            -- double epsilon for any representable value.
            WITH r AS (
              SELECT user_id, ts, value,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1
                       AS t
              FROM events)
            SELECT a.user_id, a.ts, round(a.value, 6) AS value,
                   CAST(floor(
                     sum(b.value * power(0.8, a.t - b.t))
                     / ((1 - power(0.8, a.t + 1)) / 0.2) * 10000 + 0.5) AS BIGINT) AS "value_ewm_mean_alpha_0.2"
            FROM r a JOIN r b
              ON a.user_id = b.user_id AND b.t BETWEEN a.t - 255 AND a.t
            GROUP BY a.user_id, a.ts, a.value, a.t
        """,
        "augment_pct_change": """
            SELECT user_id, ts, round(value, 6) AS value,
                   round(CASE WHEN lag(value, 1) OVER w <> 0
                              THEN value / lag(value, 1) OVER w - 1 END, 6)
                     AS value_pctdiff_1,
                   round(CASE WHEN lag(value, 7) OVER w <> 0
                              THEN value / lag(value, 7) OVER w - 1 END, 6)
                     AS value_pctdiff_7
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        """,
        "finance_rsi": """
            WITH d AS (
              SELECT user_id, ts, value,
                     value - lag(value) OVER (PARTITION BY user_id
                                              ORDER BY ts) AS delta
              FROM events),
            g AS (
              SELECT user_id, ts, value,
                     CASE WHEN delta > 0 THEN delta ELSE 0 END AS gain,
                     CASE WHEN delta < 0 THEN -delta ELSE 0 END AS loss
              FROM d),
            w AS (
              SELECT user_id, ts, value,
                     avg(gain) OVER win AS ag, avg(loss) OVER win AS al,
                     count(*) OVER win AS cnt
              FROM g
              WINDOW win AS (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
            SELECT user_id, ts, round(value, 6) AS value,
                   round(CASE WHEN cnt < 14 THEN NULL
                              WHEN al = 0 THEN
                                CASE WHEN ag <> 0 THEN 100.0 END
                              ELSE 100 - 100 / (1 + ag / al) END, 6)
                     AS value_rsi_14
            FROM w
        """,
        "finance_macd": """
            -- closed-form EMA(adjust=False): y_t = a·Σ_{b≥1}(1-a)^{t-b}x_b
            -- + (1-a)^t·x_0. Exact (no truncation) and scale-safe: every
            -- power() exponent is ≥ 0 so terms only decay. The signal line
            -- is an EMA OVER the macd line → second self-join.
            WITH r AS (
              SELECT user_id, ts, value,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1
                       AS t
              FROM events),
            ml AS (
              SELECT a.user_id, a.ts, a.value, a.t,
                     sum(b.value *
                         (CASE WHEN b.t = 0 THEN power(11.0/13, a.t)
                               ELSE (2.0/13) * power(11.0/13, a.t - b.t) END
                        - CASE WHEN b.t = 0 THEN power(25.0/27, a.t)
                               ELSE (2.0/27) * power(25.0/27, a.t - b.t) END))
                       AS ml
              FROM r a JOIN r b
                ON a.user_id = b.user_id AND b.t <= a.t
              GROUP BY a.user_id, a.ts, a.value, a.t),
            sl AS (
              SELECT a.user_id, a.ts, a.value, a.ml,
                     sum(b.ml * CASE WHEN b.t = 0 THEN power(0.8, a.t)
                                     ELSE 0.2 * power(0.8, a.t - b.t) END)
                       AS sl
              FROM ml a JOIN ml b
                ON a.user_id = b.user_id AND b.t <= a.t
              GROUP BY a.user_id, a.ts, a.value, a.ml)
            SELECT user_id, ts, round(value, 6) AS value,
                   CAST(floor(ml * 10000 + 0.5) AS BIGINT)
                     AS value_macd_line_12_26_9,
                   CAST(floor(sl * 10000 + 0.5) AS BIGINT)
                     AS value_macd_signal_line_12_26_9,
                   CAST(floor((ml - sl) * 10000 + 0.5) AS BIGINT)
                     AS value_macd_histogram_12_26_9
            FROM sl
        """,
        "finance_ewma_volatility": """
            -- EWM(adjust=True, ignore_na=False) of squared log returns:
            -- weights (1-a)^{t-b} by ABSOLUTE position over non-null
            -- returns, normalized; min_periods=10 non-null observations.
            WITH r AS (
              SELECT user_id, ts, value,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1
                       AS t,
                     CASE WHEN value > 0
                           AND lag(value) OVER (PARTITION BY user_id
                                                ORDER BY ts) > 0
                          THEN ln(value / lag(value)
                                  OVER (PARTITION BY user_id ORDER BY ts))
                     END AS lr
              FROM events),
            v AS (
              SELECT a.user_id, a.ts, a.value,
                     sum(b.lr * b.lr * power(0.94, a.t - b.t))
                       / sum(power(0.94, a.t - b.t)) AS var,
                     count(b.lr) AS nobs
              FROM r a LEFT JOIN r b
                ON a.user_id = b.user_id AND b.t <= a.t AND b.lr IS NOT NULL
              GROUP BY a.user_id, a.ts, a.value, a.t)
            SELECT user_id, ts, round(value, 6) AS value,
                   CASE WHEN nobs >= 10
                        THEN CAST(floor(sqrt(var) * 640000 + 0.5) AS BIGINT)
                   END AS "value_ewma_vol_10_0.94"
            FROM v
        """,
        "correlate_pearson": """
            SELECT 'l_quantity' AS feature,
                   CAST(floor(corr(l_quantity, l_extendedprice) * 640000
                        + 0.5) AS BIGINT) AS correlation FROM lineitem
            UNION ALL
            SELECT 'l_discount',
                   CAST(floor(corr(l_discount, l_extendedprice) * 640000
                        + 0.5) AS BIGINT) FROM lineitem
            UNION ALL
            SELECT 'l_tax',
                   CAST(floor(corr(l_tax, l_extendedprice) * 640000
                        + 0.5) AS BIGINT) FROM lineitem
        """,
        "correlate_spearman": """
            -- spearman-with-ties = pearson over tie-averaged ranks;
            -- avg(row_number) partitioned by value = average rank
            WITH rk AS (
              SELECT avg(rq)  OVER (PARTITION BY l_quantity)      AS rq,
                     avg(rd)  OVER (PARTITION BY l_discount)      AS rd,
                     avg(rx)  OVER (PARTITION BY l_tax)           AS rx,
                     avg(ry)  OVER (PARTITION BY l_extendedprice) AS ry
              FROM (SELECT l_quantity, l_discount, l_tax, l_extendedprice,
                           row_number() OVER (ORDER BY l_quantity)      AS rq,
                           row_number() OVER (ORDER BY l_discount)      AS rd,
                           row_number() OVER (ORDER BY l_tax)           AS rx,
                           row_number() OVER (ORDER BY l_extendedprice) AS ry
                    FROM lineitem))
            SELECT 'l_quantity' AS feature,
                   CAST(floor(corr(rq, ry) * 640000 + 0.5) AS BIGINT)
                     AS correlation FROM rk
            UNION ALL
            SELECT 'l_discount',
                   CAST(floor(corr(rd, ry) * 640000 + 0.5) AS BIGINT) FROM rk
            UNION ALL
            SELECT 'l_tax',
                   CAST(floor(corr(rx, ry) * 640000 + 0.5) AS BIGINT) FROM rk
        """,
        "correlate_kendall": """
            -- exact tau-b from contingency cells: concordant/discordant
            -- via one cell-pair join, tie terms from the margins
            WITH m AS (
              SELECT 'l_quantity' AS feature, l_quantity::DOUBLE AS x,
                     l_discount::DOUBLE AS y FROM lineitem
              UNION ALL
              SELECT 'l_tax', l_tax::DOUBLE, l_discount::DOUBLE
              FROM lineitem
              UNION ALL
              SELECT 'l_linenumber', l_linenumber::DOUBLE,
                     l_discount::DOUBLE FROM lineitem),
            cells AS (SELECT feature, x, y, count(*)::DOUBLE AS n
                      FROM m GROUP BY 1, 2, 3),
            cd AS (SELECT a.feature,
                          sum(CASE WHEN a.x < b.x AND a.y < b.y
                                   THEN a.n * b.n ELSE 0 END) AS nc,
                          sum(CASE WHEN a.x < b.x AND a.y > b.y
                                   THEN a.n * b.n ELSE 0 END) AS nd
                   FROM cells a JOIN cells b ON a.feature = b.feature
                   GROUP BY 1),
            tot AS (SELECT feature, sum(n) AS n FROM cells GROUP BY 1),
            txc AS (SELECT feature, sum(nx * (nx - 1) / 2) AS tx
                    FROM (SELECT feature, x, sum(n) AS nx
                          FROM cells GROUP BY 1, 2) GROUP BY 1),
            tyc AS (SELECT feature, sum(ny * (ny - 1) / 2) AS ty
                    FROM (SELECT feature, y, sum(n) AS ny
                          FROM cells GROUP BY 1, 2) GROUP BY 1)
            SELECT cd.feature,
                   CAST(floor(
                     (nc - nd)
                     / sqrt((tot.n * (tot.n - 1) / 2 - txc.tx)
                            * (tot.n * (tot.n - 1) / 2 - tyc.ty))
                     * 640000 + 0.5) AS BIGINT) AS correlation
            FROM cd JOIN tot USING (feature) JOIN txc USING (feature)
            JOIN tyc USING (feature)
        """,
        "datetime_rounding": """
            SELECT event_id, ts,
                   make_timestamp(CAST(floor(epoch(ts) / 900) AS BIGINT)
                                  * 900 * 1000000) AS floor_15min,
                   date_trunc('hour', ts) + INTERVAL 1 HOUR AS ceil_hour,
                   CAST(CAST(ts AS DATE)
                        + CAST((7 - dayofweek(CAST(ts AS DATE))) % 7 - 6
                               AS INT)
                        AS TIMESTAMP) AS floor_week,
                   date_trunc('month', ts) AS floor_month,
                   date_trunc('quarter', ts) AS floor_quarter,
                   date_trunc('month', ts) + INTERVAL 1 MONTH AS ceil_month,
                   (dayofmonth(ts) - 1) // 7 + 1 AS wom
            FROM events
        """,
        "interval_join": """
            WITH busy AS (
              SELECT user_id, date_trunc('hour', ts) AS s,
                     date_trunc('hour', ts) + INTERVAL 30 MINUTE AS e
              FROM events GROUP BY 1, 2 HAVING count(*) >= 2)
            SELECT e.user_id, b.s, count(*) AS n_points,
                   CAST(floor(sum(e.value) * 10000 + 0.5) AS BIGINT)
                     AS vsum
            FROM events e JOIN busy b
              ON e.user_id = b.user_id AND e.ts >= b.s AND e.ts <= b.e
            GROUP BY 1, 2
        """,
        "cv_folds": """
            -- TimeSeriesCV backward mode (crossvalidation.py:75-91):
            -- test_hi walks back from max(ts) by stride=5d; horizon 3d,
            -- gap 1d, rolling train 14d; folds re-indexed chronologically
            WITH span AS (SELECT min(ts) AS s, max(ts) AS e FROM events),
            ks AS (SELECT unnest(range(0, 1000)) AS k),
            cand AS (
              SELECT ks.k, span.s,
                     span.e - INTERVAL 5 DAY * ks.k AS test_hi,
                     span.e - INTERVAL 5 DAY * ks.k - INTERVAL 3 DAY
                       AS test_lo,
                     span.e - INTERVAL 5 DAY * ks.k - INTERVAL 4 DAY
                       AS train_hi,
                     span.e - INTERVAL 5 DAY * ks.k - INTERVAL 18 DAY
                       AS train_lo
              FROM ks CROSS JOIN span),
            valid AS (SELECT * FROM cand
                      WHERE train_lo >= s AND train_hi > train_lo),
            folds AS (SELECT CAST((SELECT count(*) FROM valid) - 1 - k
                                  AS INT) AS fold,
                             train_lo, train_hi, test_lo, test_hi
                      FROM valid),
            train AS (SELECT f.fold, 'train' AS part, e.ts
                      FROM folds f JOIN events e
                        ON e.ts >= f.train_lo AND e.ts < f.train_hi),
            test AS (SELECT f.fold, 'test' AS part, e.ts
                     FROM folds f JOIN events e
                       ON e.ts > f.test_lo AND e.ts <= f.test_hi)
            SELECT fold, part, count(*) AS n,
                   epoch_us(min(ts)) // 1000000 AS lo,
                   epoch_us(max(ts)) // 1000000 AS hi
            FROM (SELECT * FROM train UNION ALL SELECT * FROM test)
            GROUP BY 1, 2
        """,
        "risk_metrics": """
            -- Spark skew/kurt are POPULATION g1 / excess g2 — rebuilt here
            -- from raw moments (DuckDB's builtins are sample-corrected)
            WITH c AS (
              SELECT user_id, ts, 100.0 + value/10 AS close FROM events),
            r AS (
              SELECT user_id, ts, close,
                     close / lag(close) OVER w - 1 AS ret
              FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            g AS (
              SELECT user_id, ts, close, ret,
                     CASE WHEN ret < 0 THEN ret * ret ELSE 0 END AS neg_sq,
                     CASE WHEN ret > 0 THEN ret ELSE 0 END AS pos,
                     CASE WHEN ret < 0 THEN ret ELSE 0 END AS neg
              FROM r),
            a AS (
              SELECT user_id, ts, close,
                     count(ret) OVER f AS cnt,
                     avg(ret) OVER f AS m,
                     stddev_samp(ret) OVER f AS sd,
                     avg(neg_sq) OVER f AS dvar,
                     sum(pos) OVER f AS psum,
                     sum(neg) OVER f AS nsum,
                     avg(ret * ret) OVER f AS e2,
                     avg(ret * ret * ret) OVER f AS e3,
                     avg(ret * ret * ret * ret) OVER f AS e4
              FROM g
              WINDOW f AS (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
            k AS (
              SELECT user_id, ts, close,
                     CASE WHEN cnt >= 10 THEN (m - 0.0) / sd * sqrt(252.0)
                       END AS sharpe,
                     CASE WHEN cnt >= 10 AND dvar > 1e-12
                          THEN (m - 0.0) / sqrt(dvar) * sqrt(252.0)
                       END AS sortino,
                     CASE WHEN cnt >= 10 THEN sd * sqrt(252.0) END AS vol,
                     CASE WHEN cnt >= 10 AND -nsum <> 0 THEN psum / (-nsum)
                       END AS omega,
                     e2 - m * m AS m2,
                     e3 - 3 * m * e2 + 2 * m * m * m AS m3,
                     e4 - 4 * m * e3 + 6 * m * m * e2 - 3 * m * m * m * m
                       AS m4,
                     cnt
              FROM a)
            SELECT user_id, ts, round(close, 6) AS close,
                   CAST(floor(sharpe * 640000 + 0.5) AS BIGINT)
                     AS close_sharpe_ratio_20,
                   CAST(floor(sortino * 640000 + 0.5) AS BIGINT)
                     AS close_sortino_ratio_20,
                   CAST(floor(vol * 640000 + 0.5) AS BIGINT)
                     AS close_volatility_annualized_20,
                   CAST(floor(omega * 640000 + 0.5) AS BIGINT)
                     AS close_omega_ratio_20,
                   CAST(floor(CASE WHEN cnt >= 10
                                   THEN m3 / (m2 ^ 1.5) END * 640000 + 0.5)
                        AS BIGINT) AS close_skewness_20,
                   CAST(floor(CASE WHEN cnt >= 10
                                   THEN m4 / (m2 * m2) - 3 END * 640000
                              + 0.5) AS BIGINT) AS close_kurtosis_20
            FROM k
        """,
        "fip_momentum": """
            -- Π(1+r) over the 20-return window telescopes to
            -- close / lag(close, 20)
            WITH c AS (
              SELECT user_id, ts, 100.0 + value/10 AS close FROM events),
            r AS (
              SELECT user_id, ts, close,
                     close / lag(close) OVER w - 1 AS ret,
                     lag(close, 20) OVER w AS base
              FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            a AS (
              SELECT user_id, ts, close, base,
                     count(ret) OVER f AS cnt,
                     sum(CASE WHEN ret > 0 THEN 1 ELSE 0 END) OVER f AS npos,
                     sum(CASE WHEN ret < 0 THEN 1 ELSE 0 END) OVER f AS nneg
              FROM r
              WINDOW f AS (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
            SELECT user_id, ts, round(close, 6) AS close,
                   CAST(floor(CASE WHEN cnt >= 20 THEN
                       (close / base - 1) * (nneg / 20.0 - npos / 20.0)
                     END * 640000 + 0.5) AS BIGINT) AS close_fip_momentum_20
            FROM a
        """,
        "qsmomentum": """
            WITH c AS (
              SELECT user_id, ts, 100.0 + value/10 AS close,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts) AS rn
              FROM events),
            r AS (
              SELECT user_id, ts, close, rn,
                     close / lag(close) OVER w - 1 AS ret,
                     lag(close, 5) OVER w AS fast_close,
                     lag(close, 21) OVER w AS slow_close
              FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            a AS (
              SELECT user_id, ts, close, rn, fast_close, slow_close,
                     stddev_pop(ret) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS BETWEEN 9 PRECEDING
                                           AND CURRENT ROW) AS sd
              FROM r)
            SELECT user_id, ts, round(close, 6) AS close,
                   CAST(floor(CASE WHEN rn >= 22 AND sd >= 1e-10 THEN
                       ((fast_close - slow_close) / (slow_close + 1e-10)
                        - (close - fast_close) / (fast_close + 1e-10)) / sd
                     END * 640000 + 0.5) AS BIGINT) AS close_qsmom_5_21_10
            FROM a
        """,
        "finance_ppo": """
            WITH c AS (
              SELECT user_id, ts, 100.0 + value/10 AS close,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts) - 1 AS t
              FROM events),
            e AS (
              SELECT a.user_id, a.ts, a.close,
                     sum(b.close * CASE WHEN b.t = 0 THEN power(11.0/13, a.t)
                              ELSE (2.0/13) * power(11.0/13, a.t - b.t) END)
                       AS ef,
                     sum(b.close * CASE WHEN b.t = 0 THEN power(25.0/27, a.t)
                              ELSE (2.0/27) * power(25.0/27, a.t - b.t) END)
                       AS es
              FROM c a JOIN c b
                ON a.user_id = b.user_id AND b.t <= a.t
              GROUP BY a.user_id, a.ts, a.close, a.t)
            SELECT user_id, ts, round(close, 6) AS close,
                   CAST(floor((ef - es) / es * 100 * 10000 + 0.5) AS BIGINT)
                     AS close_ppo_line_12_26
            FROM e
        """,
        "seasonal_trend_frequency": """
            WITH d AS (
              SELECT user_id,
                     epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                                     ORDER BY ts)) AS diff
              FROM events),
            m AS (SELECT user_id, quantile_cont(diff, 0.5) AS sec
                  FROM d GROUP BY 1),
            c AS (SELECT user_id, sec,
                    CASE WHEN sec < 60 THEN 'S' WHEN sec < 3600 THEN 'T'
                         WHEN sec < 86400 THEN 'H' WHEN sec < 604800 THEN 'D'
                         WHEN sec < 2419200 THEN 'W'
                         WHEN sec < 7776000 THEN 'M'
                         WHEN sec < 31536000 THEN 'Q' ELSE 'Y' END AS unit,
                    CASE WHEN sec < 60 THEN sec
                         WHEN sec < 3600 THEN sec / 60
                         WHEN sec < 86400 THEN sec / 3600
                         WHEN sec < 604800 THEN sec / 86400
                         WHEN sec < 2419200 THEN sec / 604800
                         WHEN sec < 7776000 THEN round(sec / 2678400, 1)
                         WHEN sec < 31536000 THEN round(sec / 7948800, 1)
                         ELSE round(sec / 31622400, 1) END AS scale
                  FROM m),
            s AS (SELECT user_id,
                    CASE WHEN unit IN ('M', 'Q', 'Y')
                          AND (scale - floor(scale)) >= 0.1
                          AND (scale - floor(scale)) <= 0.9
                         THEN 'D' ELSE unit END AS u
                  FROM c)
            SELECT user_id,
                   CASE u WHEN 'S' THEN '1H' WHEN 'T' THEN '1D'
                          WHEN 'H' THEN '1D' WHEN 'D' THEN '1W'
                          WHEN 'W' THEN '1Q' WHEN 'M' THEN '1Y'
                          WHEN 'Q' THEN '1Y' ELSE '5Y' END
                     AS seasonal_period,
                   CASE u WHEN 'S' THEN '12H' WHEN 'T' THEN '14D'
                          WHEN 'H' THEN '1M' WHEN 'D' THEN '1Q'
                          WHEN 'W' THEN '1Y' WHEN 'M' THEN '5Y'
                          WHEN 'Q' THEN '10Y' ELSE '30Y' END
                     AS trend_period
            FROM s
        """,
        "finance_hurst": """
            -- rolling R/S via bounded window self-join: each full 30-row
            -- window partition gets its centered cumulative range
            WITH c AS (
              SELECT user_id, ts, 100.0 + value/10 AS close,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts)
                       AS rn
              FROM events),
            mw AS (
              SELECT user_id, ts, rn, close,
                     avg(close) OVER f AS mu,
                     stddev_pop(close) OVER f AS sd,
                     count(*) OVER f AS cnt
              FROM c
              WINDOW f AS (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)),
            j AS (
              SELECT a.user_id, a.ts, a.close AS aclose, a.rn AS i, a.mu,
                     a.sd, b.rn AS t, b.close
              FROM mw a JOIN c b
                ON a.user_id = b.user_id
               AND b.rn BETWEEN a.rn - 29 AND a.rn
              WHERE a.cnt = 30),
            cum AS (
              SELECT user_id, ts, aclose, i, sd,
                     sum(close - mu) OVER (PARTITION BY user_id, i
                                           ORDER BY t) AS cs
              FROM j),
            rs AS (
              SELECT user_id, ts, any_value(aclose) AS close,
                     any_value(sd) AS sd, max(cs) - min(cs) AS r
              FROM cum GROUP BY user_id, ts, i),
            h AS (
              SELECT user_id, ts, close,
                     CASE WHEN sd > 0 AND r > 0
                          THEN ln(r / sd) / ln(30.0) END AS hurst
              FROM rs)
            SELECT c.user_id, c.ts, round(c.close, 6) AS close,
                   CAST(floor(CASE WHEN h.hurst BETWEEN 0 AND 1
                                   THEN h.hurst END * 640000 + 0.5)
                        AS BIGINT) AS close_hurst_30
            FROM c LEFT JOIN h USING (user_id, ts)
        """,
        "finance_adx": """
            -- Wilder smoothing = EMA(alpha=1/14, adjust=False): closed
            -- form per the macd oracle. tr/+dm/-dm are non-null from t=0
            -- (pandas row-wise max skips the first row's NaN members; the
            -- NaN up/down comparisons give 0 dm). dx exists from t=13
            -- (min_periods=14 gates each smoothed series); the adx EWM
            -- restarts its recurrence at t0=13 and gates at t>=26.
            WITH base AS (
              SELECT user_id, ts, value,
                     value + 0.5 * ((user_id % 7) + 1) AS high,
                     value - 0.5 * ((user_id % 5) + 1) AS low,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1
                       AS t
              FROM events),
            d AS (
              SELECT user_id, ts, value, high, low, t,
                     greatest(high - low,
                              abs(high - lag(value) OVER w),
                              abs(low - lag(value) OVER w)) AS tr,
                     CASE WHEN (high - lag(high) OVER w)
                               > (lag(low) OVER w - low)
                          THEN greatest(high - lag(high) OVER w, 0)
                          ELSE 0 END AS pdm,
                     CASE WHEN (lag(low) OVER w - low)
                               > (high - lag(high) OVER w)
                          THEN greatest(lag(low) OVER w - low, 0)
                          ELSE 0 END AS mdm
              FROM base
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            sm AS (
              SELECT a.user_id, a.ts, a.value, a.high, a.low, a.t,
                     sum(b.tr * CASE WHEN b.t = 0 THEN power(13.0/14, a.t)
                           ELSE (1.0/14) * power(13.0/14, a.t - b.t) END)
                       AS tr_s,
                     sum(b.pdm * CASE WHEN b.t = 0 THEN power(13.0/14, a.t)
                           ELSE (1.0/14) * power(13.0/14, a.t - b.t) END)
                       AS pdm_s,
                     sum(b.mdm * CASE WHEN b.t = 0 THEN power(13.0/14, a.t)
                           ELSE (1.0/14) * power(13.0/14, a.t - b.t) END)
                       AS mdm_s
              FROM d a JOIN d b ON a.user_id = b.user_id AND b.t <= a.t
              GROUP BY a.user_id, a.ts, a.value, a.high, a.low, a.t),
            di AS (
              SELECT user_id, ts, value, high, low, t,
                     CASE WHEN t >= 13
                          THEN 100 * pdm_s / tr_s END AS pdi,
                     CASE WHEN t >= 13
                          THEN 100 * mdm_s / tr_s END AS mdi
              FROM sm),
            dx AS (
              SELECT user_id, ts, value, high, low, t, pdi, mdi,
                     100 * abs(pdi - mdi) / (pdi + mdi) AS dx
              FROM di),
            adx AS (
              SELECT a.user_id, a.ts, a.value, a.high, a.low, a.t,
                     a.pdi, a.mdi,
                     sum(b.dx * CASE WHEN b.t = 13
                           THEN power(13.0/14, a.t - 13)
                           ELSE (1.0/14) * power(13.0/14, a.t - b.t) END)
                       AS adx_raw
              FROM dx a LEFT JOIN dx b
                ON a.user_id = b.user_id AND b.t BETWEEN 13 AND a.t
              GROUP BY a.user_id, a.ts, a.value, a.high, a.low, a.t,
                       a.pdi, a.mdi)
            SELECT user_id, ts, round(value, 6) AS value,
                   round(high, 6) AS high, round(low, 6) AS low,
                   CAST(floor(pdi * 10000 + 0.5) AS BIGINT)
                     AS value_plus_di_14,
                   CAST(floor(mdi * 10000 + 0.5) AS BIGINT)
                     AS value_minus_di_14,
                   CAST(floor(CASE WHEN t >= 26 THEN adx_raw END * 10000
                              + 0.5) AS BIGINT) AS value_adx_14
            FROM adx
        """,
        "weekend_sequence": """
            WITH d AS (
              SELECT CAST(unnest(generate_series(DATE '2024-01-01',
                                                 DATE '2024-12-31',
                                                 INTERVAL 1 DAY)) AS DATE)
                       AS date)
            SELECT CAST(date AS TIMESTAMP) AS date
            FROM d WHERE isodow(date) >= 6
        """,
        "asof_join_backward": """
            WITH hourly AS (
              SELECT user_id, date_trunc('hour', ts) AS rts,
                     sum(value) AS hsum, count(*) AS hn
              FROM events GROUP BY 1, 2)
            SELECT e.user_id, e.ts, round(e.value, 6) AS value,
                   round(h.hsum, 6) AS hsum, h.hn
            FROM events e
            ASOF LEFT JOIN hourly h
              ON e.user_id = h.user_id AND e.ts >= h.rts
        """,
        "asof_join_forward": """
            WITH hourly AS (
              SELECT user_id, date_trunc('hour', ts) AS rts,
                     sum(value) AS hsum, count(*) AS hn
              FROM events GROUP BY 1, 2)
            SELECT e.user_id, e.ts, round(e.value, 6) AS value,
                   round(h.hsum, 6) AS hsum, h.hn
            FROM events e
            ASOF LEFT JOIN hourly h
              ON e.user_id = h.user_id AND e.ts <= h.rts
        """,
        "asof_join_nearest": """
            WITH hourly AS (
              SELECT user_id, date_trunc('hour', ts) AS rts,
                     sum(value) AS hsum, count(*) AS hn
              FROM events GROUP BY 1, 2),
            b AS (
              SELECT e.user_id, e.ts, e.value,
                     h.rts AS brts, h.hsum AS bsum, h.hn AS bn
              FROM events e
              ASOF LEFT JOIN hourly h
                ON e.user_id = h.user_id AND e.ts >= h.rts),
            f AS (
              SELECT e.user_id, e.ts,
                     h.rts AS frts, h.hsum AS fsum, h.hn AS fn
              FROM events e
              ASOF LEFT JOIN hourly h
                ON e.user_id = h.user_id AND e.ts <= h.rts),
            j AS (
              SELECT b.user_id, b.ts, b.value,
                     epoch_us(b.ts) - epoch_us(b.brts) AS bd,
                     epoch_us(f.frts) - epoch_us(f.ts) AS fd,
                     b.bsum, b.bn, f.fsum, f.fn
              FROM b JOIN f ON b.user_id = f.user_id AND b.ts = f.ts),
            pick AS (
              SELECT user_id, ts, value,
                     CASE
                       WHEN bd IS NOT NULL AND bd <= 1800000000
                            AND (fd IS NULL OR fd > 1800000000 OR bd <= fd)
                         THEN 'b'
                       WHEN fd IS NOT NULL AND fd <= 1800000000 THEN 'f'
                     END AS side,
                     bsum, bn, fsum, fn
              FROM j)
            SELECT user_id, ts, round(value, 6) AS value,
                   round(CASE side WHEN 'b' THEN bsum
                                   WHEN 'f' THEN fsum END, 6) AS hsum,
                   CASE side WHEN 'b' THEN bn WHEN 'f' THEN fn END AS hn
            FROM pick
        """,
        "sessionize": """
            WITH d AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (
              SELECT user_id, ts,
                     CAST(sum(new_sess) OVER (PARTITION BY user_id
                                         ORDER BY ts
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) - 1 AS BIGINT)
                       AS session_id
              FROM d)
            SELECT user_id, session_id, count(*) AS n_events,
                   epoch_us(min(ts)) // 1000000 AS session_start,
                   epoch_us(max(ts)) // 1000000 AS session_end,
                   (epoch_us(max(ts)) // 1000000)
                     - (epoch_us(min(ts)) // 1000000) AS duration_sec
            FROM s GROUP BY 1, 2
        """,
        "expanding_apply": """
            SELECT user_id,
                   epoch_us(ts) // 1000000 AS ts,
                   round(value, 6) AS value,
                   CAST(floor(CASE WHEN count(*) OVER w >= 3
                              THEN sum(value) OVER w END * 100 + 0.5)
                        AS BIGINT) AS expanding_vsum
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "retention_expiry": """
            -- surviving 1h tier after expiring bucket_date < 2024-01-21
            -- (now=2024-01-31, keep 10 days): recompute + filter
            WITH t AS (
              SELECT event_type AS url, date_trunc('hour', ts) AS b,
                     count(value) AS cnt, sum(value) AS vsum
              FROM events
              WHERE CAST(ts AS DATE) >= DATE '2024-01-21'
              GROUP BY 1, 2)
            SELECT url,
                   count(*) AS n_buckets,
                   CAST(sum(cnt) AS BIGINT) AS n_points,
                   epoch_us(min(b)) // 1000000 AS first_bucket,
                   epoch_us(max(b)) // 1000000 AS last_bucket,
                   CAST(floor(sum(vsum) * 10000 + 0.5) AS BIGINT) AS vsum
            FROM t GROUP BY 1
        """,
        "rolling_apply": """
            -- ROWS window mirror of the Arrow rolling-apply: NULL until
            -- min_periods(=window)=7 rows exist in the frame
            SELECT user_id,
                   epoch_us(ts) // 1000000 AS ts,
                   round(value, 6) AS value,
                   CAST(floor(CASE WHEN count(*) OVER w >= 7
                              THEN sum(value) OVER w END * 100 + 0.5)
                        AS BIGINT) AS rolling_vsum_win_7,
                   round(CASE WHEN count(*) OVER w >= 7
                              THEN max(value) OVER w - min(value) OVER w END,
                         6) AS rolling_vrange_win_7
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        """,
        "binarize_onehot": """
            -- one-hot contract: string levels sorted, low-cardinality
            -- numeric (3 uniques <= n_bins+3) treated categorically,
            -- boolean cast to int; all levels >= 1% so no -OTHER column
            SELECT
              CAST(event_type = 'click'    AS INT) AS event_type__click,
              CAST(event_type = 'error'    AS INT) AS event_type__error,
              CAST(event_type = 'purchase' AS INT) AS event_type__purchase,
              CAST(event_type = 'signup'   AS INT) AS event_type__signup,
              CAST(event_type = 'view'     AS INT) AS event_type__view,
              CAST(user_id % 3 = 0 AS INT) AS u3__0,
              CAST(user_id % 3 = 1 AS INT) AS u3__1,
              CAST(user_id % 3 = 2 AS INT) AS u3__2,
              CAST(value > 50.0 AS INT) AS highval
            FROM events
        """,
        "streaming_ewm": """
            -- same closed-form adjusted-EWM construction as augment_ewm
            -- (bounded 256-row trailing self-join), epoch-second ts canon
            WITH r AS (
              SELECT user_id, ts, value,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1
                       AS t
              FROM events)
            SELECT a.user_id,
                   epoch_us(a.ts) // 1000000 AS ts,
                   round(a.value, 6) AS value,
                   CAST(floor(
                     sum(b.value * power(0.8, a.t - b.t))
                     / ((1 - power(0.8, a.t + 1)) / 0.2) * 10000 + 0.5)
                     AS BIGINT) AS ewm
            FROM r a JOIN r b
              ON a.user_id = b.user_id AND b.t BETWEEN a.t - 255 AND a.t
            GROUP BY a.user_id, a.ts, a.value, a.t
        """,
        "streaming_tier_1h": """
            -- batch mirror of the streaming tumbling-1h tier: identical
            -- aggregation, restricted to windows the final watermark
            -- (max event time, 0s delay) closed: window end <= max(ts)
            WITH mx AS (SELECT max(ts) AS m FROM events),
            h AS (
              SELECT event_type, date_trunc('hour', ts) AS b,
                     count(value) AS cnt, sum(value) AS vsum,
                     min(value) AS vmin, max(value) AS vmax,
                     sum(value * value) AS vsumsq
              FROM events GROUP BY 1, 2)
            SELECT h.event_type,
                   epoch_us(h.b) // 1000000 AS bucket_ts,
                   h.cnt,
                   CAST(floor(h.vsum * 10000 + 0.5) AS BIGINT) AS vsum,
                   round(h.vmin, 6) AS vmin,
                   round(h.vmax, 6) AS vmax,
                   CAST(floor(h.vsumsq * 100 + 0.5) AS BIGINT) AS vsumsq
            FROM h, mx
            WHERE h.b + INTERVAL 1 HOUR <= mx.m
        """,
        "weekday_sequence": """
            WITH d AS (
              SELECT CAST(unnest(generate_series(DATE '2024-01-01',
                                                 DATE '2024-12-31',
                                                 INTERVAL 1 DAY)) AS DATE)
                       AS date)
            SELECT date FROM d WHERE isodow(date) <= 5
        """,
        "gorilla_roundtrip": """
            SELECT event_type AS url,
                   date_trunc('hour', ts) AS bucket_ts,
                   count(value) AS cnt,
                   round(sum(value), 6) AS vsum,
                   round(min(value), 6) AS vmin,
                   round(max(value), 6) AS vmax
            FROM events GROUP BY 1, 2
        """,
        "byte_stats_features": """
            -- documents.text is pure ASCII at every SF (octet_length ==
            -- length), so byte == ascii(char); bin = byte >> 4.
            WITH by AS (
              SELECT doc_id,
                     unnest(list_transform(split(text, ''),
                                           c -> ascii(c) // 16)) AS bin
              FROM documents),
            h AS (SELECT doc_id, bin, count(*)::DOUBLE AS cnt
                  FROM by GROUP BY 1, 2),
            tot AS (SELECT doc_id, sum(cnt) AS total FROM h GROUP BY 1),
            ent AS (SELECT h.doc_id,
                           -sum((cnt/total) * log2(cnt/total)) AS byte_entropy
                    FROM h JOIN tot USING (doc_id) GROUP BY 1)
            SELECT d.doc_id,
                   length(d.text) AS n_bytes,
                   round(ent.byte_entropy, 6) AS byte_entropy,
                   b.bin,
                   round(coalesce(h.cnt / tot.total, 0.0), 6) AS hist_frac
            FROM documents d
            CROSS JOIN (SELECT unnest(range(16)) AS bin) b
            JOIN tot ON tot.doc_id = d.doc_id
            JOIN ent ON ent.doc_id = d.doc_id
            LEFT JOIN h ON h.doc_id = d.doc_id AND h.bin = b.bin
        """,
        "quality_score": """
            WITH f AS (
              SELECT doc_id,
                length(text) AS n_chars,
                string_split_regex(
                  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk,
                length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))::DOUBLE
                  / greatest(length(text), 1) AS punct,
                length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
                  / greatest(length(text), 1) AS digits,
                length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE
                  / greatest(length(text), 1) AS upper
              FROM documents),
            g AS (
              SELECT doc_id, n_chars, punct, digits, upper,
                list_aggregate(list_transform(tk, x -> length(x)), 'sum')::DOUBLE
                  / greatest(len(tk), 1) AS mean_len,
                len(list_intersect(list_distinct(tk),
                  ['the','and','of','to','a','in','is','it','you','that',
                   'was','for','on','are','with','as','this','have','be']))
                  AS stop_hits
              FROM f)
            SELECT doc_id,
                   n_chars AS q_n_chars,
                   round(digits, 6) AS q_digit_ratio,
                   round(upper, 6) AS q_upper_ratio,
                   round((
                     (n_chars >= 20 AND n_chars <= 100000)::INT
                     + (mean_len >= 2.0 AND mean_len <= 12.0)::INT
                     + (punct <= 0.25)::INT
                     + (digits <= 0.3)::INT
                     + (upper <= 0.3)::INT
                     + (stop_hits >= 1)::INT)::DOUBLE / 6, 6) AS quality_score
            FROM g
        """,
        "repetition_signals": """
            -- Gopher repetition filters (textstats.repetition_signals):
            -- word n-grams by list slicing; top-gram argmax ordered by
            -- (count, char-occupancy) like the Spark max_by; dup fracs
            -- count ALL occurrences of repeated grams, capped at 1.
            WITH d AS (
              SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
                     string_split(trim(regexp_replace(lower(text),
                       '\\s+', ' ', 'g')), ' ') AS toks,
                     list_filter(string_split(text, chr(10)),
                                 x -> length(x) > 0) AS lines
              FROM documents),
            lc AS (  -- line duplication (degenerate 0 on this corpus)
              SELECT doc_id,
                     1.0 - count(DISTINCT l) * 1.0 / count(*) AS dup_line_frac
              FROM d, LATERAL (SELECT unnest(lines) AS l) u
              GROUP BY doc_id),
            pos AS (
              SELECT d.doc_id, d.n_chars, ns.n, toks,
                     unnest(range(1, len(toks) - ns.n + 2)) AS i
              FROM d CROSS JOIN (VALUES (2), (3), (5), (10)) ns(n)
              WHERE len(toks) >= ns.n),
            grams AS (
              SELECT doc_id, n_chars, n,
                     array_to_string(toks[i : i + n - 1], ' ') AS gram
              FROM pos),
            cnts AS (
              SELECT doc_id, n_chars, n, gram, count(*) AS c,
                     length(gram) AS ch
              FROM grams GROUP BY 1, 2, 3, 4),
            per_n AS (
              SELECT doc_id, n_chars, n,
                     max(struct_pack(c := c, occ := c * ch)).occ AS top_occ,
                     coalesce(sum(CASE WHEN c > 1 THEN c * ch END), 0)
                       AS dup_chars
              FROM cnts GROUP BY 1, 2, 3)
            SELECT d.doc_id, d.n_chars,
                   round(coalesce(lc.dup_line_frac, 0), 6) AS dup_line_frac,
                   round(least(coalesce(t2.top_occ, 0)
                     / greatest(d.n_chars, 1), 1.0), 6)
                     AS top_2gram_char_frac,
                   round(least(coalesce(t3.top_occ, 0)
                     / greatest(d.n_chars, 1), 1.0), 6)
                     AS top_3gram_char_frac,
                   round(least(coalesce(t5.dup_chars, 0)
                     / greatest(d.n_chars, 1), 1.0), 6)
                     AS dup_5gram_char_frac,
                   round(least(coalesce(t10.dup_chars, 0)
                     / greatest(d.n_chars, 1), 1.0), 6)
                     AS dup_10gram_char_frac
            FROM d
            LEFT JOIN lc USING (doc_id)
            LEFT JOIN per_n t2 ON t2.doc_id = d.doc_id AND t2.n = 2
            LEFT JOIN per_n t3 ON t3.doc_id = d.doc_id AND t3.n = 3
            LEFT JOIN per_n t5 ON t5.doc_id = d.doc_id AND t5.n = 5
            LEFT JOIN per_n t10 ON t10.doc_id = d.doc_id AND t10.n = 10
        """,
        "cleaning_stats": """
            -- mask_pii counts (lookaround-free kinds only: DuckDB's RE2
            -- has no lookbehind, so the phone pattern stays Spark-side)
            -- + c4_line_filter(min_words=56, no terminal-punct rule)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                     AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(text,
                     '\\b(?:(?:25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})\\.){3}(?:25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})\\b'))
                     AS BIGINT) AS n_ipv4,
                   CAST(len(regexp_extract_all(text,
                     '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS BIGINT)
                     AS n_ssn,
                   CAST(len(string_split(text, chr(10))) AS BIGINT)
                     AS n_lines,
                   CAST(len(list_filter(string_split(text, chr(10)),
                     x -> length(trim(x)) > 0
                          AND len(regexp_split_to_array(trim(x), '\\s+'))
                              >= 56
                          AND NOT regexp_matches(trim(x),
                            '(?i)(javascript|lorem ipsum|cookies? (policy|settings)|terms of (use|service)|privacy policy|\\{)')))
                     AS BIGINT) AS n_lines_kept,
                   round(len(list_filter(string_split(text, chr(10)),
                     x -> length(trim(x)) > 0
                          AND len(regexp_split_to_array(trim(x), '\\s+'))
                              >= 56
                          AND NOT regexp_matches(trim(x),
                            '(?i)(javascript|lorem ipsum|cookies? (policy|settings)|terms of (use|service)|privacy policy|\\{)')))
                     * 1.0 / greatest(len(string_split(text, chr(10))), 1),
                     6) AS line_keep_frac
            FROM documents
        """,
        "dedup_paragraphs": """
            -- repeated-line removal over header/footer-wrapped docs
            WITH base AS (
              SELECT doc_id,
                     'SHARED HEADER' || chr(10) || text || chr(10) ||
                       'CC BY' AS t
              FROM documents),
            sp AS (
              SELECT doc_id, string_split(t, chr(10)) AS ps FROM base),
            ix AS (
              SELECT doc_id, ps, unnest(range(1, len(ps) + 1)) AS i
              FROM sp),
            paras AS (
              SELECT doc_id, i, trim(ps[i]) AS para FROM ix
              WHERE trim(ps[i]) <> ''),
            rep AS (
              SELECT para FROM (
                SELECT para, count(DISTINCT doc_id) AS c
                FROM paras GROUP BY 1)
              WHERE c >= 2),
            flg AS (
              SELECT p.doc_id, p.i, p.para,
                     (r.para IS NOT NULL) AS is_rep
              FROM paras p LEFT JOIN rep r USING (para)),
            reb AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_paras,
                     CAST(sum(CASE WHEN is_rep THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_paras_dropped,
                     string_agg(CASE WHEN NOT is_rep THEN para END,
                                chr(10) ORDER BY i) AS t
              FROM flg GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(r.n_paras, 0) AS n_paras,
                   coalesce(r.n_paras_dropped, 0) AS n_paras_dropped,
                   md5(coalesce(r.t, '')) AS text_md5
            FROM documents d LEFT JOIN reb r USING (doc_id)
        """,
        "dsir_select": """
            -- DSIR Gumbel-top-k: hashed uni+bigram bag models, target =
            -- every 10th doc, add-1 smoothing over 4096 buckets, seed 3
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split(trim(regexp_replace(
                       lower(text), '\\s+', ' ', 'g')), ' '),
                       x -> x <> '') AS toks
              FROM documents),
            u1 AS (SELECT doc_id, toks,
                          unnest(range(1, len(toks) + 1)) AS i FROM tok),
            u2 AS (SELECT doc_id, toks,
                          unnest(range(1, len(toks))) AS i FROM tok),
            grams AS (
              SELECT doc_id, toks[i] AS g FROM u1
              UNION ALL
              SELECT doc_id, array_to_string(toks[i : i + 1], ' ') AS g
              FROM u2),
            feats AS (
              SELECT doc_id,
                     CAST('0x' || substr(md5(g), 1, 13) AS BIGINT) % 4096
                       AS bucket,
                     count(*) AS c
              FROM grams GROUP BY 1, 2),
            tdist AS (SELECT bucket, sum(c) AS tc FROM feats
                      WHERE doc_id % 10 = 0 GROUP BY 1),
            tg AS (SELECT CAST(sum(tc) AS DOUBLE) + 4096.0 AS d FROM tdist),
            rdist AS (SELECT bucket, sum(c) AS rc FROM feats GROUP BY 1),
            rg AS (SELECT CAST(sum(rc) AS DOUBLE) + 4096.0 AS d FROM rdist),
            llr AS (
              SELECT r.bucket,
                     ln((coalesce(t.tc, 0) + 1.0) / (SELECT d FROM tg))
                     - ln((r.rc + 1.0) / (SELECT d FROM rg)) AS v
              FROM rdist r LEFT JOIN tdist t USING (bucket)),
            w AS (
              SELECT f.doc_id, sum(f.c) AS n_feat,
                     sum(f.c * l.v) AS log_w
              FROM feats f JOIN llr l USING (bucket) GROUP BY 1),
            tot AS (
              SELECT d.doc_id,
                     coalesce(w.n_feat, 0) AS n_feat,
                     coalesce(w.log_w, 0.0) AS log_w
              FROM documents d LEFT JOIN w USING (doc_id)),
            scored AS (
              SELECT doc_id, n_feat,
                     log_w - ln(-ln(
                       least(greatest(
                         CAST('0x' || substr(md5('3' || chr(31) ||
                           CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)
                           / 4503599627370496.0,
                         1e-12), 1.0 - 1e-12)
                     )) AS score
              FROM tot)
            SELECT doc_id,
                   CAST(n_feat AS BIGINT) AS n_feat,
                   CAST(floor(score * 100 + 0.5) AS BIGINT) AS score_c
            FROM scored
            ORDER BY score DESC, doc_id
            LIMIT 50
        """,
        "temperature_sample": """
            -- alpha=0.5 temperature mixing over lang, md5-uniform copies
            WITH counts AS (
              SELECT lang, count(*) AS n FROM documents GROUP BY 1),
            tot AS (SELECT CAST(sum(n) AS DOUBLE) AS g FROM counts),
            w AS (
              SELECT lang, n,
                     n / (SELECT g FROM tot) AS p,
                     pow(n / (SELECT g FROM tot), 0.5) AS qr
              FROM counts),
            z AS (SELECT sum(qr) AS z FROM w),
            r AS (SELECT lang, (qr / (SELECT z FROM z)) / p AS rate FROM w),
            d AS (
              SELECT doc.doc_id, doc.lang, r.rate,
                     CAST('0x' || substr(md5('1' || chr(31) ||
                       CAST(doc.doc_id AS VARCHAR)), 1, 13) AS BIGINT)
                       / 4503599627370496.0 AS u
              FROM documents doc JOIN r USING (lang)),
            nc AS (
              SELECT doc_id, lang,
                     CAST(floor(rate) AS BIGINT)
                     + CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END
                       AS n_copies
              FROM d)
            SELECT doc_id, lang, n_copies,
                   unnest(range(0, n_copies)) AS copy_idx
            FROM nc WHERE n_copies > 0
        """,
        "ngram_lm": """
            -- Stupid-Backoff trigram LM: fit on even doc_ids (min_count 2),
            -- score all docs; integer backoff-order evidence + log canon
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split(trim(regexp_replace(
                       lower(text), '\\s+', ' ', 'g')), ' '),
                       x -> x <> '') AS toks
              FROM documents),
            pad AS (
              SELECT doc_id, ['<s>', '<s>'] || toks || ['</s>'] AS p
              FROM tok),
            t1 AS (SELECT p, unnest(range(1, len(p) + 1)) AS i
                   FROM pad WHERE doc_id % 2 = 0),
            t2 AS (SELECT p, unnest(range(1, len(p))) AS i
                   FROM pad WHERE doc_id % 2 = 0),
            t3 AS (SELECT p, unnest(range(1, len(p) - 1)) AS i
                   FROM pad WHERE doc_id % 2 = 0),
            counts AS (
              SELECT g, count(*) AS c FROM (
                SELECT p[i] AS g FROM t1
                UNION ALL
                SELECT array_to_string(p[i : i + 1], ' ') AS g FROM t2
                UNION ALL
                SELECT array_to_string(p[i : i + 2], ' ') AS g FROM t3
              ) GROUP BY g HAVING count(*) >= 2),
            nval AS (
              SELECT CAST(sum(c) AS DOUBLE) AS n FROM counts
              WHERE g <> '<s>' AND NOT contains(g, ' ')),
            pos AS (
              SELECT doc_id, p, unnest(range(3, len(p) + 1)) AS i
              FROM pad),
            lk AS (
              SELECT doc_id, i,
                     array_to_string(p[i - 2 : i], ' ') AS g3n,
                     array_to_string(p[i - 1 : i], ' ') AS g2n,
                     p[i] AS g1n,
                     array_to_string(p[i - 2 : i - 1], ' ') AS d3,
                     p[i - 1] AS d2
              FROM pos),
            sc AS (
              SELECT l.doc_id,
                     CASE WHEN c3.c IS NOT NULL THEN 3
                          WHEN c2.c IS NOT NULL THEN 2
                          WHEN c1.c IS NOT NULL THEN 1
                          ELSE 0 END AS m,
                     CASE WHEN c3.c IS NOT NULL
                            THEN log10(c3.c / cd3.c)
                          WHEN c2.c IS NOT NULL
                            THEN log10(c2.c / cd2.c) + log10(0.4)
                          WHEN c1.c IS NOT NULL
                            THEN log10(c1.c / (SELECT n FROM nval))
                                 + 2 * log10(0.4)
                          ELSE log10(1.0 / (SELECT n FROM nval))
                               + 2 * log10(0.4) END AS lp
              FROM lk l
              LEFT JOIN counts c3 ON c3.g = l.g3n
              LEFT JOIN counts c2 ON c2.g = l.g2n
              LEFT JOIN counts c1 ON c1.g = l.g1n
              LEFT JOIN counts cd3 ON cd3.g = l.d3
              LEFT JOIN counts cd2 ON cd2.g = l.d2)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_scored,
                   CAST(sum(CASE WHEN m = 3 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_m3,
                   CAST(sum(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_m2,
                   CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_m1,
                   CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_unk,
                   CAST(floor(-sum(lp) * 100 + 0.5) AS BIGINT) AS neg_lp_c
            FROM sc GROUP BY doc_id
        """,
        "decontaminate": """
            -- GPT-3 13-gram decontamination vs docs 0-4 as benchmark
            WITH tok AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                       '\\s+', ' ', 'g')), ' ') AS toks
              FROM documents),
            pos AS (
              SELECT doc_id, toks,
                     unnest(range(1, len(toks) - 11)) AS i
              FROM tok WHERE len(toks) >= 13),
            cg AS (
              SELECT doc_id, array_to_string(toks[i : i + 12], ' ') AS g
              FROM pos),
            bg AS (SELECT DISTINCT g FROM cg WHERE doc_id < 5),
            hits AS (
              SELECT doc_id, count(*) AS c
              FROM cg WHERE g IN (SELECT g FROM bg) GROUP BY 1)
            SELECT d.doc_id,
                   CAST(coalesce(h.c, 0) AS BIGINT)
                     AS n_contaminated_ngrams,
                   CAST(coalesce(h.c, 0) > 0 AS INT) AS is_contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        "near_dup_clusters": """
            -- connected components (min reachable node) via recursive
            -- CTE over the same deterministic first-2-token pair list
            WITH RECURSIVE t AS (
              SELECT doc_id,
                     array_to_string(string_split(trim(regexp_replace(
                       lower(text), '\\s+', ' ', 'g')), ' ')[1:2], ' ')
                       AS k
              FROM documents),
            p AS (
              SELECT a.doc_id AS s, b.doc_id AS d
              FROM t a JOIN t b ON a.k = b.k AND a.doc_id < b.doc_id),
            e AS (
              SELECT s, d FROM p
              UNION SELECT d, s FROM p
              UNION SELECT s, s FROM p
              UNION SELECT d, d FROM p),
            nodes AS (SELECT DISTINCT s AS id FROM e),
            reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.s, reach.r FROM e JOIN reach ON reach.id = e.d)
            SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
        """,
    }
