"""Physical-plan regression tests — the scale properties the engine
promises must be visible in the executed plan, not just asserted in
docstrings: parquet filter pushdown, shuffle-free tier chains after one
url partitioning, and no single-partition exchanges (driver funnels) in
grouped operator plans.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import pytimetk_spark as tk


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def events(spark, tmp_path_factory):
    """A small parquet-backed events table (pushdown needs a file scan)."""
    p = str(tmp_path_factory.mktemp("plans") / "events.parquet")
    rng = np.random.RandomState(0)
    pdf = pd.DataFrame(
        {
            "user_id": rng.randint(0, 20, 2000),
            "ts": pd.date_range("2024-01-01", periods=2000, freq="h"),
            "value": rng.rand(2000) * 100,
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(p)
    return spark.read.parquet(p)


def test_filter_by_time_pushes_down(events):
    out = tk.filter_by_time(events, "ts", "2024-01-05", "2024-01-12")
    plan = _plan(out)
    # the rendered PushedFilters list may be truncated with "..." — assert
    # on the leading entries instead of parsing the bracket
    assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts" in plan


def test_tier_chain_single_shuffle(events, spark):
    """After one repartition by url, raw→1h→1d→7d must add NO further
    exchanges: HashPartitioning(url) satisfies every tier grouping."""
    from pytimetk_spark.rollup.tiers import rollup_raw_to_tier, rollup_tier_to_tier

    pre = events.withColumn("url", F.col("user_id").cast("string")).repartition(
        8, F.col("url")
    )
    h1 = rollup_raw_to_tier(pre, "url", "ts", "value", "h")
    d7 = rollup_tier_to_tier(rollup_tier_to_tier(h1, "D"), "7D")
    plan = _plan(d7)
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1, f"expected 1 exchange, plan has {n_exchanges}"
    assert "Exchange SinglePartition" not in plan


def _tagged_executions(spark, description):
    """Plan-graph nodes ``(name, desc)`` of every finished SQL execution
    started under a job description, read from the status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    it = store.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        if e.description() != description:
            continue
        nodes = []
        graph = store.planGraph(e.executionId()).allNodes().iterator()
        while graph.hasNext():
            n = graph.next()
            nodes.append((n.name(), n.desc()))
        out.append(nodes)
    return out


def test_run_rollup_two_executions_one_raw_scan(spark, tmp_path):
    """A non-empty run_rollup over 1h/1d/7d is one fingerprint pass plus
    ONE write job for every tier; in the write, the 1d and 7d branches
    reuse the raw->1h exchange, so the raw relation is scanned once, and a
    coarse bucket's stored below-tier days are read by partition filter."""
    from pytimetk_spark.rollup.store import TierStore, run_rollup
    from pytimetk_spark.sources.webpages import generate_webpages

    raw_path = str(tmp_path / "raw")
    generate_webpages(
        spark, n_urls=40, crawls_per_url=10, days=9, n_domains=5, seed=3
    ).write.parquet(raw_path)
    store = TierStore(str(tmp_path / "store"))
    sc = spark.sparkContext

    def traced_run(tag):
        sc.setJobDescription(tag)
        try:
            run_rollup(spark, spark.read.parquet(raw_path), store)
        finally:
            sc.setJobDescription(None)
        execs = _tagged_executions(spark, tag)
        assert len(execs) == 2
        writes = [
            nodes for nodes in execs
            if any("InsertIntoHadoopFsRelationCommand" in name for name, _ in nodes)
        ]
        assert len(writes) == 1
        return [desc for name, desc in writes[0] if name.startswith("Scan")]

    # backfill into an empty store: the raw relation is the only scan
    assert len(traced_run("run_rollup-backfill")) == 1

    # one late row: the write scans raw once and the stored 1d tier once,
    # pruned to the touched week's other days by partition filter
    spark.read.parquet(raw_path).limit(1).withColumn(
        "text", F.concat(F.col("text"), F.lit("!"))
    ).write.mode("append").parquet(raw_path)
    scans = traced_run("run_rollup-late-row")
    tier_scans = [d for d in scans if "bucket_ts" in d]
    assert len(scans) == 2 and len(tier_scans) == 1
    assert re.search(r"PartitionFilters: \[bucket_date#\d+ IN \(", tier_scans[0])


def test_grouped_windows_never_single_partition(events):
    out = tk.augment_rolling(
        events, "ts", "value", window=5, window_func=["mean", "sum"],
        group_cols=["user_id"],
    )
    plan = _plan(out)
    assert "Exchange SinglePartition" not in plan
    # every Window node is keyed by the group column
    for m in re.finditer(r"Window \[", plan):
        frag = plan[m.start() : m.start() + 400]
        assert "user_id" in frag


def test_spearman_rank_windows_are_partitioned(events):
    from pytimetk_spark.operators.binarize import _with_avg_rank

    ranked = _with_avg_rank(events.select("value"), "value", "value__rk")
    plan = _plan(ranked)
    # the cumulative window must be partitioned by the range bucket —
    # never a partition-less (single task) sort
    assert "Exchange SinglePartition" not in plan


def test_pad_calendar_is_generated_not_shuffled(events):
    out = tk.pad_by_time(
        events.select("user_id", "ts", "value"), "ts", freq="h",
        group_cols=["user_id"],
    )
    plan = _plan(out)
    # sequence+explode calendar generation present; no global sort by default
    assert "explode" in plan.lower()
    assert "rangepartitioning" not in plan.lower()


def test_ungrouped_windows_warn_single_partition(events):
    import warnings

    from pytimetk_spark.functions.windows import SinglePartitionWarning
    from pytimetk_spark.operators.asof_join import sessionize

    ev = events.select("ts", "value")
    for build in (
        lambda: sessionize(ev, "ts", gap=600.0, group_cols=[]),
        lambda: tk.augment_lags(ev, "ts", "value", lags=1, group_cols=[]),
        lambda: tk.augment_rolling(
            ev, "ts", "value", window=3, window_func="mean", group_cols=[]
        ),
        lambda: tk.augment_fourier(
            ev, "ts", periods=24, max_order=1, group_cols=[]
        ),
    ):
        with warnings.catch_warnings(record=True) as rec:
            warnings.simplefilter("always")
            build()
        assert any(
            issubclass(w.category, SinglePartitionWarning) for w in rec
        ), build

    # grouped paths stay silent
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        sessionize(events.select("user_id", "ts", "value"), "ts",
                   gap=600.0, group_cols=["user_id"])
        tk.augment_lags(events.select("user_id", "ts", "value"), "ts",
                        "value", lags=1, group_cols=["user_id"])
    assert not any(
        issubclass(w.category, SinglePartitionWarning) for w in rec
    )


def test_grouped_sessionize_and_shift_no_single_partition(events):
    from pytimetk_spark.operators.asof_join import sessionize

    for out in (
        sessionize(events.select("user_id", "ts", "value"), "ts",
                   gap=600.0, group_cols=["user_id"]),
        tk.augment_lags(events.select("user_id", "ts", "value"), "ts",
                        "value", lags=1, group_cols=["user_id"]),
    ):
        assert "Exchange SinglePartition" not in _plan(out)


def test_staged_projections_not_reinlined(spark):
    """Expensive sub-trees staged as columns must appear ONCE in the
    optimized plan — CollapseProject keeps multiply-referenced non-cheap
    aliases staged, and these counts pin that property so a refactor
    can't silently re-inline an O(row)-expensive expression per consumer."""
    from pytimetk_spark.webtext.dedup import minhash_signatures
    from pytimetk_spark.webtext.textstats import (
        document_fingerprint,
        language_id,
        token_stats,
    )

    # parquet-backed: LocalRelation plans stringify with truncated
    # expression trees, hiding the sub-expression occurrences we count
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    # md5 minhash: the per-shingle hash must be materialized once, not
    # embedded in all 64 permutation min-expressions
    sig_plan = optimized(minhash_signatures(docs, hash_variant="md5"))
    assert sig_plan.count("md5") == 1

    # fingerprint: shingle+hash+sort staged once (output + digest)
    fp_plan = optimized(document_fingerprint(docs, hash_variant="md5"))
    assert fp_plan.count("md5") <= 2  # stage hash + combined digest

    # language-ID: ONE tokenization for all 8 language scores + argmax
    lid_plan = optimized(language_id(docs))
    assert lid_plan.count("split(") == 1

    # token_stats: one split for size/fold/size
    ts_plan = optimized(token_stats(docs))
    assert ts_plan.count("split(") == 1
