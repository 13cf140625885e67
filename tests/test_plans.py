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

    # no-op re-submit over the unchanged file set: the per-day fingerprints
    # come from the lineage memo, so run_rollup starts no Spark job at all
    # (the source is built first: its schema inference is not run_rollup's)
    source = spark.read.parquet(raw_path)
    tag = "run_rollup-noop"
    sc.setJobGroup(tag, tag)
    try:
        assert run_rollup(spark, source, store) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert list(sc.statusTracker().getJobIdsForGroup(tag)) == []


def test_gorilla_block_stages_sized_by_data(spark, tmp_path):
    """Every Python task pays a fixed worker setup, so the block codecs'
    Python stages are sized by data: encode repartitions by url with no
    fixed count (AQE coalesces a sub-MB tier into ONE task on local[4]),
    and decode is a single MapInArrow over the scan, with no Exchange."""
    from pytimetk_spark.rollup.tiers import (
        decode_tier_blocks,
        encode_tier_blocks,
        rollup_raw_to_tier,
    )
    from pytimetk_spark.sources.webpages import generate_webpages

    tier_path, blocks_path = str(tmp_path / "tier"), str(tmp_path / "blocks")
    web = generate_webpages(
        spark, n_urls=60, crawls_per_url=10, days=5, n_domains=5, seed=4
    )
    rollup_raw_to_tier(web, "url", "warc_ts", F.length("text"), "h").write.parquet(
        tier_path
    )
    stats = ["cnt", "vsum"]
    enc = encode_tier_blocks(spark.read.parquet(tier_path), stats)
    plan = _plan(enc)
    assert "REPARTITION_BY_COL" in plan and "REPARTITION_BY_NUM" not in plan

    tag = "gorilla-encode-stage"
    sc = spark.sparkContext
    sc.setJobDescription(tag)
    try:
        enc.write.parquet(blocks_path)
    finally:
        sc.setJobDescription(None)
    (nodes,) = _tagged_executions(spark, tag)
    assert [name for name, _ in nodes].count("MapInArrow") == 1
    # the last stage runs the Python encoder and the write
    sql = spark._jsparkSession.sharedState().statusStore()
    it = sql.executionsList().iterator()
    stages = []
    while it.hasNext():
        e = it.next()
        if e.description() == tag:
            st = e.stages().iterator()
            while st.hasNext():
                stages.append(int(st.next()))
    assert int(sc._jsc.sc().statusStore().taskCount(max(stages), 0)) == 1

    dec = _plan(decode_tier_blocks(spark.read.parquet(blocks_path), stats))
    assert dec.count("MapInArrow") == 1 and "Exchange" not in dec


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

    # signatures and fingerprint: ONE tokenization per document, staged
    # outside the shingle lambda (inlined, the split-of-regexp reruns at
    # every shingle position)
    for variant in ("xxhash64", "md5"):
        for plan in (
            optimized(minhash_signatures(docs, hash_variant=variant)),
            optimized(document_fingerprint(docs, hash_variant=variant)),
        ):
            assert plan.count("regexp_replace") == 1, variant
            assert not re.findall(r"lambdafunction[^\n]*regexp_replace", plan)

    # language-ID: ONE tokenization for all 8 language scores + argmax
    lid_plan = optimized(language_id(docs))
    assert lid_plan.count("split(") == 1

    # token_stats: one split for size/fold/size
    ts_plan = optimized(token_stats(docs))
    assert ts_plan.count("split(") == 1


def test_codegen_cache_keeps_a_cycle(spark):
    """The codegen class cache must hold more than Spark's default 100
    entries: a rollup + curation cycle generates more classes than that,
    so with the default LRU every cycle recompiled the classes of the one
    before. Pin: plan A, then 160 distinct small plans (each compiles its
    own class — the literals are inlined), then A again without a single
    compile."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def plan_a():
        spark.range(64).selectExpr("id % 7 AS k", "id * 3 AS v").groupBy(
            "k"
        ).sum("v").collect()

    plan_a()
    for i in range(160):
        spark.range(8).selectExpr(f"id * {i + 2} + {i} AS x").collect()
    before = cm.METRIC_COMPILATION_TIME().getCount()
    plan_a()
    assert cm.METRIC_COMPILATION_TIME().getCount() == before


def test_curation_plan_build_gateway_budget(spark, monkeypatch, tmp_path):
    """Building the curation plans crosses the Py4J gateway once per
    projection (SQL expression strings), not once per Column node: the
    Column-tree builds took ~1.8k (minhash_dedup, xxhash64), ~3.3k (md5)
    and ~3.1k (repetition_signals) round trips. Only commands sent by the
    building thread count: py4j's finalizer thread sends proxy deletes
    for objects freed earlier (the ``gc.collect`` here included) on its
    own schedule, so they may land inside the window. gc is held off
    while counting."""
    import gc
    import threading
    import warnings

    from py4j.clientserver import ClientServerConnection

    from pytimetk_spark.webtext.dedup import minhash_dedup
    from pytimetk_spark.webtext.textstats import repetition_signals

    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": range(50), "text": ["a b c d e f g"] * 50})
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    docs.schema  # resolve the relation outside the counted builds
    send = ClientServerConnection.send_command
    builder = threading.get_ident()
    n = [0]

    def counting(self, command):
        if threading.get_ident() == builder:
            n[0] += 1
        return send(self, command)

    def round_trips(build):
        gc.collect()
        gc.disable()
        n[0] = 0
        monkeypatch.setattr(ClientServerConnection, "send_command", counting)
        try:
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                build()
        finally:
            monkeypatch.undo()
            gc.enable()
        return n[0]

    for variant in ("xxhash64", "md5"):
        trips = round_trips(
            lambda: minhash_dedup(docs, hash_variant=variant, persist=False)
        )
        assert trips <= 600, (variant, trips)
    trips = round_trips(lambda: repetition_signals(docs))
    assert trips <= 600, trips
