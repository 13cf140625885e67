"""n-gram LM + perplexity filter (webtext/lm.py).

Counts and Stupid-Backoff scores are verified against an independent
pure-Python reference implementation on hand-built corpora (Brants et
al. 2007 §3 semantics), plus plan-shape guards for the one-join /
no-explode-shuffle contract.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pytimetk_spark.webtext.lm import (
    BOS,
    EOS,
    fit_ngram_lm,
    lm_filter,
    perplexity_buckets,
    score_perplexity,
)

CORPUS = [
    (0, "the cat sat on the mat"),
    (1, "the cat sat on the hat"),
    (2, "the dog sat on the mat"),
]
SCORE_DOCS = CORPUS + [(3, "zq xv plorp"), (4, "")]


def _ref_counts(texts, n):
    """Independent reference: dict {(order, gram): cnt}."""
    counts = {}
    for t in texts:
        toks = [w for w in t.lower().strip().split() if w]
        padded = [BOS] * (n - 1) + toks + [EOS]
        for m in range(1, n + 1):
            for i in range(len(padded) - m + 1):
                g = " ".join(padded[i : i + m])
                counts[(m, g)] = counts.get((m, g), 0) + 1
    return counts


def _ref_score(text, counts, n, alpha=0.4):
    """Independent reference: (n_scored, log10_sum)."""
    def cnt(g):
        return counts.get((len(g.split()), g), 0)

    N = sum(c for (o, g), c in counts.items() if o == 1 and g != BOS)
    toks = [w for w in text.lower().strip().split() if w]
    padded = [BOS] * (n - 1) + toks + [EOS]
    lp, scored = 0.0, 0
    for i in range(n - 1, len(padded)):
        scored += 1
        for m in range(n, 0, -1):
            g = " ".join(padded[i - m + 1 : i + 1])
            if cnt(g) > 0:
                den = cnt(" ".join(padded[i - m + 1 : i])) if m > 1 else N
                lp += math.log10(cnt(g) / den) + (n - m) * math.log10(alpha)
                break
        else:
            lp += math.log10(1.0 / N) + (n - 1) * math.log10(alpha)
    return scored, lp


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(SCORE_DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def model(spark, docs):
    return fit_ngram_lm(docs.filter("doc_id < 3"), n=3)


def test_counts_match_reference(model):
    got = {(r.order, r.gram): r.cnt for r in model.collect()}
    want = _ref_counts([t for _, t in CORPUS], 3)
    assert got == want
    # every gram's token count equals its order (string key is unambiguous)
    assert all(len(g.split(" ")) == o for (o, g) in got)
    # BOS context of first real tokens carries the doc count
    assert got[(2, f"{BOS} {BOS}")] == 3
    assert got[(1, EOS)] == 3


@pytest.mark.parametrize("n", [2, 3, 4])
def test_scores_match_reference(spark, docs, n):
    mdl = fit_ngram_lm(docs.filter("doc_id < 3"), n=n)
    counts = _ref_counts([t for _, t in CORPUS], n)
    got = {r.doc_id: r for r in score_perplexity(docs, mdl, n=n).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    for doc_id, text in SCORE_DOCS:
        scored, lp = _ref_score(text, counts, n)
        r = got[doc_id]
        assert r.n_scored == scored
        assert r.log10_score_sum == pytest.approx(lp, abs=1e-9)
        assert r.ppl == pytest.approx(10 ** (-lp / scored), rel=1e-9)


def test_out_of_domain_scores_worse(docs, model):
    got = {r.doc_id: r.ppl for r in score_perplexity(docs, model).collect()}
    assert got[3] > got[0] and got[3] > got[1] and got[3] > got[2]
    assert all(p > 0 and math.isfinite(p) for p in got.values())


def test_empty_doc_scores_eos_only(docs, model):
    got = {r.doc_id: r for r in score_perplexity(docs, model).collect()}
    assert got[4].n_scored == 1  # just </s>


def test_min_count_pruning_backs_off(spark, docs):
    pruned = fit_ngram_lm(docs.filter("doc_id < 3"), n=3, min_count=2)
    cnts = {(r.order, r.gram): r.cnt for r in pruned.collect()}
    assert all(c >= 2 for c in cnts.values())
    # pruning is backoff-consistent: every surviving gram's prefix survives
    for (o, g) in cnts:
        if o > 1:
            assert (o - 1, g.rsplit(" ", 1)[0]) in cnts
    got = {r.doc_id: r for r in score_perplexity(docs, pruned).collect()}
    assert all(math.isfinite(r.log10_score_sum) for r in got.values())
    # the dog-trigrams (count 1) were pruned: doc 2 must now score worse
    full = fit_ngram_lm(docs.filter("doc_id < 3"), n=3)
    got_full = {r.doc_id: r.ppl for r in score_perplexity(docs, full).collect()}
    assert got[2].ppl > got_full[2]


def test_buckets_partition_by_quantile(spark):
    scored = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 10)], "doc_id long, ppl double"
    )
    out = {r.doc_id: r.ppl_bucket
           for r in perplexity_buckets(scored, exact=True).collect()}
    assert [out[i] for i in range(1, 10)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    )


def test_buckets_per_group(spark):
    rows = [(i, "a", float(i)) for i in range(1, 10)] + [
        (i + 100, "b", float(i * 1000)) for i in range(1, 10)
    ]
    scored = spark.createDataFrame(rows, "doc_id long, lang string, ppl double")
    out = perplexity_buckets(scored, group_cols=["lang"], exact=True)
    got = {r.doc_id: r.ppl_bucket for r in out.collect()}
    # each group gets its own cutoffs: 1000.0 is "head" within group b
    assert got[101] == "head" and got[1] == "head"
    assert got[9] == "tail" and got[109] == "tail"


def test_lm_filter_keeps_head_middle(spark, docs, model):
    kept = lm_filter(docs, model, keep=("head", "middle"))
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 3 not in ids  # word-soup tail doc dropped
    assert {0, 1, 2} <= ids
    assert {"doc_id", "text", "ppl", "ppl_bucket"} <= set(kept.columns)


def test_validation_errors(spark, docs, model):
    with pytest.raises(ValueError, match="alpha"):
        score_perplexity(docs, model, alpha=0.0)
    with pytest.raises(ValueError, match="n must be"):
        fit_ngram_lm(docs, n=0)
    with pytest.raises(ValueError, match="cutoffs"):
        perplexity_buckets(docs.withColumn("ppl", F.lit(1.0)), cutoffs=(0.9, 0.1))
    empty = spark.createDataFrame([], "order int, gram string, cnt long")
    with pytest.raises(ValueError, match="unigram mass"):
        score_perplexity(docs, empty)


def test_plan_wide_probes_no_explode_shuffle(spark, docs, model):
    """The r7 scoring contract (broadcast path): (2n-1) broadcast-hash
    probes of the model — one per numerator/denominator order — and the
    exploded per-position frame is NEVER shuffled: the only shuffle
    exchanges feed the model fit and the tiny per-doc final aggregate."""
    plan = (
        score_perplexity(docs, model)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") == 5  # 2n-1 probes, n=3
    # stream side (everything above the first broadcast build): exactly
    # one exchange — the compact-docs repartition by id; the exploded
    # frame is never shuffled and the per-doc aggregate inherits hash(id)
    stream_side = plan.split("BroadcastExchange")[0]
    assert stream_side.count("Exchange") == 1
    assert "REPARTITION_BY_NUM" in stream_side


def test_score_materializes_model_without_plan_keyed_cache(spark, docs):
    """score_perplexity localCheckpoints the model so the n_total action
    and the broadcast builds compute the fit once per call (r7) — but it
    must do so WITHOUT a plan-keyed .persist(): that cache would outlive
    the call and silently serve a later identical fit plan, so a warmed
    bench run would never recompute the model from its inputs. Pin: the
    scored plan reads a checkpointed scan, and a freshly built identical
    fit plan afterwards shows no InMemoryTableScan (nothing cached)."""
    model = fit_ngram_lm(docs, "text", n=3, min_count=2)
    scored = score_perplexity(docs, model, n=3, id_col="doc_id")
    assert scored.count() > 0
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
    fresh = fit_ngram_lm(docs, "text", n=3, min_count=2)
    fresh_plan = fresh._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in fresh_plan


def test_plan_tall_one_join_for_shuffle_model(spark, docs, model):
    """The non-broadcast (web-scale model) path keeps the tall shape:
    each position's lookups cross the gram shuffle ONCE via a single
    non-broadcast join, then re-aggregate per (id, pos)."""
    plan = (
        score_perplexity(docs, model, broadcast_model=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") <= 1  # AQE may still demote
    assert "Join" in plan


def test_scale_smoke_on_documents(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    model = fit_ngram_lm(docs, n=3, min_count=2)
    scored = score_perplexity(docs, model, n=3)
    out = perplexity_buckets(scored).collect()
    assert len(out) == docs.count()
    assert all(r.ppl > 0 for r in out)
    buckets = {r.ppl_bucket for r in out}
    assert buckets <= {"head", "middle", "tail"}
