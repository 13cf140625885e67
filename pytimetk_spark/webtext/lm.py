"""Distributed n-gram language model + perplexity filtering (CCNet-style).

The canonical web-curation quality gate: fit an n-gram LM on a reference
corpus, score every crawled document's perplexity under it, and keep the
head/middle of the distribution (Wenzek et al. 2020, "CCNet: Extracting
High Quality Monolingual Datasets from Web Crawl Data", which filters on
KenLM perplexity; the smoothing here is **Stupid Backoff** from Brants et
al. 2007, "Large Language Models in Machine Translation" — the published
scheme designed specifically for distributed map-reduce-scale LMs: pure
relative counts, no normalization pass, so the whole model is one groupBy
and scoring is one join).

Scale design (the 100-TB shape):
  * ``fit_ngram_lm`` — one explode of per-document 1..n-gram arrays, one
    hashed groupBy count with map-side partial aggregation. The model IS a
    DataFrame ``(order, gram, cnt)``; no driver materialization, no
    normalization sweep (Stupid Backoff's whole point).
  * ``score_perplexity`` — one explode emitting, per scored position, the
    numerator gram for each order m=1..n and the denominator (context)
    gram for each order m=2..n, then ONE join against the model keyed on
    the gram string (broadcast when the pruned model is small, hashed
    shuffle join otherwise), then one groupBy back to (doc, pos) and one
    to doc. Backoff-order selection is conditional aggregation — no
    per-order join chain, no Python in the row path.
  * ``perplexity_buckets`` — head/middle/tail cutoffs per language via
    approx_percentile (exact percentile available behind a flag for
    small-group use; exact collects per-group state and is NOT the
    100-TB path).

Stupid Backoff scores S(w|context) are *relative scores*, not normalized
probabilities (Brants et al. §3): the induced "perplexity" is a
monotone-comparable quality signal — exactly what a corpus filter ranks
and thresholds on — not a true LM perplexity.

Tokenization matches ``textstats``: lowercase, whitespace split. Documents
are padded with ``(n-1)`` BOS markers and one EOS, every m-gram of the
padded sequence is counted (so the all-BOS context of a document's first
token carries its own count = n_docs), and scored positions are the real
tokens plus EOS — each therefore has a full-width history.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BOS = "<s>"
EOS = "</s>"


def _padded_tokens(text_col: str, n: int):
    """Lowercased whitespace tokens with (n-1) BOS pads and an EOS.

    Empty documents pad to pure BOS/EOS (their only scored event is EOS).
    """
    toks = F.split(
        F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))), " "
    )
    toks = F.filter(toks, lambda x: x != "")
    pads = F.array(*[F.lit(BOS) for _ in range(n - 1)])
    return F.concat(pads, toks, F.array(F.lit(EOS)))


def fit_ngram_lm(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_count: int = 1,
) -> DataFrame:
    """Count every 1..n-gram of the padded corpus: one explode + one
    hashed groupBy (map-side combined). Returns ``(order, gram, cnt)``.

    ``min_count`` prunes rare grams. Pruning is backoff-consistent: every
    sub-gram of a surviving gram has count >= the gram's count, so a
    surviving numerator's denominator context always survives too — a
    pruned gram simply scores via the next-shorter order.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    padded = _padded_tokens(text_col, n)

    # Stage the padded array once; one position explode covers all orders.
    # Grams are exploded as BARE strings (not (order, gram) structs): a
    # space-joined m-gram has exactly m whitespace-free tokens, so the
    # order is a pure function of the text — deriving it AFTER the count
    # aggregation (model-cardinality rows) instead of tagging every
    # exploded occurrence narrows the shuffled row and the groupBy key
    # from (int, string) to the string alone (guide §2.3: shuffle fewer
    # bytes; the aggregate output is identical).
    # round-robin the compact text rows to a cores-derived partition
    # count before the fan-out: a handful of scan splits (or an AQE-
    # coalesced exchange) would otherwise run the whole tokenize+count
    # explode on a few tasks (guide §2: scale-adaptive partitioning)
    nparts = df.sparkSession.sparkContext.defaultParallelism * 2
    staged = df.select(F.col(text_col)).repartition(nparts).select(
        padded.alias("__padded__")
    )
    # position explode + per-order gram COLUMNS unpivoted via stack:
    # higher-order-function lambdas evaluate interpreted per element, so
    # the r6 transform-built gram arrays paid an interpreter visit per
    # gram; these are the same array_join(slice(...)) expressions
    # evaluated inside WholeStageCodegen (~2× on the fit core, identical
    # gram multiset — the same rework as repetition_signals).
    p = F.col("__padded__")
    i = F.col("__i__")
    pos = staged.select(
        "__padded__",
        F.explode(F.sequence(F.lit(1), F.size(p))).alias("__i__"),
    )
    gcols = [
        F.when(
            i <= F.size(p) - m + 1,
            F.array_join(F.slice(p, i, m), " "),
        ).alias(f"__g{m}__")
        for m in range(1, n + 1)
    ]
    stack = "stack({}, {}) as gram".format(
        n, ", ".join(f"__g{m}__" for m in range(1, n + 1))
    )
    grams = (
        pos.select(*gcols)
        .selectExpr(stack)
        .filter(F.col("gram").isNotNull())
    )
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt"))
    if min_count > 1:
        counts = counts.filter(F.col("cnt") >= min_count)
    return counts.select(
        F.size(F.split(F.col("gram"), " ", -1)).alias("order"),
        "gram",
        "cnt",
    )


def _scored_positions_wide(df: DataFrame, id_col: str, text_col: str, n: int):
    """ONE row per scored position with every lookup gram as a COLUMN:
    ``(id, __g1__..__gn__, __c2__..__cn__)`` where __gm__ is the m-gram
    ending at the position (numerator) and __cm__ its (m-1)-token context
    (denominator).

    Versus the tall shape (`_scored_positions`): (2n-1)× fewer exploded
    rows and — because each row already carries all of a position's
    lookups — NO per-(id, pos) aggregation afterwards. A doc's positions
    all live in the explode output of its single input row, so the final
    per-doc groupBy partial-aggregates to ≤ one row per doc per partition
    before any exchange: the scoring plan needs no wide shuffle at all
    (guide §2.4)."""
    padded = _padded_tokens(text_col, n)
    # cores-derived explicit partition count: the compact docs are the
    # only thing shuffled; the explode fans out ~tokens× afterwards, so
    # scan-split or AQE-coalesced partitioning would underuse the cluster
    # (REPARTITION_BY_NUM is exempt from AQE's byte-based coalescing)
    nparts = df.sparkSession.sparkContext.defaultParallelism * 2
    staged = df.select(F.col(id_col), F.col(text_col)).repartition(
        nparts, F.col(id_col)
    ).select(F.col(id_col), padded.alias("__padded__"))
    p = F.col("__padded__")
    # scored positions: 1-indexed slice starts n..len(padded), exploded
    # as bare indices so the (2n-1) gram columns are built by codegen —
    # building them inside a transform lambda pays an interpreter visit
    # per position (measured ~3× on the position core; same rework as
    # repetition_signals / fit_ngram_lm)
    pos = staged.select(
        F.col(id_col),
        "__padded__",
        F.explode(F.sequence(F.lit(n), F.size(p))).alias("__i__"),
    )
    i = F.col("__i__")
    cols = [
        F.array_join(F.slice(p, i - F.lit(m - 1), m), " ").alias(
            f"__g{m}__"
        )
        for m in range(1, n + 1)
    ]
    cols += [
        F.array_join(F.slice(p, i - F.lit(m - 1), m - 1), " ").alias(
            f"__c{m}__"
        )
        for m in range(2, n + 1)
    ]
    return pos.select(F.col(id_col), *cols)


def _scored_positions(df: DataFrame, id_col: str, text_col: str, n: int):
    """(id, pos, role, order, gram) rows: numerator grams (the m-gram
    ending at the scored position, m=1..n) and denominator grams (the
    (m-1)-gram context ending just before it, m=2..n).

    Repartitions the DOCS by id before exploding: the broadcast join and
    both downstream groupBys (keys (id, pos) then (id)) preserve / are
    satisfied by hash(id), so the ~(2n-1)-rows-per-token exploded frame
    is never shuffled — only the compact document rows are."""
    padded = _padded_tokens(text_col, n)
    nparts = df.sparkSession.sparkContext.defaultParallelism * 2
    staged = df.repartition(nparts, F.col(id_col)).select(
        F.col(id_col), padded.alias("__padded__")
    )
    p = F.col("__padded__")
    # scored positions: 1-indexed slice starts n..len(padded)
    pos_idx = F.sequence(F.lit(n), F.size(p))
    lookups = F.flatten(
        F.transform(
            pos_idx,
            lambda i: F.flatten(F.array(
                # numerators: m-gram ending at i  -> slice(i-m+1, m)
                F.array(*[
                    F.struct(
                        i.alias("pos"),
                        F.lit("num").alias("role"),
                        F.lit(m).alias("order"),
                        F.array_join(
                            F.slice(p, i - F.lit(m - 1), m), " "
                        ).alias("gram"),
                    )
                    for m in range(1, n + 1)
                ]),
                # denominators: (m-1)-gram ending at i-1 -> slice(i-m+1, m-1)
                F.array(*[
                    F.struct(
                        i.alias("pos"),
                        F.lit("den").alias("role"),
                        F.lit(m).alias("order"),
                        F.array_join(
                            F.slice(p, i - F.lit(m - 1), m - 1), " "
                        ).alias("gram"),
                    )
                    for m in range(2, n + 1)
                ]),
            )),
        )
    )
    return staged.select(
        F.col(id_col), F.explode(lookups).alias("l")
    ).select(id_col, "l.pos", "l.role", "l.order", "l.gram")


def score_perplexity(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    n: int = 3,
    alpha: float = 0.4,
    id_col: str = "doc_id",
    broadcast_model: bool = True,
    with_order_stats: bool = False,
) -> DataFrame:
    """Stupid-Backoff document scores under a ``fit_ngram_lm`` model.

    Per scored position i (each real token plus EOS), with g_m the m-gram
    ending at i and c_m its (m-1)-token context::

        S_i = alpha^(n-m*) * cnt(g_{m*}) / denom(m*)

    where m* is the LARGEST m with cnt(g_m) > 0, denom(m) = cnt(c_m) for
    m > 1 and the total non-BOS token count N for m = 1. Unseen-even-as-
    unigram words score alpha^(n-1) * 1/N (one pseudo-count — keeps the
    log finite without a vocabulary sweep).

    Returns one row per input document: ``(id_col, n_scored,
    log10_score_sum, ppl)`` with ppl = 10^(-log10_score_sum / n_scored).
    ``with_order_stats=True`` adds integer columns ``n_m{m}`` (positions
    resolved at order m) and ``n_unk`` (unseen even as a unigram) — exact
    integers, useful as hash-stable oracle evidence of the backoff logic.

    Plan (``broadcast_model=True``, the default): one explode to ONE row
    per scored position carrying all (2n-1) lookup grams as columns, then
    (2n-1) broadcast-hash probes against the SAME broadcast model (one
    BroadcastExchange, reused), then a single per-doc aggregate whose
    map-side partial reduces each partition to ≤ one row per doc — so no
    wide shuffle anywhere. (The r6 tall shape exploded (2n-1) rows per
    position and hash-aggregated them back per (id, pos): 5× the exploded
    rows and a scored-positions-sized aggregation state; guide §2.3/§2.4.)

    ``broadcast_model=False`` (web-scale unbroadcastable model) keeps the
    tall shape: each position's lookups as (2n-1) rows, ONE shuffled join
    on the gram string, conditional re-aggregation per (id, pos) — the
    row path crosses the gram shuffle once, not 2n-1 times.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    # Materialize the model ONCE per call (r7): the n_total scalar
    # action below and the (2n-1) broadcast builds are separate query
    # executions, so each would recompute the whole fit lineage from
    # the inputs (phase isolation: fit 0.66 s, score-with-materialized-
    # model 1.0 s, but the full query measured 2.7 s — one extra fit).
    # localCheckpoint is RDD-keyed and garbage-collected with this
    # call's plan, so every invocation still computes the model from
    # its inputs exactly once — unlike .persist(), whose plan-keyed
    # cache would outlive the call and silently serve a later identical
    # fit plan without recomputing (measured as an implausible 0.14 s
    # "fit"; the r7 caching-honesty trap). At cluster scale prefer
    # writing the fitted model to a table — localCheckpoint truncates
    # lineage, trading executor-loss recovery for the single pass.
    model = model.localCheckpoint(eager=True)
    uni = model.filter(
        (F.col("order") == 1) & (F.col("gram") != BOS)
    )
    n_total = uni.agg(F.sum("cnt")).collect()[0][0] or 0
    if n_total <= 0:
        raise ValueError("model has no unigram mass; fit on a non-empty corpus")

    if broadcast_model:
        per_pos = _scored_positions_wide(df, id_col, text_col, n)
        # (2n-1) broadcast probes of the same model relation: the gram
        # text uniquely determines its order (m whitespace-free tokens),
        # so each probe is a 1:1 left lookup; Catalyst reuses one
        # BroadcastExchange across all of them (ReusedExchange).
        mrel = model.select("gram", F.col("cnt").alias("__cnt__"))
        for mm in range(1, n + 1):
            per_pos = per_pos.join(
                F.broadcast(
                    mrel.select(
                        F.col("gram").alias(f"__g{mm}__"),
                        F.col("__cnt__").alias(f"num{mm}"),
                    )
                ),
                f"__g{mm}__",
                "left",
            )
        for mm in range(2, n + 1):
            per_pos = per_pos.join(
                F.broadcast(
                    mrel.select(
                        F.col("gram").alias(f"__c{mm}__"),
                        F.col("__cnt__").alias(f"den{mm}"),
                    )
                ),
                f"__c{mm}__",
                "left",
            )
        # normalize missing lookups to 0 (the tall path's
        # max(when(..., coalesce(cnt, 0))) produced 0 there too)
        per_pos = per_pos.select(
            F.col(id_col),
            *[
                F.coalesce(F.col(f"num{mm}"), F.lit(0)).alias(f"num{mm}")
                for mm in range(1, n + 1)
            ],
            *[
                F.coalesce(F.col(f"den{mm}"), F.lit(0)).alias(f"den{mm}")
                for mm in range(2, n + 1)
            ],
        )
    else:
        lookups = _scored_positions(df, id_col, text_col, n)
        m = model.select("gram", F.col("cnt").alias("__cnt__"))
        # one equi-join on gram; order/role disambiguation survives because
        # a gram string of order m can only collide with itself (join key is
        # the text, counts are per-(order,gram) but a space-joined m-gram is
        # only ever looked up at order m: the token count pins it)
        joined = lookups.join(m, "gram", "left")

        # per-position conditional agg: numerator + denominator per order
        aggs = []
        for mm in range(1, n + 1):
            aggs.append(
                F.max(
                    F.when(
                        (F.col("role") == "num") & (F.col("order") == mm),
                        F.coalesce(F.col("__cnt__"), F.lit(0)),
                    )
                ).alias(f"num{mm}")
            )
        for mm in range(2, n + 1):
            aggs.append(
                F.max(
                    F.when(
                        (F.col("role") == "den") & (F.col("order") == mm),
                        F.coalesce(F.col("__cnt__"), F.lit(0)),
                    )
                ).alias(f"den{mm}")
            )
        per_pos = joined.groupBy(id_col, "pos").agg(*aggs)

    # backoff selection: largest m with num_m > 0, else unigram pseudo-count
    log_alpha = math.log10(alpha)
    score = F.log10(F.lit(1.0) / F.lit(float(n_total))) + F.lit(
        (n - 1) * log_alpha
    )
    for mm in range(1, n + 1):
        num = F.col(f"num{mm}").cast("double")
        den = (
            F.lit(float(n_total)) if mm == 1
            else F.col(f"den{mm}").cast("double")
        )
        score = F.when(
            F.col(f"num{mm}") > 0,
            F.log10(num / den) + F.lit((n - mm) * log_alpha),
        ).otherwise(score)

    # resolved backoff order per position: largest m with num_m > 0, else 0
    chosen = F.lit(0)
    for mm in range(1, n + 1):
        chosen = F.when(F.col(f"num{mm}") > 0, F.lit(mm)).otherwise(chosen)

    doc_aggs = [
        F.count(F.lit(1)).alias("n_scored"),
        F.sum("__lp__").alias("log10_score_sum"),
    ]
    if with_order_stats:
        for mm in range(n, 0, -1):
            doc_aggs.append(
                F.sum((F.col("__m__") == mm).cast("long")).alias(f"n_m{mm}")
            )
        doc_aggs.append(
            F.sum((F.col("__m__") == 0).cast("long")).alias("n_unk")
        )
    per_doc = per_pos.select(
        F.col(id_col), score.alias("__lp__"), chosen.alias("__m__")
    ).groupBy(id_col).agg(*doc_aggs)
    return per_doc.withColumn(
        "ppl",
        F.pow(
            F.lit(10.0),
            -F.col("log10_score_sum") / F.col("n_scored").cast("double"),
        ),
    )


def perplexity_buckets(
    scored: DataFrame,
    ppl_col: str = "ppl",
    group_cols: list[str] | None = None,
    cutoffs: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    exact: bool = False,
    out_col: str = "ppl_bucket",
) -> DataFrame:
    """CCNet head/middle/tail split on the perplexity distribution.

    Cutoffs are the ``cutoffs`` quantiles of ``ppl_col``, computed per
    ``group_cols`` (CCNet buckets per language) or globally. Default is
    approx_percentile (mergeable sketch — the 100-TB path); ``exact=True``
    uses exact percentile (per-group collected state; small groups only).
    Lower perplexity = better fit to the reference corpus = ``head``.
    """
    lo, hi = cutoffs
    if not 0.0 < lo < hi < 1.0:
        raise ValueError(f"cutoffs must satisfy 0 < lo < hi < 1, got {cutoffs}")
    fn = "percentile" if exact else "approx_percentile"
    qexpr = F.expr(f"{fn}({ppl_col}, array({lo!r}, {hi!r}))")
    if group_cols:
        cuts = scored.groupBy(*group_cols).agg(qexpr.alias("__cuts__"))
        with_cuts = scored.join(F.broadcast(cuts), group_cols, "left")
    else:
        cuts = scored.agg(qexpr.alias("__cuts__"))
        with_cuts = scored.crossJoin(F.broadcast(cuts))
    ppl = F.col(ppl_col)
    bucket = (
        F.when(ppl.isNull(), F.lit(None).cast("string"))
        .when(ppl <= F.col("__cuts__")[0], "head")
        .when(ppl <= F.col("__cuts__")[1], "middle")
        .otherwise("tail")
    )
    return with_cuts.withColumn(out_col, bucket).drop("__cuts__")


def lm_filter(
    df: DataFrame,
    model: DataFrame,
    keep: tuple[str, ...] = ("head", "middle"),
    text_col: str = "text",
    n: int = 3,
    alpha: float = 0.4,
    id_col: str = "doc_id",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """End-to-end CCNet-style gate: score, bucket, keep head/middle.

    Returns the input rows (all columns) whose bucket is in ``keep``,
    plus the ``ppl`` and ``ppl_bucket`` columns.
    """
    scored = score_perplexity(
        df, model, text_col=text_col, n=n, alpha=alpha, id_col=id_col
    )
    if group_cols:
        scored = scored.join(
            df.select(id_col, *group_cols).dropDuplicates([id_col]),
            id_col,
            "left",
        )
    bucketed = perplexity_buckets(scored, group_cols=group_cols)
    kept = bucketed.filter(F.col("ppl_bucket").isin(*keep)).select(
        id_col, "ppl", "ppl_bucket"
    )
    return df.join(kept, id_col, "inner")
