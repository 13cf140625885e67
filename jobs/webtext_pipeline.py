"""spark-submit entry point for the web-corpus curation pipeline.

Chains the LLM-training-data operators end-to-end over a documents
table (the shape a Common-Crawl-derived corpus lands in): C4 line
cleaning -> PII masking -> quality + Gopher-repetition filtering ->
exact dedup -> MinHash near-dup dedup -> optional benchmark
decontamination -> optional CCNet perplexity gate (Stupid-Backoff
n-gram LM) -> optional BPE tokenize + sequence pack -> hash split ->
optional temperature-alpha domain mixing -> partitioned parquet + a
JSON manifest of per-stage survival counts (the numbers a data card
reports).

Usage:
  python tools/make_pyfiles_zip.py
  spark-submit --master local[32] \
      --py-files dist/pytimetk_spark.zip \
      jobs/webtext_pipeline.py --source <documents.parquet> \
      --out <dir> [--benchmark <parquet>] [--min-quality 0.5] \
      [--max-dup-5gram 0.3] [--no-dedup-near] \
      [--ppl-reference <parquet>|self] [--ppl-keep head,middle] \
      [--quality-target <parquet>] [--quality-alpha 9] \
      [--pack-tokens 2048] [--split train=0.98,val=0.01,test=0.01] \
      [--url-col url] [--mix-alpha 0.5] [--mix-domain lang]

Every stage is a lazy transformation on one DataFrame lineage — the
pipeline materializes ONCE at the write (plus the two dedup joins'
internal shuffles); per-stage counts ride a single .cache() pass over
the final frame with stage flags, not one action per stage.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def run_pipeline(
    spark,
    docs,
    benchmark=None,
    min_quality: float = 0.5,
    max_dup_5gram: float = 0.30,
    min_words: int = 3,
    near_dedup: bool = True,
    jaccard: float = 0.8,
    pack_tokens: int | None = None,
    split_fractions: dict | None = None,
    url_col: str | None = None,
    ppl_reference=None,
    ppl_keep: tuple = ("head", "middle"),
    ppl_n: int = 3,
    quality_target=None,
    quality_alpha: float = 9.0,
    quality_seed: int = 0,
    mix_alpha: float | None = None,
    mix_domain_col: str = "lang",
):
    """documents(doc_id, text, ...) -> (curated_df, stats_dict).

    Filter stages are computed as FLAGS on one frame so a single
    cached pass yields every per-stage survival count; only the dedup
    stages (which need joins) and the final write materialize data.
    """
    from pytimetk_spark.webtext.cleaning import (
        c4_line_filter,
        decontaminate,
        mask_pii,
    )
    from pytimetk_spark.webtext.dedup import dedup_exact, minhash_dedup
    from pytimetk_spark.webtext.textstats import (
        quality_score,
        repetition_signals,
    )

    staged = c4_line_filter(mask_pii(docs), text_col="text_masked",
                            min_words=min_words,
                            require_terminal_punct=False)
    staged = staged.withColumn("text_raw", F.col("text")).withColumn(
        "text", F.col("text_masked_clean")
    )
    q = quality_score(staged).select("doc_id", "quality_score")
    rep = repetition_signals(staged, top_ns=(2,), dup_ns=(5,)).select(
        "doc_id", "dup_5gram_char_frac"
    )
    flagged = (
        staged.join(q, "doc_id").join(rep, "doc_id")
        .withColumn("__keep_clean__", F.length("text") > 0)
        .withColumn("__keep_quality__", F.col("quality_score") >= min_quality)
        .withColumn(
            "__keep_rep__", F.col("dup_5gram_char_frac") <= max_dup_5gram
        )
    ).cache()

    stats = {
        "n_input": flagged.count(),
        "n_after_clean": flagged.filter("__keep_clean__").count(),
    }
    kept = flagged.filter(
        F.col("__keep_clean__") & F.col("__keep_quality__")
        & F.col("__keep_rep__")
    )
    stats["n_after_filters"] = kept.count()

    deduped = dedup_exact(kept, text_col="text")
    stats["n_after_exact_dedup"] = deduped.count()
    if near_dedup:
        # observe_shed must be off when the trained-classifier stage
        # follows: an observed plan cannot serialize into pyspark.ml
        # task closures (Spark 4.1 ObservationManager), and even a
        # localCheckpoint keeps the metrics node reachable through the
        # checkpointed RDD's compute closure.
        deduped = minhash_dedup(deduped, text_col="text",
                                threshold=jaccard,
                                observe_shed=quality_target is None)
        # localCheckpoint: every later stage count would otherwise
        # re-run the whole clean+dedup chain. At warehouse scale this
        # materialization is the curated-intermediate write a real
        # pipeline does anyway.
        deduped = deduped.localCheckpoint(eager=False)
        stats["n_after_near_dedup"] = deduped.count()

    if benchmark is not None:
        contam = decontaminate(deduped, benchmark)
        deduped = (
            deduped.join(contam.filter(~F.col("is_contaminated"))
                         .select("doc_id"), "doc_id", "left_semi")
        )
        stats["n_after_decontamination"] = deduped.count()

    if ppl_reference is not None:
        # CCNet-style LM quality gate: score perplexity under a Stupid-
        # Backoff n-gram model of the reference corpus and keep the
        # head/middle buckets. ppl_reference="self" fits on the surviving
        # corpus itself (drop-the-tail heuristic).
        from pytimetk_spark.webtext.lm import fit_ngram_lm, lm_filter

        ref = deduped if isinstance(ppl_reference, str) else ppl_reference
        model = fit_ngram_lm(ref, n=ppl_n, min_count=2)
        deduped = lm_filter(deduped, model, keep=ppl_keep, n=ppl_n)
        stats["n_after_ppl_gate"] = deduped.count()

    if quality_target is not None:
        # GPT-3-style trained gate: target-vs-surviving-corpus LR,
        # Pareto(alpha) stochastic keep (deterministic md5 draws)
        from pytimetk_spark.webtext.quality_model import (
            quality_classifier_filter,
        )

        deduped = quality_classifier_filter(
            deduped, quality_target, alpha=quality_alpha, seed=quality_seed
        )
        stats["n_after_quality_classifier"] = deduped.count()

    if pack_tokens:
        # corpus-fit BPE counts + greedy sequence packing: the curated
        # set leaves with training-ready sequence assignments
        from pytimetk_spark.webtext.bpe import bpe_encode, bpe_train
        from pytimetk_spark.webtext.cleaning import pack_sequences

        merges = bpe_train(deduped)
        counts = bpe_encode(deduped, merges)
        deduped = deduped.join(counts, "doc_id")
        packed = pack_sequences(deduped, max_tokens=pack_tokens)
        deduped = deduped.join(packed, "doc_id")
        stats["n_sequences"] = packed.select("seq_id").distinct().count()
        stats["n_bpe_merges"] = len(merges)

    if url_col is not None:
        # PSL-correct registrable domains (NOT last-two-labels: co.uk-
        # class hosts would collapse whole registries into one "domain")
        # — the grouping key for per-domain crawl budgets / data cards
        from pytimetk_spark.sources.psl import psl_rules
        from pytimetk_spark.webtext.textstats import url_features

        deduped = url_features(deduped, url_col,
                               psl_rules=psl_rules(spark))
        dom_counts = deduped.groupBy("url_domain").count()
        stats["n_domains"] = dom_counts.count()
        top = dom_counts.orderBy(F.desc("count"), "url_domain").first()
        if top is not None:
            stats["top_domain"] = top["url_domain"]
            stats["top_domain_docs"] = top["count"]

    if split_fractions:
        from pytimetk_spark.webtext.cleaning import hash_split

        deduped = hash_split(deduped, split_fractions)

    if mix_alpha is not None and mix_domain_col in deduped.columns:
        # temperature mixing LAST (training-data assembly step): tail
        # domains gain deterministic repeat copies, head domains thin;
        # (doc_id, copy_idx) is the unique output key from here on
        from pytimetk_spark.webtext.sampling import temperature_sample

        deduped = temperature_sample(
            deduped, domain_col=mix_domain_col, alpha=mix_alpha
        )
        stats["n_after_mixing"] = deduped.count()

    flagged.unpersist()
    drop = [c for c in ("__keep_clean__", "__keep_quality__",
                        "__keep_rep__", "text_masked",
                        "text_masked_clean")
            if c in deduped.columns]
    return deduped.drop(*drop), stats


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--benchmark", default=None,
                    help="parquet of benchmark texts to decontaminate against")
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--max-dup-5gram", type=float, default=0.30)
    ap.add_argument("--min-words", type=int, default=3)
    ap.add_argument("--jaccard", type=float, default=0.8)
    ap.add_argument("--no-dedup-near", action="store_true")
    ap.add_argument("--pack-tokens", type=int, default=None,
                    help="fit BPE + pack docs into sequences of N tokens")
    ap.add_argument("--split", default=None,
                    help="e.g. train=0.98,val=0.01,test=0.01")
    ap.add_argument("--partitions", type=int, default=None,
                    help="output file count (coalesce); default: leave as-is")
    ap.add_argument("--url-col", default=None,
                    help="URL column: annotate PSL registrable domains "
                         "and report per-domain stats")
    ap.add_argument("--ppl-reference", default=None,
                    help="parquet of LM-reference texts for the CCNet "
                         "perplexity gate, or 'self' to fit on the "
                         "surviving corpus and drop its tail")
    ap.add_argument("--ppl-keep", default="head,middle",
                    help="comma list of perplexity buckets to keep")
    ap.add_argument("--mix-alpha", type=float, default=None,
                    help="temperature-mix domains with this alpha "
                         "(deterministic copy counts, runs last)")
    ap.add_argument("--mix-domain", default="lang",
                    help="domain column for temperature mixing")
    ap.add_argument("--quality-target", default=None,
                    help="parquet of quality-reference texts: train the "
                         "GPT-3-style classifier gate against them")
    ap.add_argument("--quality-alpha", type=float, default=9.0)
    args = ap.parse_args()

    spark = SparkSession.builder.appName("pytimetk-webtext").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    docs = spark.read.parquet(args.source)
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    curated, stats = run_pipeline(
        spark, docs, benchmark=bench,
        min_quality=args.min_quality,
        max_dup_5gram=args.max_dup_5gram,
        min_words=args.min_words,
        near_dedup=not args.no_dedup_near,
        jaccard=args.jaccard,
        pack_tokens=args.pack_tokens,
        url_col=args.url_col,
        ppl_reference=(
            "self" if args.ppl_reference == "self"
            else spark.read.parquet(args.ppl_reference)
            if args.ppl_reference else None
        ),
        ppl_keep=tuple(args.ppl_keep.split(",")),
        mix_alpha=args.mix_alpha,
        mix_domain_col=args.mix_domain,
        quality_target=(
            spark.read.parquet(args.quality_target)
            if args.quality_target else None
        ),
        quality_alpha=args.quality_alpha,
        split_fractions=(
            {k: float(v) for k, v in
             (kv.split("=") for kv in args.split.split(","))}
            if args.split else None
        ),
    )
    out = curated
    if args.partitions:
        out = out.coalesce(args.partitions)
    writer = out.write.mode("overwrite")
    if args.split:  # split-pruned reads for the training loader
        writer = writer.partitionBy("split")
    writer.parquet(f"{args.out}/curated")
    with open(f"{args.out}/manifest.json", "w") as fh:
        json.dump(stats, fh, indent=2)
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
