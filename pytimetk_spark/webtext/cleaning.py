"""Training-corpus cleaning operators: C4 line filtering, PII masking,
benchmark decontamination.

The standard pre-training cleanup steps (C4/Raffel et al. 2020 §2.2;
the PII regex pass every open-data pipeline ships; GPT-3-style 13-gram
decontamination, Brown et al. 2020 appendix C) re-expressed as pure
Catalyst transformations — zero Python in the row path, one broadcast
join for decontamination. All operators are total: malformed/empty
documents flow through with sane defaults rather than failing a shard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pytimetk_spark.config import drop_spark_zip_finders

# -- PII -----------------------------------------------------------------

_PII_PATTERNS = {
    # order matters: longer/stricter first so masks don't nest
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:(?:25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})\.){3}"
            r"(?:25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "phone": r"(?<![0-9])(?:\+?[0-9]{1,2}[ .-]?)?(?:\([0-9]{3}\)|[0-9]{3})"
             r"[ .-][0-9]{3}[ .-][0-9]{4}(?![0-9])",
}


def mask_pii(
    df: DataFrame,
    text_col: str = "text",
    kinds: tuple[str, ...] = ("email", "ipv4", "ssn", "phone"),
    token: str = "<|{kind}|>",
) -> DataFrame:
    """Replace PII spans with typed mask tokens and count replacements.

    Adds ``{text_col}_masked`` plus one ``n_{kind}`` count column per
    kind. Counts are computed from the pre-masked text (regexp_count),
    masking chains regexp_replace in ``kinds`` order — all JVM-side
    regex, fused into one projection by Catalyst."""
    t = F.col(text_col)
    out = df
    for kind in kinds:
        pat = _PII_PATTERNS[kind]
        out = out.withColumn(f"n_{kind}", F.regexp_count(t, F.lit(pat)))
    masked: Column = t
    for kind in kinds:
        masked = F.regexp_replace(
            masked, _PII_PATTERNS[kind], token.format(kind=kind)
        )
    return out.withColumn(f"{text_col}_masked", masked)


# -- C4 line-level cleaning ---------------------------------------------

_C4_BAD_LINE = (
    r"(?i)(javascript|lorem ipsum|cookies? (policy|settings)|"
    r"terms of (use|service)|privacy policy|\{)"
)


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 3,
    require_terminal_punct: bool = True,
) -> DataFrame:
    """C4's line-level cleaning (Raffel et al. 2020 §2.2): keep lines
    that end in terminal punctuation, have >= ``min_words`` words, and
    don't match the boilerplate patterns (javascript / lorem ipsum /
    cookie-or-policy notices / curly braces). Emits ``{text_col}_clean``
    (surviving lines re-joined), ``n_lines`` / ``n_lines_kept``, and
    ``line_keep_frac``.

    Implementation: split -> filter with array HOFs, one projection —
    the per-line predicates run on the already-split array elements, so
    nothing re-scans the document per line."""
    t = F.col(text_col)
    lines = F.split(t, r"\n")

    def keep(x: Column) -> Column:
        xs = F.trim(x)
        cond = F.length(xs) > 0
        cond = cond & (F.size(F.split(xs, r"\s+")) >= min_words)
        if require_terminal_punct:
            cond = cond & xs.rlike(r"[.!?\"']$")
        return cond & ~xs.rlike(_C4_BAD_LINE)

    staged = df.withColumn("__lines__", lines)
    kept = F.filter(F.col("__lines__"), keep)
    return (
        staged.withColumn("n_lines", F.size(F.col("__lines__")))
        .withColumn("n_lines_kept", F.size(kept))
        .withColumn(f"{text_col}_clean", F.array_join(kept, "\n"))
        .withColumn(
            "line_keep_frac",
            F.col("n_lines_kept")
            / F.greatest(F.col("n_lines"), F.lit(1)).cast("double"),
        )
        .drop("__lines__")
    )


# -- benchmark decontamination ------------------------------------------


def decontaminate(
    df: DataFrame,
    benchmark_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """GPT-3-style n-gram decontamination (Brown et al. 2020 app. C):
    flag documents sharing any word ``n``-gram with a benchmark corpus.

    Returns ``(id_col, n_contaminated_ngrams, is_contaminated)`` per
    document. Scale shape: benchmark n-grams are hashed (xxhash64) and
    BROADCAST (benchmarks are tiny vs a 100-TB corpus); the corpus side
    explodes its n-gram hashes once and semi-joins — no shuffle of the
    corpus beyond the per-doc count aggregation. For corpora whose
    benchmark side is NOT broadcastable, pre-bucket both sides on the
    hash instead (same explode, sort-merge join)."""

    def gram_hashes(frame, col):
        toks = F.split(
            F.trim(F.lower(F.regexp_replace(F.col(col), r"\s+", " "))), " "
        )
        staged = frame.withColumn("__toks__", toks)
        tk = F.col("__toks__")
        grams = F.when(
            F.size(tk) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - n + 1),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice(tk, i, n))),
            ),
        ).otherwise(F.array().cast("array<bigint>"))
        return staged.withColumn("__grams__", grams).drop("__toks__")

    bench = (
        gram_hashes(benchmark_df, bench_text_col)
        .select(F.explode("__grams__").alias("gram_h"))
        .distinct()
    )
    corpus = gram_hashes(df, text_col).select(
        F.col(id_col), F.explode_outer("__grams__").alias("gram_h")
    )
    hits = (
        corpus.join(F.broadcast(bench), "gram_h", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
    )
    ids = df.select(id_col).distinct()
    return (
        ids.join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_contaminated_ngrams", F.lit(0)).alias(
                "n_contaminated_ngrams"
            ),
            (F.coalesce("n_contaminated_ngrams", F.lit(0)) > 0).alias(
                "is_contaminated"
            ),
        )
    )


def hash_split(
    df: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic train/val/test assignment by id hash: adds
    ``split`` with each label's share of the 64-bit hash ring.
    Stable across runs/cluster sizes (a property random sampling lacks
    — re-runs never leak val docs into train), order-independent, and
    exactly reproducible for audits."""
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions must sum to 1, got {total}")
    # map the signed 64-bit xxhash to [0, 1): scale to [-0.5, 0.5)
    # then shift (double precision ~2^-53 is ample for split bounds)
    u = (F.xxhash64(F.col(id_col), F.lit(seed)).cast("double")
         / F.lit(float(2 ** 64)) + F.lit(0.5))
    expr = None
    acc = 0.0
    labels = sorted(fractions)  # deterministic boundary order
    for name in labels[:-1]:
        acc += fractions[name]
        cond = u < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (F.lit(labels[-1]) if expr is None
            else expr.otherwise(labels[-1]))
    return df.withColumn("split", expr)


def pack_sequences(
    df: DataFrame,
    max_tokens: int,
    token_col: str = "bpe_n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy first-fit packing of documents into fixed-budget training
    sequences: returns (id, seq_id, seq_fill) where all docs sharing a
    ``seq_id`` fit within ``max_tokens`` together and ``seq_fill`` is
    that sequence's total. Documents longer than the budget get a
    sequence of their own (the downstream chunker splits them).

    Scale shape: packing is PER PARTITION (an Arrow pass with plain
    greedy state) — global optimal packing would serialize the corpus;
    per-partition packing loses only O(1) fill per partition boundary
    and keeps the operator embarrassingly parallel. seq_ids are made
    globally unique by salting with the partition id."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("__pid__", df.schema[id_col].dataType),
        T.StructField("seq_id", T.LongType()),
        T.StructField("seq_fill", T.LongType()),
    ])

    def pack(batches):
        drop_spark_zip_finders()
        import pandas as pd

        # one greedy bin state across the whole partition's batches
        # (global uniqueness comes from the spark_partition_id salt
        # applied after — mapInPandas is narrow, so the salt matches
        # the producing partition)
        seq_no = 0
        fill = 0
        assignments = []  # (id, local_seq)
        fills = {}
        for pdf in batches:
            for i, n in zip(pdf["__pid__"], pdf["__tok__"]):
                n = int(n)  # NULLs already coalesced to 0 upstream
                if fill and fill + n > max_tokens:
                    seq_no += 1
                    fill = 0
                assignments.append((i, seq_no))
                fill += n
                fills[seq_no] = fill
        out = pd.DataFrame(assignments, columns=["__pid__", "local"])
        if len(out) == 0:
            return
        out["__pid__"] = pd.Series([a for a, _ in assignments])
        out["seq_id"] = out["local"]
        out["seq_fill"] = out["local"].map(fills)
        yield out[["__pid__", "seq_id", "seq_fill"]]

    # ids pass through UNCAST (string/uuid ids must not be corrupted
    # to NULL->garbage by a long cast); NULL token counts pack as 0
    src = df.select(
        F.col(id_col).alias("__pid__"),
        F.coalesce(F.col(token_col).cast("long"), F.lit(0)).alias("__tok__"),
    )
    packed = src.mapInPandas(pack, schema=schema)
    # salt local seq ids with the partition id for global uniqueness
    packed = packed.withColumn(
        "seq_id",
        F.col("seq_id") + F.spark_partition_id().cast("long") * F.lit(1 << 40),
    )
    return packed.withColumnRenamed("__pid__", id_col)
