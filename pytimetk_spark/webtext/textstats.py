"""Text analysis for web corpora: language ID, quality scoring, token
counting, document fingerprinting, byte-level features. Every function
except ``byte_stats_features`` is a pure Catalyst projection (plus one
tiny broadcast for stopword sets) — zero Python in the row path, safe to
fuse into any 100-TB scan. ``byte_stats_features`` crosses into Python
once per Arrow batch (``mapInPandas``).

``repetition_signals`` and ``document_fingerprint`` compose their plans
as SQL expression strings (``selectExpr`` / ``F.expr``) rather than
``Column`` trees: each ``Column`` node built in Python is one Py4J round
trip to the driver JVM, and the per-n-gram-order and per-kind expression
lists cost ~3.4k round trips (~0.4 s of driver time) per
``repetition_signals`` build. A SQL string is parsed JVM-side in one call
per projection and analyzes to the same expressions.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pytimetk_spark.config import drop_spark_zip_finders
from pytimetk_spark.webtext.dedup import _h64_sql, _q, _shingles_sql, _token_sql

# compact public stopword lists (top function words per language)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "you", "that",
           "was", "for", "on", "are", "with", "as", "this", "have", "be"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "des",
           "nicht", "ein", "eine", "zu", "im", "für", "auf", "sich"],
    "fr": ["le", "la", "les", "et", "de", "des", "un", "une", "est", "dans",
           "que", "qui", "pour", "pas", "sur", "avec", "au", "ce"],
    "es": ["el", "la", "los", "las", "de", "y", "que", "en", "un", "una",
           "es", "por", "con", "para", "no", "se", "su", "al"],
    "it": ["il", "la", "le", "di", "e", "che", "in", "un", "una", "per",
           "non", "con", "del", "della", "si", "da", "al"],
    "pt": ["o", "a", "os", "as", "de", "e", "que", "em", "um", "uma", "do",
           "da", "para", "não", "com", "por", "no", "na"],
    "nl": ["de", "het", "een", "en", "van", "in", "is", "dat", "op", "te",
           "met", "voor", "niet", "zijn", "aan", "er", "ook"],
    "pl": ["i", "w", "na", "z", "do", "że", "się", "nie", "jest", "to",
           "jak", "po", "co", "tak", "dla", "od", "za"],
}

_TOKEN_RE = r"[A-Za-zÀ-ÿ]+|[0-9]+|[^\sA-Za-zÀ-ÿ0-9]"  # BPE-ish pre-tokenizer


def _tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))), " ")


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n_chars, whitespace token count, BPE-ish regex token count, mean
    token length.

    The tokenization array is STAGED as a column (referenced 3× below —
    size, length fold, size again); inlined it would re-run the
    regexp+split per reference (CollapseProject keeps multiply-referenced
    non-cheap aliases staged)."""
    t = F.col(text_col)
    staged = df.withColumn("__ws_toks__", _tokens(t))
    toks = F.col("__ws_toks__")
    # pattern passed as a lit Column — embedding it in a SQL string literal
    # would eat the \s escape ('\s' → 's')
    bpe_count = F.size(F.regexp_extract_all(t, F.lit(_TOKEN_RE), F.lit(0)))
    return (
        staged.withColumn("n_chars", F.length(t))
        .withColumn("n_tokens_ws", F.size(toks))
        .withColumn("n_tokens_bpe", bpe_count)
        .withColumn(
            "mean_token_len",
            F.aggregate(
                toks, F.lit(0), lambda acc, x: acc + F.length(x)
            ).cast("double")
            / F.size(toks),
        )
        .drop("__ws_toks__")
    )


def language_id(
    df: DataFrame, text_col: str = "text", out_col: str = "lang_pred"
) -> DataFrame:
    """n-gram-free stopword-ratio heuristic: score per language = fraction
    of the doc's distinct tokens that are that language's function words;
    argmax wins. A greatest/when chain — fully native."""
    # two staged projections: (1) the distinct-token array — referenced
    # by every language score — then (2) the 8 score COLUMNS, so the
    # greatest/when argmax chain below references cheap column refs
    # instead of re-embedding (and re-evaluating) each score expression
    # ~6× per language per row
    staged = df.withColumn(
        "__lid_toks__", F.array_distinct(_tokens(F.col(text_col)))
    )
    toks = F.col("__lid_toks__")
    out = staged
    for lang, words in STOPWORDS.items():
        out = out.withColumn(
            f"langscore_{lang}",
            F.size(
                F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
            ).cast("double")
            / F.greatest(F.size(toks), F.lit(1)),
        )
    score_cols = {lang: F.col(f"langscore_{lang}") for lang in STOPWORDS}
    best = F.greatest(*score_cols.values())
    pred = F.lit(None).cast("string")
    for lang, sc in reversed(list(score_cols.items())):
        pred = F.when(sc == best, F.lit(lang)).otherwise(pred)
    return out.withColumn(
        out_col, F.when(best > 0, pred).otherwise(F.lit("unknown"))
    ).drop("__lid_toks__")


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style quality heuristics + composite score in [0, 1]:
    length band, mean word length band, punctuation ratio, digit ratio,
    stopword hit, uppercase ratio."""
    # staged: metric expressions (regexp scans, token fold) computed ONCE
    # as columns; the band flags and composite score then reference cheap
    # column refs instead of re-evaluating each O(n_chars) scan 2-3×
    t = F.col(text_col)
    staged = df.withColumn("__q_toks__", _tokens(t))
    toks = F.col("__q_toks__")
    n_chars = F.length(t)
    n_tokens = F.greatest(F.size(toks), F.lit(1))
    mean_len = (
        F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)).cast("double")
        / n_tokens
    )
    punct = F.length(F.regexp_replace(t, r"[^!-/:-@\[-`{-~]", "")).cast("double") / F.greatest(n_chars, F.lit(1))
    digits = F.length(F.regexp_replace(t, r"[^0-9]", "")).cast("double") / F.greatest(n_chars, F.lit(1))
    upper = F.length(F.regexp_replace(t, r"[^A-Z]", "")).cast("double") / F.greatest(n_chars, F.lit(1))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.array_intersect(F.array_distinct(toks), en_stop))

    metrics = (
        staged.withColumn("q_n_chars", n_chars)
        .withColumn("q_mean_word_len", mean_len)
        .withColumn("q_punct_ratio", punct)
        .withColumn("q_digit_ratio", digits)
        .withColumn("q_upper_ratio", upper)
        .withColumn("q_stopword_hits", stop_hits)
        .drop("__q_toks__")
    )

    ok_len = (F.col("q_n_chars") >= 20) & (F.col("q_n_chars") <= 100_000)
    ok_word_len = (
        (F.col("q_mean_word_len") >= 2.0) & (F.col("q_mean_word_len") <= 12.0)
    )
    ok_punct = F.col("q_punct_ratio") <= 0.25
    ok_digits = F.col("q_digit_ratio") <= 0.3
    ok_upper = F.col("q_upper_ratio") <= 0.3
    has_stop = F.col("q_stopword_hits") >= 1

    score = (
        ok_len.cast("int")
        + ok_word_len.cast("int")
        + ok_punct.cast("int")
        + ok_digits.cast("int")
        + ok_upper.cast("int")
        + has_stop.cast("int")
    ).cast("double") / 6
    return metrics.withColumn("quality_score", score)


def document_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    shingle_size: int = 4,
    hash_variant: str = "xxhash64",
) -> DataFrame:
    """Winnowing-style fingerprint: word shingles → rolling hash → the k
    smallest hashes (sorted) as array<bigint> + a single combined 64-bit
    fingerprint. Deterministic; near-identical docs share most minima.
    ``hash_variant="md5"`` makes both levels reproducible outside Spark
    (driver oracle); the combined hash then digests the comma-joined
    minima string instead of the raw array."""
    # staged projections: the token array is aliased once (the shingle
    # lambda would otherwise rerun the regexp/split per shingle position),
    # and the shingle+hash+sort sub-tree is aliased ONCE and referenced
    # twice downstream (output column + combined digest) — inlining it
    # would make Catalyst evaluate the whole shingle hashing twice per row
    # (CollapseProject keeps multiply-referenced non-cheap aliases staged;
    # same fix as minhash_signatures)
    idq = _q(id_col)
    hashes = (
        f"transform({_shingles_sql('__toks__', shingle_size)}, "
        f"s -> {_h64_sql('s', hash_variant)})"
    )
    staged = df.selectExpr(
        idq, f"{_token_sql(_q(text_col))} AS __toks__"
    ).selectExpr(
        idq, f"slice(array_sort({hashes}), 1, {k}) AS fingerprint_minhashes"
    )
    if hash_variant == "xxhash64":
        combined = "xxhash64(fingerprint_minhashes)"
    else:
        combined = _h64_sql(
            "array_join(transform(fingerprint_minhashes, x -> CAST(x AS STRING)), ',')",
            hash_variant,
        )
    return staged.selectExpr(
        idq, "fingerprint_minhashes", f"{combined} AS fingerprint64"
    )


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1, the
    standard web-corpus quality rules alongside the static bands in
    ``quality_score``): per document,

    * ``dup_line_frac`` / ``dup_line_char_frac`` — fraction of lines
      (and of line characters) that are repeats of an earlier line,
      i.e. ``1 - distinct/total``: each line's FIRST occurrence does
      not count as a duplicate (``[a, a, b]`` -> 1/3). Same for
      paragraphs (``dup_para_*``, split on blank lines).
    * ``top_{n}gram_char_frac`` (n in ``top_ns``) — character occupancy
      of the single most frequent word n-gram: count * len / n_chars,
      capped at 1 (overlapping occurrences over-count).
    * ``dup_{n}gram_char_frac`` (n in ``dup_ns``) — characters covered
      by ALL occurrences of n-grams appearing more than once, over
      n_chars, capped at 1 (the standard over-counting approximation).

    Scale shape: ONE generate (all line/para/n-gram item streams are
    built in a single projection and exploded once) -> ONE shuffle on
    (doc, kind, item) for counts -> per-doc conditional aggregation
    (second shuffle keys on doc id only, tiny). No Python in the row
    path. The n-gram streams multiply rows by ~len(top_ns)+len(dup_ns);
    trim the ``*_ns`` tuples when only some signals are needed.
    """
    t = _q(text_col)
    # STAGE the token/line/para arrays as columns: expressions referenced
    # inside higher-order-function lambdas re-evaluate PER ELEMENT, so an
    # inline split-of-regexp here would rerun the whole-document regexp
    # once per n-gram position (O(len^2) — the similarity.py lesson).
    # The doubled backslashes survive SQL unescaping as \n.
    staged = df.selectExpr(
        f"{_q(id_col)} AS __id__",
        f"length({t}) AS __n_chars__",
        f"{_token_sql(t)} AS __toks__",
        f"filter(split({t}, '\\\\n'), x -> length(x) > 0) AS __lines__",
        f"filter(split({t}, '\\\\n{{2,}}'), x -> length(x) > 0) AS __paras__",
    )

    def tag(kind, arr):
        # ship the 64-bit hash, not the string: the count shuffle's
        # row width drops from O(text) to 16 bytes (collisions within a
        # (doc, kind) group are the only hazard — negligible at 2^-64)
        return (
            f"transform({arr}, x -> named_struct('kind', '{kind}', "
            "'item', xxhash64(x), 'chars', length(x)))"
        )

    # line/para items stay on the (small) lambda path, exploded OUTER so
    # every document keeps at least one row — the null row flows through
    # the aggregations contributing to nothing but the doc's presence
    # (all final aggregates filter on specific kind values)
    lp_items = staged.selectExpr(
        "__id__", "__n_chars__",
        f"explode_outer(concat({tag('line', '__lines__')}, "
        f"{tag('para', '__paras__')})) AS it",
    ).selectExpr("__id__", "__n_chars__", "it.kind", "it.item", "it.chars")

    # n-gram items via position explode + per-order gram COLUMNS + stack
    # (r7): higher-order-function lambdas evaluate interpreted per
    # element, and the r6 two-layer transform (string build, then
    # struct tag) was 77% of the whole query's wall time; this shape is
    # the same expressions — concat_ws(slice(toks, i, n)), xxhash64,
    # length — but evaluated inside WholeStageCodegen (measured ~9× on
    # the item-generation core, identical item multiset). A doc shorter
    # than n yields NULLs that the filter drops, matching the r6
    # empty-array case; null/empty docs are kept by lp_items above.
    ns = sorted(set(top_ns) | set(dup_ns))
    gcols = [
        f"CASE WHEN __i__ <= size(__toks__) - {n} + 1 "
        f"THEN concat_ws(' ', slice(__toks__, __i__, {n})) END AS __g{n}__"
        for n in ns
    ]
    stack = "stack({}, {}) as (kind, __gs__)".format(
        len(ns), ", ".join(f"'g{n}', __g{n}__" for n in ns)
    )
    g_items = (
        staged.selectExpr(
            "__id__", "__n_chars__", "__toks__",
            "explode(sequence(1, greatest(size(__toks__), 1))) AS __i__",
        )
        .selectExpr("__id__", "__n_chars__", *gcols)
        .selectExpr("__id__", "__n_chars__", stack)
        .filter("__gs__ IS NOT NULL")
        .selectExpr(
            "__id__", "__n_chars__", "kind",
            "xxhash64(__gs__) AS item", "length(__gs__) AS chars",
        )
    )
    items = lp_items.unionByName(g_items) if ns else lp_items
    counts = items.groupBy("__id__", "kind", "item").agg(
        F.expr("count(1) AS cnt"),
        F.expr("first(chars) AS chars"),
        F.expr("first(__n_chars__) AS n_chars"),
    )
    per_kind = counts.groupBy("__id__", "kind").agg(
        F.expr("first(n_chars) AS n_chars"),
        F.expr("1.0D - count(1) / sum(cnt) AS dup_frac"),
        F.expr(
            "coalesce(sum(CASE WHEN cnt > 1 THEN chars * cnt END), 0) "
            "AS dup_char_count"
        ),
        F.expr("sum(chars * cnt) AS total_char_count"),
        # argmax by (cnt, occ) as a PACKED bigint max (r7): a struct
        # ordering key gives max_by a non-fixed-width buffer, which kicks
        # the whole aggregate out of HashAggregate into SortAggregate —
        # both sides of the exchange then SORT the full counts frame
        # (~150M rows at bench scale) just to compute one argmax. Since
        # occ = cnt*chars and cnt >= 1, ordering by (cnt, occ) ==
        # ordering by (cnt, chars); cnt and chars are each < 2^31 (array
        # sizes / string lengths are ints), so cnt*2^32 + chars packs the
        # exact ordering into one bigint and max() keeps the aggregate
        # hash-based. The unpacked product is bit-identical to the old
        # max_by value (ties tie on the product too).
        F.expr("max(shiftleft(cnt, 32) + chars) AS __packed_top__"),
    ).selectExpr(
        "__id__", "kind", "n_chars", "dup_frac", "dup_char_count",
        "total_char_count",
        "shiftright(__packed_top__, 32) * (__packed_top__ & 4294967295) "
        "AS top_char_occ",
    )

    def first_of(kind, value, default):
        return (
            f"coalesce(first(CASE WHEN kind = '{kind}' THEN {value} END, true), "
            f"{default})"
        )

    final_aggs = []
    for kind in ("line", "para"):
        final_aggs.append(f"{first_of(kind, 'dup_frac', '0.0D')} AS dup_{kind}_frac")
        frac = "dup_char_count / greatest(total_char_count, 1)"
        final_aggs.append(f"{first_of(kind, frac, '0.0D')} AS dup_{kind}_char_frac")
    final_aggs += [
        f"{first_of(f'g{n}', 'top_char_occ', '0')} AS __top{n}__" for n in top_ns
    ]
    final_aggs += [
        f"{first_of(f'g{n}', 'dup_char_count', '0')} AS __dup{n}__" for n in dup_ns
    ]
    rolled = per_kind.groupBy("__id__").agg(
        F.expr("first(n_chars) AS __n_chars__"), *map(F.expr, final_aggs)
    )
    nc = "CAST(greatest(__n_chars__, 1) AS DOUBLE)"
    sel = [
        f"__id__ AS {_q(id_col)}",
        "__n_chars__ AS n_chars",
        "dup_line_frac", "dup_line_char_frac",
        "dup_para_frac", "dup_para_char_frac",
    ]
    sel += [f"least(__top{n}__ / {nc}, 1.0D) AS top_{n}gram_char_frac" for n in top_ns]
    sel += [f"least(__dup{n}__ / {nc}, 1.0D) AS dup_{n}gram_char_frac" for n in dup_ns]
    return rolled.selectExpr(*sel)


def url_features(
    df: DataFrame, url_col: str = "url", psl_rules: DataFrame | None = None
) -> DataFrame:
    """URL structure features, pure Catalyst (``parse_url`` + regex):
    host, registrable domain, top-level domain, path depth,
    scheme/query flags. The grouping keys every crawl pipeline cuts by
    (domain-level dedup budgets, per-TLD quality priors).

    ``url_domain`` (registrable domain): with ``psl_rules`` (a Public
    Suffix List rules DataFrame — the bundled deterministic subset is
    ``pytimetk_spark.sources.psl.psl_rules(spark)``; a full list parses
    via ``psl_rules_from_lines``) the PSL algorithm runs exactly:
    longest matching rule wins, ``*.x`` wildcards match any single
    label, ``!y.x`` exceptions shorten the suffix by one label, default
    rule ``*`` when nothing matches; registrable = public suffix + one
    label, falling back to the bare host when the host IS a public
    suffix. Without ``psl_rules`` the last-two-labels approximation is
    kept (documented trade-off: ``co.uk``-style hosts under-split).

    Scale shape: the rules table is tiny, so the PSL path adds ONE
    BROADCAST hash join per distinct rule length per kind (the bundled
    subset: 4 joins) on precomputed suffix-key columns — no explode, no
    re-group, no shuffle; everything else is one projection.
    """
    u = F.col(url_col)
    host = F.lower(F.parse_url(u, F.lit("HOST")))
    path = F.coalesce(F.parse_url(u, F.lit("PATH")), F.lit(""))
    out = df.withColumn("url_host", host)
    # stage the label array once (HOF/slice consumers below)
    out = out.withColumn("__labels__", F.split(F.col("url_host"), r"\."))
    labels = F.col("__labels__")
    n = F.size(labels)

    def suffix(k):
        # last k labels of the host, joined — NULL when host is shorter
        return F.when(
            n >= k, F.concat_ws(".", F.slice(labels, n - k + 1, k))
        )

    if psl_rules is None:
        domain = F.when(n >= 2, suffix(2)).otherwise(F.col("url_host"))
        out = out.withColumn("url_domain", domain)
    else:
        # PSL lengths present per kind (rules table is tiny: collect is
        # a driver-side constant-fold, not a data-path collect)
        kinds = psl_rules.select(
            "n_labels", "is_wildcard", "is_exception"
        ).distinct().collect()
        ks_exact = sorted({r.n_labels for r in kinds if not r.is_wildcard})
        ks_wild = sorted({r.n_labels for r in kinds if r.is_wildcard})
        exc_cols, norm_cols = [], []
        for k in ks_exact:
            key = f"__sfx{k}__"
            out = out.withColumn(key, suffix(k))
            r = psl_rules.filter(
                (~F.col("is_wildcard")) & (F.col("n_labels") == k)
            ).select(
                F.col("rule").alias(key),
                F.col("is_exception").alias(f"__exc{k}__"),
            ).dropDuplicates([key])
            out = out.join(F.broadcast(r), key, "left")
            # exception rule: public suffix = rule minus leading label
            exc_cols.append(
                (k, F.when(F.col(f"__exc{k}__") == True,  # noqa: E712
                           F.lit(k - 1)))
            )
            norm_cols.append(
                (k, F.when(F.col(f"__exc{k}__") == False,  # noqa: E712
                           F.lit(k)))
            )
        for k in ks_wild:
            key = f"__wld{k}__"
            # "*." + last (k-1) labels; needs >= k host labels (the *
            # consumes one real label)
            out = out.withColumn(
                key,
                F.when(n >= k, F.concat(F.lit("*."), suffix(k - 1))),
            )
            r = psl_rules.filter(
                F.col("is_wildcard") & (F.col("n_labels") == k)
            ).select(
                F.col("rule").alias(key),
                F.lit(True).alias(f"__wmatch{k}__"),
            ).dropDuplicates([key])
            out = out.join(F.broadcast(r), key, "left")
            norm_cols.append(
                (k, F.when(F.col(f"__wmatch{k}__"), F.lit(k)))
            )
        # prevailing rule: any exception first, else most labels
        exc_npub = F.coalesce(
            *[c for _, c in sorted(exc_cols, key=lambda t: -t[0])],
            F.lit(None),
        )
        norm_npub = F.coalesce(
            *[c for _, c in sorted(norm_cols, key=lambda t: -t[0])],
            F.lit(None),
        )
        n_pub = F.coalesce(exc_npub, norm_npub, F.lit(1))
        out = out.withColumn("__npub__", n_pub)
        npub = F.col("__npub__")
        registrable = F.when(
            n > npub,
            F.concat_ws(".", F.slice(labels, n - npub, npub + 1)),
        )
        out = (
            out.withColumn("url_public_suffix",
                           F.concat_ws(".", F.slice(labels, n - npub + 1,
                                                    npub)))
            .withColumn("url_domain",
                        F.coalesce(registrable, F.col("url_host")))
        )
        drop = [f"__sfx{k}__" for k in ks_exact]
        drop += [f"__exc{k}__" for k in ks_exact]
        drop += [f"__wld{k}__" for k in ks_wild]
        drop += [f"__wmatch{k}__" for k in ks_wild]
        out = out.drop(*drop, "__npub__")
    out = (
        out.withColumn("url_tld", F.element_at(labels, -1))
        .withColumn(
            "url_path_depth",
            F.size(F.filter(F.split(path, "/"),
                            lambda x: F.length(x) > 0)),
        )
        .withColumn("url_is_https", u.startswith("https://"))
        .withColumn(
            "url_has_query",
            F.parse_url(u, F.lit("QUERY")).isNotNull(),
        )
        .drop("__labels__")
    )
    return out


def byte_stats_features(
    df: DataFrame, binary_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """Byte-level featurizer over any binary column: length,
    shannon-entropy-ish stats from a 16-bin byte histogram, via
    mapInPandas (numpy over Arrow buffers — vectorized, no per-row Python
    objects beyond the numpy views)."""
    schema = T.StructType(
        [
            T.StructField("__id__", T.LongType()),
            T.StructField("n_bytes", T.IntegerType()),
            T.StructField("byte_entropy", T.DoubleType()),
            T.StructField("hist16", T.ArrayType(T.DoubleType())),
        ]
    )

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_spark_zip_finders()
        for pdf in batches:
            # whole-batch vectorization: ONE concatenated uint8 view + ONE
            # bincount over (row*16 + bin) — no per-blob numpy calls
            blobs = [b or b"" for b in pdf["__bin__"]]
            n = len(blobs)
            lens = np.fromiter((len(b) for b in blobs), dtype=np.int64, count=n)
            cat = np.frombuffer(b"".join(blobs), dtype=np.uint8)
            row_idx = np.repeat(np.arange(n, dtype=np.int32), lens)
            flat = np.bincount(
                (row_idx << 4) | (cat >> 4).astype(np.int32), minlength=n * 16
            )
            hist = flat.reshape(n, 16).astype("float64")
            tot = hist.sum(axis=1, keepdims=True)
            p = np.divide(hist, tot, out=np.zeros_like(hist), where=tot > 0)
            plogp = np.zeros_like(p)
            np.log2(p, out=plogp, where=p > 0)
            ent = -(p * plogp).sum(axis=1)
            yield pd.DataFrame(
                {
                    "__id__": pdf["__id__"].astype("int64").to_numpy(),
                    "n_bytes": lens.astype("int32"),
                    "byte_entropy": ent,
                    "hist16": list(p),
                }
            )

    src = df.select(F.col(id_col).alias("__id__"), F.col(binary_col).alias("__bin__"))
    out = src.mapInPandas(featurize, schema=schema)
    return out.withColumnRenamed("__id__", id_col)
