"""Trainable BPE tokenizer: corpus-fit merges + distributed encoding.

Real byte-pair encoding (Sennrich et al. 2016) learned FROM the corpus
itself — no external vocab file needed, which keeps the engine
self-contained in this environment. Same split as the IVF centroid
fit: ``bpe_train`` fits the merge table on a bounded driver-side sample
(merge statistics need a sketch, not a pass over 100 TB), ``bpe_encode``
applies it to the full corpus in one Arrow pass with per-batch word
caching (natural text repeats words heavily, so the amortized cost per
token is a dict hit).

Token COUNTS from this path upgrade token_stats' regex approximation
to a real subword count for compute/billing estimates; the tokens
themselves feed embedding/dedup stages.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pytimetk_spark.config import drop_spark_zip_finders

_EOW = "</w>"


def _words(text: str) -> list[str]:
    return text.lower().split()


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 500,
    fit_sample: int = 50_000,
    seed: int = 42,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a bounded corpus sample.
    Deterministic: seeded sample; ties on pair frequency break
    lexicographically. Returns the ordered merge list (the model)."""
    n_corpus = df.count()
    frac = min(1.0, (1.5 * fit_sample / n_corpus) if n_corpus else 1.0)
    texts = (
        df.select(F.col(text_col))
        .sample(False, frac, seed=seed)
        .limit(fit_sample)
        .toPandas()[text_col]
    )
    word_freq = Counter()
    for t in texts:
        word_freq.update(_words(t or ""))
    # word -> symbol tuple, char-split + end-of-word marker
    vocab = {w: tuple(w) + (_EOW,) for w in word_freq}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_freq = Counter()
        for w, freq in word_freq.items():
            syms = vocab[w]
            for a, b in zip(syms, syms[1:]):
                pair_freq[(a, b)] += freq
        if not pair_freq:
            break
        best = max(pair_freq.items(), key=lambda kv: (kv[1], kv[0]))[0]
        if pair_freq[best] < 2:
            break  # nothing left that generalizes
        merges.append(best)
        a, b = best
        ab = a + b
        for w in vocab:
            syms = vocab[w]
            if a not in syms or b not in syms:
                continue
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = tuple(out)
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    syms = list(word) + [_EOW]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i, (a, b) in enumerate(zip(syms, syms[1:])):
            r = ranks.get((a, b))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_i = i
        if best_rank is None:
            break
        syms[best_i: best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    return_tokens: bool = False,
) -> DataFrame:
    """Tokenize the FULL corpus with a trained merge table -> per doc
    ``bpe_n_tokens`` (+ the token array when ``return_tokens``). One
    Arrow pass; unique words are encoded once per batch (cache)."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    fields = [
        T.StructField("__bid__", df.schema[id_col].dataType),
        T.StructField("bpe_n_tokens", T.IntegerType()),
    ]
    if return_tokens:
        fields.append(T.StructField("bpe_tokens", T.ArrayType(T.StringType())))
    schema = T.StructType(fields)

    def encode(batches):
        drop_spark_zip_finders()
        import pandas as pd

        cache: dict[str, list[str]] = {}
        for pdf in batches:
            counts = []
            toks_col = []
            for t in pdf["__t__"]:
                toks: list[str] = []
                for w in _words(t or ""):
                    enc = cache.get(w)
                    if enc is None:
                        enc = _encode_word(w, ranks)
                        cache[w] = enc
                    toks.extend(enc)
                counts.append(len(toks))
                if return_tokens:
                    toks_col.append(toks)
            data = {"__bid__": pdf["__bid__"],
                    "bpe_n_tokens": counts}
            if return_tokens:
                data["bpe_tokens"] = toks_col
            yield pd.DataFrame(data)

    src = df.select(
        F.col(id_col).alias("__bid__"),  # uncast: generic id dtypes
        F.col(text_col).alias("__t__"),
    )
    return src.mapInPandas(encode, schema=schema).withColumnRenamed(
        "__bid__", id_col
    )
