from pytimetk_spark.webtext.dedup import (
    connected_components,
    dedup_exact,
    dedup_paragraphs,
    embedding_near_dup_pairs,
    exact_duplicate_groups,
    minhash_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_tokens,
    simhash,
)
from pytimetk_spark.webtext.similarity import (
    cosine_topk_bruteforce,
    ivf_ann,
    lsh_bucket_ann,
    normalize_embeddings,
)
from pytimetk_spark.webtext.textstats import (
    byte_stats_features,
    document_fingerprint,
    language_id,
    quality_score,
    repetition_signals,
    token_stats,
    url_features,
)
from pytimetk_spark.webtext.cleaning import (
    c4_line_filter,
    decontaminate,
    hash_split,
    mask_pii,
    pack_sequences,
)
from pytimetk_spark.webtext.bpe import bpe_encode, bpe_train
from pytimetk_spark.webtext.html import extract_html_text
from pytimetk_spark.webtext.lm import (
    fit_ngram_lm,
    lm_filter,
    perplexity_buckets,
    score_perplexity,
)
from pytimetk_spark.webtext.quality_model import (
    fit_quality_classifier,
    pareto_filter,
    quality_classifier_filter,
    score_quality,
)
from pytimetk_spark.webtext.sampling import (
    dsir_select,
    dsir_weights,
    hashed_ngram_features,
    temperature_mixture_weights,
    temperature_sample,
)
