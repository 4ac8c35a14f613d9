"""Large-scale training-data operations over document/embedding tables.

These go beyond the reference's operator set: the ops a 100 TB
training-data pipeline needs — dedup family (exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine), similarity search (ANN),
text analysis (language-id, quality, tokens, fingerprints), and
multimodal binary-column plumbing.
"""

from kgtk_spark.textops.dedup import (
    canonicalize_url,
    decontaminate,
    exact_dedup,
    minhash_near_dup,
    ngram_jaccard_pairs,
    remove_duplicate_spans,
    simhash_signatures,
    url_dedup,
)
from kgtk_spark.textops.similarity import (
    brute_force_topk,
    cosine_pairs,
)
from kgtk_spark.textops.quality import (
    doc_fingerprint,
    repetition_signals,
    language_id,
    tfidf_top_terms,
    token_df,
    quality_score,
    token_count,
    unigram_cross_entropy,
)
from kgtk_spark.textops.corpus import clean_corpus
from kgtk_spark.textops.skew import salted_join
from kgtk_spark.textops.multimodal import (
    audio_features,
    decode_image_bytes,
    encode_gray_jpeg,
)

__all__ = [
    "canonicalize_url",
    "decontaminate",
    "exact_dedup",
    "minhash_near_dup",
    "simhash_signatures",
    "ngram_jaccard_pairs",
    "remove_duplicate_spans",
    "url_dedup",
    "brute_force_topk",
    "cosine_pairs",
    "language_id",
    "quality_score",
    "token_count",
    "token_df",
    "tfidf_top_terms",
    "unigram_cross_entropy",
    "doc_fingerprint",
    "repetition_signals",
    "salted_join",
    "clean_corpus",
    "decode_image_bytes",
    "encode_gray_jpeg",
    "audio_features",
]
