"""`kgtk text-embedding` — sentence construction + embedding.

Reference: kgtk/cli/text_embedding.py + kgtk/gt/embedding_utils.py —
builds a natural-language sentence per Qnode from its label /
description / isa properties, embeds it with a SentenceTransformer,
and serves cosine-similarity queries.

Spark re-expression: sentence construction is a lift-style aggregation
(pure DataFrame); the embedding runs inside ``mapInPandas``. The
default backend is a REAL feature-hashing (hashing-trick) embedding —
deterministic, vocabulary-sensitive, meaningful under cosine — since
the transformer libraries are not in this container; the
SentenceTransformer backend is a one-line plug into ``_BACKENDS`` on a
cluster that has them. Similarity queries reuse
kgtk_spark.textops.similarity.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgtk_spark.values import unstringify_udf

LABEL_PROPERTY = "label"
DESCRIPTION_PROPERTY = "description"
ISA_PROPERTY = "P31"


def build_sentences(edges: DataFrame) -> DataFrame:
    """(node, sentence) per entity: "<label>, <description>, is a <isa>".

    Mirrors the reference's sentence template
    (kgtk/gt/embedding_utils.py sentence assembly); one hash aggregation.
    """
    def prop(p):
        return (
            edges.filter(F.col("label") == p)
            .groupBy(F.col("node1").alias("node"))
            .agg(F.min(unstringify_udf(F.col("node2"))).alias(p))
        )

    labels = prop(LABEL_PROPERTY)
    descs = prop(DESCRIPTION_PROPERTY)
    isas = (
        edges.filter(F.col("label") == ISA_PROPERTY)
        .groupBy(F.col("node1").alias("node"))
        .agg(F.array_join(F.array_sort(F.collect_set("node2")), " and ").alias("isa"))
    )
    out = (
        labels.join(descs, "node", "full_outer")
        .join(isas, "node", "full_outer")
        .select(
            "node",
            F.concat_ws(
                ", ",
                F.col(LABEL_PROPERTY),
                F.col(DESCRIPTION_PROPERTY),
                F.when(F.col("isa").isNotNull(), F.concat(F.lit("is a "), F.col("isa"))),
            ).alias("sentence"),
        )
    )
    return out.filter(F.col("sentence") != "")


def _embed_batch_stub(sentences: list[str], dim: int) -> np.ndarray:
    """STUB model: deterministic hash projection (NOT a semantic model).

    Real deployment: replace with
    ``SentenceTransformer(...).encode(sentences)`` — the library is not
    installed in this container.
    """
    out = np.zeros((len(sentences), dim), dtype=np.float32)
    for i, s in enumerate(sentences):
        h = hashlib.sha256(s.encode()).digest()
        seed = int.from_bytes(h[:8], "little")
        rng = np.random.RandomState(seed % (2**32))
        v = rng.randn(dim).astype(np.float32)
        out[i] = v / np.linalg.norm(v)
    return out


def _embed_batch_hash_kernel(sentences: list[str], dim: int) -> np.ndarray:
    """REAL bag-of-features embedding via the hashing trick (Weinberger
    et al. 2009): lowercase unigram + bigram features, signed-bucket
    accumulation, L2 normalization. Not a transformer, but a genuine,
    deterministic text embedding — sentences sharing vocabulary land
    near each other in cosine space, so ANN / near-dup / clustering
    downstream behave meaningfully (unlike the random-projection stub,
    which only preserves identity).
    """
    import zlib

    out = np.zeros((len(sentences), dim), dtype=np.float32)
    for i, s in enumerate(sentences):
        toks = s.lower().split()
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        if not feats:
            continue
        hs = np.array([zlib.crc32(f.encode()) for f in feats], dtype=np.uint32)
        idx = (hs % np.uint32(dim)).astype(np.int64)
        sign = np.where((hs >> np.uint32(16)) & np.uint32(1), 1.0, -1.0)
        np.add.at(out[i], idx, sign)
        norm = np.linalg.norm(out[i])
        if norm > 0:
            out[i] /= norm
    return out


_BACKENDS = {
    "hash_kernel": _embed_batch_hash_kernel,
    "stub": _embed_batch_stub,
}


def text_embedding(
    edges: DataFrame,
    dim: int = 64,
    backend: str = "hash_kernel",
) -> DataFrame:
    """(node, sentence, embedding: array<float>) per entity.

    ``backend="hash_kernel"`` (default) is the real feature-hashing
    embedding; ``"stub"`` is the identity-only random projection; a
    SentenceTransformer backend plugs in by adding its encode function
    to ``_BACKENDS`` on a cluster with the model libraries installed.
    """
    embed = _BACKENDS[backend]
    sents = build_sentences(edges)
    schema = T.StructType(
        [
            T.StructField("node", T.StringType()),
            T.StructField("sentence", T.StringType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = embed(list(pdf["sentence"]), dim)
            yield pd.DataFrame(
                {
                    "node": pdf["node"],
                    "sentence": pdf["sentence"],
                    "embedding": [v.tolist() for v in vecs],
                }
            )

    return sents.mapInPandas(run, schema=schema)
