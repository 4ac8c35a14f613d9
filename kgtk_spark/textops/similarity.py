"""Similarity search over an embedding column (array<float>).

- brute_force_topk: exact cosine top-k — the correctness baseline.
  The dot product is a JVM-side ``aggregate(zip_with(...))`` against a
  literal query vector: no Python, no shuffle except the final top-k.
- cosine_pairs: all-pairs above a threshold via random-hyperplane LSH
  buckets (near-dup by embedding).
- knn_join: batch top-k for every query row against the corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_to_literal(vec_col: Column, query: list[float]) -> Column:
    q = F.array(*[F.lit(float(v)) for v in query])
    return _dot(vec_col, q) / (_norm(vec_col) * F.lit(float(np.linalg.norm(query))))


def brute_force_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_ids: list | None = None,
) -> DataFrame:
    """Exact cosine top-k: one scan + a k-row ordered limit."""
    out = df.select(
        F.col(id_col),
        F.round(cosine_to_literal(F.col(vec_col), query), 6).alias("score"),
    )
    if exclude_ids:
        out = out.filter(~F.col(id_col).isin(exclude_ids))
    return out.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(bits, dim)


# above this many plane cells (bits x dim) the literal-expression
# signature is replaced by one numpy matmul per Arrow batch: at
# production embedding dims (768-4096) x 16+ bits the expression path
# would carry tens of thousands of literals and the aggregate chains
# don't codegen, while the matmul is one BLAS call per batch
MATRIX_UDF_CELLS = 4096


def lsh_signature(vec_col: Column, planes: np.ndarray) -> Column:
    """Random-hyperplane sign bits packed into a long.

    Two equivalent evaluation paths, selected by plane-matrix size
    (a test forces one by monkeypatching ``MATRIX_UDF_CELLS``):

    - *expression* (small planes): per-plane JVM ``aggregate(zip_with)``
      dot products — no Python at all;
    - *matrix UDF* (``bits x dim >= MATRIX_UDF_CELLS``): ONE vectorized
      ``X @ planes.T`` per Arrow batch against the closed-over matrix,
      keeping the plan a single small node instead of tens of
      thousands of literals.

    Zero planes → constant signature 0: every vector lands in ONE
    bucket, degrading the LSH consumers to exhaustive exact mode (used
    by small slices and the SQL-oracle path, where the random planes
    are not reproducible cross-engine)."""
    if len(planes) == 0:
        return F.lit(0).cast("long")
    n_bits, dim = planes.shape
    if n_bits * dim >= MATRIX_UDF_CELLS:
        m_t = planes.astype(np.float64).T.copy()  # (dim, bits)
        weights = (1 << np.arange(n_bits, dtype=np.int64))

        @F.pandas_udf("long")
        def sig_udf(vs: pd.Series) -> pd.Series:
            if not len(vs):
                return pd.Series(np.array([], dtype=np.int64))
            x = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
            signs = (x @ m_t) >= 0.0  # (batch, bits)
            return pd.Series((signs * weights[None, :]).sum(axis=1).astype(np.int64))

        return sig_udf(vec_col)
    bits = []
    for i, p in enumerate(planes):
        q = F.array(*[F.lit(float(v)) for v in p])
        bits.append(F.when(_dot(vec_col, q) >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    seed: int = 42,
    bucket_cap: int = 2000,
) -> DataFrame:
    """Embedding near-duplicate pairs: same LSH bucket + exact verify.

    The self-join is keyed on the signature; a degenerate bucket (e.g.
    a zero-vector pileup) would square, so buckets over ``bucket_cap``
    vectors are dropped before the join — at scale raise ``bits`` (or
    re-run the dropped residue at higher bits) instead of the cap.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = _hyperplanes(dim, bits, seed)
    b = df.select(
        F.col(id_col), F.col(vec_col), lsh_signature(F.col(vec_col), planes).alias("__sig__")
    )
    if bucket_cap is not None:
        ok = (
            b.groupBy("__sig__")
            .agg(F.count(F.lit(1)).alias("__bsz__"))
            .filter(F.col("__bsz__") <= bucket_cap)
            .select("__sig__")
        )
        b = b.join(ok, "__sig__", "left_semi")
    pairs = (
        b.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.__sig__") == F.col("b.__sig__"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("u"),
            F.col(f"b.{id_col}").alias("v"),
            F.round(
                _dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
                / (_norm(F.col(f"a.{vec_col}")) * _norm(F.col(f"b.{vec_col}"))),
                6,
            ).alias("score"),
        )
    )
    return pairs.filter(F.col("score") >= threshold)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_same_id: bool = False,
    broadcast_chunk_rows: int = 500_000,
) -> DataFrame:
    """Batch kNN: for EVERY query row, the top-k corpus vectors by
    cosine → (query_id, neighbor_id, score, rank).

    Scale shape: the query batch broadcasts against the partitioned
    corpus (scores are map-side JVM expressions); an Arrow-batched
    partial top-k trims each scored batch to k rows per query BEFORE
    the shuffle, so the exchange carries O(k·|Q|·batches) rows instead
    of |Q|·|C|; a per-query window finishes the merge. Ties order by
    neighbor id on the 6-decimal-rounded score, making ranks
    reproducible across engines (the DuckDB oracle replays the same
    ordering).

    The broadcast is guarded: a query batch over
    ``broadcast_chunk_rows`` rows is split into hash chunks, each
    broadcast and scored separately, then unioned — each broadcast
    BUILD is bounded to ``broadcast_chunk_rows`` rows (union branches
    schedule independently, so several chunk broadcasts can coexist for
    the query's duration; the bound is per-build, not a strict
    one-in-flight guarantee). On the chunked path both inputs are
    ``localCheckpoint``-ed: the chunked query frame materializes ONCE
    (eager) instead of once per branch, and the projected corpus is
    computed/cached on first touch so the union's N branches read the
    cached blocks rather than re-scanning the source N times. Blocks
    are reference-tracked — Spark's ContextCleaner frees them when the
    result DataFrame is garbage collected, so no session-lifetime
    persist leak and no caller-side unpersist obligation.
    """
    from typing import Iterator

    from pyspark.sql import Window

    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv__")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv__"))
    score = F.round(
        _dot(F.col("__cv__"), F.col("__qv__"))
        / (_norm(F.col("__cv__")) * _norm(F.col("__qv__"))),
        6,
    )
    n_q = q.count()
    if n_q > broadcast_chunk_rows:
        import math
        from functools import reduce

        n_chunks = math.ceil(n_q / broadcast_chunk_rows)
        # eager localCheckpoint: chunk assignment materializes ONCE (not
        # once per broadcast build), and the blocks are reference-tracked
        # so they free when the result is GC'd — unlike a bare persist()
        # with no matching unpersist
        qc = q.withColumn(
            "__chunk__", F.pmod(F.xxhash64(F.col("query_id")), F.lit(n_chunks))
        ).localCheckpoint(eager=True)
        # lazy localCheckpoint on the projected corpus: the first branch
        # computes + caches it (MEMORY_AND_DISK), the other n_chunks-1
        # union branches read cached blocks — ONE corpus scan total
        # instead of one per chunk
        c = c.localCheckpoint(eager=False)
        parts = [
            c.crossJoin(
                F.broadcast(qc.filter(F.col("__chunk__") == i).drop("__chunk__"))
            )
            for i in range(n_chunks)
        ]
        base = reduce(lambda a, b: a.unionByName(b), parts)
    else:
        base = c.crossJoin(F.broadcast(q))
    scored = base.select("query_id", "neighbor_id", score.alias("score"))
    if exclude_same_id:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))

    out_schema = scored.schema

    def trim(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-batch top-k per query: the union over batches is a
        # superset of the true top-k, so the final window stays exact
        for pdf in batches:
            pdf = pdf.sort_values(
                ["query_id", "score", "neighbor_id"],
                ascending=[True, False, True],
            )
            yield pdf.groupby("query_id", sort=False).head(k)

    trimmed = scored.mapInPandas(trim, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("neighbor_id")
    )
    return (
        trimmed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
