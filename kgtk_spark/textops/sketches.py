"""KMV sketches for approximate distinct counting.

KMV (K-minimum-values, Bar-Yossef et al. 2002): hash every value into
[0, 2^60), keep the k smallest distinct hashes per group; with U_k the
k-th smallest normalized to [0,1), the distinct-count estimate is
(k-1)/U_k — relative error ≈ 1/√k. Groups with fewer than k distinct
hashes are EXACT (the sketch holds them all).

The sketch is DETERMINISTIC given the hash function — and the hash is
the same md5-60bit construction the SimHash oracle uses, so the whole
estimator (not just its error bound) is reproducible in ANSI SQL/DuckDB
and sits under the value-hash correctness gate.

Memory is bounded: the per-group top-k runs as a window rank over
distinct (group, hash) rows — never a collect_set of the whole group.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

HEX_WIDTH = 15  # 60 bits, exact in a BIGINT
_SPACE = float(2**60)


def hash60(c: Column) -> Column:
    """The first ``HEX_WIDTH`` hex digits of md5(c) as a BIGINT: the one
    60-bit hash of the KMV sketch, ``stable_sample`` and SimHash, which
    DuckDB reproduces (md5 plus a positional hex parse)."""
    return F.conv(F.substring(F.md5(c), 1, HEX_WIDTH), 16, 10).cast("long")


def kmv_sketch(
    df: DataFrame, group_cols: list[str], value_col: str, k: int = 64
) -> DataFrame:
    """One row per group: ``sketch`` = the k smallest distinct value
    hashes (sorted ascending), ``n_seen`` = how many the sketch holds."""
    hashed = df.select(
        *group_cols, hash60(F.col(value_col).cast("string")).alias("__h__")
    ).distinct()
    w = Window.partitionBy(*group_cols).orderBy("__h__")
    topk = hashed.withColumn("__rk__", F.row_number().over(w)).filter(
        F.col("__rk__") <= k
    )
    return topk.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list("__h__")).alias("sketch"),
        F.count(F.lit(1)).alias("n_seen"),
    )


def kmv_distinct(
    df: DataFrame, group_cols: list[str], value_col: str, k: int = 64
) -> DataFrame:
    """Approximate COUNT(DISTINCT value) per group via KMV.

    Exact when a group has fewer than k distinct values; otherwise
    (k-1) / (kth_min / 2^60), ~1/√k relative error.
    """
    s = kmv_sketch(df, group_cols, value_col, k)
    kth = F.element_at("sketch", k).cast("double")
    est = F.when(F.col("n_seen") < k, F.col("n_seen").cast("double")).otherwise(
        (k - 1) * _SPACE / kth
    )
    return s.select(*group_cols, F.round(est, 6).alias("distinct_estimate"))


def stable_sample(
    df: DataFrame,
    key_col: str,
    rate: float,
    salt: str = "",
) -> DataFrame:
    """Deterministic hash sampling: keep a row iff
    hash60(salt || key) / 2^60 < ``rate``.

    The production way to subsample a 100 TB corpus: no RNG state, no
    seed-per-partition coupling — membership is a pure function of the
    KEY, so (a) reruns/backfills select the SAME rows, (b) samples at
    different rates NEST (a 1% sample is a subset of a 10% sample),
    (c) different ``salt`` values give independent samples for held-out
    splits. Embarrassingly parallel, no shuffle; the same md5-60bit
    hash as the KMV sketch, so the selection is reproducible in ANSI
    SQL for verification (``rand(seed)`` is not portable across
    engines or even partitionings).
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    # column functions, not an interpolated SQL string: a salt holding a
    # quote (or a key_col holding a backtick) must stay DATA, not syntax
    h = hash60(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    return df.filter(h < F.lit(int(rate * _SPACE)).cast("long"))
