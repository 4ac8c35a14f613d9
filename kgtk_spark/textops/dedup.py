"""Deduplication family: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design:
- exact: one hash aggregation on the dedup key (map-side partial agg);
- shingling + shingle hashing are pure JVM expressions (split/transform/
  xxhash64) — no Python in the tokenize/hash hot path; the only Python
  is the numpy-vectorized MinHash permutation min, fed pre-hashed longs;
- MinHash+LSH: banding turns the O(n²) pair problem into a groupBy on
  (band, bucket); degenerate buckets (boilerplate/template corpora) are
  CAPPED at ``bucket_cap`` docs — over-cap buckets are skipped (and
  optionally counted+logged) instead of self-joining quadratically;
  candidates are verified with EXACT Jaccard over the hashed shingle
  sets (``verify="exact"``, SQL-reproducible) or the signature estimate
  (``verify="estimate"``), then clustered with the connected-components
  fixpoint so transitive duplicates collapse; cluster_id is the NUMERIC
  min doc id of the cluster;
- SimHash: 60-bit signature, entirely JVM-side (md5-derived token
  hashes), bit-math reproducible in ANSI SQL for the DuckDB oracle;
- n-gram Jaccard: inverted shingle index with a document-frequency cap
  (``df_cap``) so one boilerplate shingle shared by k docs cannot emit
  k² join rows; dropped shingles only lower the intersection count
  (standard DF-capped exact-Jaccard verification).
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgtk_spark.textops.sketches import HEX_WIDTH, hash60

logger = logging.getLogger(__name__)

# Deterministic 64-bit mixing (splitmix64) — stable across executors/runs.
_MASK = (1 << 64) - 1


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + 0x9E3779B97F4A7C15) & _MASK
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _MASK
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _MASK
    return x ^ (x >> 31)


def word_ngrams(text_col: Column, n: int) -> Column:
    """Distinct n-word shingles of a text column — pure JVM expression.

    Short texts (< n tokens) yield one shingle: the whole text. The
    same construction is expressible in DuckDB SQL, so every consumer
    of this helper is oracle-able on string shingles. (String shingles
    are the oracle surface; the hot path uses :func:`token_hashes` +
    numpy rolling combine, which benches ~4× faster — per-gram
    slice/array_join in a higher-order function does not codegen.)
    """
    toks = F.split(F.trim(text_col), r"\s+")
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            ),
        ).otherwise(F.array(F.array_join(toks, " ")))
    )


def token_hashes(text_col: Column) -> Column:
    """xxhash64 of each word token — the JVM half of the shingle hash."""
    toks = F.split(F.trim(text_col), r"\s+")
    return F.transform(toks, lambda t: F.xxhash64(t))


_POLY = np.uint64(0x9E3779B97F4A7C15)  # odd multiplier for the rolling combine


def _shingle_hashes_np(th: np.ndarray, k: int) -> np.ndarray:
    """Order-sensitive polynomial combine of k consecutive token hashes
    (h = ((t0·B + t1)·B + t2)·…, splitmix64-finalized), deduped.
    Pure numpy — no per-byte or per-shingle Python."""
    t = th.astype(np.uint64)
    if t.size == 0:
        return np.array([], dtype=np.uint64)
    if t.size < k:
        # 1-element ARRAY arithmetic: numpy wraps array overflow
        # silently but warns on scalar overflow.
        h = t[:1].copy()
        for j in range(1, t.size):
            h = h * _POLY + t[j : j + 1]
        return _splitmix64(h)
    m = t.size - k + 1
    h = t[:m].copy()
    for j in range(1, k):
        h = h * _POLY + t[j : m + j]
    return np.unique(_splitmix64(h))


def hashed_shingles(text_col: Column, n: int) -> Column:
    """Shingle hashes of a text column: JVM token hashes + a numpy
    rolling polynomial combine (vectorized pandas UDF)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def gs_udf(th: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _shingle_hashes_np(np.asarray(arr, dtype=np.int64), n)
                .astype(np.int64)
                if arr is not None
                else []
                for arr in th
            ]
        )

    return gs_udf(token_hashes(text_col))


def exact_dedup(
    df: DataFrame, key_cols: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row per distinct key (the minimum id) — one shuffle."""
    keep = df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))
    return df.join(keep, [*key_cols, id_col], "left_semi")


def _shingles_and_sigs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_k: int,
) -> DataFrame:
    """(id, gs: array<long>, sig: array<long>) in ONE pass: JVM token
    hashes feed a pandas UDF that derives both the shingle-hash set
    (numpy rolling combine) and the MinHash signature (numpy
    permutation-min matrix op). No per-shingle Python, no re-tokenize
    between signature and verification."""
    seeds = _splitmix64(np.arange(1, num_hashes + 1, dtype=np.uint64))
    empty_sig = [0] * num_hashes

    @F.pandas_udf(f"struct<gs: array<bigint>, sig: array<bigint>>")
    def both_udf(th: pd.Series) -> pd.DataFrame:
        # ndarrays go straight into the Arrow list column — the
        # per-doc .tolist() round-trip measured ~20% of kernel time
        gs_out, sig_out = [], []
        for arr in th:
            sh = (
                _shingle_hashes_np(np.asarray(arr, dtype=np.int64), shingle_k)
                if arr is not None and len(arr)
                else np.array([], dtype=np.uint64)
            )
            if sh.size == 0:
                gs_out.append([])
                sig_out.append(empty_sig)
                continue
            gs_out.append(sh.astype(np.int64))
            m = _splitmix64(sh[None, :] ^ seeds[:, None])
            sig_out.append(m.min(axis=1).astype(np.int64))
        return pd.DataFrame({"gs": gs_out, "sig": sig_out})

    return df.select(
        F.col(id_col), both_udf(token_hashes(F.col(text_col))).alias("__b__")
    ).select(id_col, F.col("__b__.gs").alias("gs"), F.col("__b__.sig").alias("sig"))


def _lsh_candidates(
    sigs: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    bucket_cap: int,
    observation=None,
) -> tuple:
    """Banded LSH candidate pairs with a bucket-size cap.

    A bucket larger than ``bucket_cap`` (template pages, empty docs)
    would self-join quadratically; such buckets are excluded from the
    self-join. Returns ``(pairs, residue)`` where ``residue`` is the
    DISTINCT set of doc ids that appeared in at least one over-cap
    bucket — the caller (``minhash_near_dup``) runs the recovery pass
    over it so those docs don't silently lose their candidates.

    ``observation`` (a ``pyspark.sql.Observation``) is attached to the
    windowed frame recording ``max_bsz``, the corpus-wide maximum
    bucket size: the caller learns whether ANY bucket exceeded the cap
    as a free side-channel of the pairs materialization instead of a
    second pass over the banding shuffle (``max`` is also insensitive
    to the observed subtree executing more than once, unlike a count).
    """
    banded = sigs.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig")[b * rows_per_band + r].cast("string")
                                for r in range(rows_per_band)
                            ],
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    # Bucket sizes via a window over the SAME (band, bucket) hash
    # partitioning the self-join needs — one shuffle, and the two join
    # sides share the exchange (vs. a groupBy + semi-join: 3 shuffles).
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket")
    sized = banded.withColumn("__bsz__", F.count(F.lit(1)).over(w))
    if observation is not None:
        sized = sized.observe(observation, F.max("__bsz__").alias("max_bsz"))
    residue = (
        sized.filter(F.col("__bsz__") > bucket_cap).select(id_col).distinct()
    )
    capped = sized.filter(F.col("__bsz__") <= bucket_cap).drop("__bsz__")
    pairs = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("u"), F.col(f"b.{id_col}").alias("v"))
        .distinct()
    )
    return pairs, residue


def minhash_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.8,
    verify: str = "exact",
    bucket_cap: int = 2000,
    log_skipped: bool = True,
    recover_residue: bool = True,
) -> DataFrame:
    """Near-duplicate clusters via MinHash banding + Jaccard verify.

    Returns (doc_id, cluster_id) where cluster_id = NUMERIC min doc_id
    of the duplicate cluster; singletons map to themselves.

    ``verify="exact"`` (default) verifies candidates with exact Jaccard
    over the hashed shingle sets (array_intersect, JVM-side) — equal to
    string-shingle Jaccard modulo xxhash64 collisions, hence
    reproducible by a DuckDB oracle. ``verify="estimate"`` uses the
    signature-agreement estimate (cheaper: no shingle sets shipped to
    the candidate join, at the cost of estimate noise near threshold).

    Over-cap recovery (``recover_residue``, default on): docs that land
    in buckets larger than ``bucket_cap`` (template pages — on a real
    crawl this is every boilerplate family) are NOT silently dropped.
    They take a two-stage recovery pass:

    1. *collapse identicals* — group the residue by FULL signature and
       star-pair every member to the group's min doc. LINEAR in residue
       size (one partial-aggregated groupBy + an AQE-skew-splittable
       join — no window, so a 100M-doc template family cannot pin one
       partition), and it dissolves the quadratic mass: an m-copy
       template becomes m-1 pairs, not m²/2.
    2. *re-band representatives* — one doc per full-signature group
       re-enters banding at 2× bands (half the rows per band, when
       divisible) with the same cap. With identicals collapsed the
       bucket histogram collapses too, so near-identical variants that
       shared an over-cap bucket get their candidate pairs back.

    All recovered pairs flow through the SAME verification as first-
    pass candidates, so precision is unchanged — recovery only adds
    recall. Anything still over cap after stage 2 is finally dropped
    and counted (``log_skipped``, default on).

    Clean-corpus cost of the recovery machinery is ZERO extra passes:
    whether any bucket exceeded the cap is read from an ``Observation``
    (max bucket size) that piggybacks on the pairs materialization —
    the banding shuffle is never re-executed just to find out nothing
    was dropped. Only a genuinely over-cap corpus pays the residue
    re-computation.
    """
    if num_hashes % bands != 0:
        raise ValueError("bands must divide num_hashes")
    rows_per_band = num_hashes // bands

    base = _shingles_and_sigs(df, text_col, id_col, num_hashes, shingle_k).persist()
    sigs = base.select(id_col, "sig")
    obs = None
    if recover_residue or log_skipped:
        from pyspark.sql import Observation

        obs = Observation()
    pairs, residue = _lsh_candidates(
        sigs, id_col, bands, rows_per_band, bucket_cap, observation=obs
    )

    dirty = False
    if obs is not None:
        # one materialization: verification consumes the checkpointed
        # pairs (no recompute), and the action flushes the observation
        pairs = checkpointed = pairs.localCheckpoint(eager=True)
        try:
            max_bsz = (obs.get or {}).get("max_bsz")
        except Exception:
            # AQE's empty-relation propagation replaces the observed
            # subtree when the post-cap stream is EMPTY, losing the
            # metrics row — which happens exactly when every banded row
            # sat in an over-cap bucket (or the input was empty). Both
            # cases are safe to treat as dirty: the residue pass on an
            # empty input is a no-op.
            max_bsz = None
        dirty = max_bsz is None or max_bsz > bucket_cap
    if recover_residue and dirty:
        res_sigs = sigs.join(residue, id_col, "left_semi")
        keyed = res_sigs.withColumn(
            "__fsig__",
            F.xxhash64(F.concat_ws(",", F.col("sig").cast("array<string>"))),
        )
        gmin = keyed.groupBy("__fsig__").agg(F.min(id_col).alias("__rep__"))
        joined = keyed.join(gmin, "__fsig__")
        star = (
            joined.filter(F.col(id_col) != F.col("__rep__"))
            .select(F.col("__rep__").alias("u"), F.col(id_col).alias("v"))
        )
        reps = joined.filter(F.col(id_col) == F.col("__rep__")).select(id_col, "sig")
        if rows_per_band % 2 == 0:
            bands2, rpb2 = bands * 2, rows_per_band // 2
        else:
            bands2, rpb2 = bands, rows_per_band
        pairs2, residue2 = _lsh_candidates(reps, id_col, bands2, rpb2, bucket_cap)
        pairs = pairs.unionByName(star).unionByName(pairs2).distinct()
        if log_skipped:
            dropped = residue2.count()
            if dropped:
                logger.warning(
                    "minhash LSH: %d representative docs still over-cap "
                    "after the 2x-bands recovery pass — finally dropped",
                    dropped,
                )
    elif log_skipped and dirty:
        n_dropped = residue.count()
        if n_dropped:
            logger.warning(
                "minhash LSH: %d docs sat in over-cap buckets (> %d) and "
                "recovery is OFF — their candidate pairs are dropped",
                n_dropped,
                bucket_cap,
            )

    if verify == "exact":
        grams = base.select(id_col, "gs")
        ga = grams.select(F.col(id_col).alias("u"), F.col("gs").alias("gs_u"))
        gb = grams.select(F.col(id_col).alias("v"), F.col("gs").alias("gs_v"))
        inter = F.size(F.array_intersect("gs_u", "gs_v"))
        verified = (
            pairs.join(ga, "u")
            .join(gb, "v")
            .withColumn(
                "jaccard",
                inter / (F.size("gs_u") + F.size("gs_v") - inter),
            )
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select("u", "v")
        )
    elif verify == "estimate":
        sa = sigs.select(F.col(id_col).alias("u"), F.col("sig").alias("sig_u"))
        sb = sigs.select(F.col(id_col).alias("v"), F.col("sig").alias("sig_v"))
        matches = F.aggregate(
            F.zip_with("sig_u", "sig_v", lambda a, b: F.when(a == b, 1).otherwise(0)),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        verified = (
            pairs.join(sa, "u")
            .join(sb, "v")
            .withColumn("est_jaccard", matches / F.lit(float(num_hashes)))
            .filter(F.col("est_jaccard") >= jaccard_threshold)
            .select("u", "v")
        )
    else:
        raise ValueError(f"unknown verify mode: {verify!r}")

    # Duplicate-pair graphs are tiny relative to the corpus (pairs ≪
    # docs after LSH + verify): components_auto resolves small sets on
    # the driver and runs the distributed fixpoint otherwise, with the
    # verify pipeline checkpointed so it never executes twice.
    from kgtk_spark.graph.connected_components import components_auto, release_checkpoint

    ids = df.select(F.col(id_col))
    assign = components_auto(
        verified.select(
            F.col("u").cast("string").alias("u"),
            F.col("v").cast("string").alias("v"),
        )
    )
    # components_auto has consumed the verified pairs, so nothing
    # downstream reads the shingles, signatures or candidates again
    base.unpersist()
    if obs is not None:
        release_checkpoint(checkpointed)
    # Component labels are string-min (arbitrary but consistent); re-map
    # each component to its NUMERIC min member so cluster ids are stable
    # and SQL-reproducible (string min of {"98","290"} would be "290").
    assign = assign.select(F.col("node").cast("long").alias(id_col), "component")
    reps = assign.groupBy("component").agg(F.min(id_col).alias("cluster_id"))
    assign = assign.join(reps, "component").select(id_col, "cluster_id")

    return ids.join(assign, id_col, "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", F.col(id_col))
    )


SIMHASH_BITS = 60


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, simhash: long) — 60-bit SimHash over word tokens.

    Per-token hash = ``sketches.hash60``, the first 15 hex digits of md5
    (60 bits), computed JVM-side: the exact same hash is expressible in
    ANSI SQL/DuckDB (positional hex parse), so the signature is
    value-reproducible by the oracle. The per-bit majority vote + bit pack run as one numpy
    matrix op per batch — a pure-Catalyst formulation (aggregate +
    zip_with over 60 bits/token) measured ~40× slower because
    higher-order-function expressions don't codegen.
    """
    bits = SIMHASH_BITS
    d = df.select(
        F.col(id_col),
        F.transform(F.expr(_tok_expr(text_col)), hash60).alias("__hs__"),
    )
    shifts = np.arange(bits, dtype=np.uint64)
    weights = (np.uint64(1) << shifts).astype(np.uint64)

    @F.pandas_udf(T.LongType())
    def sim_udf(hs: pd.Series) -> pd.Series:
        out = []
        for arr in hs:
            if arr is None or len(arr) == 0:
                out.append(0)
                continue
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            bitcounts = ((h[:, None] >> shifts[None, :]) & np.uint64(1)).sum(axis=0)
            vote = (bitcounts * 2 >= h.size).astype(np.uint64)
            out.append(int((vote * weights).sum().astype(np.int64)))
        return pd.Series(out, dtype="int64")

    return d.select(id_col, sim_udf(F.col("__hs__")).alias("simhash"))


def _tok_expr(text_col: str) -> str:
    return f"split(trim({text_col}), '\\\\s+')"


def simhash_oracle_sql(table: str = "documents", id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`simhash_signatures` (same bit math)."""
    bits = SIMHASH_BITS
    hexparse = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(tok), {k}, 1)) - 1) * {16 ** (HEX_WIDTH - k)}"
        for k in range(1, HEX_WIDTH + 1)
    )
    return (
        f"WITH toks AS (SELECT {id_col}, regexp_split_to_array(trim(text), '\\s+') AS t FROM {table}), "
        f"hs AS (SELECT {id_col}, len(t) AS ntok, list_transform(t, tok -> CAST({hexparse} AS BIGINT)) AS h FROM toks), "
        f"cnts AS (SELECT {id_col}, ntok, list_transform(generate_series(0, {bits - 1}), "
        f"i -> CAST(list_sum(list_transform(h, x -> (x >> i) & 1)) AS BIGINT)) AS counts FROM hs) "
        f"SELECT {id_col}, CAST(list_sum(list_transform(generate_series(0, {bits - 1}), "
        f"i -> CASE WHEN counts[i + 1] * 2 >= ntok THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash "
        f"FROM cnts"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    hashed: bool = True,
    df_cap: int | None = 1000,
    log_skipped: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard over a DF-capped inverted shingle index.

    explode(shingles) → self-join on shingle → count common per pair →
    |A∩B| / (|A|+|B|−|A∩B|). Shingles appearing in more than ``df_cap``
    documents are dropped from the index (one web-scale boilerplate
    shingle would otherwise pair every doc containing it — k² rows);
    set sizes stay uncapped, so dropped shingles only lower the
    intersection estimate for pairs sharing them.

    ``hashed=False`` shingles on the raw n-gram STRING (JVM-only,
    SQL-reproducible — used by the DuckDB oracle); the default hashes
    shingles to longs (xxhash64, JVM) for smaller shuffles at scale.
    """
    grams = (
        hashed_shingles(F.col(text_col), n)
        if hashed
        else word_ngrams(F.col(text_col), n)
    )
    sh = df.select(F.col(id_col), grams.alias("sh"))
    return _jaccard_from_shingles(sh, id_col, threshold, df_cap, log_skipped)


def _jaccard_from_shingles(
    sh: DataFrame,
    id_col: str,
    threshold: float,
    df_cap: int | None = None,
    log_skipped: bool = False,
) -> DataFrame:
    sizes = sh.select(id_col, F.size("sh").alias("sz"))
    inv = sh.select(id_col, F.explode("sh").alias("g"))
    if df_cap is not None:
        dfreq = inv.groupBy("g").agg(F.count(F.lit(1)).alias("__df__"))
        if log_skipped:
            dropped = dfreq.filter(F.col("__df__") > df_cap).count()
            if dropped:
                logger.warning(
                    "ngram_jaccard: dropping %d shingles with document frequency > %d",
                    dropped,
                    df_cap,
                )
        inv = inv.join(
            dfreq.filter(F.col("__df__") <= df_cap).select("g"), "g", "left_semi"
        )
    common = (
        inv.alias("a")
        .join(
            inv.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("u"), F.col(f"b.{id_col}").alias("v"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(sizes.select(F.col(id_col).alias("u"), F.col("sz").alias("su")), "u")
        .join(sizes.select(F.col(id_col).alias("v"), F.col("sz").alias("sv")), "v")
        .withColumn("jaccard", F.col("common") / (F.col("su") + F.col("sv") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("u", "v", "jaccard")
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_occurrences: int = 2,
    normalize: bool = True,
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style cross-document paragraph deduplication.

    Boilerplate (headers, cookie banners, navigation) repeats across a
    crawl; CCNet removes any paragraph whose (normalized) hash occurs
    ``min_occurrences``+ times in the corpus (Wenzek et al., "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data",
    LREC 2020 §4.1). Returns (id, text) with repeated paragraphs dropped
    and survivors rejoined with ``sep`` IN ORIGINAL ORDER.

    Plan shape (scale path): explode paragraphs with posexplode → one
    xxhash64 groupBy over (hash) for corpus counts → broadcast-or-
    shuffle semi-join back → re-assemble via sort_array(collect_list)
    per doc. Two shuffles total (count agg + regroup); the paragraph
    normalization (lowercase, strip digits/punct runs) is JVM-side.
    """
    norm = F.trim(F.col("para"))
    if normalize:
        # CCNet normalization: lowercase, drop digits, squeeze
        # punctuation/whitespace — all Catalyst string expressions
        norm = F.regexp_replace(F.lower(norm), r"[0-9]+", "")
        norm = F.regexp_replace(norm, r"[\p{Punct}]+", "")
        norm = F.trim(F.regexp_replace(norm, r"\s+", " "))
    paras = df.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), F.lit(sep))).alias("pos", "para"),
    ).withColumn("__ph__", F.xxhash64(norm))

    hot = (
        paras.groupBy("__ph__")
        .agg(F.count(F.lit(1)).alias("__n__"))
        .filter(F.col("__n__") >= min_occurrences)
        .select("__ph__")
    )
    kept = paras.join(hot, "__ph__", "left_anti")
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("para")))
                    ),
                    lambda s: s["para"],
                ),
                sep,
            ).alias(text_col)
        )
    )


# ---------------------------------------------------------------------------
# URL-level dedup — the FIRST dedup stage of a web-corpus pipeline
# (CCNet / RefinedWeb run URL dedup before any content dedup).
# ---------------------------------------------------------------------------

# query params that never change page content (analytics/click tracking)
TRACKING_PARAMS = r"(?:utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref)"


def canonicalize_url(
    df: DataFrame, url_col: str = "url", out_col: str = "canonical_url"
) -> DataFrame:
    """RFC-3986-flavored URL normalization, pure Catalyst regex chain
    (JVM-side, codegen-friendly — no Python in the hot path):

    1. drop the fragment (``#...``);
    2. lowercase scheme and host (path/query stay case-sensitive);
    3. strip explicit default ports ``:80``/``:443``;
    4. remove tracking query params (utm_*, fbclid, gclid, msclkid,
       ref) and repair the separator chain;
    5. strip a trailing ``/`` (and a bare trailing ``?``/``&``).

    Deterministic and engine-portable: the same steps express in any
    RE2-class regex dialect (no lookaround), so an external SQL engine
    can reproduce the canonical form for verification.
    """
    u = F.col(url_col)
    u = F.regexp_replace(u, r"#.*", "")
    head = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*", "")
    u = F.concat(head, rest)
    # scheme-aware default-port strip: :80 is only a default for http,
    # :443 only for https — stripping either from the other scheme would
    # conflate distinct URLs (scheme is already lowercased above)
    u = F.regexp_replace(u, r"^(http://[^/?:]+):80(/|\?|$)", "$1$2")
    u = F.regexp_replace(u, r"^(https://[^/?:]+):443(/|\?|$)", "$1$2")
    u = F.regexp_replace(u, r"([?&])" + TRACKING_PARAMS + r"=[^&]*", "$1")
    u = F.regexp_replace(u, r"\?&+", "?")
    u = F.regexp_replace(u, r"&&+", "&")
    u = F.regexp_replace(u, r"[?&]+$", "")
    u = F.regexp_replace(u, r"/+\?", "?")  # path trailing slash before query
    u = F.regexp_replace(u, r"/+$", "")
    return df.withColumn(out_col, u)


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """One row per canonical URL: (canonical_url, <id_col> = min id
    among duplicates — deterministic, no tie ambiguity — and
    ``n_dupes``).

    Scale shape: canonicalization is embarrassingly parallel; the dedup
    itself is ONE hash aggregation on the canonical URL with map-side
    partial aggregation — no window sort, no self-join. URL keys are
    near-unique, so skew is bounded by crawl duplication itself.
    """
    c = canonicalize_url(df, url_col)
    return c.groupBy("canonical_url").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dupes")
    )


# ---------------------------------------------------------------------------
# Train-test decontamination — flag training docs that share a token
# n-gram with a held-out benchmark/eval corpus (GPT-3 Appendix C;
# Dodge et al. 2021's C4 benchmark-contamination audit use 13-grams).
# ---------------------------------------------------------------------------

def _gram_hash_col(n: int):
    """array<bigint> of rolling n-gram hashes over JVM token hashes.

    Docs shorter than ``n`` tokens have NO n-gram (empty array) — they
    cannot be contaminated, matching the definition (note this differs
    from the MinHash shingle fallback, which collapses short docs to a
    whole-doc hash)."""

    @F.pandas_udf("array<bigint>")
    def gh(th: pd.Series) -> pd.Series:
        out = []
        for arr in th:
            if arr is None or len(arr) < n:
                out.append([])
            else:
                out.append(
                    _shingle_hashes_np(np.asarray(arr, dtype=np.int64), n)
                    .astype(np.int64)
                )
        return pd.Series(out)

    return gh


# Distinct benchmark grams up to which decontaminate broadcasts the gram
# set; the grams are 8-byte hashes, so 5M of them are 40 MB of values.
DECONTAMINATE_BROADCAST_GRAMS = 5_000_000


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """(id, contaminated: boolean) — true iff the doc shares at least
    one whitespace-token ``n``-gram with any benchmark text.

    Scale shape: BOTH sides reduce to 64-bit rolling n-gram hashes
    (xxhash64 tokens JVM-side, Arrow-batched numpy combine — no gram
    STRINGS are ever materialized or shuffled; at 100 TB the gram-string
    explode would dwarf the corpus). The benchmark gram set — the small
    side by construction (an eval suite, not a crawl) — broadcasts into
    a semi-join up to DECONTAMINATE_BROADCAST_GRAMS distinct grams and
    falls back to a shuffle semi-join above it (a test takes that path
    by monkeypatching the constant to 0). One distinct per side, one
    semi-join, one left join back to ids: no quadratic path anywhere.
    """
    gh = _gram_hash_col(n)
    # checkpoint: the benchmark gram set is consumed by the sizing
    # count AND the semi-join — without it the explode + distinct
    # subtree (a Python gram kernel) executes twice
    bench = (
        benchmark.select(
            F.explode(gh(token_hashes(F.col(bench_text_col)))).alias("__gh__")
        )
        .distinct()
        .localCheckpoint()
    )
    if bench.count() <= DECONTAMINATE_BROADCAST_GRAMS:
        bench = F.broadcast(bench)
    doc_grams = docs.select(
        F.col(id_col), F.explode(gh(token_hashes(F.col(text_col)))).alias("__gh__")
    )
    hits = (
        doc_grams.join(bench, "__gh__", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__c__", F.lit(True))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col, F.coalesce(F.col("__c__"), F.lit(False)).alias("contaminated")
        )
    )


# ---------------------------------------------------------------------------
# Exact duplicate-span removal — Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better" (ExactSubstr), at n-token
# granularity instead of a suffix array: any n-token span whose content
# repeats corpus-wide is cut from every document.
# ---------------------------------------------------------------------------

def _positional_gram_hashes_np(th: np.ndarray, k: int) -> np.ndarray:
    """Rolling k-gram hashes at EVERY position (no dedup — position i
    of the output is the gram starting at token i)."""
    t = th.astype(np.uint64)
    if t.size < k:
        return np.array([], dtype=np.uint64)
    m = t.size - k + 1
    h = t[:m].copy()
    for j in range(1, k):
        h = h * _POLY + t[j : m + j]
    return _splitmix64(h)


def remove_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 50,
    min_occurrences: int = 2,
    policy: str = "drop_all",
) -> DataFrame:
    """(id, text) with every corpus-repeated n-token span removed and
    the surviving tokens rejoined IN ORDER (docs shrinking to nothing
    keep a row with empty text).

    Policies:

    - ``"drop_all"`` (default): a token drops iff ANY n-gram covering
      it occurs ``min_occurrences``+ times corpus-wide — both copies go
      (a conservative, symmetric variant of Lee et al.'s keep-one).
    - ``"keep_first"``: Lee et al. 2022 semantics — for each hot gram
      the minimal ``(doc_id, position)`` occurrence SURVIVES (one
      ``min(struct)`` per gram, map-side combinable); only the other
      occurrences are covered. Note fixed-n grams overlap: a token kept
      by one gram can still drop if a DIFFERENT hot gram's non-first
      occurrence covers it.

    Scale shape: positional gram hashes (JVM token hashes + Arrow
    rolling combine — 8 bytes/gram, never gram strings), ONE count
    aggregation for hot grams, a join back for hot positions, then a
    per-doc INTERVAL MERGE (sorted starts fold into disjoint [s, e]
    ranges — replaces the former n-rows-per-position coverage explode,
    which was a 50x intermediate on duplication-heavy corpora), and one
    regroup to reassemble; the interval join and the regroup share the
    hash partitioning on ``id_col``. No suffix array, no global sort.
    """
    if policy not in ("drop_all", "keep_first"):
        raise ValueError(f"unknown policy: {policy!r}")
    toks_col = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select(F.col(id_col), toks_col.alias("__toks__"))

    @F.pandas_udf("array<bigint>")
    def pos_gh(th: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _positional_gram_hashes_np(np.asarray(arr, dtype=np.int64), n)
                .astype(np.int64)
                .tolist()
                if arr is not None
                else []
                for arr in th
            ]
        )

    grams = base.select(
        id_col,
        F.posexplode(
            pos_gh(F.transform("__toks__", lambda t: F.xxhash64(t)))
        ).alias("__p__", "__g__"),
    ).localCheckpoint()  # consumed by the hot count AND the position join
    if policy == "drop_all":
        hot = (
            grams.groupBy("__g__")
            .agg(F.count(F.lit(1)).alias("__n__"))
            .filter(F.col("__n__") >= min_occurrences)
            .select("__g__")
        )
        hot_pos = grams.join(hot, "__g__", "left_semi").select(id_col, "__p__")
    else:  # keep_first
        keep = (
            grams.groupBy("__g__")
            .agg(
                F.count(F.lit(1)).alias("__n__"),
                F.min(F.struct(F.col(id_col), F.col("__p__"))).alias("__keep__"),
            )
            .filter(F.col("__n__") >= min_occurrences)
            .select("__g__", "__keep__")
        )
        hot_pos = (
            grams.join(keep, "__g__")
            .filter(
                ~(
                    (F.col(id_col) == F.col("__keep__")[id_col])
                    & (F.col("__p__") == F.col("__keep__")["__p__"])
                )
            )
            .select(id_col, "__p__")
        )

    # per-doc interval merge: sorted distinct hot starts fold into
    # disjoint inclusive [s, e] coverage ranges — a fully-duplicated
    # doc collapses to ONE interval instead of 50 rows per position
    span = int(n - 1)
    empty_ivals = F.expr("CAST(array() AS array<struct<s:bigint,e:bigint>>)")

    def _fold(acc, p):
        last = F.element_at(acc, -1)
        overlaps = F.when(
            F.size(acc) > 0, p <= last["e"] + F.lit(1).cast("bigint")
        ).otherwise(F.lit(False))
        extended = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(
                F.struct(
                    last["s"].alias("s"),
                    F.greatest(last["e"], p + span).alias("e"),
                )
            ),
        )
        appended = F.concat(
            acc, F.array(F.struct(p.alias("s"), (p + span).alias("e")))
        )
        return F.when(overlaps, extended).otherwise(appended)

    merged = hot_pos.groupBy(id_col).agg(
        F.aggregate(
            F.array_sort(F.collect_set(F.col("__p__").cast("long"))),
            empty_ivals,
            _fold,
        ).alias("__ivals__")
    )
    tokens = base.select(
        F.col(id_col), F.posexplode("__toks__").alias("__pos__", "__tok__")
    )
    # 1:1 join on id, then an exists() probe over the doc's few merged
    # intervals; this join and the regroup below reuse one exchange
    keep_tok = F.col("__ivals__").isNull() | ~F.exists(
        "__ivals__",
        lambda i: (F.col("__pos__").cast("long") >= i["s"])
        & (F.col("__pos__").cast("long") <= i["e"]),
    )
    rebuilt = (
        tokens.join(merged, id_col, "left")
        .filter(keep_tok)
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("__pos__"), F.col("__tok__")))
                    ),
                    lambda s: s["__tok__"],
                ),
                " ",
            ).alias(text_col)
        )
    )
    return (
        docs.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(id_col, F.coalesce(F.col(text_col), F.lit("")).alias(text_col))
    )
