"""Resumable pipeline runner with a per-stage manifest.

Each stage materializes to parquet under ``out_dir/<stage>/`` and
appends a manifest row (stage, fingerprint, row count, partitions,
duration, status) to ``out_dir/_manifest/``. A rerun skips any stage
whose manifest row is committed with a matching fingerprint and whose
output directory still exists — resume-from-last-committed-snapshot
(north_rule). On a cluster with an Iceberg catalog the same writes go
through ``writeTo(...)`` table commits; parquet-directory-plus-manifest
is the catalog-free equivalent (the parquet job commit protocol makes
the directory write atomic; the manifest row is written only after).

Fingerprints chain: stage_fp = sha256(stage, config, upstream_fp), so
changing an upstream stage or a config invalidates everything below it.
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgtk_spark.pipeline import stages as S

MANIFEST_SCHEMA = (
    "stage string, fingerprint string, rows long, partitions int, "
    "duration_sec double, status string, committed_at double"
)
LINEAGE_SCHEMA = "stage string, fingerprint string, file string, rows long"


def _fp(*parts: str) -> str:
    return hashlib.sha256("\x1f".join(parts).encode()).hexdigest()[:16]


class StageManifest:
    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.path = os.path.join(out_dir, "_manifest")

    def committed(self) -> dict[str, str]:
        """stage → fingerprint of committed stages."""
        try:
            rows = self.spark.read.parquet(self.path).filter(
                F.col("status") == "committed"
            ).collect()
        except Exception:
            return {}
        return {r["stage"]: r["fingerprint"] for r in rows}

    def record(self, stage: str, fingerprint: str, rows: int, partitions: int, duration: float):
        df = self.spark.createDataFrame(
            [(stage, fingerprint, rows, partitions, float(duration), "committed", time.time())],
            MANIFEST_SCHEMA,
        )
        df.write.mode("append").parquet(self.path)

    def record_lineage(self, stage: str, fingerprint: str, per_file: list):
        """One row per output file (stage partition): the north_rule's
        per-partition lineage. ``per_file`` = [(file, rows), ...]."""
        df = self.spark.createDataFrame(
            [(stage, fingerprint, f, int(n)) for f, n in per_file],
            LINEAGE_SCHEMA,
        )
        df.write.mode("append").parquet(self.path + "_lineage")

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(self.path + "_lineage")


def _run_stage(
    spark: SparkSession,
    manifest: StageManifest,
    committed: dict[str, str],
    out_dir: str,
    name: str,
    fingerprint: str,
    compute,
    resume: bool,
    table_namespace: str | None = None,
    catalog: str = "iceberg",
) -> DataFrame:
    """Run-or-resume one stage; returns the stage output DataFrame.

    With ``table_namespace`` set, stage outputs are CATALOG TABLES
    (``<namespace>.<stage>``): Iceberg ``writeTo`` commits when the
    named catalog is configured, session-catalog tables otherwise —
    resume checks ``tableExists`` instead of the directory.
    """
    from kgtk_spark.sources.iceberg import (
        iceberg_available,
        read_table,
        table_exists,
        write_table,
    )

    path = os.path.join(out_dir, name)
    if table_namespace:
        ident = f"{table_namespace}.{name}"
        use_session = not iceberg_available(spark, catalog)
        if resume and committed.get(name) == fingerprint and table_exists(
            spark, ident, catalog
        ):
            return read_table(spark, ident, path, catalog, session_catalog=use_session)
        t0 = time.time()
        df = compute()
        write_table(df, ident, path, catalog, session_catalog=use_session)
        out = read_table(spark, ident, path, catalog, session_catalog=use_session)
    else:
        if resume and committed.get(name) == fingerprint and os.path.exists(path):
            return spark.read.parquet(path)
        t0 = time.time()
        df = compute()
        df.write.mode("overwrite").parquet(path)
        out = spark.read.parquet(path)
    # Per-partition lineage: one (file, rows) pair per written parquet
    # part — the collect is bounded by the partition count, and the
    # same aggregation also yields the total row count (no extra scan).
    per_file = [
        (r["file"], r["rows"])
        for r in out.groupBy(F.input_file_name().alias("file"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .collect()
    ]
    n = sum(rows for _, rows in per_file)
    manifest.record(name, fingerprint, n, len(per_file), time.time() - t0)
    manifest.record_lineage(name, fingerprint, per_file)
    return out


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    alias_dict: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    resume: bool = True,
    input_fingerprint: str = "",
    table_namespace: str | None = None,
    catalog: str = "iceberg",
) -> DataFrame:
    """pages + alias dictionary → canonical KGTK edges (also on disk).

    ``input_fingerprint`` should identify the input snapshot (e.g. its
    generator seed/row count or an Iceberg snapshot id); stages chain
    from it, so a new input recomputes everything.

    ``table_namespace`` switches every stage sink from parquet
    directories to catalog tables (``<namespace>.<stage>``) — Iceberg
    snapshot commits when ``catalog`` is configured, session-catalog
    tables otherwise. Resume semantics are identical on both sinks.
    """
    manifest = StageManifest(spark, out_dir)
    committed = manifest.committed() if resume else {}
    sink = dict(table_namespace=table_namespace, catalog=catalog)

    # size the dictionary ONCE; each stage then picks broadcast vs the
    # salted shuffle path without re-counting
    n_aliases = alias_dict.count()

    fp_text = _fp("extract_text", input_fingerprint)
    text_df = _run_stage(
        spark, manifest, committed, out_dir, "text", fp_text,
        lambda: S.extract_text(pages), resume, **sink,
    )

    fp_mentions = _fp("detect_mentions", fp_text)
    mentions = _run_stage(
        spark, manifest, committed, out_dir, "mentions", fp_mentions,
        lambda: S.detect_mentions(text_df, alias_dict, alias_count=n_aliases), resume, **sink,
    )

    fp_linked = _fp("link_entities", fp_mentions)
    linked = _run_stage(
        spark, manifest, committed, out_dir, "linked", fp_linked,
        lambda: S.link_entities(mentions, alias_dict, alias_count=n_aliases), resume, **sink,
    )

    fp_triples = _fp("extract_triples", fp_linked)
    triples = _run_stage(
        spark, manifest, committed, out_dir, "triples", fp_triples,
        lambda: S.extract_triples(text_df, alias_dict, alias_count=n_aliases), resume, **sink,
    )

    fp_canon = _fp("canonicalize", fp_triples)
    canon = _run_stage(
        spark, manifest, committed, out_dir, "canonical", fp_canon,
        lambda: S.canonicalize(triples), resume, **sink,
    )

    fp_edges = _fp("materialize", fp_canon, str(n_buckets))
    edges = _run_stage(
        spark, manifest, committed, out_dir, "edges", fp_edges,
        lambda: S.materialize(canon, n_buckets=n_buckets), resume, **sink,
    )
    return edges


def run_pipeline_fused(
    spark: SparkSession,
    pages: DataFrame,
    alias_dict: DataFrame,
    n_buckets: int = 32,
    alias_count: int | None = None,
) -> DataFrame:
    """Single-lineage variant: no intermediate parquet or manifest, one
    Python pass over the pages.

    extract_triples reads the raw pages; over a broadcast dictionary
    it extracts the text, matches the sentences and resolves their
    subject and object surfaces to entities in that one pass. Mention
    spans are not produced (nothing here consumes them; run_pipeline
    writes them as its mentions and linked stages). The only thing
    materialized is the distinct triple set
    (localCheckpoint), which canonicalize reads twice. This is the
    throughput configuration for benchmarking and for inputs small
    enough to not need mid-pipeline restart points; the
    manifest-materializing ``run_pipeline`` is the resumable production
    mode, with the same edges.
    """
    n_aliases = alias_dict.count() if alias_count is None else alias_count
    triples = S.extract_triples(pages, alias_dict, alias_count=n_aliases)
    # Dedup BEFORE the rewrite: canonicalize's per-row rewrite commutes
    # with dropDuplicates on (node1, label, node2), and materialize
    # dedups again after the rewrite anyway — so the two broadcast
    # rewrite joins touch the distinct edge set (~2% of rows here)
    # instead of every raw triple. localCheckpoint so the distinct
    # shuffle isn't recomputed for the sameAs split AND the rewrite.
    dedup = (
        triples.select("node1", "label", "node2")
        .dropDuplicates()
        .localCheckpoint()
    )
    # rewrite-map rows are bounded by the alias dictionary (every
    # sameAs endpoint is a dictionary entity) — pass the bound so
    # canonicalize skips its size probe (no extra job in the hot path)
    canon = S.canonicalize(dedup, size_hint=n_aliases)
    return S.materialize(canon, n_buckets=n_buckets)


def triple_precision_recall(
    got: DataFrame, expected: DataFrame
) -> tuple[float, float]:
    """P/R on distinct (node1, label, node2) triples."""
    g = got.select("node1", "label", "node2").dropDuplicates()
    e = expected.select("node1", "label", "node2").dropDuplicates()
    n_got = g.count()
    n_exp = e.count()
    n_hit = g.join(e, ["node1", "label", "node2"], "left_semi").count()
    precision = n_hit / n_got if n_got else 0.0
    recall = n_hit / n_exp if n_exp else 0.0
    return precision, recall
