"""One pipeline orchestration: an ordered stage list and a sink.

``run_pipeline`` walks ``STAGES`` once:

    text → mentions → linked → triples → canonical → edges

The sink, where each stage's output goes, follows from the arguments:

- memory (no ``out_dir``): nothing is written. ``triples`` reads the raw
  pages (extract_triples fills text from html in its own Python pass),
  so ``text`` and the provenance stages ``mentions`` and ``linked`` are
  not run. ``run_pipeline_fused`` is this sink.
- table (``out_dir`` and ``table_namespace``): each stage is a catalog
  table ``<namespace>.<stage>``; Iceberg ``writeTo`` commits when the
  catalog is configured, session-catalog tables otherwise.
- parquet (``out_dir`` only): each stage is a directory
  ``out_dir/<stage>/`` (the parquet job commit makes the write atomic).

Every sink shares the tail: the distinct (node1, label, node2) triples
are checkpointed once, canonicalized with the dictionary size as the
rewrite-map bound and materialized. The writing sinks release that
checkpoint once canonical is committed; the memory sink's returned edges
still read it.

The writing sinks commit each stage to a manifest under
``out_dir/_manifest`` (stage, fingerprint, rows, partitions, duration)
after its per-file lineage under ``out_dir/_manifest_lineage``. A rerun
resumes a stage when its latest commit has the current fingerprint and
the files the stage holds now are exactly the files that commit wrote,
so what a run that crashed mid-write left behind is recomputed, never
served. Fingerprints chain: stage_fp = sha256(stage, upstream_fp,
config), and the chain starts from the input fingerprint. The alias
dictionary (row count and an order-independent row hash) enters at
``mentions``, the first stage that reads it, so a new input, dictionary
or config recomputes everything below where it enters; ``text`` resumes
across dictionary changes.
"""

from __future__ import annotations

import hashlib
import os
import time
from urllib.parse import unquote, urlparse

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgtk_spark.graph.connected_components import release_checkpoint
from kgtk_spark.pipeline import stages as S
from kgtk_spark.sources.iceberg import iceberg_available, read_table, write_table

STAGES = ("text", "mentions", "linked", "triples", "canonical", "edges")
# run only by a writing sink: in memory triples reads the raw pages and
# nothing reads the mention spans
_WRITTEN_ONLY = ("text", "mentions", "linked")

MANIFEST_SCHEMA = (
    "stage string, fingerprint string, rows long, partitions int, "
    "duration_sec double, status string, committed_at double"
)
LINEAGE_SCHEMA = (
    "stage string, fingerprint string, file string, rows long, committed_at double"
)


def _fp(*parts: str) -> str:
    return hashlib.sha256("\x1f".join(parts).encode()).hexdigest()[:16]


def _path(uri: str) -> str:
    """A file URI or path as a plain path (``file:///a%20b`` → ``/a b``)."""
    return unquote(urlparse(uri).path)


class StageManifest:
    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.path = os.path.join(out_dir, "_manifest")

    def _latest(self) -> DataFrame:
        return (
            self.spark.read.parquet(self.path)
            .filter(F.col("status") == "committed")
            .groupBy("stage")
            .agg(
                F.max_by("fingerprint", "committed_at").alias("fingerprint"),
                F.max("committed_at").alias("committed_at"),
            )
        )

    def committed(self) -> dict[str, str]:
        """stage → fingerprint of each stage's latest commit."""
        try:
            rows = self._latest().collect()
        except Exception:
            return {}
        return {r["stage"]: r["fingerprint"] for r in rows}

    def committed_files(self) -> dict[tuple[str, str], set[str]]:
        """(stage, fingerprint) of each stage's latest commit → the files
        that commit wrote (bounded: the stages × their partitions)."""
        try:
            lineage = self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.path + "_lineage")
            rows = (
                self._latest()
                .join(lineage, ["stage", "fingerprint", "committed_at"])
                .select("stage", "fingerprint", "file")
                .collect()
            )
        except AnalysisException:
            return {}
        files: dict[tuple[str, str], set[str]] = {}
        for r in rows:
            files.setdefault((r["stage"], r["fingerprint"]), set()).add(r["file"])
        return files

    def commit(self, stage: str, fingerprint: str, per_file: list, duration: float):
        """One lineage row per output file (``per_file`` = [(file, rows),
        ...]), then the manifest row that makes the commit visible."""
        at = time.time()
        self.spark.createDataFrame(
            [(stage, fingerprint, f, int(n), at) for f, n in per_file], LINEAGE_SCHEMA
        ).write.mode("append").parquet(self.path + "_lineage")
        rows = sum(n for _, n in per_file)
        self.spark.createDataFrame(
            [(stage, fingerprint, rows, len(per_file), float(duration), "committed", at)],
            MANIFEST_SCHEMA,
        ).write.mode("append").parquet(self.path)


def _run_stage(
    spark: SparkSession,
    manifest: StageManifest,
    committed: dict[tuple[str, str], set[str]],
    out_dir: str,
    name: str,
    fingerprint: str,
    compute,
    table_namespace: str | None,
    catalog: str,
) -> DataFrame:
    """Run-or-resume one stage of a writing sink; returns the stage
    output as read back from the sink."""
    where = dict(
        identifier=f"{table_namespace}.{name}" if table_namespace else None,
        path_fallback=os.path.join(out_dir, name),
        catalog=catalog,
        session_catalog=bool(table_namespace) and not iceberg_available(spark, catalog),
    )
    files = lambda df: {_path(f) for f in df.inputFiles()}  # noqa: E731
    if (name, fingerprint) in committed:
        try:
            out = read_table(spark, **where)
            if files(out) == committed[(name, fingerprint)]:
                return out
        except AnalysisException:
            pass  # the output is gone: recompute
    t0 = time.time()
    write_table(compute(), **where)
    out = read_table(spark, **where)
    # One aggregation gives the rows per file; inputFiles adds the files
    # without rows, so the lineage names every file the stage holds.
    rows = {_path(r[0]): r[1] for r in out.groupBy(F.input_file_name()).count().collect()}
    per_file = [(f, rows.get(f, 0)) for f in sorted(files(out))]
    manifest.commit(name, fingerprint, per_file, time.time() - t0)
    return out


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    alias_dict: DataFrame,
    out_dir: str | None = None,
    n_buckets: int = 32,
    resume: bool = True,
    input_fingerprint: str = "",
    table_namespace: str | None = None,
    catalog: str = "iceberg",
    alias_count: int | None = None,
) -> DataFrame:
    """pages + alias dictionary → canonical KGTK edges (node1, label,
    node2, id); the sink follows from ``out_dir`` and
    ``table_namespace`` (module docstring).

    ``input_fingerprint`` should identify the input snapshot (e.g. its
    generator seed/row count or an Iceberg snapshot id); stages chain
    from it, so a new input recomputes everything.

    ``alias_count``, the dictionary's row count when the caller knows
    it, spares the memory sink its sizing job. A writing sink sizes and
    hashes the dictionary in one aggregation for its fingerprint anyway.
    """
    if table_namespace and out_dir is None:
        raise ValueError("the table sink keeps its manifest under out_dir")
    digest = ""
    if out_dir is not None or alias_count is None:
        row = alias_dict.agg(
            F.count(F.lit(1)), F.bit_xor(F.xxhash64("alias", "entity", "prior"))
        ).first()
        alias_count, digest = row[0], f"{row[0]}:{row[1]}"

    out: dict[str, DataFrame] = {}
    held: list[DataFrame] = []  # the dedup checkpoint, once canonical runs

    def distinct_triples() -> DataFrame:
        held.append(
            out["triples"].select("node1", "label", "node2").dropDuplicates().localCheckpoint()
        )
        return held[-1]

    compute = {
        "text": lambda: S.extract_text(pages),
        "mentions": lambda: S.detect_mentions(out["text"], alias_dict, alias_count=alias_count),
        "linked": lambda: S.link_entities(out["mentions"], alias_dict, alias_count=alias_count),
        "triples": lambda: S.extract_triples(
            out.get("text", pages), alias_dict, alias_count=alias_count
        ),
        # Dedup BEFORE the rewrite: canonicalize's per-row rewrite
        # commutes with dropDuplicates on (node1, label, node2), and
        # materialize dedups again after it anyway, so the two broadcast
        # rewrite joins touch the distinct edge set instead of every raw
        # triple. localCheckpoint so the distinct shuffle isn't recomputed
        # for the sameAs split AND the rewrite. Rewrite-map rows are
        # bounded by the dictionary (every sameAs endpoint is a dictionary
        # entity), so canonicalize skips its size probe.
        "canonical": lambda: S.canonicalize(distinct_triples(), size_hint=alias_count),
        "edges": lambda: S.materialize(out["canonical"], n_buckets=n_buckets),
    }
    manifest = StageManifest(spark, out_dir) if out_dir is not None else None
    committed = manifest.committed_files() if manifest and resume else {}
    fp = _fp(input_fingerprint)
    for name in STAGES:
        # the dictionary enters the chain at mentions: text never reads it
        fp = _fp(name, fp, {"mentions": digest, "edges": str(n_buckets)}.get(name, ""))
        if manifest:
            out[name] = _run_stage(
                spark, manifest, committed, out_dir, name, fp, compute[name],
                table_namespace, catalog,
            )
            # canonical is written and read back from the sink, so nothing
            # reads the dedup checkpoint any more (the memory sink's
            # returned edges still do: it keeps it)
            while held:
                release_checkpoint(held.pop())
        elif name not in _WRITTEN_ONLY:
            out[name] = compute[name]()
    return out["edges"]


def run_pipeline_fused(
    spark: SparkSession,
    pages: DataFrame,
    alias_dict: DataFrame,
    n_buckets: int = 32,
    alias_count: int | None = None,
) -> DataFrame:
    """``run_pipeline`` with the memory sink: one Python pass from the raw
    pages to resolved triples, nothing written, only the distinct-triple
    checkpoint persisted. The throughput configuration, with the same
    edges as the writing sinks."""
    return run_pipeline(spark, pages, alias_dict, n_buckets=n_buckets, alias_count=alias_count)


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
