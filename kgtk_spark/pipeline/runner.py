"""One pipeline orchestration: an ordered stage list and a sink.

``run_pipeline`` walks ``STAGES`` once:

    text → mentions → linked → triples → canonical → edges

The sink, where each stage's output goes, follows from the arguments:

- memory (no ``out_dir``): nothing is written. ``triples`` reads the raw
  pages (extract_triples fills text from html in its own Python pass),
  so ``text`` and the provenance stages ``mentions`` and ``linked`` are
  not run. Nothing reads a triple's url here, so the Python pass emits
  each Arrow batch's distinct (node1, label, node2) and no url.
  ``run_pipeline_fused`` is this sink.
- table (``out_dir`` and ``table_namespace``): each stage is a catalog
  table ``<namespace>.<stage>``; Iceberg ``writeTo`` commits when the
  catalog is configured, session-catalog tables otherwise.
- parquet (``out_dir`` only): each stage is a directory
  ``out_dir/<stage>/`` (the parquet job commit makes the write atomic).

Every sink shares the tail: the distinct (node1, label, node2) triples
are canonicalized with the dictionary size as the rewrite-map bound and
materialized. canonicalize checkpoints them once; when it resolves the
KG on the driver it releases that checkpoint before it returns.

The writing sinks commit each stage as one row of the commit table
``out_dir/_manifest``: stage, fingerprint, time, duration and the files
the stage wrote with their row counts. A rerun resumes a stage when its
latest commit has the current fingerprint and the files the stage holds
now are exactly the files that commit wrote, so what a run that crashed
mid-write left behind is recomputed, never served. Fingerprints chain:
stage_fp = sha256(stage, upstream_fp, config), and the chain starts from
the input fingerprint and a digest of this package's source, so an edit
to any stage or helper recomputes everything. The alias dictionary (row
count and an order-independent row hash) enters at ``mentions``, the
first stage that reads it, so a new input, dictionary or config
recomputes everything below where it enters; ``text`` resumes across
dictionary changes.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.resources
import os
import time
from urllib.parse import unquote, urlparse

import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from kgtk_spark.pipeline import stages as S
from kgtk_spark.sources.iceberg import read_table, write_table

STAGES = ("text", "mentions", "linked", "triples", "canonical", "edges")
# run only by a writing sink: in memory triples reads the raw pages and
# nothing reads the mention spans
_WRITTEN_ONLY = ("text", "mentions", "linked")

# a commit row written before ``files`` existed reads it as null, which
# matches no stage's files, so that stage recomputes
COMMIT_SCHEMA = pa.schema([
    ("stage", pa.string()),
    ("fingerprint", pa.string()),
    ("committed_at", pa.float64()),
    ("duration_sec", pa.float64()),
    ("files", pa.list_(pa.struct([("file", pa.string()), ("rows", pa.int64())]))),
])


def _fp(*parts: str) -> str:
    return hashlib.sha256("\x1f".join(parts).encode()).hexdigest()[:16]


@functools.cache
def _code_version() -> str:
    """Digest of every ``.py`` file of this package, read through
    ``importlib.resources`` so that a zipped install hashes too."""
    h = hashlib.sha256()

    def walk(node):
        for child in sorted(node.iterdir(), key=lambda c: c.name):
            if child.is_dir():
                walk(child)
            elif child.name.endswith(".py"):
                h.update(child.name.encode() + b"\0" + child.read_bytes())

    walk(importlib.resources.files("kgtk_spark"))
    return h.hexdigest()[:16]


def _path(uri: str) -> str:
    """A file URI or path as a plain path (``file:///a%20b`` → ``/a b``)."""
    return unquote(urlparse(uri).path)


class StageManifest:
    """The commit table: one row per stage commit, appended as one file,
    so the write job's single rename publishes the commit."""

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.path = os.path.join(out_dir, "_manifest")

    def committed_files(self) -> dict[str, tuple[str, set[str] | None]]:
        """stage → (fingerprint, files) of each stage's latest commit by
        ``committed_at`` (bounded: one row per stage)."""
        path = self.spark._jvm.org.apache.hadoop.fs.Path(self.path)
        # a fresh out_dir has no table: reading it would log a stack trace
        if not path.getFileSystem(self.spark._jsc.hadoopConfiguration()).exists(path):
            return {}
        commit = F.struct("fingerprint", F.col("files.file").alias("files"))
        rows = (
            self.spark.read.schema(from_arrow_schema(COMMIT_SCHEMA)).parquet(self.path)
            .groupBy("stage")
            .agg(F.max_by(commit, "committed_at").alias("c"))
            .select("stage", "c.*")
            .collect()
        )
        return {
            r["stage"]: (r["fingerprint"], None if r["files"] is None else set(r["files"]))
            for r in rows
        }

    def commit(self, stage: str, fingerprint: str, per_file: list, duration: float):
        """Append the commit row of ``stage`` (``per_file`` = [(file,
        rows), ...]); one row is one partition, so one file."""
        self.spark.createDataFrame(pa.table({
            "stage": [stage],
            "fingerprint": [fingerprint],
            "committed_at": [time.time()],
            "duration_sec": [float(duration)],
            "files": [[{"file": f, "rows": int(n)} for f, n in per_file]],
        }, schema=COMMIT_SCHEMA)).write.mode("append").parquet(self.path)


def _run_stage(
    spark: SparkSession,
    manifest: StageManifest,
    committed: dict[str, tuple[str, set[str] | None]],
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
        path=os.path.join(out_dir, name),
        catalog=catalog,
    )
    files = lambda df: {_path(f) for f in df.inputFiles()}  # noqa: E731
    last = committed.get(name)
    if last and last[0] == fingerprint:
        try:
            out = read_table(spark, **where)
            if files(out) == last[1]:
                return out
        except AnalysisException:
            pass  # the output is gone: recompute
    t0 = time.time()
    write_table(compute(), **where)
    out = read_table(spark, **where)
    # One aggregation gives the rows per file; inputFiles adds the files
    # without rows, so the commit names every file the stage holds.
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
    from it and the package's source digest, so a new input or a code
    edit recomputes everything.

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
    compute = {
        "text": lambda: S.extract_text(pages),
        "mentions": lambda: S.detect_mentions(out["text"], alias_dict, alias_count=alias_count),
        "linked": lambda: S.link_entities(out["mentions"], alias_dict, alias_count=alias_count),
        # only a writing sink keeps each triple's url; in memory the
        # Python pass emits each batch's distinct triples
        "triples": lambda: S.extract_triples(
            out.get("text", pages), alias_dict, alias_count=alias_count,
            with_url=out_dir is not None,
        ),
        # Dedup BEFORE the rewrite: canonicalize's per-row rewrite
        # commutes with dropDuplicates on (node1, label, node2), and
        # materialize dedups again after it anyway, so the rewrite (on the
        # driver, or as two broadcast joins above its gate) touches the
        # distinct edge set instead of every raw triple. canonicalize
        # checkpoints its input, so the distinct shuffle runs once.
        # Rewrite-map rows are bounded by the dictionary (every sameAs
        # endpoint is a dictionary entity), so the joins skip their size
        # probe.
        "canonical": lambda: S.canonicalize(
            out["triples"].select("node1", "label", "node2").dropDuplicates(),
            size_hint=alias_count,
        ),
        "edges": lambda: S.materialize(out["canonical"], n_buckets=n_buckets),
    }
    manifest = StageManifest(spark, out_dir) if out_dir is not None else None
    committed = manifest.committed_files() if manifest else {}
    # only a writing sink reads the fingerprints
    fp = _fp(input_fingerprint, _code_version()) if manifest else ""
    for name in STAGES:
        # the dictionary enters the chain at mentions: text never reads it
        fp = _fp(name, fp, {"mentions": digest, "edges": str(n_buckets)}.get(name, ""))
        if manifest:
            out[name] = _run_stage(
                spark, manifest, committed, out_dir, name, fp, compute[name],
                table_namespace, catalog,
            )
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
    pages to resolved triples, nothing written, and nothing left persisted
    when canonicalize resolves the KG on the driver. The throughput
    configuration, with the same edges as the writing sinks."""
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
