"""KGTK edge/node data model and alias-aware column resolution.

Reference semantics: kgtk/kgtkformat.py:16-28 (required columns + alias
groups), kgtk/io/kgtkbase.py:153-191 (special-column location),
kgtk/io/kgtkreader.py:537-555 (edge/node auto-mode detection).

An *edge file* is any DataFrame with (an alias of) node1/label/node2;
a *node file* has (an alias of) id. All KGTK cells are strings and the
empty string is null. We canonicalize alias headers to the canonical
names once at the boundary so every downstream operator can assume
``node1, label, node2, id``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Alias groups (canonical name first) — kgtk/kgtkformat.py:17-22.
NODE1_ALIASES = ["node1", "from", "subject", "sub"]
LABEL_ALIASES = ["label", "predicate", "relation", "relationship", "pred"]
NODE2_ALIASES = ["node2", "to", "object", "obj"]
ID_ALIASES = ["id", "ID"]

ALIAS_GROUPS = {
    "node1": NODE1_ALIASES,
    "label": LABEL_ALIASES,
    "node2": NODE2_ALIASES,
    "id": ID_ALIASES,
}


def resolve_column(df_columns: list[str], canonical: str) -> str | None:
    """Return the actual column name that is an alias of ``canonical``."""
    lowered = {c.lower(): c for c in df_columns}
    for alias in ALIAS_GROUPS.get(canonical, [canonical]):
        if alias.lower() in lowered:
            return lowered[alias.lower()]
    return None


def detect_mode(df_columns: list[str]) -> str:
    """'edge' if a node1 alias present, else 'node' if id present, else 'none'.

    Mirrors kgtk/io/kgtkreader.py:537-555 auto-mode.
    """
    if resolve_column(df_columns, "node1") is not None:
        return "edge"
    if resolve_column(df_columns, "id") is not None:
        return "node"
    return "none"


def canonicalize_columns(df: DataFrame) -> DataFrame:
    """Rename alias headers to canonical node1/label/node2/id (no-op if absent)."""
    out = df
    for canonical in ("node1", "label", "node2", "id"):
        actual = resolve_column(out.columns, canonical)
        if actual is not None and actual != canonical:
            out = out.withColumnRenamed(actual, canonical)
    return out


def null_as_empty(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """SQL NULL → KGTK empty string (for writing / byte-parity surfaces)."""
    targets = cols or [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    exprs = [
        (F.coalesce(F.col(c), F.lit("")).alias(c) if c in targets else F.col(c))
        for c in df.columns
    ]
    return df.select(*exprs)


def read_kgtk_tsv(spark, path: str, mode: str = "auto") -> DataFrame:
    """Compatibility TSV ingest (kgtk/io/kgtkreader.py:494-624).

    Header-driven schema; all columns string; empty string kept (KGTK null).
    Spark/Hadoop codecs decompress .gz/.bz2 transparently, replacing the
    reference's subprocess gunzip (kgtk/utils/gzipprocess.py).
    """
    df = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .option("quote", "")          # KGTK TSV has no quoting — quotes are data
        .option("escape", "")
        .option("emptyValue", "")
        .option("nullValue", None)
        .csv(path)
    )
    df = df.select(*[F.coalesce(F.col(c), F.lit("")).alias(c) for c in df.columns])
    if mode == "auto":
        return canonicalize_columns(df)
    return df


def write_kgtk_tsv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """Write a KGTK TSV (kgtk/io/kgtkwriter.py write path). Nulls → empty."""
    out = null_as_empty(df)
    if single_file:
        out = out.coalesce(1)
    (
        out.write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .option("quote", "\u0000")
        .option("emptyValue", "")
        .csv(path)
    )
