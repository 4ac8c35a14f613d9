"""The benchmark's workloads: set-up, one timed pass, and its check.

Every call into the program goes through a span named
``<layer>.<operation>``; the layer is the program module called.  A pass
returns an ``Outcome``: the operations it attempted, the failures it saw
(exceptions and failed checks) and the output its check needs.  A
workload's ``verify`` runs once, after the timed passes, for checks
that are too slow to sit in set-up or in a pass.  An operation is a
stage call or a catalog query; when a pipeline pass fails, all its stage
calls count as failed, since the failure cannot be pinned on one of
them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from inputs import write_documents, write_tpch
from spans import Tracer
from tools.check_oracles import value_hash

PIPELINE_STAGES = [
    "extract_text", "detect_mentions", "link_entities", "extract_triples",
    "canonicalize", "materialize",
]
CATALOG_QUERIES = [
    "kgtk_filter", "kgtk_compact", "graph_triangles", "doc_exact_dedup",
    "doc_tfidf_topk",
]
N_DOCS = 5_000  # as in the reference sf0.1 documents table
CATALOG_TABLES = ["nation", "customer", "supplier", "orders", "lineitem", "documents"]


@dataclass
class Ctx:
    spark: SparkSession
    tr: Tracer
    work: str
    seed: int
    cpus: int
    tiny: bool

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Outcome:
    ops: int
    failures: list[str] = field(default_factory=list)
    data: dict = field(default_factory=dict)


class KgBuild:
    """``run_pipeline_fused``: all six stages in one plan, no sink.

    Pages, the expected edges and the alias dictionary are generated from
    the seed and written to parquet once, in set-up; every pass reads
    them back from storage.  The check: precision and recall 1.0 against
    the planted facts, and as many edges as distinct expected edges.
    One warm-up pass: the second pass reads the same as later ones."""

    warmups = 1
    ops_per_pass = len(PIPELINE_STAGES)

    def setup(self, ctx: Ctx) -> None:
        from kgtk_spark.pipeline import alias_dictionary_df
        from kgtk_spark.pipeline.webgen import generate_pages_distributed

        n_pages, n_entities = (500, 100) if ctx.tiny else (25_000, 1_000)
        with ctx.tr.span("webgen.pages", "webgen"):
            pages, expected, world = generate_pages_distributed(
                ctx.spark, n_pages=n_pages, n_entities=n_entities,
                seed=ctx.seed, partitions=2 * ctx.cpus,
            )
            pages.write.parquet(ctx.path("pages"))
            expected.write.parquet(ctx.path("expected"))
            alias_dictionary_df(ctx.spark, world).write.parquet(ctx.path("alias"))
        self.n_aliases = ctx.spark.read.parquet(ctx.path("alias")).count()
        self.n_expected = (
            ctx.spark.read.parquet(ctx.path("expected"))
            .select("node1", "label", "node2").distinct().count()
        )

    def inputs(self, ctx: Ctx):
        read = ctx.spark.read.parquet
        return read(ctx.path("pages")), read(ctx.path("alias"))

    def timed(self, ctx: Ctx, first: bool) -> Outcome:
        from kgtk_spark.pipeline.runner import run_pipeline_fused

        pages, alias = self.inputs(ctx)
        with ctx.tr.span("runner.fused", "runner"):
            edges = run_pipeline_fused(
                ctx.spark, pages, alias, n_buckets=ctx.cpus, alias_count=self.n_aliases
            )
            n = edges.count()
        return Outcome(self.ops_per_pass, data={"edges": edges, "n": n})

    def check(self, ctx: Ctx, out: Outcome) -> list[str]:
        from kgtk_spark.pipeline import triple_precision_recall

        # the returned frame reads localCheckpoint blocks: check it before
        # the pass releases them
        expected = ctx.spark.read.parquet(ctx.path("expected"))
        p, r = triple_precision_recall(out.data["edges"], expected)
        bad = []
        if (p, r) != (1.0, 1.0):
            bad.append(f"precision/recall {p:.4f}/{r:.4f}, want 1/1")
        if out.data["n"] != self.n_expected:
            bad.append(f"{out.data['n']} edges, want {self.n_expected}")
        return bad

    def verify(self, ctx: Ctx) -> list[str]:
        return []  # every pass is checked as it ends

    def failed_ops(self, out: Outcome) -> int:
        return out.ops if out.failures else 0

    def layer_probe(self, ctx: Ctx) -> dict[str, float]:
        """Each public stage function once, on the previous stage's output
        read back from parquet, so each span holds exactly one stage."""
        from kgtk_spark.pipeline import stages as S

        pages, alias = self.inputs(ctx)
        read = lambda stage: ctx.spark.read.parquet(ctx.path("stages", stage))  # noqa: E731
        hint = {"alias_count": self.n_aliases}
        calls = {  # the staged runner's chain (runner.run_pipeline)
            "extract_text": lambda: S.extract_text(pages),
            "detect_mentions": lambda: S.detect_mentions(read("extract_text"), alias, **hint),
            "link_entities": lambda: S.link_entities(read("detect_mentions"), alias, **hint),
            "extract_triples": lambda: S.extract_triples(read("extract_text"), alias, **hint),
            "canonicalize": lambda: S.canonicalize(read("extract_triples")),
            "materialize": lambda: S.materialize(read("canonicalize"), n_buckets=ctx.cpus),
        }
        for stage in PIPELINE_STAGES:
            with ctx.tr.span(f"stages.{stage}", "stages"):
                calls[stage]().write.parquet(ctx.path("stages", stage))
        rows = {stage: read(stage).count() for stage in PIPELINE_STAGES}
        return {
            "stages.mentions_rows": rows["detect_mentions"],
            "stages.triples_rows": rows["extract_triples"],
            "stages.edges_rows": rows["materialize"],
            "stages.linked_per_mention": rows["link_entities"] / max(rows["detect_mentions"], 1),
            "stages.edges_per_triple": rows["materialize"] / max(rows["extract_triples"], 1),
        }


class Catalog:
    """Catalog queries written to the noop sink.  The first warm-up pass
    collects every result instead; after the timed passes ``verify``
    compares each with the query's DuckDB oracle on row count, column
    names and value hash, as ``tools/check_oracles.py`` does, so the
    oracles run outside both set-up and the timed passes.  Four warm-up
    passes: with fewer, CPU and wall time per pass are still falling
    (JIT) when timing starts."""

    warmups = 4
    queries = CATALOG_QUERIES
    ops_per_pass = len(CATALOG_QUERIES)

    @staticmethod
    def layer(q: str) -> str:
        return {"kgtk": "operators", "graph": "graph", "doc": "textops"}[q.split("_")[0]]

    def setup(self, ctx: Ctx) -> None:
        tables = ctx.path("tables")
        os.makedirs(tables)
        write_tpch(tables, ctx.seed, 0.001 if ctx.tiny else 0.01)
        write_documents(tables, ctx.seed, 500 if ctx.tiny else N_DOCS)
        self.got: dict[str, tuple] = {}

    def timed(self, ctx: Ctx, first: bool) -> Outcome:
        from kgtk_spark.queries import QUERIES

        out = Outcome(self.ops_per_pass)
        for q in self.queries:
            try:
                with ctx.tr.span(f"{self.layer(q)}.{q}", self.layer(q)):
                    df = QUERIES[q](ctx.spark, ctx.path("tables"))
                    if first:
                        rows, cols = df.collect(), df.columns
                    else:
                        df.write.format("noop").mode("overwrite").save()
                if first:
                    self.got[q] = (len(rows), sorted(cols), value_hash(rows, cols))
            except Exception as e:  # noqa: BLE001 -- counted, never fatal
                out.failures.append(f"{q}: {type(e).__name__}: {str(e)[:200]}")
        return out

    def failed_ops(self, out: Outcome) -> int:
        return min(len(out.failures), out.ops)

    def verify(self, ctx: Ctx) -> list[str]:
        """One failure per query whose first-pass result differs from its
        oracle (a query that raised in that pass is already counted)."""
        import duckdb

        from kgtk_spark.queries import ORACLES

        tables = ctx.path("tables")
        con = duckdb.connect(config={"temp_directory": ctx.path("duckdb"), "threads": ctx.cpus})
        for t in CATALOG_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
        bad = []
        for q, got in self.got.items():
            res = con.sql(ORACLES[q])
            cols = list(res.columns)
            rows = res.fetchall()
            want = (len(rows), sorted(cols), value_hash(rows, cols))
            if got != want:
                bad.append(f"{q}: {got} != oracle {want}")
        con.close()
        return bad


WORKLOADS = {"kg_build": KgBuild, "catalog": Catalog}
