"""Benchmark harness — prints ONE JSON line.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default local[32]),
plus the KG-construction pipeline on deterministic synthetic web pages
sized to the scale factor. The headline metric is pipeline throughput
(triples emitted / second), per BASELINE.json.

Query plans execute fully via the noop sink (no driver collect cost).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

BENCH_QUERIES = [
    "kgtk_filter",
    "kgtk_ifexists",
    "kgtk_join_inner",
    "kgtk_compact",
    "kgtk_unique",
    "kgtk_add_id",
    "kgtk_lift",
    "graph_degrees",
    "graph_connected_components",
    "graph_pagerank",
    "doc_exact_dedup",
    "doc_minhash_clusters",
    "doc_simhash",
    "doc_repetition",
    "doc_language_id",
    "doc_fingerprint",
    "ann_cosine_topk",
    "events_daily",
    "cskg_conceptnet",
    "wikidata_rdf_triples",
    # round-4 additions
    "doc_url_dedup",
    "doc_decontaminate",
    "doc_stable_sample",
    "doc_span_dedup",
    "doc_token_df",
    "multimodal_wav_features",
    # round-5 additions
    "doc_unigram_xent",
    "doc_tfidf_topk",
    "graph_triangles",
    "multimodal_jpeg_features",
]


def sf_of(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


def scaling_stale(artifact: dict, cpus: int) -> bool:
    """True unless the scaling artifact was measured at this checkout's
    HEAD with this run's core count at its upper level (``local[4N]``)."""
    try:
        head = subprocess.run(
            ["git", "-C", str(Path(__file__).resolve().parent), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        head = ""
    commit = artifact.get("commit") or ""
    n = artifact.get("n")
    top = artifact.get(f"local{4 * n}", {}).get("cpus") if isinstance(n, int) else None
    return not (commit and head.startswith(commit)) or top != cpus


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_of(sf_dir)

    from kgtk_spark.session import get_spark
    from kgtk_spark.queries import QUERIES

    loadavg_start = [round(x, 2) for x in os.getloadavg()]
    scaling_fields: dict = {}
    art = Path(__file__).resolve().parent / "BENCH" / "scaling_latest.json"
    try:
        with open(art) as fp:
            s = json.load(fp)
        scaling_fields = {
            "scaling_efficiency": s["scaling_efficiency"],
            "scaling_gate_target": s.get("target", 0.8),
            "scaling_gate_met": s.get("meets_target"),
            "scaling_n": s.get("n"),
            "scaling_n_pages": s.get("n_pages"),
            "scaling_measured_utc": s.get("measured_utc"),
            "scaling_commit": s.get("commit"),
            "scaling_stale": scaling_stale(s, cpus),
        }
    except Exception:
        scaling_fields = {"scaling_efficiency": None,
                          "scaling_stale": True,
                          "scaling_note": "no BENCH/scaling_latest.json — "
                          "run tools/scaling_bench.py"}

    spark = get_spark(
        app_name="kgtk_spark_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Untimed warmup: JVM/codegen/Python-worker startup shouldn't be
    # charged to whichever query happens to run first.
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    from pyspark.sql.functions import pandas_udf

    _warm = pandas_udf(lambda s: s, "long")  # spins up the Python workers
    spark.range(0, cpus * 4, 1, cpus).select(_warm("id")).write.format(
        "noop"
    ).mode("overwrite").save()

    # Best-of-2 per query, run as two full alternating sweeps (not two
    # back-to-back runs of the same query) so drifting co-tenant load
    # hits every query in both passes — the BENCH/BASELINE.md noise
    # protocol. Identical runs on this host vary up to 3×.
    timings: dict[str, float] = {}
    for _sweep in range(2):
        for name in BENCH_QUERIES:
            fn = QUERIES[name]
            t0 = time.time()
            run_noop(fn(spark, sf_dir))
            elapsed = round(time.time() - t0, 3)
            if name not in timings or elapsed < timings[name]:
                timings[name] = elapsed

    # --- KG-construction pipeline on synthetic web pages -------------------
    from kgtk_spark.pipeline import alias_dictionary_df, triple_precision_recall
    from kgtk_spark.pipeline.runner import run_pipeline_fused
    from kgtk_spark.pipeline.webgen import generate_pages_distributed

    n_pages = max(500, int(500000 * sf))      # sf0.1 → 50,000 pages
    n_entities = max(100, int(20000 * sf))    # sf0.1 → 2,000 entities
    pages, expected, world = generate_pages_distributed(
        spark, n_pages=n_pages, n_entities=n_entities, seed=42, partitions=cpus * 2
    )
    # the generator ran in generate_pages_distributed (an eager checkpoint
    # that both frames read), outside the pipeline timing
    ad = alias_dictionary_df(spark, world)
    n_aliases = ad.count()  # dictionary sizing outside the timed region

    # Best of 3: this host's co-tenant load makes identical pipeline
    # runs vary up to 3× (see BENCH/BASELINE.md noise protocol); the
    # headline metric takes the best of three runs.
    pipe_sec = None
    for _ in range(3):
        t0 = time.time()
        edges = run_pipeline_fused(
            spark, pages, ad, n_buckets=cpus, alias_count=n_aliases
        )
        n_edges = edges.count()
        elapsed = time.time() - t0
        if pipe_sec is None or elapsed < pipe_sec:
            pipe_sec = elapsed
    p, r = triple_precision_recall(edges, expected)

    timings["kg_pipeline"] = round(pipe_sec, 3)
    triples_per_sec = n_edges / pipe_sec if pipe_sec > 0 else 0.0

    print(
        json.dumps(
            {
                "metric": "kg_pipeline_triples_per_sec",
                "value": round(triples_per_sec, 2),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "detail": {
                    "pipeline_pages": n_pages,
                    "pipeline_edges": n_edges,
                    "pipeline_seconds": round(pipe_sec, 3),
                    "triple_precision": round(p, 4),
                    "triple_recall": round(r, 4),
                    "cpus": cpus,
                    "total_query_seconds": round(sum(timings.values()), 3),
                    # Host load at bench start/end: a noisy driver run is
                    # self-diagnosing (loadavg 5-22 while "idle" here).
                    "loadavg_start": loadavg_start,
                    "loadavg_end": [round(x, 2) for x in os.getloadavg()],
                    # Official two-parallelism-level result (north_rule
                    # criterion): loaded from the artifact written by
                    # tools/scaling_bench.py (BENCH/scaling_latest.json),
                    # NOT a hardcoded constant — re-measurements and
                    # regressions propagate. Narrative + input-size sweep
                    # + saturation-ceiling controls in BENCH/BASELINE.md.
                    **scaling_fields,
                },
            }
        )
    )


if __name__ == "__main__":
    main()
