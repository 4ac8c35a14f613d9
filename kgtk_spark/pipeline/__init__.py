"""KG-construction pipeline over Common-Crawl-style web pages.

Input contract (BASELINE.json input_hint): a table of
``(url: string, warc_ts: timestamp, html: binary, text: string, lang: string)``.

Stages, each a DataFrame → DataFrame function, in the order of
``runner.STAGES``:

1. extract_text    — html → text when text is null; byte-identical per url
2. detect_mentions — batched token-dictionary matcher over text
                     (broadcast alias dict)
3. link_entities   — best-prior sense per mention (broadcast map-side)
4. extract_triples — pattern-based SVO over sentences; subject and object
                     surfaces resolve to their best-prior entity
5. canonicalize    — connected-components over sameAs clusters
6. materialize     — KGTK-schema edges (node1, label, node2, id),
                     bucketed by subject hash

``run_pipeline`` walks that one stage list into one of three sinks:
memory (no ``out_dir``; stages 1-3 are not run, since extract_triples
reads the raw pages and nothing reads the mention spans; this is
``run_pipeline_fused``), parquet directories under ``out_dir``, or
catalog tables (``table_namespace``). The two writing sinks commit each
stage to a manifest and resume what is still committed.
"""

from kgtk_spark.pipeline.webgen import (
    generate_pages_df,
    generate_world,
    expected_edges_df,
    alias_dictionary_df,
)
from kgtk_spark.pipeline.stages import (
    extract_text,
    detect_mentions,
    link_entities,
    extract_triples,
    canonicalize,
    materialize,
)
from kgtk_spark.pipeline.runner import run_pipeline, triple_precision_recall

__all__ = [
    "generate_pages_df",
    "generate_world",
    "expected_edges_df",
    "alias_dictionary_df",
    "extract_text",
    "detect_mentions",
    "link_entities",
    "extract_triples",
    "canonicalize",
    "materialize",
    "run_pipeline",
    "triple_precision_recall",
]
