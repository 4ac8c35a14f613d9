"""KG-construction pipeline over Common-Crawl-style web pages.

Input contract (BASELINE.json input_hint): a table of
``(url: string, warc_ts: timestamp, html: binary, text: string, lang: string)``.

Stages (each a DataFrame → DataFrame function; ``run_pipeline``
materializes each to parquet with a manifest row for
resume-from-checkpoint):

1. extract_text    — html → text when text is null; byte-identical per url
2. detect_mentions — batched token-dictionary matcher over text
                     (broadcast alias dict)
3. link_entities   — best-prior sense per mention (broadcast map-side)
4. extract_triples — pattern-based SVO over sentences; subject and object
                     surfaces resolve to their best-prior entity
5. canonicalize    — connected-components over sameAs clusters
6. materialize     — KGTK-schema edges (node1, label, node2, id),
                     bucketed by subject hash

``run_pipeline_fused`` chains 1 → 4 → 5 → 6 in one plan: one Python pass
over the page text, with no mention stages (nothing in it reads them).
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
