"""kgtk_spark — a PySpark-native knowledge-graph analytics engine.

A from-scratch re-expression of the semantics of the KGTK toolkit
(reference: shashank73744/kgtk) as idiomatic PySpark DataFrame stages:

- ``kgtk_spark.schema``    — edge/node-file data model, alias-group column resolution
- ``kgtk_spark.values``    — the KGTK value type system (sigil classify / validate / parse)
- ``kgtk_spark.lists``     — KGTK ``|``-list cell helpers
- ``kgtk_spark.operators`` — the core edge-file operators (filter, ifexists, join,
  compact, lift, expand/explode/implode, add-id, ...) as DataFrame → DataFrame functions
- ``kgtk_spark.graph``     — iterative DataFrame graph algorithms (connected components,
  PageRank, degrees, reachable-nodes, paths)
- ``kgtk_spark.pipeline``  — the KG-construction pipeline over Common-Crawl-style web
  pages (text extraction, mention detection, entity linking, triple extraction,
  canonicalization, materialize) with a resumable stage manifest
- ``kgtk_spark.textops``   — large-scale training-data ops (dedup family, ANN,
  text quality/language-id, multimodal plumbing)

Everything is DataFrame-first: built-in ``pyspark.sql.functions`` in the hot path,
Arrow-batched pandas UDFs where KGTK literal semantics demand Python, never
row-at-a-time Python.
"""

__version__ = "0.1.0"

from kgtk_spark import _zipcache

_zipcache.install()
