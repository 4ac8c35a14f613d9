"""Import / export connectors.

Reference surface: kgtk/imports/kgtkntriples.py (821 LoC),
kgtk/cli/import_wikidata.py (1284 LoC, process-pool), kgtk/cli/
export_neo4j.py (273), kgtk/io/kgtkwriter.py formats (md/json/jsonl).

Spark re-expression: N-Triples parse is pure JVM regexp over
``spark.read.text`` (the reference's mapper pool is replaced by input
splits); Wikidata JSONL rides ``spark.read.json``; exports are
projection + format-string stages.
"""

from kgtk_spark.sources.ntriples import export_ntriples, import_ntriples
from kgtk_spark.sources.wikidata import import_wikidata_jsonl
from kgtk_spark.sources.exports import export_cypher, to_markdown
from kgtk_spark.sources.wikidata_rdf import generate_wikidata_triples
from kgtk_spark.sources.cskg import (
    CSKG_COLUMNS,
    import_atomic,
    import_concept_pairs,
    import_conceptnet,
    import_framenet,
    import_visualgenome,
    import_wordnet,
    read_conceptnet_csv,
    read_visualgenome_scene_graphs,
)

__all__ = [
    "import_ntriples",
    "export_ntriples",
    "import_wikidata_jsonl",
    "export_cypher",
    "to_markdown",
    "CSKG_COLUMNS",
    "import_conceptnet",
    "import_concept_pairs",
    "import_atomic",
    "import_wordnet",
    "import_framenet",
    "import_visualgenome",
    "read_conceptnet_csv",
    "read_visualgenome_scene_graphs",
    "generate_wikidata_triples",
]
