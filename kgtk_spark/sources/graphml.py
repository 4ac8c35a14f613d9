"""GraphML export of a KGTK edge file.

Reference: kgtk/gt/io_utils.py:25-153 (transform_to_graphtool_format)
— the reference chunks two CSVs through pandas into one GraphML file
for graph-tool. Here nodes are derived from the edge file with one
distinct-union (distributed), and the single-file XML write streams
through ``toLocalIterator`` so only one partition is ever resident on
the driver. GraphML is an inherently single-document format: the write
itself is driver-streaming by nature (the reference is fully
single-process). The .gt binary format is graph-tool-internal and is
not reproduced; GraphML is the interchange surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_XML_ESCAPES = [
    ("&", "&amp;"),
    ('"', "&quot;"),
    ("'", "&apos;"),
    ("<", "&lt;"),
    (">", "&gt;"),
]


def _esc(s: str) -> str:
    for raw, enc in _XML_ESCAPES:
        s = s.replace(raw, enc)
    return s


def export_graphml(
    edges: DataFrame,
    path: str,
    edge_attrs: list[str] | None = None,
) -> None:
    """Write the edge file as a directed GraphML document.

    ``label`` is always exported as the edge ``predicate`` attribute
    (matching the reference's key layout); extra edge columns named in
    ``edge_attrs`` become additional string attributes.
    """
    edge_attrs = edge_attrs or []
    nodes = (
        edges.select(F.col("node1").alias("n"))
        .union(edges.select(F.col("node2").alias("n")))
        .distinct()
    )

    with open(path, "w", encoding="utf-8") as fp:
        fp.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        fp.write(
            '<graphml xmlns="http://graphml.graphdrawing.org/xmlns" '
            'xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance" '
            'xsi:schemaLocation="http://graphml.graphdrawing.org/xmlns '
            'http://graphml.graphdrawing.org/xmlns/1.0/graphml.xsd">\n'
        )
        fp.write(
            '<key id="edpredicate" for="edge" attr.name="predicate" attr.type="string"/>\n'
        )
        for a in edge_attrs:
            fp.write(
                f'<key id="ed{_esc(a)}" for="edge" attr.name="{_esc(a)}" attr.type="string"/>\n'
            )
        fp.write('<graph id="G" edgedefault="directed">\n')
        for row in nodes.toLocalIterator():
            fp.write(f'<node id="{_esc(row["n"])}"/>\n')
        sel = edges.select("node1", "label", "node2", *edge_attrs)
        for row in sel.toLocalIterator():
            fp.write(
                f'<edge source="{_esc(row["node1"])}" target="{_esc(row["node2"])}">'
                f'<data key="edpredicate">{_esc(row["label"])}</data>'
            )
            for a in edge_attrs:
                v = row[a]
                if v is not None and v != "":
                    fp.write(f'<data key="ed{_esc(a)}">{_esc(str(v))}</data>')
            fp.write("</edge>\n")
        fp.write("</graph>\n</graphml>\n")
