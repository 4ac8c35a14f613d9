"""Wikidata RDF TripleGenerator: KGTK edges → Wikidata-model triples.

Reference: kgtk/generator.py:156-520 (TripleGenerator). The reference
streams edges one at a time through etk/rdflib entity objects and
serializes Turtle; statement/qualifier pairing relies on input line
order. This re-expression is set-oriented and order-free:

- statement edges produce ``wd:<subj> p:<prop> wds:<subj>-<id>``, the
  statement node typing/rank triples, ``ps:<prop> <value>`` and (in
  truthy mode) the direct ``wdt:<prop> <value>`` triple;
- qualifier edges are rows whose node1 equals a statement edge's id —
  resolved with a JOIN against the statement-id map instead of the
  reference's to_append_statement cursor, so qualifiers of corrupted
  (dropped) statements disappear naturally with the join;
- per-datatype value rendering mirrors generator.py:330-425: items,
  strings/external ids, validated URLs, times (yyyy, yyyy-mm-dd and
  ^ISO/precision forms), quantities (amount[lower,upper]Unit), globe
  coordinates and monolingual text;
- label/description/alias edges map to rdfs:label + schema:name +
  skos:prefLabel / schema:description / skos:altLabel literals;
- properties referenced as subjects or declared via ``data_type``
  edges emit the wikibase:Property system block (claim, directClaim,
  qualifier, reference, statement* — generator.py's WDProperty).

Output is a DataFrame of (subject, predicate, object) in CURIE /
N-Triples term syntax — triple-SET parity with the reference's graph;
Turtle pretty-printing (grouping, ordering) is serialization noise the
reference delegates to rdflib.

Everything is JVM expressions; no Python runs per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# generator.py:26-27 BAD_CHARS → '_' (one JVM translate call).
_BAD_CHARS = ":&, ()'\"/\\[];|"

# wikibase:propertyType names per KGTK datatype (generator.py:164-196
# maps these onto etk value classes; url deliberately rides String).
PROPERTY_TYPES = {
    "item": "WikibaseItem",
    "WikibaseItem": "WikibaseItem",
    "time": "Time",
    "Time": "Time",
    "globe-coordinate": "GlobeCoordinate",
    "GlobeCoordinate": "GlobeCoordinate",
    "quantity": "Quantity",
    "Quantity": "Quantity",
    "monolingualtext": "Monolingualtext",
    "Monolingualtext": "Monolingualtext",
    "string": "String",
    "String": "String",
    "external-identifier": "ExternalId",
    "ExternalId": "ExternalId",
    "url": "String",
    "Url": "String",
    "property": "WikibaseProperty",
    "WikibaseProperty": "WikibaseProperty",
}

_PROPERTY_SYSTEM = [
    ("wikibase:claim", "p:"),
    ("wikibase:directClaim", "wdt:"),
    ("wikibase:directClaimNormalized", "wdtn:"),
    ("wikibase:novalue", "wdno:"),
    ("wikibase:qualifier", "pq:"),
    ("wikibase:qualifierValue", "pqv:"),
    ("wikibase:qualifierValueNormalized", "pqn:"),
    ("wikibase:reference", "pr:"),
    ("wikibase:referenceValue", "prv:"),
    ("wikibase:referenceValueNormalized", "prn:"),
    ("wikibase:statementProperty", "ps:"),
    ("wikibase:statementValue", "psv:"),
    ("wikibase:statementValueNormalized", "psn:"),
]


def _clean_id(c: Column) -> Column:
    """replace_illegal_string (generator.py:147-153)."""
    return F.translate(c, _BAD_CHARS, "_" * len(_BAD_CHARS))


def _escape_literal(c: Column) -> Column:
    c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    return F.replace(c, F.lit("\r"), F.lit("\\r"))


def _text_and_lang(c: Column) -> tuple[Column, Column]:
    """process_text_string (generator.py:98-115): split on the LAST
    '@', strip quote characters, default/overflow language 'en'."""
    has_at = c.contains("@")
    text = F.when(has_at, F.regexp_extract(c, r"^(.*)@([^@]*)$", 1)).otherwise(c)
    lang = F.when(has_at, F.regexp_extract(c, r"^(.*)@([^@]*)$", 2)).otherwise("en")
    strip_q = lambda x: F.translate(x, "\"'", "")  # noqa: E731
    text = strip_q(text)
    lang = strip_q(lang)
    lang = F.when((F.length(lang) > 2) | (F.length(lang) == 0), "en").otherwise(lang)
    return text, lang


def _lang_literal(c: Column) -> Column:
    text, lang = _text_and_lang(c)
    return F.concat(F.lit('"'), _escape_literal(text), F.lit('"@'), lang)


def _clean_number(c: Column) -> Column:
    """clean_number_string (generator.py:139-145): positional decimal
    repr with trailing zeros trimmed. Plain decimal strings normalize
    textually (exact); scientific notation goes through DOUBLE →
    DECIMAL(38,18) (documented precision bound)."""
    plain = c.rlike(r"^[+-]?[0-9]+(\.[0-9]*)?$")
    norm_plain = F.regexp_replace(c, r"^\+", "")
    norm_plain = F.regexp_replace(norm_plain, r"^(-?)\.", r"$10.")
    norm_plain = F.when(
        norm_plain.contains("."),
        F.regexp_replace(F.regexp_replace(norm_plain, r"0+$", ""), r"\.$", ""),
    ).otherwise(norm_plain)
    norm_sci = F.regexp_replace(
        F.regexp_replace(
            c.cast("double").cast("decimal(38,18)").cast("string"), r"0+$", ""
        ),
        r"\.$",
        "",
    )
    return F.when(c.isNull(), F.lit(None)).when(plain, norm_plain).otherwise(norm_sci)


# --- per-datatype object rendering (generator.py:330-425) -------------------

_TIME_YMD = r"^[12]\d{3}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])"
_TIME_Y = r"^[12]\d{3}"
_QUANTITY = r"^([+-]?[0-9]+\.?[0-9]*[eE]?[-]?[0-9]*)(?:\[([+-]?[0-9]+\.?[0-9]*),([+-]?[0-9]+\.?[0-9]*)\])?([UQ].*)?$"


def _render_time(node2: Column) -> Column:
    iso = F.regexp_replace(F.regexp_replace(node2, r"^\^", ""), r"^\+", "")
    iso_dt = F.element_at(F.split(iso, "/"), 1)
    iso_dt = F.regexp_replace(iso_dt, r"Z$", "")
    lit = lambda d: F.concat(F.lit('"'), d, F.lit('"^^xsd:dateTime'))  # noqa: E731
    return (
        F.when(node2.rlike(_TIME_YMD), lit(node2))
        .when(node2.rlike(_TIME_Y), lit(F.concat(node2, F.lit("-01-01"))))
        .when(
            node2.startswith("^") & node2.contains("/"),
            lit(iso_dt),
        )
        .otherwise(F.lit(None))
    )


def _render_quantity(node2: Column) -> Column:
    amount = F.regexp_extract(node2, _QUANTITY, 1)
    return F.when(
        amount != "",
        F.concat(F.lit('"'), _clean_number(amount), F.lit('"^^xsd:decimal')),
    ).otherwise(F.lit(None))


def _render_coordinate(node2: Column) -> Column:
    body = F.substring(node2, 2, 2_000_000)
    lat = F.element_at(F.split(body, "/"), 1).cast("double")
    lon = F.element_at(F.split(body, "/"), 2).cast("double")
    return F.when(
        lat.isNotNull() & lon.isNotNull(),
        F.concat(
            F.lit('"Point('),
            lon.cast("string"),
            F.lit(" "),
            lat.cast("string"),
            F.lit(')"^^geo:wktLiteral'),
        ),
    ).otherwise(F.lit(None))


_URL_OK = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#\s]+"


def _render_object(node2: Column, dtype: Column) -> Column:
    """Datatype-driven term rendering; NULL marks a corrupted edge."""
    string_lit = F.concat(F.lit('"'), _escape_literal(node2), F.lit('"^^xsd:string'))
    return (
        F.when(dtype.isin("item", "WikibaseItem"), F.concat(F.lit("wd:"), _clean_id(node2)))
        .when(
            dtype.isin("property", "WikibaseProperty"),
            F.concat(F.lit("wd:"), _clean_id(node2)),
        )
        .when(dtype.isin("time", "Time"), _render_time(node2))
        .when(dtype.isin("quantity", "Quantity"), _render_quantity(node2))
        .when(dtype.isin("globe-coordinate", "GlobeCoordinate"), _render_coordinate(node2))
        .when(dtype.isin("monolingualtext", "Monolingualtext"), _lang_literal(node2))
        .when(
            dtype.isin("url", "Url"),
            F.when(node2.rlike(_URL_OK), string_lit).otherwise(F.lit(None)),
        )
        .otherwise(string_lit)  # string / external-identifier / unknown
    )


def generate_wikidata_triples(
    edges: DataFrame,
    property_types: DataFrame,
    truthy: bool = True,
    use_id: bool = True,
    label_set: tuple[str, ...] = ("label",),
    description_set: tuple[str, ...] = ("descriptions",),
    alias_set: tuple[str, ...] = ("aliases",),
) -> DataFrame:
    """KGTK edge file (node1, label, node2, id) + property-datatype map
    (node1=property, node2=datatype) → (subject, predicate, object)
    triple set in the Wikidata RDF model."""
    props = F.broadcast(
        property_types.select(
            F.col("node1").alias("__prop__"), F.col("node2").alias("__dtype__")
        ).distinct()
    )

    lbl = list(label_set)
    dsc = list(description_set)
    als = list(alias_set)
    meta_props = [*lbl, *dsc, *als, "data_type"]

    parts: list[DataFrame] = []

    def t3(s, p, o):
        """One (subject, predicate, object) struct element."""
        return F.struct(s.alias("subject"), p.alias("predicate"), o.alias("object"))

    def emit(df, elements: list):
        """Explode an array of triple structs — ONE branch per source
        frame instead of one union branch per predicate (a 22-branch
        union plan measured ~10 s of pure stage overhead on 25 rows)."""
        arr = F.filter(
            F.array(*elements), lambda x: x["subject"].isNotNull()
        )
        parts.append(
            df.select(F.explode(arr).alias("t")).select(
                "t.subject", "t.predicate", "t.object"
            )
        )

    # --- label / description / alias edges (generator.py:299-318) ---
    wd_node1 = F.concat(F.lit("wd:"), _clean_id(F.col("node1")))
    meta_edges = edges.filter(F.col("label").isin([*lbl, *dsc, *als]))
    lit = _lang_literal(F.col("node2"))
    is_lbl = F.col("label").isin(lbl)
    is_dsc = F.col("label").isin(dsc)

    def when_meta(cond, pred):
        return F.when(
            cond, t3(wd_node1, F.lit(pred), lit)
        ).otherwise(t3(F.lit(None).cast("string"), F.lit(""), F.lit("")))

    emit(
        meta_edges,
        [
            when_meta(is_lbl, "rdfs:label"),
            when_meta(is_lbl, "schema:name"),
            when_meta(is_lbl, "skos:prefLabel"),
            when_meta(is_dsc, "schema:description"),
            when_meta(~is_lbl & ~is_dsc, "skos:altLabel"),
        ],
    )

    # --- statement edges -------------------------------------------------
    stmts = (
        edges.filter(~F.col("label").isin(meta_props))
        .join(props, edges["label"] == props["__prop__"], "inner")
        .withColumn("__obj__", _render_object(F.col("node2"), F.col("__dtype__")))
    )
    # A statement id is known before corruption filtering; qualifiers
    # are rows whose node1 IS another edge's id, so split on that.
    stmt_ids = stmts.select(F.col("id").alias("__sid__")).distinct()
    quals = stmts.join(stmt_ids, stmts["node1"] == stmt_ids["__sid__"], "left_semi")
    stmts = stmts.join(stmt_ids, stmts["node1"] == stmt_ids["__sid__"], "left_anti")

    good = stmts.filter(F.col("__obj__").isNotNull())
    sid = F.concat(
        F.lit("wds:"), _clean_id(F.col("node1")), F.lit("-"), _clean_id(F.col("id"))
    ) if use_id else F.concat(F.lit("wds:"), _clean_id(F.col("id")))

    none3 = t3(F.lit(None).cast("string"), F.lit(""), F.lit(""))
    stmt_elements = [
        t3(wd_node1, F.concat(F.lit("p:"), F.col("label")), sid),
        t3(sid, F.lit("rdf:type"), F.lit("wikibase:Statement")),
        t3(sid, F.concat(F.lit("ps:"), F.col("label")), F.col("__obj__")),
        # item-valued objects are entities in their own right (:425-427)
        F.when(
            F.col("__dtype__").isin("item", "WikibaseItem"),
            t3(F.col("__obj__"), F.lit("rdf:type"), F.lit("wikibase:Item")),
        ).otherwise(none3),
    ]
    if truthy:
        stmt_elements += [
            t3(sid, F.lit("wikibase:rank"), F.lit("wikibase:BestRank")),
            t3(wd_node1, F.concat(F.lit("wdt:"), F.col("label")), F.col("__obj__")),
        ]
    emit(good, stmt_elements)

    # --- qualifier edges (node1 = statement id; generator.py:430-436) ----
    good_stmt_map = good.select(
        F.col("id").alias("__qsid__"), sid.alias("__stmt_node__")
    ).distinct()
    gq = (
        quals.filter(F.col("__obj__").isNotNull())
        .join(good_stmt_map, quals["node1"] == good_stmt_map["__qsid__"], "inner")
    )
    emit(
        gq,
        [
            t3(
                F.col("__stmt_node__"),
                F.concat(F.lit("pq:"), F.col("label")),
                F.col("__obj__"),
            )
        ],
    )

    # --- subject typing ---------------------------------------------------
    subjects = edges.filter(~F.col("label").isin(meta_props)).join(
        stmt_ids, edges["node1"] == stmt_ids["__sid__"], "left_anti"
    ).select("node1").union(
        meta_edges.select("node1")
    ).distinct()
    subj_typed = subjects.join(
        props, subjects["node1"] == props["__prop__"], "left"
    )
    emit(
        subj_typed,
        [
            t3(
                F.concat(F.lit("wd:"), _clean_id(F.col("node1"))),
                F.lit("rdf:type"),
                F.when(F.col("__dtype__").isNotNull(), "wikibase:Property").otherwise(
                    "wikibase:Item"
                ),
            )
        ],
    )

    # --- property system block (WDProperty; declarations included) -------
    declared = edges.filter(F.col("label") == "data_type").select(
        F.col("node1").alias("__prop__"), F.col("node2").alias("__dtype__")
    )
    all_props = props.union(declared).distinct()
    used_props = (
        subjects.join(all_props, subjects["node1"] == all_props["__prop__"], "inner")
        .select(
            F.concat(F.lit("wd:"), F.col("node1")).alias("wdp"),
            F.col("node1").alias("pname"),
            F.col("__dtype__").alias("dtype"),
        )
        .distinct()
    )
    type_map = F.create_map(*[F.lit(x) for kv in PROPERTY_TYPES.items() for x in kv])
    emit(
        used_props,
        [
            t3(
                F.col("wdp"),
                F.lit("wikibase:propertyType"),
                F.concat(F.lit("wikibase:"), type_map[F.col("dtype")]),
            ),
            *[
                t3(F.col("wdp"), F.lit(pred), F.concat(F.lit(prefix), F.col("pname")))
                for pred, prefix in _PROPERTY_SYSTEM
            ],
        ],
    )

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()
