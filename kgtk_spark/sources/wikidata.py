"""Wikidata JSON dump → KGTK node and edge files.

Reference: kgtk/cli/import_wikidata.py (1284 LoC) — a pyrallel process
pool over dump chunks writing numbered fragments. Spark replaces the
pool with ``spark.read.json`` input splits; claim datavalues map to
KGTK literals with the same conventions as the value kernel:

- wikibase-entityid → Qnode symbol
- string / external-id / url → "..." KGTK string
- monolingualtext → '...'@lang
- time → ^ISO/precision
- quantity → amount[lower,upper]Qunit
- globecoordinate → @lat/lon

Everything below is JVM-side column logic over the exploded claim
structs; no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LANG_VALUE = T.StructType(
    [T.StructField("language", T.StringType()), T.StructField("value", T.StringType())]
)
# datavalue payloads are heterogeneous: `"value"` is a bare JSON string
# for string/external-id/url claims but an object for entity/time/
# quantity/coordinate/monolingual claims. A fixed struct schema would
# silently NULL the string form (very common in real dumps), so the
# datavalue rides as a Spark 4 VARIANT and _value_to_kgtk extracts
# typed paths with try_variant_get.
_DATAVALUE = T.VariantType()
_SNAK = T.StructType(
    [
        T.StructField("snaktype", T.StringType()),
        T.StructField("property", T.StringType()),
        T.StructField("datavalue", _DATAVALUE),
    ]
)
_CLAIM = T.StructType(
    [
        T.StructField("mainsnak", _SNAK),
        T.StructField("rank", T.StringType()),
        T.StructField("qualifiers", T.MapType(T.StringType(), T.ArrayType(_SNAK))),
    ]
)

# Explicit schema: the dump's labels/descriptions/aliases/claims are
# JSON objects keyed by language/property — MAPs, which spark.read.json
# would otherwise infer as one mega-STRUCT per distinct key.
WIKIDATA_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("labels", T.MapType(T.StringType(), _LANG_VALUE)),
        T.StructField("descriptions", T.MapType(T.StringType(), _LANG_VALUE)),
        T.StructField("aliases", T.MapType(T.StringType(), T.ArrayType(_LANG_VALUE))),
        T.StructField("claims", T.MapType(T.StringType(), T.ArrayType(_CLAIM))),
    ]
)


def _value_to_kgtk(dv: Column) -> Column:
    """datavalue VARIANT → KGTK literal string."""
    def vg(path: str, t: str = "string") -> Column:
        return F.try_variant_get(dv, path, t)

    class _V:
        def __getitem__(self, name):
            if name == "precision":
                return vg("$.value.precision", "int")
            if name in ("latitude", "longitude"):
                return vg(f"$.value.{name}", "double")
            return vg(f"$.value.{name}")

    typ = vg("$.type")
    v = _V()
    quantity = F.concat(
        F.regexp_replace(v["amount"], r"^\+", ""),
        F.when(
            v["lowerBound"].isNotNull(),
            F.concat(
                F.lit("["),
                F.regexp_replace(v["lowerBound"], r"^\+", ""),
                F.lit(","),
                F.regexp_replace(v["upperBound"], r"^\+", ""),
                F.lit("]"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            v["unit"].isNotNull() & (v["unit"] != "1"),
            F.regexp_extract(v["unit"], r"(Q\d+)$", 1),
        ).otherwise(F.lit("")),
    )
    time = F.concat(
        F.lit("^"),
        F.regexp_replace(v["time"], r"^\+", ""),
        F.lit("/"),
        v["precision"].cast("string"),
    )
    coords = F.concat(
        F.lit("@"),
        F.format_string("%011.6f", v["latitude"].cast("double")),
        F.lit("/"),
        F.format_string("%011.6f", v["longitude"].cast("double")),
    )
    return (
        F.when(typ == "wikibase-entityid", v["id"])
        .when(typ == "monolingualtext", F.concat(F.lit("'"), v["text"], F.lit("'@"), v["language"]))
        .when(typ == "time", time)
        .when(typ == "quantity", quantity)
        .when(typ == "globecoordinate", coords)
        # string / external-id / url: the datavalue's value IS the string
        .otherwise(F.concat(F.lit('"'), vg("$.value"), F.lit('"')))
    )


def import_wikidata_jsonl(
    spark: SparkSession, path_or_df: str | DataFrame
) -> tuple[DataFrame, DataFrame]:
    """One entity-JSON per line → (nodes_df, edges_df).

    nodes: (id, label, type, description, alias) with ``|``-merged
    language-qualified strings (the reference's node-file layout);
    edges: (id, node1, label, node2) from truthy claim mainsnaks.
    """
    raw = (
        spark.read.schema(WIKIDATA_SCHEMA).json(path_or_df)
        if isinstance(path_or_df, str)
        else path_or_df
    )

    def lang_map_to_list(col_name: str) -> Column:
        # map<lang, {language, value}> → sorted | list of '...'@lang
        m = F.col(col_name)
        entries = F.map_values(m)
        return F.array_join(
            F.array_sort(
                F.transform(
                    entries,
                    lambda e: F.concat(
                        F.lit("'"), e["value"], F.lit("'@"), e["language"]
                    ),
                )
            ),
            "|",
        )

    has = set(raw.columns)
    nodes = raw.select(
        F.col("id"),
        lang_map_to_list("labels").alias("label") if "labels" in has else F.lit("").alias("label"),
        (F.col("type") if "type" in has else F.lit("item")).alias("type"),
        lang_map_to_list("descriptions").alias("description")
        if "descriptions" in has
        else F.lit("").alias("description"),
        (
            F.array_join(
                F.array_sort(
                    F.flatten(
                        F.transform(
                            F.map_values(F.col("aliases")),
                            lambda arr: F.transform(
                                arr,
                                lambda e: F.concat(
                                    F.lit("'"), e["value"], F.lit("'@"), e["language"]
                                ),
                            ),
                        )
                    )
                ),
                "|",
            )
            if "aliases" in has
            else F.lit("")
        ).alias("alias"),
    )

    empty_edges = spark.createDataFrame(
        [], "id string, node1 string, label string, node2 string"
    )
    if "claims" not in has:
        return nodes, empty_edges

    # claims: map<property, array<claim>>; keep value mainsnaks.
    exploded = raw.select(
        F.col("id").alias("node1"),
        F.explode(F.map_values(F.col("claims"))).alias("claim_group"),
    ).select("node1", F.explode("claim_group").alias("claim"))
    snak = F.col("claim")["mainsnak"]
    edges = (
        exploded.filter(snak["snaktype"] == "value")
        .select(
            "node1",
            snak["property"].alias("label"),
            _value_to_kgtk(snak["datavalue"]).alias("node2"),
        )
        .withColumn("id", F.concat_ws("-", "node1", "label", "node2"))
    )
    return nodes, edges.select("id", "node1", "label", "node2")
