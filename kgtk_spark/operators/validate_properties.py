"""`kgtk validate-properties` — declarative per-property constraints.

Reference: kgtk/value/propertypatternvalidator.py (2563 LoC, ~60 rule
actions). This implements the load-bearing rule families as broadcast
rule predicates over the value kernel's parsed fields:

value rules      node1_type / node2_type / node2_not_type,
                 node1_values / node2_values / node2_not_values,
                 node1_pattern / label_pattern / node2_pattern /
                 node2_not_pattern, node2_blank / node2_not_blank
numeric rules    minval / maxval (>= / <=), greater_than / less_than,
                 equal_to / not_equal_to
date rules       mindate / maxdate / greater_than_date / less_than_date /
                 equal_to_date / not_equal_to_date on the parsed
                 date_and_times field
validity rules   node1_is_valid / node2_is_valid (value-kernel valid
                 bit), node1_allow_list / node2_allow_list (|-list
                 shape), matches (any-of pattern set), reject
                 (property banned outright)
field rules      field_values / field_not_values / field_pattern /
                 field_not_pattern / field_blank / field_not_blank /
                 field_minval / field_maxval over the named parsed
                 node2 fields (propertypatternvalidator.py:1490-1597;
                 the parsed-fields struct carries every KgtkValueFields
                 member, so a field rule is one struct access)
id rules         id_pattern / id_not_pattern / id_blank / id_not_blank
                 on the id column (:1743-1827)
chain rules      node2_chain / id_chain: the value must occur as a
                 node1 somewhere in the file (:1463-1488, remote-row
                 existence via one distinct + left join)
cardinality      mindistinct / maxdistinct (distinct node2 per
                 (node1, label)), minoccurs / maxoccurs (rows per
                 (node1, label))
co-occurrence    requires / prohibits: other properties that must /
                 must not appear on the same node1
inheritance      isa: inherit the ROW-LEVEL rules of named datatype
                 patterns (multiple inheritance, loop-detected,
                 :1829-1869); switch / nextcase: the row must satisfy
                 at least one case chain (:1871-1941)
dataset rules    mustoccur (:2067-2080) via ``dataset_violations`` —
                 a whole-file check, so it reports (property, rule)
                 rows rather than tagging edges

Rules apply per ``label``; rows under no rule pass; patterns marked
``datatype=True`` never match by label and exist only as isa/switch
targets (the reference's datatype pseudo-properties). Returns
(valid_df, reject_df); the reject side carries a ``reject_reasons``
array column naming every failed ``label:rule`` so rejects are
actionable (the reference writes similar complaints to its log).

All predicates are Catalyst expressions; the only shuffles are the
aggregations that cardinality / co-occurrence / chain rules genuinely
need (skipped entirely when no such rule is present). isa/switch
expansion happens driver-side over the (tiny) pattern list.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgtk_spark.values import VALUE_FIELDS_SCHEMA, parse_fields_udf

_FIELD_NAMES = frozenset(f.name for f in VALUE_FIELDS_SCHEMA.fields)


@dataclass
class PropertyPattern:
    label: str
    node1_type: list[str] | None = None
    node2_type: list[str] | None = None
    node2_not_type: list[str] | None = None
    node1_values: list[str] | None = None
    node2_values: list[str] | None = None
    node2_not_values: list[str] | None = None
    node1_pattern: str | None = None
    label_pattern: str | None = None
    node2_pattern: str | None = None
    node2_not_pattern: str | None = None
    node2_blank: bool = False
    node2_not_blank: bool = False
    minval: float | None = None
    maxval: float | None = None
    greater_than: float | None = None
    less_than: float | None = None
    equal_to: list[float] | None = None
    not_equal_to: list[float] | None = None
    mindate: str | None = None
    maxdate: str | None = None
    greater_than_date: str | None = None
    less_than_date: str | None = None
    equal_to_date: list[str] | None = None
    not_equal_to_date: list[str] | None = None
    # validity / list-shape rules (propertypatternvalidator.py actions
    # NODE*_IS_VALID and NODE*_ALLOW_LIST)
    node1_is_valid: bool = False
    node2_is_valid: bool = False
    node1_allow_list: bool = True
    node2_allow_list: bool = True
    # MATCHES: value must match at least one of the patterns
    matches: list[str] | None = None
    # REJECT: the property is banned outright (truth action)
    reject: bool = False
    mindistinct: int | None = None
    maxdistinct: int | None = None
    minoccurs: int | None = None
    maxoccurs: int | None = None
    requires: list[str] | None = None
    prohibits: list[str] | None = None
    # field_* rules over the named parsed node2 fields
    field_name: list[str] | None = None
    field_values: list[str] | None = None
    field_not_values: list[str] | None = None
    field_pattern: str | None = None
    field_not_pattern: str | None = None
    field_blank: bool = False
    field_not_blank: bool = False
    field_minval: float | None = None
    field_maxval: float | None = None
    # id_* rules on the id column
    id_pattern: str | None = None
    id_not_pattern: str | None = None
    id_blank: bool = False
    id_not_blank: bool = False
    # chain rules: value must occur as a node1 in the file
    node2_chain: bool = False
    id_chain: bool = False
    # structure
    mustoccur: bool = False
    datatype: bool = False  # isa/switch target only, never matched by label
    isa: list[str] | None = None
    switch: list[str] | None = None
    nextcase: str | None = None


def _row_rules(p: PropertyPattern) -> list[tuple[str, Column]]:
    """(rule_name, ok_condition) pairs evaluable per row."""
    n2num = F.col("__f2__.number")
    n2date = F.col("__f2__.date_and_times")
    rules: list[tuple[str, Column]] = []
    if p.node1_type:
        rules.append(("node1_type", F.col("__f1__.data_type").isin(p.node1_type)))
    if p.node2_type:
        rules.append(("node2_type", F.col("__f2__.data_type").isin(p.node2_type)))
    if p.node2_not_type:
        rules.append(
            ("node2_not_type", ~F.col("__f2__.data_type").isin(p.node2_not_type))
        )
    if p.node1_values:
        rules.append(("node1_values", F.col("node1").isin(p.node1_values)))
    if p.node2_values:
        rules.append(("node2_values", F.col("node2").isin(p.node2_values)))
    if p.node2_not_values:
        rules.append(("node2_not_values", ~F.col("node2").isin(p.node2_not_values)))
    if p.node1_pattern:
        rules.append(("node1_pattern", F.col("node1").rlike(p.node1_pattern)))
    if p.label_pattern:
        rules.append(("label_pattern", F.col("label").rlike(p.label_pattern)))
    if p.node2_pattern:
        rules.append(("node2_pattern", F.col("node2").rlike(p.node2_pattern)))
    if p.node2_not_pattern:
        rules.append(("node2_not_pattern", ~F.col("node2").rlike(p.node2_not_pattern)))
    if p.node2_blank:
        rules.append(("node2_blank", F.col("node2") == ""))
    if p.node2_not_blank:
        rules.append(("node2_not_blank", F.col("node2") != ""))
    if p.minval is not None:
        rules.append(("minval", n2num >= p.minval))
    if p.maxval is not None:
        rules.append(("maxval", n2num <= p.maxval))
    if p.greater_than is not None:
        rules.append(("greater_than", n2num > p.greater_than))
    if p.less_than is not None:
        rules.append(("less_than", n2num < p.less_than))
    if p.equal_to:
        rules.append(("equal_to", n2num.isin(p.equal_to)))
    if p.not_equal_to:
        rules.append(("not_equal_to", ~n2num.isin(p.not_equal_to)))
    # ISO-8601 strings compare lexicographically within one format.
    if p.mindate is not None:
        rules.append(("mindate", n2date >= p.mindate))
    if p.maxdate is not None:
        rules.append(("maxdate", n2date <= p.maxdate))
    if p.greater_than_date is not None:
        rules.append(("greater_than_date", n2date > p.greater_than_date))
    if p.less_than_date is not None:
        rules.append(("less_than_date", n2date < p.less_than_date))
    if p.equal_to_date:
        rules.append(("equal_to_date", n2date.isin(p.equal_to_date)))
    if p.not_equal_to_date:
        rules.append(("not_equal_to_date", ~n2date.isin(p.not_equal_to_date)))

    # validity / list-shape / pattern-set / outright-reject actions
    if p.node1_is_valid:
        rules.append(("node1_is_valid", F.col("__f1__.valid")))
    if p.node2_is_valid:
        rules.append(("node2_is_valid", F.col("__f2__.valid")))
    if not p.node1_allow_list:
        rules.append(
            ("node1_allow_list", F.coalesce(F.col("__f1__.list_len"), F.lit(1)) <= 1)
        )
    if not p.node2_allow_list:
        rules.append(
            ("node2_allow_list", F.coalesce(F.col("__f2__.list_len"), F.lit(1)) <= 1)
        )
    if p.matches:
        any_match = F.lit(False)
        for pat in p.matches:
            any_match = any_match | F.col("node2").rlike(pat)
        rules.append(("matches", any_match))
    if p.reject:
        rules.append(("reject", F.lit(False)))

    # field_* rules: each named field of the parsed node2 struct is one
    # struct access; a missing field stringifies to "" like the
    # reference's field_value_map fallback (:1517-1523).
    has_field_rules = any(
        [
            p.field_values,
            p.field_not_values,
            p.field_pattern,
            p.field_not_pattern,
            p.field_blank,
            p.field_not_blank,
            p.field_minval is not None,
            p.field_maxval is not None,
        ]
    )
    if has_field_rules:
        if not p.field_name:
            raise ValueError(
                f"pattern {p.label!r} has field_* rules but no field_name"
            )
        for fname in p.field_name:
            if fname not in _FIELD_NAMES:
                raise ValueError(f"unknown value field {fname!r}")
            fs = F.coalesce(F.col(f"__f2__.{fname}").cast("string"), F.lit(""))
            fn = F.col(f"__f2__.{fname}").cast("double")
            tag = f"field:{fname}"
            if p.field_values:
                rules.append((f"{tag}:values", fs.isin(p.field_values)))
            if p.field_not_values:
                rules.append((f"{tag}:not_values", ~fs.isin(p.field_not_values)))
            if p.field_pattern:
                rules.append((f"{tag}:pattern", fs.rlike(p.field_pattern)))
            if p.field_not_pattern:
                rules.append((f"{tag}:not_pattern", ~fs.rlike(p.field_not_pattern)))
            if p.field_blank:
                rules.append((f"{tag}:blank", fs == ""))
            if p.field_not_blank:
                rules.append((f"{tag}:not_blank", fs != ""))
            if p.field_minval is not None:
                rules.append((f"{tag}:minval", fn >= p.field_minval))
            if p.field_maxval is not None:
                rules.append((f"{tag}:maxval", fn <= p.field_maxval))

    # id_* rules on the id column (empty string when the file has none).
    idc = F.coalesce(F.col("__id__"), F.lit(""))
    if p.id_pattern:
        rules.append(("id_pattern", idc.rlike(p.id_pattern)))
    if p.id_not_pattern:
        rules.append(("id_not_pattern", ~idc.rlike(p.id_not_pattern)))
    if p.id_blank:
        rules.append(("id_blank", idc == ""))
    if p.id_not_blank:
        rules.append(("id_not_blank", idc != ""))

    # chain rules: the value occurs as a node1 somewhere in the file
    # (precomputed existence columns — one distinct + left join each).
    if p.node2_chain:
        rules.append(("node2_chain", F.coalesce(F.col("__n2chain__"), F.lit(False))))
    if p.id_chain:
        rules.append(("id_chain", F.coalesce(F.col("__idchain__"), F.lit(False))))
    return rules


def _expand_isa(
    p: PropertyPattern,
    by_name: dict[str, PropertyPattern],
    stack: tuple[str, ...] = (),
) -> list[tuple[str, PropertyPattern]]:
    """(reason_tag, pattern) for p plus its isa ancestors, depth-first,
    loop-detected (propertypatternvalidator.py:1829-1869). Reasons are
    tagged with the ancestor's own name, like the reference's
    per-datatype complaints."""
    if p.label in stack:
        raise ValueError(f"isa loop detected at {p.label!r}")
    out = [(p.label, p)]
    for parent in p.isa or []:
        pp = by_name.get(parent)
        if pp is None:
            raise ValueError(f"unknown isa target {parent!r}")
        out.extend(_expand_isa(pp, by_name, (*stack, p.label)))
    return out


def _case_chain(
    name: str, by_name: dict[str, PropertyPattern]
) -> list[PropertyPattern]:
    """A switch case plus its nextcase successors (:1871-1941)."""
    out: list[PropertyPattern] = []
    seen: set[str] = set()
    cur: str | None = name
    while cur is not None and cur not in seen:
        seen.add(cur)
        pp = by_name.get(cur)
        if pp is None:
            raise ValueError(f"unknown switch/nextcase target {cur!r}")
        out.append(pp)
        cur = pp.nextcase
    return out


def _conforms(p: PropertyPattern, by_name: dict[str, PropertyPattern]) -> Column:
    """TRUE iff the row satisfies every row-level rule of p and its isa
    ancestors (used for switch cases; aggregate rules are row-external
    and intentionally out of switch scope)."""
    cond = F.lit(True)
    for _, pat in _expand_isa(p, by_name):
        for _, ok in _row_rules(pat):
            cond = cond & F.coalesce(ok, F.lit(False))
    return cond


def validate_properties(
    edges: DataFrame, patterns: list[PropertyPattern]
) -> tuple[DataFrame, DataFrame]:
    """Split edges into (conforming, violating); violations carry a
    ``reject_reasons`` array naming each failed ``label:rule``."""
    by_name = {p.label: p for p in patterns}
    parsed = edges.withColumn("__f1__", parse_fields_udf(F.col("node1"))).withColumn(
        "__f2__", parse_fields_udf(F.col("node2"))
    )
    parsed = parsed.withColumn(
        "__id__", F.col("id") if "id" in edges.columns else F.lit("")
    )

    need_distinct = any(
        p.mindistinct is not None or p.maxdistinct is not None for p in patterns
    )
    need_occurs = any(
        p.minoccurs is not None or p.maxoccurs is not None for p in patterns
    )
    need_labels = any(p.requires or p.prohibits for p in patterns)
    need_n2chain = any(p.node2_chain for p in patterns)
    need_idchain = any(p.id_chain for p in patterns)

    if need_n2chain or need_idchain:
        n1s = (
            edges.select(F.col("node1").alias("__cn1__"))
            .distinct()
            .withColumn("__chain_hit__", F.lit(True))
        )
        if need_n2chain:
            parsed = (
                parsed.join(n1s, parsed["node2"] == n1s["__cn1__"], "left")
                .withColumnRenamed("__chain_hit__", "__n2chain__")
                .drop("__cn1__")
            )
        if need_idchain:
            parsed = (
                parsed.join(n1s, parsed["__id__"] == n1s["__cn1__"], "left")
                .withColumnRenamed("__chain_hit__", "__idchain__")
                .drop("__cn1__")
            )

    if need_distinct or need_occurs:
        counts = parsed.groupBy("node1", "label").agg(
            F.countDistinct("node2").alias("__nd__"),
            F.count(F.lit(1)).alias("__nr__"),
        )
        parsed = parsed.join(counts, ["node1", "label"], "left")
    if need_labels:
        label_sets = parsed.groupBy("node1").agg(
            F.collect_set("label").alias("__labels__")
        )
        parsed = parsed.join(label_sets, "node1", "left")

    reason_arrays: list[Column] = []

    def add(applies: Column, label: str, name: str, ok: Column):
        reason_arrays.append(
            F.when(
                applies & ~F.coalesce(ok, F.lit(False)),
                F.array(F.lit(f"{label}:{name}")),
            ).otherwise(F.array().cast("array<string>"))
        )

    for p in patterns:
        if p.datatype:
            continue  # isa/switch target only
        applies = F.col("label") == p.label
        # own rules + row-level rules inherited through isa, each tagged
        # with the owning datatype's name (reference complaint style)
        for tag, pat in _expand_isa(p, by_name):
            for name, ok in _row_rules(pat):
                add(applies, tag, name, ok)
        if p.switch:
            case_ok = F.lit(False)
            for case in p.switch:
                for pat in _case_chain(case, by_name):
                    case_ok = case_ok | _conforms(pat, by_name)
            add(applies, p.label, "switch", case_ok)
        if p.mindistinct is not None:
            add(applies, p.label, "mindistinct", F.col("__nd__") >= p.mindistinct)
        if p.maxdistinct is not None:
            add(applies, p.label, "maxdistinct", F.col("__nd__") <= p.maxdistinct)
        if p.minoccurs is not None:
            add(applies, p.label, "minoccurs", F.col("__nr__") >= p.minoccurs)
        if p.maxoccurs is not None:
            add(applies, p.label, "maxoccurs", F.col("__nr__") <= p.maxoccurs)
        for req in p.requires or []:
            add(
                applies,
                p.label,
                f"requires:{req}",
                F.array_contains(F.col("__labels__"), req),
            )
        for pro in p.prohibits or []:
            add(
                applies,
                p.label,
                f"prohibits:{pro}",
                ~F.array_contains(F.col("__labels__"), pro),
            )

    if reason_arrays:
        parsed = parsed.withColumn("__reasons__", F.concat(*reason_arrays))
    else:
        parsed = parsed.withColumn("__reasons__", F.array().cast("array<string>"))

    drop = [c for c in parsed.columns if c.startswith("__")]
    valid = parsed.filter(F.size("__reasons__") == 0).drop(*drop)
    reject = (
        parsed.filter(F.size("__reasons__") > 0)
        .withColumn("reject_reasons", F.col("__reasons__"))
        .drop(*drop)
    )
    return valid, reject


def dataset_violations(
    edges: DataFrame, patterns: list[PropertyPattern]
) -> DataFrame:
    """Whole-file rules that cannot tag a row: ``mustoccur`` properties
    that never appear in the label column
    (propertypatternvalidator.py:2067-2080,2099). Returns
    ``(property, rule)`` rows — empty when everything required occurs."""
    spark = edges.sparkSession
    required = sorted({p.label for p in patterns if p.mustoccur})
    if not required:
        return spark.createDataFrame([], "property string, rule string")
    req = spark.createDataFrame(pa.table({"property": pa.array(required, pa.string())}))
    present = edges.select(F.col("label").alias("property")).distinct()
    return req.join(present, "property", "left_anti").withColumn(
        "rule", F.lit("mustoccur")
    )


# ---------------------------------------------------------------------------
# Pattern-file loader (the reference feeds the validator from a KGTK
# edge file: node1 = property-or-datatype, label = action, node2 =
# value; propertypatternvalidator.py:316-560)
# ---------------------------------------------------------------------------

_LIST_ACTIONS = {
    "node1_type", "node2_type", "node2_not_type",
    "node1_values", "node2_values", "node2_not_values",
    "requires", "prohibits", "field_name", "field_values",
    "field_not_values", "isa", "switch", "matches",
}
_PATTERN_ACTIONS = {
    "node1_pattern", "label_pattern", "node2_pattern", "node2_not_pattern",
    "field_pattern", "field_not_pattern", "id_pattern", "id_not_pattern",
}
_FLOAT_ACTIONS = {"minval", "maxval", "greater_than", "less_than",
                  "field_minval", "field_maxval"}
_FLOAT_LIST_ACTIONS = {"equal_to", "not_equal_to"}
_INT_ACTIONS = {"minoccurs", "maxoccurs", "mindistinct", "maxdistinct"}
_DATE_ACTIONS = {"mindate", "maxdate", "greater_than_date", "less_than_date"}
_DATE_LIST_ACTIONS = {"equal_to_date", "not_equal_to_date"}
_BOOL_ACTIONS = {
    "node2_blank", "node2_not_blank", "field_blank", "field_not_blank",
    "id_blank", "id_not_blank", "node2_chain", "id_chain", "mustoccur",
    "reject", "node1_is_valid", "node2_is_valid",
    "node1_allow_list", "node2_allow_list", "datatype",
}
_STR_ACTIONS = {"nextcase"}


import re as _re

# split on unescaped '|' (KGTK list separator)
_PIPE_SPLIT_RE = _re.compile(r"(?<!\\)\|")


def _cell_items(value: str) -> list[str]:
    """Split a |-list cell and unstringify each quoted item."""
    from kgtk_spark.values import destringify

    out = []
    for item in _PIPE_SPLIT_RE.split(value):
        if item.startswith('"') or item.startswith("'"):
            out.append(destringify(item)[0])
        else:
            out.append(item)
    return out


def load_property_patterns(rows) -> list[PropertyPattern]:
    """Build PropertyPattern objects from pattern-file rows.

    ``rows`` is a DataFrame or an iterable of (node1, label, node2).
    Unknown actions raise (matching the reference's hard error,
    propertypatternvalidator.py:329-331). Patterns referenced as
    isa/switch/nextcase targets are marked ``datatype=True`` (they
    exist to be inherited, not matched by label), unless the file says
    otherwise explicitly via a ``datatype`` action row.
    """
    from pyspark.sql import DataFrame as _DF

    if isinstance(rows, _DF):
        rows = [(r["node1"], r["label"], r["node2"]) for r in rows.collect()]

    acc: dict[str, dict] = {}
    explicit_dt: set[str] = set()
    valid_fields = {f for f in PropertyPattern.__dataclass_fields__}
    for i, (prop, action, value) in enumerate(rows):
        if action not in valid_fields:
            raise ValueError(f"pattern row {i}: unknown action {action!r}")
        d = acc.setdefault(prop, {})
        if action in _BOOL_ACTIONS:
            d[action] = value.strip().lower() in ("true", "1", "yes")
            if action == "datatype":
                explicit_dt.add(prop)
        elif action in _PATTERN_ACTIONS:
            pats = _cell_items(value)
            merged = pats if action not in d else [d[action], *pats]
            d[action] = (
                merged[0]
                if len(merged) == 1
                else "|".join(f"(?:{p})" for p in merged)
            )
        elif action in _LIST_ACTIONS:
            d.setdefault(action, []).extend(_cell_items(value))
        elif action in _FLOAT_ACTIONS:
            d[action] = float(value)
        elif action in _FLOAT_LIST_ACTIONS:
            d.setdefault(action, []).extend(float(x) for x in _cell_items(value))
        elif action in _INT_ACTIONS:
            d[action] = int(float(value))
        elif action in _DATE_ACTIONS:
            d[action] = value.lstrip("^")
        elif action in _DATE_LIST_ACTIONS:
            d.setdefault(action, []).extend(
                x.lstrip("^") for x in _cell_items(value)
            )
        elif action in _STR_ACTIONS:
            d[action] = value

    # isa/switch/nextcase targets default to datatype-only
    targets: set[str] = set()
    for d in acc.values():
        targets.update(d.get("isa", []))
        targets.update(d.get("switch", []))
        if d.get("nextcase"):
            targets.add(d["nextcase"])
    out = []
    for prop, d in acc.items():
        if prop in targets and prop not in explicit_dt:
            d["datatype"] = True
        out.append(PropertyPattern(label=prop, **d))
    return out
