"""Core KGTK edge-file operators as DataFrame → DataFrame functions.

Each function mirrors one reference CLI command's semantics (citations in
docstrings) but is expressed declaratively so Catalyst handles pushdown,
pruning, and join strategy. Functions never collect(); reject channels are
returned as a second DataFrame.
"""

from kgtk_spark.operators.filter_op import kgtk_filter
from kgtk_spark.operators.ifexists import if_empty, if_exists, if_not_exists
from kgtk_spark.operators.join_op import kgtk_join
from kgtk_spark.operators.cat_op import kgtk_cat
from kgtk_spark.operators.compact import deduplicate, kgtk_compact
from kgtk_spark.operators.unique_op import kgtk_unique
from kgtk_spark.operators.add_id import add_id
from kgtk_spark.operators.lift import kgtk_lift, kgtk_lower
from kgtk_spark.operators.reshape import (
    kgtk_expand,
    kgtk_explode,
    kgtk_implode,
    normalize_nodes,
)
from kgtk_spark.operators.columns import (
    kgtk_calc,
    remove_columns,
    rename_columns,
    reorder_columns,
    kgtk_sort,
    kgtk_head,
)
from kgtk_spark.operators.clean import kgtk_clean
from kgtk_spark.operators.unreify import unreify_rdf_statements, unreify_values
from kgtk_spark.operators.validate_properties import (
    PropertyPattern,
    validate_properties,
)
from kgtk_spark.operators.columns import kgtk_every_nth

__all__ = [
    "kgtk_filter",
    "if_exists",
    "if_not_exists",
    "if_empty",
    "kgtk_join",
    "kgtk_cat",
    "kgtk_compact",
    "deduplicate",
    "kgtk_unique",
    "add_id",
    "kgtk_lift",
    "kgtk_lower",
    "kgtk_expand",
    "kgtk_explode",
    "kgtk_implode",
    "normalize_nodes",
    "remove_columns",
    "rename_columns",
    "reorder_columns",
    "kgtk_calc",
    "kgtk_sort",
    "kgtk_head",
    "kgtk_clean",
    "unreify_rdf_statements",
    "unreify_values",
    "validate_properties",
    "PropertyPattern",
    "kgtk_every_nth",
]
