"""Selector operator vocabulary → pyspark Column predicates.

The reference dispatches operator *names* dynamically onto the selector
object (``selector.send(operator, arg)`` guarded by ``respond_to?`` —
/root/reference/lib/activecube/graphql/parse_tree.rb:152-153); the adapter
itself names ``eq, not_eq, is, not`` (:9) and ``in`` (:192). The standard
activecube set adds the comparison/range/pattern family. Here each operator
is one Column method, so every predicate stays a plain Catalyst expression
(→ parquet predicate pushdown for free, never a UDF).

Null semantics replicated exactly (parse_tree.rb:9,153,158-160):
``eq/not_eq/is/not`` are the only operators applicable to a nil argument;
a nil argument under any other operator silently DROPS the predicate.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..errors import InputArgumentError

#: operators that remain applicable when the argument is None
#: (parse_tree.rb:9 NULL_OPERATORS = [:eq, :not_eq, :is, :not])
NULL_OPERATORS = frozenset({"eq", "not_eq", "is", "not"})

#: full operator vocabulary
OPERATORS = frozenset({
    "eq", "not_eq", "is", "not", "in", "not_in",
    "gt", "lt", "gteq", "lteq", "between",
    "like", "not_like", "ilike", "not_ilike",
})


def applicable_operator(op: str, value: Any) -> bool:
    """parse_tree.rb:158-160 — nil args only pass for the null-aware ops."""
    return value is not None or op in NULL_OPERATORS


def apply_operator(col: Column, op: str, value: Any) -> Column:
    """Build the boolean Column for one (operator, argument) pair.

    Matches ClickHouse/activecube comparison semantics on NULL arguments:
    ``eq None`` ≡ IS NULL, ``not_eq None`` ≡ IS NOT NULL; ``is``/``not`` are
    the null-safe (<=>) variants for non-nil arguments.
    """
    if op == "eq":
        return col.isNull() if value is None else col == F.lit(value)
    if op == "not_eq":
        return col.isNotNull() if value is None else col != F.lit(value)
    if op == "is":
        return col.isNull() if value is None else col.eqNullSafe(F.lit(value))
    if op == "not":
        return col.isNotNull() if value is None else ~col.eqNullSafe(F.lit(value))
    if op == "in":
        return col.isin(*value)
    if op == "not_in":
        return ~col.isin(*value)
    if op == "gt":
        return col > F.lit(value)
    if op == "lt":
        return col < F.lit(value)
    if op == "gteq":
        return col >= F.lit(value)
    if op == "lteq":
        return col <= F.lit(value)
    if op == "between":
        lo, hi = value
        return col.between(F.lit(lo), F.lit(hi))
    if op == "like":
        return col.like(value)
    if op == "not_like":
        return ~col.like(value)
    if op == "ilike":
        return col.ilike(value)
    if op == "not_ilike":
        return ~col.ilike(value)
    raise InputArgumentError(f"Unsupported selector operator '{op}'")


# ------------------------------------------------------------------ SQL twin

def literal_sql(value: Any) -> str:
    """ANSI-SQL literal for a Python argument value."""
    import datetime
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, (int, float)):
        return repr(value)
    if isinstance(value, datetime.datetime):
        return f"TIMESTAMP '{value.isoformat(sep=' ')}'"
    if isinstance(value, datetime.date):
        return f"DATE '{value.isoformat()}'"
    if isinstance(value, str):
        escaped = value.replace("'", "''")
        return f"'{escaped}'"
    raise InputArgumentError(f"No SQL literal for value {value!r}")


def operator_sql(expr: str, op: str, value: Any) -> str:
    """SQL twin of :func:`apply_operator` — identical NULL semantics.

    ``is``/``not`` compile to ``IS [NOT] DISTINCT FROM`` (the null-safe
    comparison, ≙ Spark ``eqNullSafe``); ``eq/not_eq`` on a nil argument
    become ``IS [NOT] NULL`` exactly as the Column path does.
    """
    if op == "eq":
        return f"({expr} IS NULL)" if value is None else f"({expr} = {literal_sql(value)})"
    if op == "not_eq":
        return f"({expr} IS NOT NULL)" if value is None else f"({expr} <> {literal_sql(value)})"
    if op == "is":
        return (f"({expr} IS NULL)" if value is None
                else f"({expr} IS NOT DISTINCT FROM {literal_sql(value)})")
    if op == "not":
        return (f"({expr} IS NOT NULL)" if value is None
                else f"({expr} IS DISTINCT FROM {literal_sql(value)})")
    if op == "in":
        items = ", ".join(literal_sql(v) for v in value)
        return f"({expr} IN ({items}))"
    if op == "not_in":
        items = ", ".join(literal_sql(v) for v in value)
        return f"({expr} NOT IN ({items}))"
    if op == "gt":
        return f"({expr} > {literal_sql(value)})"
    if op == "lt":
        return f"({expr} < {literal_sql(value)})"
    if op == "gteq":
        return f"({expr} >= {literal_sql(value)})"
    if op == "lteq":
        return f"({expr} <= {literal_sql(value)})"
    if op == "between":
        lo, hi = value
        return f"({expr} BETWEEN {literal_sql(lo)} AND {literal_sql(hi)})"
    if op == "like":
        return f"({expr} LIKE {literal_sql(value)})"
    if op == "not_like":
        return f"(NOT ({expr} LIKE {literal_sql(value)}))"
    if op == "ilike":
        return f"({expr} ILIKE {literal_sql(value)})"
    if op == "not_ilike":
        return f"(NOT ({expr} ILIKE {literal_sql(value)}))"
    raise InputArgumentError(f"Unsupported selector operator '{op}'")
