"""CubeQuery → ANSI-SQL printer.

The reference stack's `activecube` layer had exactly one job our engine had
not yet replicated: *generating SQL* from cube metadata (SURVEY §0 — the
gem compiled slice/measure/filter/option requests into ClickHouse SQL;
`cube_field.rb:53` shipped it over the wire). This module restores that
capability for the Spark-native engine: the same ``CubeQueryBuilder`` spec
that compiles to a DataFrame also prints as one portable SQL statement.

Two consumers:

* **the DuckDB oracle** — any builder query can now be checked against an
  independently-generated SQL equivalent, which unlocks *property-based*
  correctness testing (tests/test_property.py): random cube queries are
  executed on Spark and DuckDB and must agree. This is SURVEY §5.2 item 6.
* **interop/debugging** — ``builder.to_sql()`` shows users the semantic
  query in plain SQL.

What is shared with query.py's DataFrame compiler is the *parsed input*:
the builder parses its filters once (``query.parse_filter`` — camelized
``any:`` names, nil drop, scalar ``in`` coercion) and its options once
(path keys, ints, ``limit_by`` triples), and both sides read that form;
``CubeQueryBuilder._fold_filter`` walks the AND/OR tree and applies the
``strict_reference_compat`` drop for both. What stays independent is
*emission*: each operator, metric and option is printed here
(``operator_sql``, ``Metric.sql``, ``_SQL_OPTION_APPLIERS``) and built as
a Column there (``apply_operator``, ``Metric.agg``, ``_OPTION_APPLIERS``),
so the printed SQL remains a second implementation to test against. The
printed fold uses explicit NULLS FIRST/LAST to match Spark's
``asc()``/``desc()`` defaults and the same ``limit_by`` ranking incl. the
deterministic all-column tie-break.
Elements without a declared SQL twin (approximate ``uniq``, struct-array
metrics) raise :class:`NotSqlExpressible` — exactly the set the driver
checks rows-only.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Optional

from .errors import InputArgumentError, NotSqlExpressible

if TYPE_CHECKING:  # pragma: no cover
    from .model import Cube
    from .query import CubeQueryBuilder, Filter


def _q(name: str) -> str:
    """Double-quote an output identifier (path keys contain dots)."""
    return '"' + name.replace('"', '""') + '"'


# ---------------------------------------------------------------- predicates

def filter_sql(builder: "CubeQueryBuilder", f: "Filter") -> Optional[str]:
    """A parsed filter as one SQL predicate over the raw cube: AND of
    terms, ``any:`` → parenthesized OR of AND-groups."""
    selectors = builder.cube.selectors
    return builder._fold_filter(
        f, lambda t: selectors[t.selector].predicate_sql(t.op, t.value),
        " AND ".join, lambda gs: "(" + " OR ".join(gs) + ")")


# ---------------------------------------------------------------- FROM clause

def from_sql(cube: "Cube", required: frozenset[str]) -> str:
    """Base table + the required star joins (the same joins, in the same
    order, as Cube.table)."""
    parts = [cube.base_table]
    for j in cube.star_joins(required):
        if j.on_sql is None:
            raise NotSqlExpressible(f"join on '{j.table}' has no SQL twin")
        kw = {"inner": "JOIN", "left": "LEFT JOIN", "right": "RIGHT JOIN",
              "full": "FULL JOIN"}.get(j.how)
        if kw is None:
            raise NotSqlExpressible(f"join type '{j.how}' not printable")
        parts.append(f"{kw} {j.table} ON {j.on_sql}")
    return " ".join(parts)


# ------------------------------------------------------------- option fold


class _SqlLevel:
    """One nesting level of the printed query; mirrors the DataFrame option
    fold — an option that cannot merge into the current level wraps it in a
    subquery, which is exactly how ``[limit, desc]`` ≠ ``[desc, limit]``
    (O5, parse_tree.rb:46-68,99) stays observable in SQL."""

    def __init__(self, sql: str, columns: list[str]) -> None:
        self.sql = sql
        self.columns = columns
        self.order: list[str] = []     # ORDER BY items at this level
        self.limit: Optional[int] = None
        self.offset: Optional[int] = None

    def render(self) -> str:
        out = self.sql
        if self.order:
            out += " ORDER BY " + ", ".join(self.order)
        if self.limit is not None:
            out += f" LIMIT {self.limit}"
        if self.offset is not None:
            out += f" OFFSET {self.offset}"
        return out

    def wrapped(self) -> "_SqlLevel":
        return _SqlLevel(f"SELECT * FROM ({self.render()})", self.columns)


def _sort_sql(level: _SqlLevel, keys: tuple[str, ...], state: dict,
              ascending: bool, as_integer: bool) -> _SqlLevel:
    if level.order or level.limit is not None or level.offset is not None:
        level = level.wrapped()
    items = []
    for key in keys:
        expr = _q(key)
        if as_integer:  # Spark cast('long') is TRY-semantics (NULL on junk)
            expr = f"TRY_CAST({expr} AS BIGINT)"
        items.append(f"{expr} ASC NULLS FIRST" if ascending
                     else f"{expr} DESC NULLS LAST")
    level.order = items
    state["order"] = list(items)
    return level


def _limit_sql(level: _SqlLevel, n: int, state: dict) -> _SqlLevel:
    if level.limit is not None:
        level = level.wrapped()
    level.limit = n
    return level


def _offset_sql(level: _SqlLevel, n: int, state: dict) -> _SqlLevel:
    # offset-after-limit selects rows (m, limit] — cannot merge into a level
    # that already has LIMIT (SQL "LIMIT n OFFSET m" means the opposite fold)
    if level.limit is not None or level.offset is not None:
        level = level.wrapped()
    level.offset = n
    return level


def _limit_by_sql(level: _SqlLevel, args: tuple, state: dict) -> _SqlLevel:
    keys, limit, offset = args
    part = ", ".join(_q(k) for k in keys)
    order = list(state.get("order", []))
    # deterministic tie-break: every output column (query.py parity)
    order += [f"{_q(c)} ASC NULLS FIRST" for c in level.columns]
    cols = ", ".join(_q(c) for c in level.columns)
    inner = (f"SELECT *, row_number() OVER (PARTITION BY {part} "
             f"ORDER BY {', '.join(order)}) AS __aq_rn "
             f"FROM ({level.render()})")
    sql = (f"SELECT {cols} FROM ({inner}) "
           f"WHERE __aq_rn > {offset} AND __aq_rn <= {offset + limit}")
    return _SqlLevel(sql, level.columns)


_SQL_OPTION_APPLIERS = {
    "asc": lambda lv, a, s: _sort_sql(lv, a, s, True, False),
    "desc": lambda lv, a, s: _sort_sql(lv, a, s, False, False),
    "asc_by_integer": lambda lv, a, s: _sort_sql(lv, a, s, True, True),
    "desc_by_integer": lambda lv, a, s: _sort_sql(lv, a, s, False, True),
    "limit": _limit_sql,
    "offset": _offset_sql,
    "limit_by": _limit_by_sql,
}


# ----------------------------------------------------------------- printer

def query_sql(builder: "CubeQueryBuilder") -> str:
    """Print the builder's semantic query as one SQL statement over the RAW
    star schema (never a pre-aggregated representation — so comparing the
    printed SQL against the compiled DataFrame also independently verifies
    that representation selection is correctness-neutral)."""
    cube = builder.cube
    if builder._transforms:
        raise NotSqlExpressible("transform hooks are opaque DataFrame fns")

    select_items: list[str] = []
    group_exprs: list[str] = []
    columns: list[str] = []
    for s in builder._slices:
        expr = cube.dimension(s.dimension).column_sql(s.sub)
        select_items.append(f"{expr} AS {_q(s.key)}")
        group_exprs.append(expr)
        columns.append(s.key)
    for m in builder._measures:
        cond = filter_sql(builder, m.where) if m.where else None
        select_items.append(f"{cube.metric(m.metric).agg_sql(cond)} AS {_q(m.key)}")
        columns.append(m.key)

    where_parts = [p for p in (filter_sql(builder, f) for f in builder._filters)
                   if p is not None]

    sql = "SELECT "
    if not builder._measures:
        if not builder._slices:
            raise InputArgumentError("Query requests no dimensions or metrics")
        sql += "DISTINCT "
    sql += ", ".join(select_items)
    sql += " FROM " + from_sql(cube, builder.required_tables())
    if where_parts:
        sql += " WHERE " + " AND ".join(where_parts)
    if builder._measures and builder._slices:
        if builder._grouping_mode == "rollup":
            sql += " GROUP BY ROLLUP (" + ", ".join(group_exprs) + ")"
        elif builder._grouping_mode == "cube":
            sql += " GROUP BY CUBE (" + ", ".join(group_exprs) + ")"
        elif builder._grouping_mode == "sets":
            by_key = {s.key: e for s, e in zip(builder._slices, group_exprs)}
            sets_sql = ", ".join(
                "(" + ", ".join(by_key[k] for k in keys) + ")"
                for keys in builder._grouping_set_keys())
            sql += f" GROUP BY GROUPING SETS ({sets_sql})"
        else:
            sql += " GROUP BY " + ", ".join(group_exprs)

    level = _SqlLevel(sql, columns)
    state: dict = {"order": []}
    for name, args in builder._options:
        level = _SQL_OPTION_APPLIERS[name](level, args, state)
    return level.render()
