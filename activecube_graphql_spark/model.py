"""Cube metadata model: Dimension / Metric / Selector / Cube.

Reference data model (SURVEY.md §1.1): a cube owns three dictionaries —
``metrics``, ``dimensions``, ``selectors`` (parse_tree.rb:32,119) — plus a
name, and is itself the root query builder (:205-207). Here each element is
a small dataclass wrapping *Column-expression factories*, so every cube
element stays a Catalyst expression (pushdown/pruning stay free) and never
forces a Python UDF.

Scale design: a cube's backing table is declared as a base fact table plus
optional star joins (``JoinSpec``). The compiler only materializes the joins
whose columns the query actually references (``requires`` sets on elements)
— at 100 TB an unreferenced fact-fact join is the difference between a
broadcast-only scan and a multi-TB shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .cache import Memo
from .errors import InputArgumentError, NotSqlExpressible
from .functions.selector_ops import apply_operator

# A factory producing the element's column expression. Uses F.col(...) names
# resolved lazily against the cube's backing view.
ColumnFactory = Callable[[], Column]


def _as_factory(expr: "str | Column | ColumnFactory") -> ColumnFactory:
    if isinstance(expr, str):
        return lambda: F.col(expr)
    if isinstance(expr, Column):
        return lambda: expr
    return expr


def _sql_twin(expr: "str | Column | ColumnFactory",
              sql: Optional[str]) -> Optional[str]:
    """An element's SQL twin: the declared one, else the expression itself
    when it is a plain column name (a Column or factory has none)."""
    return expr if sql is None and isinstance(expr, str) else sql


def money_sum_sql(expr_sql: str) -> str:
    """The ANSI twin of ``Metric.money_sum`` emission, shared verbatim by
    the metric's printer and the hand-written driver oracles so both
    engines always run the identical arithmetic: sum the integer
    10⁻⁴-dollar per-row expression, half-up to whole cents in INTEGER
    space (``floor((s+50)/100)`` — never round a double that can sit ON
    a midpoint), then divide the exact cent count by 100.  Valid in both
    Spark SQL and DuckDB: DuckDB widens sum(BIGINT) to HUGEINT, the
    double division and floor behave identically, and the BIGINT cast
    re-narrows.  Exact while the group's cents4 sum stays under 2⁵³
    (≈ $9·10¹¹ revenue in ONE group); see ``Metric.money_sum``."""
    return (f"CAST(CAST(floor((sum({expr_sql}) + 50) / CAST(100 AS DOUBLE)) "
            f"AS BIGINT) AS DOUBLE) / 100")


@dataclass
class Dimension:
    """A slice-able (group-by) attribute; may expose hierarchical sub-fields
    looked up by name (parse_tree.rb:29 ``dimension[sub_name]``), e.g. a date
    dimension exposing year/month/date projections (README.md:47-50).

    ``sql`` / ``sql_fields`` are the ANSI-SQL twins of the Column factory,
    consumed by the query SQL printer (sql.py — the activecube role of
    *generating* SQL from cube metadata). ``sql`` auto-derives when the
    expression is a plain column name; sub-field templates substitute
    ``{e}`` for the parent expression.
    """

    expr: ColumnFactory
    #: sub-field name → transform over the parent expression
    fields: dict[str, Callable[[Column], Column]] = field(default_factory=dict)
    #: joined tables this dimension's columns live in (join pruning)
    requires: frozenset[str] = frozenset()
    #: SQL twin of ``expr`` (auto when expr is a column name)
    sql: Optional[str] = None
    #: sub-field name → SQL template over ``{e}``
    sql_fields: dict[str, str] = field(default_factory=dict)
    #: GraphQL-union-typed dimension (reference parse_tree.rb:70-72): the
    #: value's concrete type varies per row. ``__typename`` children are
    #: kept ONLY under union dimensions (dropped everywhere else,
    #: parse_tree.rb:39-43); requesting one resolves via ``typename``.
    union: bool = False
    #: per-row concrete type name (the ``__typename`` resolver) — a Column
    #: factory / column name / SQL expr shared with ``typename_sql``.
    #: Declaring it implies ``union=True``. A union dimension *without* a
    #: resolver raises on ``__typename`` access, mirroring
    #: response_builder.rb:21-24 ("Unable to detect type of ...").
    typename: Optional[ColumnFactory] = None
    #: ANSI-SQL twin of ``typename`` (auto when typename is a column name)
    typename_sql: Optional[str] = None

    def __post_init__(self) -> None:
        self.sql = _sql_twin(self.expr, self.sql)
        self.expr = _as_factory(self.expr)
        if self.typename is not None:
            self.union = True
            self.typename_sql = _sql_twin(self.typename, self.typename_sql)
            tn = _as_factory(self.typename)
            self.typename = tn
            # expose as a sub-field so slicing/printing reuse one path;
            # the discriminator ignores the parent expression by design
            self.fields = dict(self.fields, __typename=lambda _base: tn())
            if self.typename_sql is not None:
                self.sql_fields = dict(self.sql_fields,
                                       __typename=self.typename_sql)

    def column_sql(self, sub: Optional[str] = None) -> str:
        """SQL expression for this dimension (or one of its sub-fields);
        raises if no SQL twin was declared (printer-opt-out elements)."""
        if self.sql is None:
            raise NotSqlExpressible("dimension has no SQL twin")
        if sub is None:
            return self.sql
        if sub not in self.sql_fields:
            raise NotSqlExpressible(f"sub-field '{sub}' has no SQL template")
        return self.sql_fields[sub].format(e=self.sql)

    def column(self, sub: Optional[str] = None) -> Column:
        base = self.expr()
        if sub is None:
            return base
        if sub not in self.fields:
            # parse_tree.rb:30 — unknown sub-field under a dimension → error
            raise InputArgumentError(f"Dimension has no sub-field '{sub}'")
        return self.fields[sub](base)


@dataclass
class Metric:
    """An aggregate measure. ``agg(cond)`` returns the aggregate Column; a
    non-None ``cond`` produces the *conditional* aggregate (metric-scoped
    filters, parse_tree.rb:88 ``apply_args(metric)`` → F.sum(F.when(...))).
    """

    agg: Callable[[Optional[Column]], Column]
    requires: frozenset[str] = frozenset()
    #: SQL twin: ``sql(cond_sql)`` returns the aggregate's SQL; ``cond_sql``
    #: is the metric-scoped filter predicate (or None). None → not printable.
    sql: Optional[Callable[[Optional[str]], str]] = None
    #: declared tuple-field order for array-of-struct metrics (reference:
    #: ``metric.definition.class.tuple``, response_builder.rb:116-126);
    #: children under the metric select these members by name
    tuple_fields: Optional[tuple[str, ...]] = None

    def agg_sql(self, cond_sql: Optional[str] = None) -> str:
        if self.sql is None:
            raise NotSqlExpressible("metric has no SQL twin")
        return self.sql(cond_sql)

    # -- common constructors ------------------------------------------------
    @staticmethod
    def _of(fn: Callable[..., Column], *inputs,
            fn_sql: Optional[Callable[..., str]] = None,
            conditioned: Optional[tuple[int, ...]] = None,
            requires: frozenset[str] = frozenset(),
            tuple_fields: Optional[tuple[str, ...]] = None) -> "Metric":
        """The one conditional-aggregate rule behind every constructor.

        Each input is an element expression (column name, Column or
        factory) or an ``(expression, sql_twin)`` pair. ``fn`` aggregates
        the inputs' Columns, ``fn_sql`` their SQL twins. A metric-scoped
        condition nulls each ``conditioned`` input (default: all) before
        ``fn`` / ``fn_sql`` sees it — ``F.when(cond, c)`` here and
        ``CASE WHEN cond THEN e END`` there — so a filtered row drops out
        of every NULL-skipping aggregate. The metric is printable iff
        ``fn_sql`` is given and every input has a SQL twin."""
        pairs = [i if isinstance(i, tuple) else (i, None) for i in inputs]
        factories = [_as_factory(e) for e, _ in pairs]
        twins = [_sql_twin(e, s) for e, s in pairs]
        scoped = range(len(pairs)) if conditioned is None else conditioned

        def agg(cond: Optional[Column]) -> Column:
            return fn(*(F.when(cond, f()) if cond is not None and i in scoped
                        else f() for i, f in enumerate(factories)))

        sql = None
        if fn_sql is not None and None not in twins:
            def sql(cond_sql: Optional[str]) -> str:
                return fn_sql(*(f"CASE WHEN {cond_sql} THEN {e} END"
                                if cond_sql and i in scoped else e
                                for i, e in enumerate(twins)))
        return Metric(agg=agg, requires=requires, sql=sql,
                      tuple_fields=tuple_fields)

    @staticmethod
    def sum(expr, requires=frozenset(), sql_expr=None, sql_cast=None) -> "Metric":
        """``sql_cast='BIGINT'`` for integer-typed sums: ANSI engines may
        widen integer SUM beyond int64 (DuckDB → HUGEINT/decimal128),
        which a result harness materializes as float — the printed oracle
        must pin the physical type Spark produces (LongType)."""
        return Metric._of(F.sum, (expr, sql_expr), requires=requires,
                          fn_sql=lambda e: (f"CAST(sum({e}) AS {sql_cast})"
                                            if sql_cast else f"sum({e})"))

    @staticmethod
    def money_sum(expr, requires=frozenset(), sql_expr=None,
                  two_level: bool = False) -> "Metric":
        """Exact 2dp money aggregate (r08, VERDICT r07 item 1).  ``expr``
        is a per-row BIGINT in 10⁻⁴-dollar units ('cents4', e.g. the
        revenue product price_cents × (100 − discount_cents)); the
        metric sums it as a hardware int64 — the HashAggregate buffer
        stays a mutable long, unlike DECIMAL sums whose +10-precision
        widening leaves Spark's unscaled-long fast path (measured 5.3×
        per-row cost at sf1, tools/money_sum_bench.py) — and emits
        half-up-rounded dollars as DOUBLE.  Rounding happens in INTEGER
        space (+50, floor-divide by 100), so the emitted value is
        deterministic at any parallelism and bit-identical across
        engines; the result is byte-for-byte what round(sum(exact
        decimal), 2) produces on 2dp-grid inputs (verified vs the
        DECIMAL formulation and DuckDB at sf0.001/0.01/0.1).

        Bounds, for a 1000-executor cluster: int64 sum overflow needs
        ~8.8·10⁹ rows in one group at max per-row revenue (and FAILS
        LOUDLY there — Spark 4 ANSI mode raises ARITHMETIC_OVERFLOW,
        never a silently wrong total); the binding limit is
        double-exact emission at 2⁵³ cents4 ≈ **$9·10¹¹ of
        revenue in a single group**.  A group beyond that (a global
        no-slice sum over ≫100 TB) needs the two-level split — per-row
        int64 BIT split at radix 2²⁰ (hi = e >> 20, lo = e & (2²⁰−1):
        exact for every long, where a div/mod-by-10⁶ formulation would
        round the dividend to double first), two hardware long sums,
        DECIMAL(38,0) combine per GROUP — which keeps per-row work in
        int64 and pays decimal cost once per output row: that is
        ``two_level=True``,
        emitting exact DECIMAL(38,2) dollars (beyond 2⁵³ cents a double
        cannot hold the value at all, so the extreme regime changes the
        emission type by necessity). Both levels share the half-up
        emission and assume the non-negative money domain (a NEGATIVE
        sum landing exactly ON a half-cent would floor toward +inf
        where round-half-away rounds down — revenue can't go negative,
        so the bias is unreachable; a signed money metric would need
        sign-split emission). Only the single-level form carries a
        printed SQL twin: DuckDB widens sum(BIGINT) to HUGEINT so the
        twin never overflows, but its double-division emission is exact
        only under the same 2⁵³ bound — past it (two_level's whole
        regime) the twin would diverge in value AND type, so two_level
        metrics raise NotSqlExpressible from the printer instead."""
        def one_level(c: Column) -> Column:
            s = F.sum(c)
            # long/int '/' is double division in Spark; s+50 < 2^53 by
            # the documented bound, so the quotient's floor is exact
            return F.floor((s + F.lit(50)) / F.lit(100)).cast("double") / 100

        def split(c: Column) -> Column:
            # per-row int64 split via BIT ops at a power-of-2 radix
            # (2²⁰), exact for EVERY long: a `/`-based split would
            # round the dividend to double first and mis-split any
            # per-row value above 2⁵³ (review r08 finding — the
            # arithmetic >> floors and the mask extracts pmod for
            # all signs, with no float anywhere). The only decimal
            # ops run once per OUTPUT group, not per input row.
            hi = F.sum(F.shiftright(c, 20))
            lo = F.sum(c.bitwiseAND(F.lit((1 << 20) - 1)))
            total = hi.cast("decimal(38,0)") * (1 << 20) + lo
            cents = F.floor((total + 50) / 100)  # exact: ≤2dp value
            return (cents / 100).cast("decimal(38,2)")

        # two_level carries NO printed twin on purpose (review r08):
        # money_sum_sql's double-division emission is exact only under
        # the same 2^53 bound two_level exists to exceed, and its
        # emitted type (DOUBLE) differs from two_level's DECIMAL(38,2) —
        # a printed twin would be wrong exactly where the variant
        # applies, so printing raises NotSqlExpressible instead.
        return Metric._of(split if two_level else one_level,
                          (expr, sql_expr), requires=requires,
                          fn_sql=None if two_level else money_sum_sql)

    @staticmethod
    def avg(expr, requires=frozenset(), sql_expr=None) -> "Metric":
        return Metric._of(F.avg, (expr, sql_expr), requires=requires,
                          fn_sql=lambda e: f"avg({e})")

    @staticmethod
    def min(expr, requires=frozenset(), sql_expr=None) -> "Metric":
        return Metric._of(F.min, (expr, sql_expr), requires=requires,
                          fn_sql=lambda e: f"min({e})")

    @staticmethod
    def max(expr, requires=frozenset(), sql_expr=None) -> "Metric":
        return Metric._of(F.max, (expr, sql_expr), requires=requires,
                          fn_sql=lambda e: f"max({e})")

    @staticmethod
    def any(expr, requires=frozenset()) -> "Metric":
        """ClickHouse ``any`` — an arbitrary (first-seen) non-null value
        from the group; completes the standard activecube metric
        vocabulary (SURVEY §2.4 A2 [P]). Faithfully nondeterministic
        under parallel execution (partition order), exactly like the
        original, so it carries no SQL twin and stays out of
        hash-checked oracles."""
        return Metric._of(lambda c: F.any_value(c, True),  # ignoreNulls
                          expr, requires=requires)

    @staticmethod
    def arg_max(value_expr, order_expr, requires=frozenset(),
                value_sql=None, order_sql=None) -> "Metric":
        """ClickHouse ``argMax(value, order)`` — the value on the row
        with the greatest ordering key. Deterministic (hence
        oracle-checkable) iff the ordering key is unique per group;
        ``min_by``/``max_by`` is shared Spark/DuckDB SQL vocabulary. The
        conditional form nulls the ordering key only: min_by/max_by (like
        DuckDB arg_min/arg_max) ignore rows with NULL keys."""
        return Metric._of(F.max_by, (value_expr, value_sql),
                          (order_expr, order_sql), conditioned=(1,),
                          requires=requires,
                          fn_sql=lambda v, o: f"max_by({v}, {o})")

    @staticmethod
    def arg_min(value_expr, order_expr, requires=frozenset(),
                value_sql=None, order_sql=None) -> "Metric":
        """ClickHouse ``argMin(value, order)`` — see :meth:`arg_max`."""
        return Metric._of(F.min_by, (value_expr, value_sql),
                          (order_expr, order_sql), conditioned=(1,),
                          requires=requires,
                          fn_sql=lambda v, o: f"min_by({v}, {o})")

    @staticmethod
    def count(requires=frozenset()) -> "Metric":
        # counts a non-null marker per row; the unconditional form
        # prints as the idiomatic count(*)
        return Metric._of(F.count, (lambda: F.lit(1), "1"), requires=requires,
                          fn_sql=lambda e: "count(*)" if e == "1"
                          else f"count({e})")

    @staticmethod
    def count_distinct(expr, requires=frozenset(), sql_expr=None) -> "Metric":
        """Exact distinct (oracle-safe twin of ``uniq``)."""
        return Metric._of(F.count_distinct, (expr, sql_expr), requires=requires,
                          fn_sql=lambda e: f"count(DISTINCT {e})")

    @staticmethod
    def uniq(expr, rsd: float = 0.05, requires=frozenset()) -> "Metric":
        """ClickHouse ``uniq`` ≈ HLL approximate distinct (SURVEY §2.4 A3).
        Kept out of hash-checked oracles; tolerance-tested instead."""
        return Metric._of(lambda c: F.approx_count_distinct(c, rsd), expr,
                          requires=requires)

    @staticmethod
    def stddev(expr, requires=frozenset(), sql_expr=None) -> "Metric":
        """Sample standard deviation (ClickHouse ``stddevSamp``)."""
        return Metric._of(F.stddev_samp, (expr, sql_expr), requires=requires,
                          fn_sql=lambda e: f"stddev_samp({e})")

    @staticmethod
    def variance(expr, requires=frozenset(), sql_expr=None) -> "Metric":
        """Sample variance (ClickHouse ``varSamp``)."""
        return Metric._of(F.var_samp, (expr, sql_expr), requires=requires,
                          fn_sql=lambda e: f"var_samp({e})")

    @staticmethod
    def corr(x_expr, y_expr, requires=frozenset(),
             x_sql=None, y_sql=None) -> "Metric":
        """Pearson correlation of two expressions (ClickHouse ``corr``) —
        the first two-argument metric; the conditional form nulls both
        inputs so filtered rows drop from the pair set.

        The Column side spells corr out as cov / (σx·σy) over the
        non-null pairs, the formula of its SQL twin (DuckDB ``corr``),
        under ``try_divide``: where either side is constant the
        denominator is 0 and the result is NULL, as in DuckDB, where
        Spark's own ``corr`` raises ANSI DIVIDE_BY_ZERO."""
        def pearson(x: Column, y: Column) -> Column:
            x, y = F.when(y.isNotNull(), x), F.when(x.isNotNull(), y)
            return F.try_divide(F.covar_pop(x, y),
                                F.stddev_pop(x) * F.stddev_pop(y))
        return Metric._of(pearson, (x_expr, x_sql), (y_expr, y_sql),
                          requires=requires,
                          fn_sql=lambda x, y: f"corr({x}, {y})")

    @staticmethod
    def quantile(expr, p: float, requires=frozenset(), sql_expr=None
                 ) -> "Metric":
        """ClickHouse ``quantile``/``median`` family — EXACT interpolated
        percentile (Spark ``percentile`` ≡ DuckDB ``quantile_cont``), so
        it is hash-oracle-checkable. Exact percentile holds all group
        values; for 100 TB hot paths prefer :meth:`quantile_approx`."""
        return Metric._of(lambda c: F.percentile(c, F.lit(p)),
                          (expr, sql_expr), requires=requires,
                          fn_sql=lambda e: f"quantile_cont({e}, {p})")

    @staticmethod
    def quantile_approx(expr, p: float, accuracy: int = 10000,
                        requires=frozenset()) -> "Metric":
        """ClickHouse ``quantile`` is itself approximate (reservoir); the
        Spark twin is ``percentile_approx`` (Greenwald-Khanna, mergeable
        partial states — constant memory per group at any scale). Kept
        out of hash oracles; tolerance-tested like ``uniq``."""
        return Metric._of(
            lambda c: F.percentile_approx(c, F.lit(p), F.lit(accuracy)),
            expr, requires=requires)

    @staticmethod
    def collect(expr, distinct: bool = False, sort: bool = True,
                requires=frozenset(), sql_expr=None) -> "Metric":
        """Array aggregate (SURVEY §2.4 A5). Sorted by default so results are
        deterministic under Spark's partition-order nondeterminism."""
        gather = F.collect_set if distinct else F.collect_list
        kw = "DISTINCT " if distinct else ""
        return Metric._of(
            (lambda c: F.sort_array(gather(c))) if sort else gather,
            (expr, sql_expr), requires=requires,
            # unsorted arrays are order-nondeterministic: no twin.
            # list_filter: collect_list/-set skip NULL inputs; list() keeps them
            fn_sql=(lambda e: f"list_sort(list_filter(list({kw}{e}), "
                              f"x -> x IS NOT NULL))") if sort else None)

    @staticmethod
    def top_tuples(order_expr, struct_fields: dict[str, Any], k: int,
                   requires=frozenset()) -> "Metric":
        """Tuple/struct aggregate (SURVEY §2.4 A6): array of named tuples,
        top-k by ``order_expr`` desc. Field order in the struct is the
        declared order (reference: ``metric.definition.class.tuple``,
        response_builder.rb:116-126)."""
        order_f = _as_factory(order_expr)
        fields = {name: _as_factory(e) for name, e in struct_fields.items()}

        def tuples(st: Column) -> Column:
            arr = F.slice(F.sort_array(F.collect_list(st), asc=False), 1, k)
            # strip the sort key; keep declared tuple fields
            return F.transform(arr, lambda s: F.struct(*[s[n].alias(n) for n in fields]))
        # the sort key leads the struct so sort_array orders by it; the
        # conditional form nulls the whole struct
        return Metric._of(tuples, lambda: F.struct(
            order_f().alias("__ord"), *[fields[n]().alias(n) for n in fields]),
            requires=requires, tuple_fields=tuple(struct_fields))


@dataclass
class Selector:
    """A filterable attribute. ``predicate(op, value)`` returns a boolean
    Column; operator vocabulary and nil semantics in functions/selector_ops
    (parse_tree.rb:9,152-153,158-160). Composition into AND/OR trees happens
    in the query builder (Selector.and/.or ≙ ``&``/``|`` on Columns).
    """

    expr: ColumnFactory
    requires: frozenset[str] = frozenset()
    #: SQL twin of ``expr`` (auto when expr is a column name)
    sql: Optional[str] = None

    def __post_init__(self) -> None:
        self.sql = _sql_twin(self.expr, self.sql)
        self.expr = _as_factory(self.expr)

    def predicate(self, op: str, value: Any) -> Column:
        return apply_operator(self.expr(), op, value)

    def predicate_sql(self, op: str, value: Any) -> str:
        from .functions.selector_ops import operator_sql
        if self.sql is None:
            raise NotSqlExpressible("selector has no SQL twin")
        return operator_sql(self.sql, op, value)


@dataclass
class JoinSpec:
    """One star-join edge of a cube's backing view.

    ``broadcast=True`` marks a dimension table small enough to replicate to
    every executor (region/nation/customer-class lookups) — at 100 TB this
    turns the join into a map-side hash join with zero shuffle of the fact
    table. Fact-fact edges (orders⋈lineitem) leave ``broadcast=False`` and
    rely on shuffle join + AQE skew splitting.
    """

    table: str
    on: Callable[[], Column]
    how: str = "left"
    broadcast: bool = False
    #: table that must already be joined for ``on`` to resolve
    depends_on: Optional[str] = None
    #: SQL twin of ``on`` for the query SQL printer (sql.py)
    on_sql: Optional[str] = None


@dataclass
class Representation:
    """One alternative physical backing for a cube (SURVEY §4.3 — the
    activecube headline feature): typically a pre-aggregated rollup that
    can answer queries whose slices ⊆ its grain and whose metrics /
    selectors it re-exposes. The query compiler picks the cheapest
    representation that covers the request; correctness-neutral by
    construction (re-aggregation metrics must produce identical results).

    At 100 TB this is the decisive optimization: a daily rollup is often
    1000× smaller than the raw fact table, and choosing it turns a
    multi-TB scan into a GB one before Catalyst ever sees the plan.
    """

    name: str
    table: str
    dimensions: dict[str, "Dimension"]
    metrics: dict[str, "Metric"]
    selectors: dict[str, "Selector"]
    #: relative scan cost (e.g. expected row fraction vs the raw table)
    cost: float = 1.0
    #: explicit path override (e.g. a materialized rollup parquet)
    path: Optional[str] = None
    joins: list["JoinSpec"] = None  # type: ignore[assignment]

    def __post_init__(self) -> None:
        if self.joins is None:
            self.joins = []

    def covers(self, dims: set[str], mets: set[str], sels: set[str]) -> bool:
        return (dims <= self.dimensions.keys()
                and mets <= self.metrics.keys()
                and sels <= self.selectors.keys())


class Cube:
    """The central dataset object (SURVEY §1.1): named element dictionaries
    plus a backing star schema. ``table()`` builds the backing DataFrame with
    only the joins a query needs (join pruning — see compiler).
    """

    name: str = "cube"
    base_table: str = ""
    #: disjoint physical segments backing ONE logical fact table (the
    #: activecube multiple-tables feature, README.md:53-68 context; the
    #: §2.7 UNION ALL surface). Non-empty → ``table()`` scans every
    #: segment and UNION ALLs them below the joins; each segment is an
    #: independent scan, so predicate pushdown / partition pruning /
    #: column pruning apply per segment (a filter that eliminates the
    #: cold archive reads only the hot segment). Declaring segments is
    #: the cube author's assertion that they partition the fact table.
    base_tables: list[str] = []
    joins: list[JoinSpec] = []
    dimensions: dict[str, Dimension] = {}
    metrics: dict[str, Metric] = {}
    selectors: dict[str, Selector] = {}
    #: representation cost model: "stats" compares Catalyst's estimated
    #: post-pruning scan bytes per query (partition-pruned raw can beat a
    #: smaller-but-unpruned rollup); "static" trusts declared costs only
    #: (no per-query driver-side plan analysis).
    representation_choice: str = "stats"

    def __init__(self, spark: SparkSession, source) -> None:
        # ``source`` is a SourceRegistry or a path prefix string.
        from .sources.registry import SourceRegistry
        if isinstance(source, str):
            source = SourceRegistry({"default": source})
        self.spark = spark
        self.source: SourceRegistry = source
        #: alternative physical backings (SURVEY §4.3), cheapest-cost wins
        self.representations: list[Representation] = []
        #: compiled-plan cache (R3 — response_builder.rb:27-38 analogue):
        #: canonical query spec plus the file identity of every source
        #: path it reads → (analyzed logical plan, chosen representation
        #: or None = raw). It holds plans, never a DataFrame: every hit
        #: gets a new DataFrame over the plan (``cache.frame_over``).
        self.plan_cache = Memo()

    def add_representation(self, rep: Representation) -> None:
        self.representations.append(rep)

    def choose_representation(self, dims: set[str], mets: set[str],
                              sels: set[str]) -> Optional[Representation]:
        """Cheapest registered representation covering the request by
        *declared static cost*, or None → compile against the raw cube
        (cost 1.0 reference point). This is the fallback rule; the query
        builder prefers measured plan statistics when available
        (:meth:`plan_size_bytes`)."""
        best: Optional[Representation] = None
        for rep in self.representations:
            if rep.cost < 1.0 and rep.covers(dims, mets, sels):
                if best is None or rep.cost < best.cost:
                    best = rep
        return best

    def covering_representations(self, dims: set[str], mets: set[str],
                                 sels: set[str]) -> list[Representation]:
        return [rep for rep in self.representations
                if rep.covers(dims, mets, sels)]

    @staticmethod
    def plan_size_bytes(df: DataFrame) -> Optional[int]:
        """Estimated bytes ``df`` will actually scan — driver-side
        planning only, no job.

        Walks the *physical* plan and sums each file scan's ``filesSize``
        metric after forcing ``selectedPartitions``, i.e. Spark's own
        post-partition-pruning file listing. (The logical-plan statistics
        are NOT enough: ``PruneFileSourcePartitions`` rewrites only
        catalog file indexes, so a pushed-down partition filter on a
        path-based read is invisible to ``optimizedPlan().stats()`` —
        verified on 4.1.2.) Pruned-scan truth is what lets a stats-based
        representation choice prefer a partition-pruned RAW scan over a
        smaller-but-unpruned rollup: declared costs are static, scan
        bytes are per-query. The listing goes through Spark's process-
        wide FileStatusCache, so repeated estimates against the same
        tables do not re-list. Falls back to logical-plan stats when the
        plan has no file scan; returns None when neither is available
        (e.g. streaming plans)."""
        try:
            qe = df._jdf.queryExecution()
            total, found = 0, False
            stack = [qe.executedPlan()]
            while stack:
                node = stack.pop()
                cls = node.getClass().getSimpleName()
                if "AdaptiveSparkPlan" in cls:
                    stack.append(node.inputPlan())
                    continue
                for i in range(node.children().size()):
                    stack.append(node.children().apply(i))
                if "FileSourceScan" in cls:
                    node.selectedPartitions()  # force pruned listing
                    total += int(node.metrics().apply("filesSize").value())
                    found = True
            if found:
                return total
            return int(str(qe.optimizedPlan().stats().sizeInBytes()))
        except Exception:
            return None

    def rep_table(self, rep: Representation, database: str) -> DataFrame:
        """Backing DataFrame for a representation (path override or
        registry table; representation joins applied unpruned — reps are
        pre-joined by construction)."""
        if rep.path is not None:
            from .sources.registry import read_parquet
            df = read_parquet(self.spark, rep.path)
        else:
            df = self.source.read(self.spark, database, rep.table)
        for j in rep.joins:
            other = self.source.read(self.spark, database, j.table)
            if j.broadcast:
                other = F.broadcast(other)
            df = df.join(other, on=j.on(), how=j.how)
        return df

    def source_paths(self, database: str, required: Optional[frozenset[str]],
                     reps: list[Representation]) -> list[str]:
        """The path of every table :meth:`table` reads for ``required``
        (None = all joins) and :meth:`rep_table` reads for each of
        ``reps`` — what the plan cache and the introspection schema key
        their source identity on."""
        tables = self.base_tables or [self.base_table]
        paths = [self.source.path(database, t) for t in tables]
        paths += [self.source.path(database, j.table)
                  for j in self.star_joins(required)]
        for rep in reps:
            paths.append(rep.path if rep.path is not None
                         else self.source.path(database, rep.table))
            paths += [self.source.path(database, j.table)
                      for j in rep.joins]
        return paths

    # -- element lookup with fail-fast validation (parse_tree.rb:30,33) -----
    def dimension(self, name: str) -> Dimension:
        try:
            return self.dimensions[name]
        except KeyError:
            raise InputArgumentError(
                f"Can not find metric or dimension '{name}' in cube {self.name}") from None

    def metric(self, name: str) -> Metric:
        try:
            return self.metrics[name]
        except KeyError:
            raise InputArgumentError(
                f"Can not find metric or dimension '{name}' in cube {self.name}") from None

    def selector(self, name: str) -> Selector:
        try:
            return self.selectors[name]
        except KeyError:
            raise InputArgumentError(
                f"Unknown selector '{name}' in cube {self.name}") from None

    @staticmethod
    def prepare(df: DataFrame) -> DataFrame:
        """Per-cube column normalization applied right after the base-table
        scan (e.g. epoch-nanos → timestamp). Identity by default."""
        return df

    # -- backing view -------------------------------------------------------
    def _base_df(self, database: str, read) -> DataFrame:
        """Base fact frame: single table, or UNION ALL of the declared
        disjoint segments (resolved by name by position: schemas must
        match — ``unionByName`` fails fast on drift between segments)."""
        if self.base_tables:
            parts = [self.prepare(read(self.spark, database, t))
                     for t in self.base_tables]
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            return df
        return self.prepare(read(self.spark, database, self.base_table))

    def table(self, database: str = "default",
              required: Optional[frozenset[str]] = None) -> DataFrame:
        """Backing DataFrame: base fact table plus the star joins in
        ``required`` (None = all). Broadcast hints applied per JoinSpec."""
        return self._star_joined(self._base_df(database, self.source.read),
                                 database, required)

    def stream_table(self, database: str = "default",
                     required: Optional[frozenset[str]] = None) -> DataFrame:
        """Streaming twin of :meth:`table`: the base fact arrives as a
        file stream; star joins become stream-static joins (the static
        dimension side is broadcast per micro-batch — same plan shape the
        batch path uses, and the standard cluster-scale layout: the fact
        stream never shuffles for a dimension lookup)."""
        return self._star_joined(
            self._base_df(database, self.source.read_stream),
            database, required)

    def _star_joined(self, df: DataFrame, database: str,
                     required: Optional[frozenset[str]]) -> DataFrame:
        """Join the (static) dimension tables of :meth:`star_joins` onto
        ``df``."""
        for j in self.star_joins(required):
            other = self.source.read(self.spark, database, j.table)
            if j.broadcast:
                other = F.broadcast(other)
            df = df.join(other, on=j.on(), how=j.how)
        return df

    def star_joins(self, required: Optional[frozenset[str]]
                   ) -> list[JoinSpec]:
        """The joins in ``required`` (None = all), closed over their
        dependencies (region needs nation, etc.), in declaration order —
        which respects dependencies. Shared by :meth:`table` and the SQL
        printer's FROM clause."""
        need = set(required) if required is not None else {j.table for j in self.joins}
        by_name = {j.table: j for j in self.joins}
        frontier = list(need)
        while frontier:
            j = by_name.get(frontier.pop())
            if j is not None and j.depends_on and j.depends_on not in need:
                need.add(j.depends_on)
                frontier.append(j.depends_on)
        return [j for j in self.joins if j.table in need]

    def query(self, database: str = "default"):
        from .query import CubeQueryBuilder
        return CubeQueryBuilder(self, database)
