"""CubeQueryBuilder — the cube query IR and its Spark compiler.

Reference semantics replicated (SURVEY §2, §3):

* the query is accumulated by folding requests in client order —
  ``measure`` / ``slice`` / ``when`` / options (parse_tree.rb:84-107);
* every requested leaf gets a **path key** ``_aq.<name>`` that is both the
  output column alias and the key sort/limit options bind to
  (parse_tree.rb:8,21,138-147; §1.4 — load-bearing, replicated exactly);
* argument values containing ``_aq.`` are rejected (parse_tree.rb:113-114);
* options apply **in the order written** (parse_tree.rb:46-68,99), so
  ``[desc, limit]`` ≠ ``[limit, desc]``;
* a nil argument under a non-null-aware operator silently drops the
  predicate (parse_tree.rb:153,158-160).

The builder is **declarative**: ``slice``/``measure``/``when``/``option``
validate eagerly (fail-fast, parse_tree.rb:30,33) and store only specs.
Selector arguments are parsed exactly once, on entry, by
:func:`parse_filter` into a :class:`Filter` (AND-lists of
``(selector, op, value)`` terms plus ``any:`` OR-groups); options are
parsed once by ``_OPTION_PARSERS`` (path keys, ints, ``limit_by``
triples). Every consumer reads only those parsed forms: the compiler,
``stream_df``, element names / join pruning, the plan-cache key and the
SQL printer (sql.py), which keeps its own emission of each operator,
metric and option. Columns are materialized at ``df()`` against the
chosen *representation* — the raw star schema or the cheapest covering
pre-aggregation (SURVEY §4.3). That late binding is what makes
aggregate-table selection and the compiled-plan cache (R3) possible.

Every ``df()`` goes through the plan cache (``Cube.plan_cache``): the
*analyzed logical plan* and its representation, keyed on the spec plus
the ``cache.file_identity`` of every source path the query may read, so
a rewritten table recompiles. Each call returns a new DataFrame over the
plan: no caller collects a frame another caller already executed, and no
entry keeps a Dataset or its query execution alive.

Compilation is declarative end-to-end: ``filter → groupBy → agg →
(ordered option fold)`` on DataFrames, so Catalyst performs predicate
pushdown, column pruning, partial aggregation, and AQE re-planning without
any engine-side scheduling. The only non-single-call operator is
``limit_by`` (ClickHouse ``LIMIT n BY k``) which compiles to the standard
window + ``row_number`` pattern that Spark ≥3.5 rewrites to
``WindowGroupLimitExec`` (rank pushdown) automatically.
"""

from __future__ import annotations

import functools
import json
import operator
from dataclasses import dataclass, field
from typing import Any, Callable, NamedTuple, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .cache import file_identity, frame_over
from .errors import InputArgumentError
from .functions.selector_ops import OPERATORS, applicable_operator
from .model import Cube, Representation

PATH_PREFIX = "_aq."  # parse_tree.rb:8 ROOT_CONTEXT_NAME = '_aq'


def kcol(key: str) -> Column:
    """Column reference for a path-keyed output column (dots need backticks)."""
    return F.col(f"`{key}`")


def _camelize_lower(name: str) -> str:
    """Rails ``camelize(:lower)`` for attr names: ``base_currency`` →
    ``baseCurrency`` (parse_tree.rb:170 applies this inside ``any:``
    selector groups)."""
    head, *rest = name.split("_")
    return head + "".join(p[:1].upper() + p[1:] for p in rest)


def _check_literals(value: Any) -> Any:
    """Reject, at any depth of an argument, a string smuggling a path key
    (parse_tree.rb:113-114) or not valid Unicode (py4j cannot carry a
    lone surrogate), and an integer outside int64 (Spark's widest)."""
    if isinstance(value, str):
        if PATH_PREFIX in value:
            raise InputArgumentError(
                f"Unexpected value {value!r} for an argument")
        try:
            value.encode()
        except UnicodeEncodeError:
            raise InputArgumentError(
                f"string argument {value!r} is not valid Unicode") from None
    elif isinstance(value, int) and not -2**63 <= value < 2**63:
        raise InputArgumentError("integer argument outside the 64-bit range")
    elif isinstance(value, (list, tuple)):
        for v in value:
            _check_literals(v)
    elif isinstance(value, dict):
        for v in value.values():
            _check_literals(v)
    return value


def _any_groups(value: Any) -> list[dict]:
    """F6 payload normalization: the payload is a LIST of predicate-group
    hashes. ``None`` nil-drops to zero groups (the F5 rule,
    parse_tree.rb:158-160); a bare hash is accepted as a one-group list;
    anything else fails fast with the engine's input error."""
    if value is None:
        return []
    if isinstance(value, dict):
        return [value]
    if isinstance(value, (list, tuple)) \
            and all(isinstance(g, dict) for g in value):
        return list(value)
    raise InputArgumentError(
        "any: expects a list of predicate-group hashes, got "
        f"{type(value).__name__}: {value!r}")


def _camelized(grp: dict, selectors) -> dict:
    """Reference parity (parse_tree.rb:170): attr names inside ``any:``
    selector groups are lowerCamelized before cube lookup, so a
    snake_case attr resolves a camelCase selector. Exact names win;
    the camelized form is a FALLBACK only (applied when the exact key
    is absent), so cubes with snake_case selectors are unaffected.
    A group naming BOTH spellings of one selector is rejected —
    last-write-wins would silently drop one predicate, and losing a
    filter conjunct is the worst possible failure mode."""
    out = {}
    for k, v in grp.items():
        if k != "any" and k not in selectors:
            ck = _camelize_lower(k)
            if ck in selectors:
                if ck in grp or ck in out:
                    raise InputArgumentError(
                        f"any: group names selector '{ck}' more "
                        f"than once (directly or via '{k}') — one "
                        "predicate would be silently dropped")
                k = ck
        out[k] = v
    return out


class Term(NamedTuple):
    """One parsed predicate: ``selector`` compared by ``op`` to ``value``."""
    selector: str
    op: str
    value: Any


class AnyOf(NamedTuple):
    """A parsed ``any:`` payload: OR of AND-groups of Term | AnyOf."""
    groups: tuple


class Filter(NamedTuple):
    """One parsed ``when()`` / ``where=`` argument spec."""
    #: Term | AnyOf, ANDed in written order
    terms: tuple
    #: every selector the spec names, nil-dropped ones included — join
    #: pruning and representation coverage read these
    selectors: tuple


def parse_filter(cube: Cube, args: dict) -> Filter:
    """The one pass over the selector-argument grammar (parse_tree.rb:
    111-195). Rejects injected path keys, unknown selectors and unknown
    operators; camelizes ``any:`` group names; drops nil predicates.

    * scalar value            → eq shorthand          (F1, parse_tree.rb:124-125)
    * {op: val, ...} hash     → AND of operator pairs (F2, :121-122,149-156)
    * [scalars]               → IN list               (F3, :185-195)
    * [{...}, {...}]          → AND of hashes         (F4, :187-190)
    * nil under a non-null op → dropped               (F5, :153,158-160)
    * any: [grp, grp, ...]    → OR of AND-groups      (F6, :117-118,162-183)

    A scalar ``in``/``not_in`` value becomes a one-element list (GraphQL
    list input coercion). Value shapes no operator can compile are
    rejected here (:func:`_check_value`), before any plan is built."""
    _check_literals(args)
    names: dict[str, None] = {}
    return Filter(_parse_terms(cube, args, names), tuple(names))


def _parse_terms(cube: Cube, args: dict, names: dict) -> tuple:
    terms: list = []
    for attr, value in args.items():
        if attr == "any":
            terms.append(AnyOf(tuple(
                _parse_terms(cube, _camelized(grp, cube.selectors), names)
                for grp in _any_groups(value))))
            continue
        cube.selector(attr)  # raises on unknown
        names[attr] = None
        if isinstance(value, dict):
            pairs = list(value.items())
        elif isinstance(value, (list, tuple)) and value \
                and all(isinstance(v, dict) for v in value):
            pairs = [p for h in value for p in h.items()]
        elif isinstance(value, (list, tuple)):
            pairs = [("in", list(value))]
        else:
            pairs = [("eq", value)]
        for op, v in pairs:
            if op not in OPERATORS:
                raise InputArgumentError(
                    f"Unsupported selector operator '{op}'")
            if not applicable_operator(op, v):
                continue
            if op in ("in", "not_in") and not isinstance(v, (list, tuple)):
                v = [v]
            _check_value(attr, op, v)
            terms.append(Term(attr, op, v))
    return tuple(terms)


#: operators whose value is a match pattern
_PATTERN_OPERATORS = frozenset({"like", "not_like", "ilike", "not_ilike"})


def _has_mapping(value: Any) -> bool:
    return isinstance(value, dict) or (
        isinstance(value, (list, tuple)) and any(map(_has_mapping, value)))


def _check_value(attr: str, op: str, value: Any) -> None:
    """Reject a value shape Spark would refuse or reinterpret, so the
    Column compiler and the SQL printer agree: a mapping at any depth, a
    non-string pattern, a ``between`` not of two bounds, or a list inside
    ``in``/``not_in``/``between`` (``isin`` would flatten it). Validates
    only; a value that passes is compiled as written."""
    if _has_mapping(value):
        raise InputArgumentError(
            f"'{attr}': operator '{op}' takes no mapping value, "
            f"got {value!r}")
    if op in _PATTERN_OPERATORS and not isinstance(value, str):
        raise InputArgumentError(
            f"'{attr}': operator '{op}' expects a string pattern, "
            f"got {value!r}")
    if op == "between" and not (isinstance(value, (list, tuple))
                                and len(value) == 2):
        raise InputArgumentError(
            f"'{attr}': operator 'between' expects two bounds "
            f"[low, high], got {value!r}")
    if op in ("in", "not_in", "between") \
            and any(isinstance(v, (list, tuple)) for v in value):
        raise InputArgumentError(
            f"'{attr}': operator '{op}' expects a list of scalars, "
            f"got {value!r}")


@dataclass
class _SliceSpec:
    key: str
    dimension: str
    sub: Optional[str]


@dataclass
class _MeasureSpec:
    key: str
    metric: str
    where: Optional[Filter]


class CubeQueryBuilder:
    """Accumulates slices / measures / filters / ordered options, then
    compiles to one DataFrame. Mirrors the fold in parse_tree.rb:84-107."""

    def __init__(self, cube: Cube, database: str = "default") -> None:
        self.cube = cube
        self.database = database
        self._slices: list[_SliceSpec] = []
        self._measures: list[_MeasureSpec] = []
        self._filters: list[Filter] = []
        self._options: list[tuple[str, Any]] = []
        self._transforms: list[Callable[[DataFrame], DataFrame]] = []
        self._grouping_mode: str = "groupby"
        self._grouping_sets: Optional[list[tuple[str, ...]]] = None
        self._strict_ref_compat: bool = False

    # ------------------------------------------------------------------ API
    def slice(self, *names: str, alias: Optional[str] = None) -> "CubeQueryBuilder":
        """Project + group by dimensions (parse_tree.rb:91). A dotted name
        selects a hierarchical sub-field: ``"orderdate.year"``
        (parse_tree.rb:26-31). ``alias`` supports GraphQL alias fan-out —
        the same dimension requested twice under different names."""
        for name in names:
            dim_name, _, sub = name.partition(".")
            dim = self.cube.dimension(dim_name)  # fail-fast
            if sub:
                dim.column(sub)  # validates the sub-field exists
            key = PATH_PREFIX + (alias or name)
            self._slices.append(_SliceSpec(key, dim_name, sub or None))
        return self

    def measure(self, *names: str, alias: Optional[str] = None,
                where: Optional[dict] = None) -> "CubeQueryBuilder":
        """Aggregate measures (parse_tree.rb:88). ``where`` applies selector
        args to this metric only → conditional aggregate (F8/A4,
        parse_tree.rb:88 apply_args)."""
        for name in names:
            self.cube.metric(name)  # fail-fast
        parsed = parse_filter(self.cube, where) if where else None
        for name in names:
            key = PATH_PREFIX + (alias or name)
            self._measures.append(_MeasureSpec(key, name, parsed))
        return self

    def when(self, args: dict) -> "CubeQueryBuilder":
        """Cube-level filter from selector arguments (parse_tree.rb:111-135).
        Supports the full argument grammar F1-F6 (see ``parse_filter``)."""
        self._filters.append(parse_filter(self.cube, args))
        return self

    def option(self, name: str, args: Any = None) -> "CubeQueryBuilder":
        """Append a query option in client order (parse_tree.rb:99,127-130).
        Known: asc, desc, asc_by_integer, desc_by_integer, limit, offset,
        limit_by, grouping. Unknown names fail fast."""
        if name == "grouping":
            # pre-aggregation switch, not a post-agg fold step — reachable
            # from the GraphQL front-end as options: {grouping: rollup}
            # or {grouping: {mode: sets, sets: [[...], ...]}}
            if isinstance(args, dict):
                return self.grouping(args.get("mode", "groupby"),
                                     sets=args.get("sets"))
            return self.grouping(args)
        if name not in _OPTION_PARSERS:
            raise InputArgumentError(f"Option '{name}' is not supported")
        self._options.append(
            (name, _OPTION_PARSERS[name](_check_literals(args))))
        return self

    # convenience sugar
    @staticmethod
    def _flatten(fields) -> list[str]:
        out: list[str] = []
        for f_ in fields:
            out.extend(f_ if isinstance(f_, (list, tuple)) else [f_])
        return out

    def desc(self, *fields):
        return self.option("desc", self._flatten(fields))

    def asc(self, *fields):
        return self.option("asc", self._flatten(fields))

    def limit(self, n: int):
        return self.option("limit", n)

    def offset(self, n: int):
        return self.option("offset", n)

    def limit_by(self, each, limit: int, offset: int = 0):
        return self.option("limit_by", {"each": each, "limit": limit, "offset": offset})

    def grouping(self, mode: str,
                 sets: Optional[list[list[str]]] = None) -> "CubeQueryBuilder":
        """Grouping-sets family (SURVEY §2.4 A7 — beyond-reference parity
        gap, near-free in Spark): ``groupby`` (default) | ``rollup`` |
        ``cube`` | ``sets`` → ``df.rollup/cube/groupingSets(...)``.
        For ``sets``, each entry lists slice output names (the ``.slice``
        name or alias), e.g. ``sets=[["returnflag", "linestatus"],
        ["returnflag"], []]``; ``[]`` is the grand total."""
        if mode not in ("groupby", "rollup", "cube", "sets"):
            raise InputArgumentError(f"Unknown grouping mode '{mode}'")
        if mode == "sets":
            if not sets or not isinstance(sets, (list, tuple)):
                raise InputArgumentError(
                    "grouping('sets') requires sets=[[name, ...], ...]")
            self._grouping_sets = [_path_keys(s, empty=True) for s in sets]
        self._grouping_mode = mode
        return self

    def transform(self, fn: Callable[[DataFrame], DataFrame]) -> "CubeQueryBuilder":
        """Pre-execution query rewrite hook (S3 — ``append_cube_query``,
        cube_field.rb:50), applied to the compiled DataFrame."""
        self._transforms.append(fn)
        return self

    def strict_reference_compat(self, on: bool = True) -> "CubeQueryBuilder":
        """Opt into the reference's exact ``any:``-group nil semantics
        (VERDICT r07 item 6; parse_tree.rb:177): inside ``any:`` groups
        every nil-valued operator is dropped — INCLUDING the null-aware
        ``is``/``not`` ops the direct selector path keeps (:158-160).
        Default off: this engine's uniform rule is that a null-op an
        author wrote never silently vanishes (documented divergence,
        SURVEY §2.3 F6). The flag exists so a migrating user whose
        queries depend on the reference's drop-all-nils behavior gets it
        bit-for-bit."""
        self._strict_ref_compat = bool(on)
        return self

    # ------------------------------------------------------ parsed filters
    def _selector_set(self) -> set[str]:
        """Every selector the query's filters and measure scopes name."""
        wheres = [m.where for m in self._measures if m.where]
        return {n for f in self._filters + wheres for n in f.selectors}

    def element_names(self) -> tuple[set[str], set[str], set[str]]:
        """Dims reported at *grain* granularity (``dim.sub`` compound keys)
        so representation coverage is checked against the exact requested
        grain — a daily rollup must not answer an hour-grain slice."""
        dims = {f"{s.dimension}.{s.sub}" if s.sub else s.dimension
                for s in self._slices}
        mets = {m.metric for m in self._measures}
        return dims, mets, self._selector_set()

    def _fold_filter(self, f: Filter, leaf: Callable[[Term], Any],
                    all_of: Callable[[list], Any],
                    any_of: Callable[[list], Any]) -> Any:
        """Fold a parsed filter into one predicate: ``leaf`` emits a term,
        ``all_of`` ANDs a non-empty list, ``any_of`` ORs one. None when no
        term survives. Shared by the Column compiler and the SQL printer;
        each supplies its own emitters. Under ``strict_reference_compat``
        a nil-valued term inside an ``any:`` group is dropped
        (parse_tree.rb:177) — read here, so the flag may be set before or
        after ``when()``."""
        def fold(terms: tuple, in_any: bool) -> Any:
            parts = []
            for t in terms:
                if isinstance(t, AnyOf):
                    groups = [g for g in (fold(grp, True) for grp in t.groups)
                              if g is not None]
                    if groups:
                        parts.append(any_of(groups))
                elif not (in_any and t.value is None
                          and self._strict_ref_compat):
                    parts.append(leaf(t))
            return all_of(parts) if parts else None
        return fold(f.terms, False)

    def _predicate(self, resolver, f: Filter) -> Optional[Column]:
        """A parsed filter as one boolean Column against ``resolver``'s
        selectors (the cube or a representation)."""
        return self._fold_filter(
            f, lambda t: resolver.selectors[t.selector].predicate(t.op, t.value),
            lambda ps: functools.reduce(operator.and_, ps),
            lambda gs: functools.reduce(operator.or_, gs))

    def _grouping_set_keys(self) -> list[tuple[str, ...]]:
        """The ``sets`` grouping as slice path keys, each checked against
        the declared slices (a set may be given before its slices)."""
        declared = {s.key for s in self._slices}
        for keys in self._grouping_sets or []:
            unknown = [k[len(PATH_PREFIX):] for k in keys if k not in declared]
            if unknown:
                raise InputArgumentError(
                    f"grouping set references unknown slice(s) {unknown}")
        return self._grouping_sets or []

    # ------------------------------------------------------------- compile
    def required_tables(self) -> frozenset[str]:
        """Join pruning over the RAW representation: tables referenced by
        any requested element."""
        req: set[str] = set()
        for s in self._slices:
            req |= self.cube.dimension(s.dimension).requires
        for m in self._measures:
            req |= self.cube.metric(m.metric).requires
        for name in self._selector_set():
            req |= self.cube.selector(name).requires
        return frozenset(req)

    def cache_key(self) -> str:
        """Canonical spec string — the R3 plan-cache key (the reference
        memoizes on tree + column-map JSON, response_builder.rb:27-38).
        A value JSON cannot hold is keyed by its ``repr``, which names
        its type: a date and its ISO string compile to different plans
        and print differently (``DATE '…'`` vs ``'…'``). ``sources``
        holds the file identity of every table the raw star schema or a
        covering representation would read, so a rewrite is a miss."""
        dims, mets, sels = self.element_names()
        paths = self.cube.source_paths(
            self.database, self.required_tables(),
            self.cube.covering_representations(dims, mets, sels))
        return json.dumps({
            "cube": self.cube.name,
            "db": self.database,
            "slices": [(s.key, s.dimension, s.sub) for s in self._slices],
            "measures": [(m.key, m.metric, m.where) for m in self._measures],
            "filters": self._filters,
            "options": self._options,
            "grouping": self._grouping_mode,
            "grouping_sets": self._grouping_sets,
            # semantics switch → distinct plan-cache entry
            "strict": self._strict_ref_compat,
            "sources": [file_identity(p) for p in paths],
        }, default=repr)

    def _filtered(self, base: DataFrame, resolver) -> DataFrame:
        """Apply the query's filters against ``resolver``'s selectors."""
        for f in self._filters:
            pred = self._predicate(resolver, f)
            if pred is not None:
                base = base.filter(pred)
        return base

    def chosen_representation(self) -> Optional[Representation]:
        """Representation choice by *measured* plan statistics: build each
        covering candidate's filtered scan plus the raw one, ask Catalyst
        for estimated bytes (partition pruning included — driver-side
        analysis, no job), take the smallest. A rollup 100× smaller than
        the fact table therefore still LOSES to raw when the query's
        filter prunes raw to one partition but can't prune the rollup.
        Falls back to declared static costs when stats are unavailable.
        A pure choice: it reads no cache, and the plan cache keeps what
        ``_compile`` chose."""
        dims, mets, sels = self.element_names()
        candidates = self.cube.covering_representations(dims, mets, sels)
        if not candidates:
            return None
        if self.cube.representation_choice == "static":
            return self.cube.choose_representation(dims, mets, sels)
        try:
            raw_bytes = self.cube.plan_size_bytes(self._filtered(
                self.cube.table(self.database,
                                required=self.required_tables()),
                self.cube))
            scored = [
                (rep, self.cube.plan_size_bytes(self._filtered(
                    self.cube.rep_table(rep, self.database), rep)))
                for rep in candidates]
            if raw_bytes is not None and \
                    all(b is not None for _, b in scored):
                best, best_bytes = None, raw_bytes
                for rep, b in scored:
                    if b < best_bytes:
                        best, best_bytes = rep, b
                return best
        except Exception:
            # estimation must never break compilation — but don't hide the
            # estimator bug: log it and use the static fallback (the plan
            # cache keeps the choice, so a repeat query doesn't re-pay it)
            import logging
            logging.getLogger(__name__).warning(
                "representation size estimation failed for %s; using the "
                "statically declared costs", self.cube.name, exc_info=True)
        return self.cube.choose_representation(dims, mets, sels)

    def df(self) -> DataFrame:
        """Compile to a DataFrame: pick representation → filter → groupBy
        (slices) → agg(measures) → ordered option fold → transform hooks.
        No-slice queries produce a single global row (P4); no-measure
        queries a DISTINCT projection."""
        out = frame_over(self.cube.spark, self._cached()[0])
        for fn in self._transforms:
            out = fn(out)
        return out

    def _cached(self) -> tuple[Any, Optional[Representation]]:
        """This query's plan-cache entry: (analyzed plan, representation)."""
        def compile_plan():
            out, rep = self._compile()
            return out._jdf.queryExecution().analyzed(), rep
        return self.cube.plan_cache.get_or_compute(self.cache_key(),
                                                   compile_plan)

    def _slice_cols(self, resolver) -> list:
        cols = []
        for s in self._slices:
            compound = f"{s.dimension}.{s.sub}" if s.sub else s.dimension
            if compound in resolver.dimensions:
                # representations register sub-field grains as compound
                # keys mapping directly to a stored/derived column
                col = resolver.dimensions[compound].column(None)
            else:
                col = resolver.dimensions[s.dimension].column(s.sub)
            cols.append(col.alias(s.key))
        return cols

    def _measure_cols(self, resolver) -> list:
        cols = []
        for m in self._measures:
            metric = resolver.metrics[m.metric]
            cond = self._predicate(resolver, m.where) if m.where else None
            cols.append(metric.agg(cond).alias(m.key))
        return cols

    def stream_df(self, watermark: Optional[tuple[str, str]] = None
                  ) -> DataFrame:
        """Compile the SAME cube query against the streaming backing
        (beyond-reference: the reference is batch-only, SURVEY §2.10).
        The fact table arrives via ``readStream``; star joins become
        stream-static broadcast joins; slices/measures/filters compile
        identically, so any EventsCube query gains a streaming twin
        through one code path.

        ``watermark=("ts", "2 hours")`` bounds state for windowed/keyed
        aggregation. Sort/limit options and rollup/cube/sets grouping
        have no streaming equivalent pre-sink and are rejected — apply
        ordering in the sink or a ``foreachBatch``."""
        if self._options:
            raise InputArgumentError(
                "streaming queries support no sort/limit options; apply "
                "them in the sink or via foreachBatch")
        if self._grouping_mode != "groupby":
            raise InputArgumentError(
                "streaming queries support plain groupBy grouping only")
        base = self.cube.stream_table(self.database,
                                      required=self.required_tables())
        if watermark is not None:
            wm_col, delay = watermark
            base = base.withWatermark(wm_col, delay)
        out = self._aggregate(base, self.cube)
        for fn in self._transforms:
            out = fn(out)
        return out

    def _aggregate(self, base: DataFrame, resolver) -> DataFrame:
        """filter → group → aggregate against ``resolver`` (the cube or a
        representation), before any option."""
        base = self._filtered(base, resolver)
        slice_cols = self._slice_cols(resolver)
        measure_cols = self._measure_cols(resolver)
        if measure_cols:
            if not slice_cols:
                return base.agg(*measure_cols)
            if self._grouping_mode == "sets":
                # groupingSets matches set entries to grouping columns by
                # expression; aliased exprs never match (they come out
                # all-NULL), so pre-project the slices and group by plain
                # column references instead
                pre = base.select("*", *slice_cols)
                return (pre.groupingSets(
                            [[pre[f"`{k}`"] for k in keys]
                             for keys in self._grouping_set_keys()],
                            *[pre[f"`{s.key}`"] for s in self._slices])
                        .agg(*measure_cols))
            grouper = {"groupby": base.groupBy, "rollup": base.rollup,
                       "cube": base.cube}[self._grouping_mode]
            return grouper(*slice_cols).agg(*measure_cols)
        if slice_cols:
            return base.select(*slice_cols).distinct()
        raise InputArgumentError("Query requests no dimensions or metrics")

    def _compile(self) -> tuple[DataFrame, Optional[Representation]]:
        rep = self.chosen_representation()
        if rep is not None:
            resolver = rep
            base = self.cube.rep_table(rep, self.database)
        else:
            resolver = self.cube
            base = self.cube.table(self.database,
                                   required=self.required_tables())
        out = self._aggregate(base, resolver)
        state = _FoldState(order=[])
        for name, args in self._options:
            out = _OPTION_APPLIERS[name](out, args, state)
        return out, rep

    def to_sql(self) -> str:
        """Print this query as one ANSI-SQL statement over the raw star
        schema (sql.py — the activecube SQL-generation role). Raises
        :class:`NotSqlExpressible` for elements with no SQL twin."""
        from .sql import query_sql
        return query_sql(self)

    def relabeled(self) -> DataFrame:
        """``df()`` with the internal ``_aq.`` prefix stripped from output
        column names — the response-facing projection."""
        d = self.df()
        return d.toDF(*[c[len(PATH_PREFIX):] if c.startswith(PATH_PREFIX) else c
                        for c in d.columns])

    def relabeled_sql(self) -> str:
        """``to_sql()`` wrapped in an outer projection that strips the
        ``_aq.`` prefix — the SQL twin of :meth:`relabeled` (column names
        then match the response-facing DataFrame, e.g. for oracle runs)."""
        keys = [s.key for s in self._slices] + [m.key for m in self._measures]
        cols = ", ".join(
            '"{}" AS "{}"'.format(k.replace('"', '""'),
                                  k[len(PATH_PREFIX):].replace('"', '""'))
            for k in keys)
        return f"SELECT {cols} FROM ({self.to_sql()})"


# ---------------------------------------------------------------- options

@dataclass
class _FoldState:
    """Carries the current ORDER BY across the option fold so ``limit_by``
    ranks within groups by the client's preceding sort (O4/O5)."""
    order: list[Column] = field(default_factory=list)


def _path_keys(fields: Any, empty: bool = False) -> tuple[str, ...]:
    """Option field names → path keys, so they bind to output aliases, not
    input columns (parse_tree.rb:138-147, §1.4). A bare name is a
    one-name list; ``empty`` admits ``[]``, a grouping set's grand total."""
    if isinstance(fields, str):
        fields = [fields]
    if not isinstance(fields, (list, tuple)) or not (fields or empty) \
            or not all(isinstance(f_, str) for f_ in fields):
        raise InputArgumentError(
            f"expected a field name or a list of field names, got {fields!r}")
    return tuple(PATH_PREFIX + f_ for f_ in fields)


def _count(n: Any) -> int:
    """A row count: Spark's ``limit``/``offset`` take a Java int."""
    if isinstance(n, bool) or not isinstance(n, int) or not 0 <= n < 2**31:
        raise InputArgumentError(
            f"expected an integer in [0, {2**31 - 1}], got {n!r}")
    return n


def _limit_by_args(args: Any) -> tuple[tuple[str, ...], int, int]:
    """``{each, limit[, offset]}`` → ``(each path keys, limit, offset)``."""
    if not isinstance(args, dict) or "each" not in args or "limit" not in args:
        raise InputArgumentError(
            "limit_by expects {each: field(s), limit: n[, offset: m]}, "
            f"got {args!r}")
    return (_path_keys(args["each"]), _count(args["limit"]),
            _count(args.get("offset", 0)))


#: option name → parser of its raw argument; the parsed value is what the
#: DataFrame fold below and sql.py's printed fold both read
_OPTION_PARSERS: dict[str, Callable[[Any], Any]] = {
    "asc": _path_keys,
    "desc": _path_keys,
    "asc_by_integer": _path_keys,
    "desc_by_integer": _path_keys,
    "limit": _count,
    "offset": _count,
    "limit_by": _limit_by_args,
}


def _sort(df: DataFrame, keys: tuple[str, ...], state: _FoldState,
          ascending: bool, as_integer: bool) -> DataFrame:
    cols = []
    for key in keys:
        c = kcol(key)
        if as_integer:
            # O2: integer interpretation of a string column. try_cast, not
            # cast: under ANSI mode (the Spark 4 default) cast('long')
            # THROWS on a non-numeric string, while the printed oracle
            # uses TRY_CAST (NULL on junk) — both paths must share
            # NULL-on-junk semantics whatever the session's ansi setting.
            c = c.try_cast("long")
        cols.append(c.asc() if ascending else c.desc())
    state.order = cols
    return df.orderBy(*cols)


def _apply_limit_by(df: DataFrame, args: tuple, state: _FoldState) -> DataFrame:
    """ClickHouse ``LIMIT n [OFFSET m] BY key`` (parse_tree.rb:142-143):
    keep rows ``m < rank <= m+n`` per distinct ``each`` group, ranked by the
    preceding sort options. Remaining output columns are appended to the
    ranking order as a deterministic tie-break — a DELIBERATE deviation
    from ClickHouse's "first n in prior order" (which is free to return
    either of two order-tied rows): every engine run and the SQL oracle
    must pick identical survivors for hash checks. Spark ≥3.5 plans this as
    ``WindowGroupLimitExec`` (rank limit pushed below the shuffle), so only
    ~n rows per group per partition survive the map side — the pattern holds
    at 100 TB."""
    keys, limit, offset = args
    order = list(state.order)
    # deterministic tie-break: any output column not already ordering
    for c in df.columns:
        order.append(kcol(c))
    w = Window.partitionBy(*[kcol(k) for k in keys]).orderBy(*order)
    rn = "__aq_rn"
    out = (df.withColumn(rn, F.row_number().over(w))
             .filter((F.col(rn) > offset) & (F.col(rn) <= offset + limit))
             .drop(rn))
    return out


_OPTION_APPLIERS: dict[str, Callable[[DataFrame, Any, _FoldState], DataFrame]] = {
    "asc": lambda df, a, s: _sort(df, a, s, True, False),
    "desc": lambda df, a, s: _sort(df, a, s, False, False),
    "asc_by_integer": lambda df, a, s: _sort(df, a, s, True, True),
    "desc_by_integer": lambda df, a, s: _sort(df, a, s, False, True),
    "limit": lambda df, n, s: df.limit(n),
    "offset": lambda df, n, s: df.offset(n),
    "limit_by": _apply_limit_by,
}
