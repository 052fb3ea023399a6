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

The builder is **declarative**: ``slice``/``measure``/``when`` validate
eagerly (fail-fast, parse_tree.rb:30,33) but store only specs; Columns are
materialized at ``df()`` against the chosen *representation* — the raw
star schema or the cheapest covering pre-aggregation (SURVEY §4.3). That
late binding is what makes aggregate-table selection and the compiled-plan
cache (R3) possible.

Compilation is declarative end-to-end: ``filter → groupBy → agg →
(ordered option fold)`` on DataFrames, so Catalyst performs predicate
pushdown, column pruning, partial aggregation, and AQE re-planning without
any engine-side scheduling. The only non-single-call operator is
``limit_by`` (ClickHouse ``LIMIT n BY k``) which compiles to the standard
window + ``row_number`` pattern that Spark ≥3.5 rewrites to
``WindowGroupLimitExec`` (rank pushdown) automatically.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

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


def _check_injection(value: Any) -> Any:
    """parse_tree.rb:113-114 — reject argument values smuggling path keys."""
    if isinstance(value, str) and PATH_PREFIX in value:
        raise InputArgumentError(f"Unexpected value {value!r} for an argument")
    if isinstance(value, (list, tuple)):
        for v in value:
            _check_injection(v)
    if isinstance(value, dict):
        for v in value.values():
            _check_injection(v)
    return value


def _any_groups(value: Any) -> list[dict]:
    """F6 payload normalization, shared by every ``any:`` consumer
    (validate / element-names / predicate / SQL printer): the payload is
    a LIST of predicate-group hashes. ``None`` nil-drops to zero groups
    (the F5 rule, parse_tree.rb:158-160); a bare hash is accepted as a
    one-group list; anything else fails fast — fuzzing found the
    un-normalized sites leaking AttributeError/TypeError on malformed
    payloads instead of the engine's input error."""
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


def _drop_nil_ops(grp: dict) -> dict:
    """The reference's any:-group nil rule (parse_tree.rb:177 ``unless
    arg.nil?``): EVERY nil-valued operator inside an ``any:`` group is
    dropped — including the null-aware ``is``/``not`` ops that the
    direct selector path keeps (:158-160). Only used under
    ``strict_reference_compat``; nested ``any:`` payloads pass through
    (the recursive ``_predicate`` call applies the same rule a level
    down)."""
    out: dict = {}
    for k, v in grp.items():
        if k == "any":
            out[k] = v
            continue
        if v is None:
            continue
        if isinstance(v, dict):
            v = {op: val for op, val in v.items() if val is not None}
            if not v:
                continue
        elif isinstance(v, (list, tuple)) and v \
                and all(isinstance(h, dict) for h in v):
            v = [h2 for h in v
                 for h2 in [{op: val for op, val in h.items()
                             if val is not None}] if h2]
            if not v:
                continue
        out[k] = v
    return out


@dataclass
class _SliceSpec:
    key: str
    dimension: str
    sub: Optional[str]


@dataclass
class _MeasureSpec:
    key: str
    metric: str
    where: Optional[dict]


class CubeQueryBuilder:
    """Accumulates slices / measures / filters / ordered options, then
    compiles to one DataFrame. Mirrors the fold in parse_tree.rb:84-107."""

    def __init__(self, cube: Cube, database: str = "default") -> None:
        self.cube = cube
        self.database = database
        self._slices: list[_SliceSpec] = []
        self._measures: list[_MeasureSpec] = []
        self._filters: list[dict] = []
        self._options: list[tuple[str, Any]] = []
        self._transforms: list[Callable[[DataFrame], DataFrame]] = []
        self._grouping_mode: str = "groupby"
        self._grouping_sets: Optional[list[list[str]]] = None
        self._use_cache: bool = True
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
            if where:
                self._validate_args(where)
            key = PATH_PREFIX + (alias or name)
            self._measures.append(_MeasureSpec(key, name, where))
        return self

    def when(self, args: dict) -> "CubeQueryBuilder":
        """Cube-level filter from selector arguments (parse_tree.rb:111-135).
        Supports the full argument grammar F1-F6 (see ``_predicate``)."""
        self._validate_args(args)
        self._filters.append(args)
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
        if name not in _OPTION_APPLIERS:
            raise InputArgumentError(f"Option '{name}' is not supported")
        self._options.append((name, _check_injection(args)))
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
            if not sets:
                raise InputArgumentError(
                    "grouping('sets') requires sets=[[name, ...], ...]")
            self._grouping_sets = [list(s) for s in sets]
        self._grouping_mode = mode
        return self

    def transform(self, fn: Callable[[DataFrame], DataFrame]) -> "CubeQueryBuilder":
        """Pre-execution query rewrite hook (S3 — ``append_cube_query``,
        cube_field.rb:50), applied to the compiled DataFrame."""
        self._transforms.append(fn)
        return self

    def no_cache(self) -> "CubeQueryBuilder":
        self._use_cache = False
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

    # ------------------------------------------------------- validation
    def _normalize_any_group(self, grp: dict, selectors) -> dict:
        """Reference parity (parse_tree.rb:170): attr names inside ``any:``
        selector groups are lowerCamelized before cube lookup, so a
        snake_case attr resolves a camelCase selector. Exact names win;
        the camelized form is a FALLBACK only (applied when the exact key
        is absent), so cubes with snake_case selectors are unaffected.
        A group naming BOTH spellings of one selector is rejected —
        last-write-wins would silently drop one predicate, and losing a
        filter conjunct is the worst possible failure mode (pre-fallback
        behavior was a fail-fast unknown-selector error; keep failing
        fast)."""
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

    def _validate_args(self, args: dict) -> None:
        """Eager fail-fast pass over the argument grammar: selector names,
        operator names, injection guard. Column building happens later."""
        _check_injection(args)
        for attr, value in args.items():
            if attr == "any":
                for grp in _any_groups(value):
                    self._validate_args(
                        self._normalize_any_group(grp, self.cube.selectors))
                continue
            self.cube.selector(attr)  # raises on unknown
            if isinstance(value, dict):
                for op in value:
                    if op not in OPERATORS:
                        raise InputArgumentError(
                            f"Unsupported selector operator '{op}'")
            elif isinstance(value, (list, tuple)) and value \
                    and all(isinstance(v, dict) for v in value):
                for h in value:
                    for op in h:
                        if op not in OPERATORS:
                            raise InputArgumentError(
                                f"Unsupported selector operator '{op}'")

    # --------------------------------------------------- element name sets
    def _selector_names(self, args: dict) -> set[str]:
        out: set[str] = set()
        for attr, value in args.items():
            if attr == "any":
                for grp in _any_groups(value):
                    out |= self._selector_names(
                        self._normalize_any_group(grp, self.cube.selectors))
            else:
                out.add(attr)
        return out

    def element_names(self) -> tuple[set[str], set[str], set[str]]:
        """Dims reported at *grain* granularity (``dim.sub`` compound keys)
        so representation coverage is checked against the exact requested
        grain — a daily rollup must not answer an hour-grain slice."""
        dims = {f"{s.dimension}.{s.sub}" if s.sub else s.dimension
                for s in self._slices}
        mets = {m.metric for m in self._measures}
        sels: set[str] = set()
        for args in self._filters:
            sels |= self._selector_names(args)
        for m in self._measures:
            if m.where:
                sels |= self._selector_names(m.where)
        return dims, mets, sels

    # ---------------------------------------------------------- predicates
    def _predicate(self, resolver, args: dict) -> Optional[Column]:
        """Argument grammar → one boolean Column (AND of attrs), or None if
        every predicate was nil-dropped.

        * scalar value            → eq shorthand          (F1, parse_tree.rb:124-125)
        * {op: val, ...} hash     → AND of operator pairs (F2, :121-122,149-156)
        * [scalars]               → IN list               (F3, :185-195)
        * [{...}, {...}]          → AND of hashes         (F4, :187-190)
        * any: [grp, grp, ...]    → OR of AND-groups      (F6, :117-118,162-183)
        """
        preds: list[Column] = []
        for attr, value in args.items():
            if attr == "any":
                groups: list[Column] = []
                for grp in _any_groups(value):
                    grp = self._normalize_any_group(grp, resolver.selectors)
                    if self._strict_ref_compat:
                        grp = _drop_nil_ops(grp)
                    gpred = self._predicate(resolver, grp)
                    if gpred is not None:
                        groups.append(gpred)
                if groups:
                    ored = groups[0]
                    for g in groups[1:]:
                        ored = ored | g
                    preds.append(ored)
                continue
            sel = resolver.selectors[attr]
            preds.extend(self._attr_predicates(sel, value))
        if not preds:
            return None
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out

    def _attr_predicates(self, sel, value) -> list[Column]:
        if isinstance(value, dict):  # F2 operator hash
            return [sel.predicate(op, v) for op, v in value.items()
                    if applicable_operator(op, v)]
        if isinstance(value, (list, tuple)):
            if value and all(isinstance(v, dict) for v in value):  # F4
                out = []
                for h in value:
                    out.extend(self._attr_predicates(sel, h))
                return out
            return [sel.predicate("in", list(value))]  # F3
        # F1 bare scalar (or None) → eq
        if applicable_operator("eq", value):
            return [sel.predicate("eq", value)]
        return []

    # ------------------------------------------------------------- compile
    def required_tables(self) -> frozenset[str]:
        """Join pruning over the RAW representation: tables referenced by
        any requested element."""
        req: set[str] = set()
        for s in self._slices:
            req |= self.cube.dimension(s.dimension).requires
        for m in self._measures:
            req |= self.cube.metric(m.metric).requires
            if m.where:
                for name in self._selector_names(m.where):
                    req |= self.cube.selector(name).requires
        for args in self._filters:
            for name in self._selector_names(args):
                req |= self.cube.selector(name).requires
        return frozenset(req)

    def cache_key(self) -> str:
        """Canonical spec string — the R3 plan-cache key (the reference
        memoizes on tree + column-map JSON, response_builder.rb:27-38)."""
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
        }, default=str)

    def _filtered(self, base: DataFrame, resolver) -> DataFrame:
        """Apply the query's filters against ``resolver``'s selectors."""
        for args in self._filters:
            pred = self._predicate(resolver, args)
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
        A query already in the plan cache answers from its entry: the
        representation its cached DataFrame was compiled against."""
        if self._use_cache and self.cache_key() in self.cube.plan_cache:
            return self._cached()[1]
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
        out = self._cached()[0] if self._use_cache else self._compile()[0]
        for fn in self._transforms:
            out = fn(out)
        return out

    def _cached(self) -> tuple[DataFrame, Optional[Representation]]:
        return self.cube.plan_cache.get_or_compute(self.cache_key(),
                                                   self._compile)

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
        base = self._filtered(base, self.cube)
        slice_cols = self._slice_cols(self.cube)
        measure_cols = self._measure_cols(self.cube)
        if measure_cols:
            out = (base.groupBy(*slice_cols).agg(*measure_cols)
                   if slice_cols else base.agg(*measure_cols))
        elif slice_cols:
            out = base.select(*slice_cols).distinct()
        else:
            raise InputArgumentError("Query requests no dimensions or metrics")
        for fn in self._transforms:
            out = fn(out)
        return out

    def _compile(self) -> tuple[DataFrame, Optional[Representation]]:
        rep = self.chosen_representation()
        if rep is not None:
            resolver = rep
            base = self.cube.rep_table(rep, self.database)
        else:
            resolver = self.cube
            base = self.cube.table(self.database,
                                   required=self.required_tables())

        base = self._filtered(base, resolver)

        slice_cols = self._slice_cols(resolver)
        measure_cols = self._measure_cols(resolver)

        if measure_cols:
            if slice_cols:
                if self._grouping_mode == "sets":
                    # groupingSets matches set entries to grouping columns
                    # by expression; aliased exprs never match (they come
                    # out all-NULL), so pre-project the slices and group by
                    # plain column references instead
                    pre = base.select("*", *slice_cols)
                    by_name = {s.key[len(PATH_PREFIX):]: pre[f"`{s.key}`"]
                               for s in self._slices}
                    set_cols = []
                    for names in self._grouping_sets or []:
                        unknown = [n for n in names if n not in by_name]
                        if unknown:
                            raise InputArgumentError(
                                f"grouping set references unknown slice(s) "
                                f"{unknown}")
                        set_cols.append([by_name[n] for n in names])
                    out = (pre.groupingSets(
                               set_cols,
                               *[pre[f"`{s.key}`"] for s in self._slices])
                           .agg(*measure_cols))
                else:
                    grouper = {"groupby": base.groupBy, "rollup": base.rollup,
                               "cube": base.cube}[self._grouping_mode]
                    out = grouper(*slice_cols).agg(*measure_cols)
            else:
                out = base.agg(*measure_cols)
        elif slice_cols:
            out = base.select(*slice_cols).distinct()
        else:
            raise InputArgumentError("Query requests no dimensions or metrics")

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


def _keyify(name: str) -> str:
    """Option field names get the path prefix re-applied so they bind to
    output aliases, not input columns (parse_tree.rb:138-147, §1.4)."""
    return name if name.startswith(PATH_PREFIX) else PATH_PREFIX + name


def _sort(df: DataFrame, fields: Any, state: _FoldState,
          ascending: bool, as_integer: bool) -> DataFrame:
    if isinstance(fields, str):
        fields = [fields]
    cols = []
    for f_name in fields:
        c = kcol(_keyify(f_name))
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


def _apply_limit(df: DataFrame, n: int, state: _FoldState) -> DataFrame:
    return df.limit(int(n))


def _apply_offset(df: DataFrame, n: int, state: _FoldState) -> DataFrame:
    return df.offset(int(n))


def _apply_limit_by(df: DataFrame, args: dict, state: _FoldState) -> DataFrame:
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
    each = args["each"]
    if isinstance(each, str):
        each = [each]
    limit = int(args["limit"])
    offset = int(args.get("offset", 0) or 0)
    part_cols = [kcol(_keyify(e)) for e in each]
    order = list(state.order)
    # deterministic tie-break: any output column not already ordering
    for c in df.columns:
        order.append(kcol(c))
    w = Window.partitionBy(*part_cols).orderBy(*order)
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
    "limit": _apply_limit,
    "offset": _apply_offset,
    "limit_by": _apply_limit_by,
}
