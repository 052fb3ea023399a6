"""SQL printer (sql.py) — deterministic Spark ⟷ DuckDB agreement checks.

Each case builds one CubeQueryBuilder, executes it on Spark, prints it via
``to_sql()``, runs the SQL on DuckDB over the same parquet, and compares
canonicalized results. This validates the printer as an *independent* oracle
path (the driver's handwritten oracle_sql() strings are the other one).
"""

from __future__ import annotations

import math

import duckdb
import pytest

from tests.conftest import SF_SMALL

TABLES = ["lineitem", "orders", "customer", "nation", "region", "part",
          "supplier", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet')")
    yield con
    con.close()


@pytest.fixture(scope="module")
def sales(spark):
    from activecube_graphql_spark.cubes import SalesCube
    return SalesCube(spark, SF_SMALL)


@pytest.fixture(scope="module")
def events(spark):
    from activecube_graphql_spark.cubes import EventsCube
    return EventsCube(spark, SF_SMALL)


def canon(rows):
    """Order-insensitive, float-tolerant canonical form."""
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                vals.append(0.0 if (not math.isfinite(v)) else round(v, 4))
            elif isinstance(v, list):
                vals.append(tuple(round(x, 4) if isinstance(x, float) else x
                                  for x in v))
            elif hasattr(v, "isoformat"):
                vals.append(v.isoformat()[:26])
            else:
                vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def assert_match(q, duck, ordered: bool = False):
    sql = q.to_sql()
    duck_rows = duck.execute(sql).fetchall()
    spark_rows = [tuple(r) for r in q.df().collect()]
    if ordered:
        assert [r[:1] for r in canon(spark_rows)]  # non-empty sanity
    a, b = canon(spark_rows), canon(duck_rows)
    assert a == b, f"mismatch for\n{sql}\nspark={a[:5]}\nduck={b[:5]}"
    return len(a)


# ------------------------------------------------------------------- cases

def test_flagship(sales, duck):
    q = (sales.query().slice("returnflag", "linestatus")
         .measure("revenue", "count", "quantity")
         .when({"shipdate": {"lteq": "1998-09-02"}})
         .desc("revenue"))
    assert assert_match(q, duck) == 6


def test_conditional_aggregate_and_star_join(sales, duck):
    q = (sales.query().slice("nation.initial")
         .measure("quantity", where={"returnflag": "R"})
         .measure("orders", "revenue"))
    assert_match(q, duck)


def test_any_or_tree(sales, duck):
    q = (sales.query().slice("returnflag")
         .measure("count")
         .when({"any": [{"quantity": {"gt": 45}},
                        {"discount": {"gteq": 0.09}, "linestatus": "F"}]}))
    assert_match(q, duck)


def test_nil_drop_matches(sales, duck):
    """A nil arg under gt is dropped on BOTH paths (F5)."""
    q = (sales.query().slice("returnflag").measure("count")
         .when({"quantity": {"gt": None, "lteq": 30}}))
    sql = q.to_sql()
    assert "l_quantity >" not in sql and "l_quantity <= 30" in sql
    assert_match(q, duck)


def test_any_group_camelized_name(spark, duck):
    """A snake_case name inside an ``any:`` group resolves a camelCase
    selector in the printer exactly as in the compiler (parse_tree.rb:170)."""
    from activecube_graphql_spark.cubes import SalesCube
    cube = SalesCube(spark, SF_SMALL)
    cube.selectors = dict(cube.selectors)  # instance-local, no class leak
    cube.selectors["returnFlag"] = cube.selectors["returnflag"]
    q = (cube.query().slice("linestatus").measure("count")
         .when({"any": [{"return_flag": "R"}]}))
    assert assert_match(q, duck) > 0


@pytest.mark.parametrize("flag_first", [True, False])
def test_strict_reference_compat_any_group_nil(sales, duck, flag_first):
    """Under ``strict_reference_compat`` a nil null-op inside ``any:`` is
    dropped by the printer too, whether the flag comes before or after
    ``when()``: the group carries no predicate, every row counts."""
    q = sales.query().slice("linestatus").measure("count")
    args = {"any": [{"returnflag": {"is": None}}]}
    q = (q.strict_reference_compat().when(args) if flag_first
         else q.when(args).strict_reference_compat())
    assert "IS NULL" not in q.to_sql()
    assert assert_match(q, duck) == 2


def test_null_safe_ops(sales, duck):
    q = (sales.query().slice("linestatus").measure("count")
         .when({"returnflag": {"not": "A"}}))
    assert_match(q, duck)


def test_option_order_desc_then_limit_vs_reverse(sales, duck):
    """O5: [desc, limit] ≠ [limit, desc] — printed SQL must preserve the
    fold order via subquery nesting, matching the DataFrame fold."""
    base = lambda: sales.query().slice("orderdate.year").measure("count")
    q1 = base().desc("count").limit(2)
    n1 = assert_match(q1, duck)
    assert n1 == 2
    sql1 = q1.to_sql()
    # limit > rowcount keeps limit-before-sort deterministic for the check
    sql2 = base().limit(100).desc("count").to_sql()
    assert "FROM (" in sql2 and "FROM (" not in sql1
    assert_match(base().limit(100).desc("count"), duck)


def test_limit_offset_fold(sales, duck):
    # offset-after-limit wraps; offset-then-limit merges — both must agree
    q1 = (sales.query().slice("returnflag").measure("count")
          .asc("returnflag").limit(2).offset(1))
    assert assert_match(q1, duck) == 1
    q2 = (sales.query().slice("returnflag").measure("count")
          .asc("returnflag").offset(1).limit(2))
    assert assert_match(q2, duck) == 2


def test_limit_by(sales, duck):
    q = (sales.query().slice("returnflag", "linestatus").measure("count")
         .desc("count").limit_by("returnflag", limit=1))
    assert assert_match(q, duck) == 3


def test_rollup_and_cube(sales, duck):
    q = (sales.query().slice("returnflag", "linestatus").measure("count")
         .grouping("rollup"))
    assert assert_match(q, duck) == 10
    q = (sales.query().slice("returnflag", "linestatus").measure("count")
         .grouping("cube"))
    assert assert_match(q, duck) == 12


def test_grouping_sets(sales, duck):
    """Explicit GROUPING SETS with a marginal, a sub-field grain, and the
    grand total; alias-named slices referenced from the sets."""
    q = (sales.query().slice("returnflag", alias="rf")
         .slice("shipdate.year", alias="yr")
         .measure("count").measure("quantity")
         .grouping("sets", sets=[["rf", "yr"], ["yr"], []]))
    assert assert_match(q, duck) > 0


def test_grouping_sets_unknown_slice_is_input_error(sales):
    """A set naming an undeclared slice must raise the engine's input
    error (not a bare KeyError) from BOTH the printer and the compiler."""
    import pytest

    from activecube_graphql_spark import InputArgumentError
    q = (sales.query().slice("returnflag", alias="rf").measure("count")
         .grouping("sets", sets=[["rf"], ["nope"]]))
    with pytest.raises(InputArgumentError, match="nope"):
        q.to_sql()
    with pytest.raises(InputArgumentError, match="nope"):
        q.df()


def test_distinct_slice_no_measures(sales, duck):
    q = sales.query().slice("returnflag", "linestatus")
    assert assert_match(q, duck) == 6


def test_collect_metric(sales, duck):
    q = sales.query().slice("returnflag").measure("flags")
    assert_match(q, duck)


@pytest.mark.parametrize("scoped", [True, False])
def test_corr_with_a_constant_side_is_null(sales, duck, scoped):
    """quantity = 5 leaves x constant in every group, so Pearson's
    denominator is 0: both engines give NULL, for a metric-scoped
    filter and for a query filter alike."""
    where = {"quantity": {"eq": 5}}
    q = sales.query().slice("returnflag")
    q = (q.measure("qty_price_corr", where=where) if scoped
         else q.measure("qty_price_corr").when(where))
    assert assert_match(q, duck) == 3
    assert [r[1] for r in q.df().collect()] == [None] * 3


def test_by_integer_sort(events, duck):
    q = (events.query().slice("props.k_str", alias="k").measure("count")
         .option("desc_by_integer", "k").limit(3))
    assert_match(q, duck)


def test_events_json_and_window(events, duck):
    q = (events.query().slice("ts.hour_start", alias="h")
         .measure("total", "users")
         .when({"event_type": {"in": ["click", "view"]}})
         .asc("h").limit(10))
    assert_match(q, duck)


def test_not_sql_expressible(sales):
    from activecube_graphql_spark.errors import NotSqlExpressible
    with pytest.raises(NotSqlExpressible):
        sales.query().slice("returnflag").measure("orders_uniq").to_sql()
    with pytest.raises(NotSqlExpressible):
        sales.query().slice("returnflag").measure("top_parts").to_sql()
    with pytest.raises(NotSqlExpressible):
        (sales.query().slice("returnflag").measure("count")
         .transform(lambda df: df).to_sql())


def test_injection_guard_applies_to_sql_path(sales):
    from activecube_graphql_spark.errors import InputArgumentError
    with pytest.raises(InputArgumentError):
        sales.query().slice("returnflag").measure("count") \
            .when({"returnflag": "_aq.count"})


@pytest.mark.parametrize("args", [
    {"quantity": {"in": [[1]]}},
    {"quantity": {"not_in": [1, {"a": 1}]}},
    {"returnflag": {"like": 5}},
    {"returnflag": {"eq": {"a": 1}}},
    {"quantity": 2**63},
    {"quantity": {"in": [1, 10**20]}},
    {"quantity": {"between": [1, 10**20]}},
    {"quantity": {"between": 5}},
    {"quantity": {"between": [1]}},
    {"quantity": {"between": [1, 2, 3]}},
    {"quantity": {"between": [[1], 2]}},
    {"quantity": {"eq": [{"a": 1}]}},
    {"returnflag": "\ud800"},
])
def test_bad_value_shapes_fail_before_either_path(sales, args):
    """A value shape the Column compiler would reinterpret (``isin``
    flattens a nested list) or Spark would refuse is rejected when the
    filter is parsed, so the engine and the printer never disagree."""
    from activecube_graphql_spark.errors import InputArgumentError
    q = sales.query().slice("returnflag").measure("count")
    with pytest.raises(InputArgumentError):
        q.when(args)
    with pytest.raises(InputArgumentError):
        q.measure("revenue", where=args)


@pytest.mark.parametrize("name, args", [
    ("limit", 3_000_000_000),
    ("offset", 3_000_000_000),
    ("limit", -1),
    ("limit", float("inf")),
    ("limit", 10**20),
    ("limit_by", {"each": "returnflag", "limit": 10**20}),
    ("limit_by", {"each": "returnflag", "limit": 1, "offset": -1}),
    ("grouping", {"mode": "sets", "sets": 5}),
    ("grouping", {"mode": "sets", "sets": "returnflag"}),
])
def test_bad_option_values_fail_before_either_path(sales, name, args):
    """A count outside [0, 2**31 - 1] (Spark's ``limit``/``offset`` take
    a Java int) and a ``sets`` that is not a list are rejected when the
    option is parsed, before the engine or the printer reads it."""
    from activecube_graphql_spark.errors import InputArgumentError
    q = sales.query().slice("returnflag").measure("count")
    with pytest.raises(InputArgumentError):
        q.option(name, args)
