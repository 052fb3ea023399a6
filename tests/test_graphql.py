"""GraphQL text front-end (graphql.py): reference-README-shaped documents
must parse, validate, execute, and agree with the builder/SQL paths."""

from __future__ import annotations

import duckdb
import pytest

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def sales(spark):
    from activecube_graphql_spark.cubes import SalesCube
    return SalesCube(spark, SF_SMALL)


def test_readme_shaped_document(sales):
    """The reference README shape: cube field + args + options + nested
    dimension + metric with args (conditional aggregate)."""
    from activecube_graphql_spark.graphql import graphql_query
    tree = graphql_query(sales, """
      { sales(returnflag: "R",
              options: {desc: "revenue", limit: 2}) {
          nation { initial }
          revenue
          hi: revenue(discount: {gteq: 0.05})
      } }""")
    rows = tree.nested_df().collect()
    assert 1 <= len(rows) <= 2  # limit: 2 (sf0.001 may have fewer groups)
    assert set(rows[0].asDict()) == {"nation", "revenue", "hi"}
    assert set(rows[0]["nation"].asDict()) == {"initial"}
    if len(rows) == 2:
        assert rows[0]["revenue"] >= rows[1]["revenue"]
    assert all(r["hi"] <= r["revenue"] for r in rows)


def test_matches_builder_path(sales):
    from activecube_graphql_spark.graphql import graphql_query
    tree = graphql_query(sales, """
      { sales(shipdate: {lteq: "1998-09-02"}) {
          returnflag linestatus revenue count
      } }""")
    got = {tuple(r) for r in tree.build_query().df().collect()}
    want = {tuple(r) for r in
            (sales.query().slice("returnflag", "linestatus")
             .measure("revenue", "count")
             .when({"shipdate": {"lteq": "1998-09-02"}}).df().collect())}
    assert got == want


def test_matches_sql_oracle(sales):
    """GraphQL text → builder → printed SQL → DuckDB must agree with the
    Spark execution of the same document."""
    from activecube_graphql_spark.graphql import graphql_query
    tree = graphql_query(sales, """
      query Q($seg: String = "BUILDING") {
        sales(mktsegment: $seg, options: {desc: "count", limit: 3}) {
          nation count quantity
        } }""")
    q = tree.build_query()
    con = duckdb.connect()
    for t in ["lineitem", "orders", "customer", "nation", "region"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_SMALL}/{t}.parquet')")
    duck = sorted(tuple(r) for r in con.execute(q.to_sql()).fetchall())
    spark_rows = sorted(tuple(r) for r in q.df().collect())
    assert [r[0] for r in duck] == [r[0] for r in spark_rows]
    con.close()


def test_variables_supplied_and_defaults(sales):
    from activecube_graphql_spark.graphql import graphql_query
    doc = """query ($flag: String = "A", $n: Int = 1) {
        sales(returnflag: $flag, options: {limit: $n}) { returnflag count }
    }"""
    r1 = graphql_query(sales, doc).build_query().relabeled().collect()
    assert len(r1) == 1 and r1[0]["returnflag"] == "A"
    r2 = graphql_query(sales, doc, variables={"flag": "N"}) \
        .build_query().relabeled().collect()
    assert r2[0]["returnflag"] == "N"


def test_option_order_preserved_from_document(sales):
    """Client-written option order must survive the object literal
    (sort_node_arguments parity): [limit, desc] wraps in the printed SQL,
    [desc, limit] does not."""
    from activecube_graphql_spark.graphql import graphql_query
    sql_a = graphql_query(sales, """
      { sales(options: {desc: "count", limit: 100}) { returnflag count } }
    """).build_query().to_sql()
    sql_b = graphql_query(sales, """
      { sales(options: {limit: 100, desc: "count"}) { returnflag count } }
    """).build_query().to_sql()
    assert "FROM (" not in sql_a
    assert "FROM (" in sql_b


def test_unknown_field_fails_fast(sales):
    from activecube_graphql_spark.errors import InputArgumentError
    from activecube_graphql_spark.graphql import graphql_query
    with pytest.raises(InputArgumentError, match="Can not find"):
        graphql_query(sales, "{ sales { nonexistent } }")


def test_syntax_and_unsupported_constructs_fail_loudly(sales):
    from activecube_graphql_spark.errors import InputArgumentError
    from activecube_graphql_spark.graphql import parse_graphql
    with pytest.raises(InputArgumentError, match="syntax"):
        parse_graphql("{ sales { returnflag ~ } }")
    with pytest.raises(InputArgumentError, match="undefined fragment"):
        parse_graphql("{ sales { ...frag } }")
    with pytest.raises(InputArgumentError, match="unsupported directive"):
        parse_graphql('{ sales { returnflag @deprecated } }')
    with pytest.raises(InputArgumentError, match="Boolean"):
        parse_graphql('{ sales { returnflag @skip(if: "yes") } }')
    with pytest.raises(InputArgumentError, match="only query"):
        parse_graphql("mutation { sales { returnflag } }")
    with pytest.raises(InputArgumentError, match="no value"):
        parse_graphql("{ sales(returnflag: $missing) { count } }")
    with pytest.raises(InputArgumentError, match="cycle"):
        parse_graphql("""
          fragment a on Sales { ...b }
          fragment b on Sales { ...a }
          { sales { ...a } }""")
    with pytest.raises(InputArgumentError, match="one operation"):
        parse_graphql("{ sales { count } } { sales { count } }")


def test_fragments_named_inline_and_forward_refs(sales):
    """Named fragments (defined before AND after the operation), spreads
    nested through fragments, and inline fragments all expand to the same
    tree the flat document produces; duplicate names de-dup first-wins."""
    from activecube_graphql_spark.graphql import parse_graphql
    spec = parse_graphql("""
      fragment keys on Sales { returnflag linestatus }
      { sales {
          ...keys
          ... on Sales { revenue ...more }
          returnflag            # duplicate: first (fragment) wins
      } }
      fragment more on Sales { count revenue }
    """)
    assert list(spec["fields"]) == ["returnflag", "linestatus", "revenue",
                                    "count"]
    flat = parse_graphql("{ sales { returnflag linestatus revenue count } }")
    assert spec == flat


def test_fragment_document_executes(sales):
    from activecube_graphql_spark.graphql import graphql_query
    tree = graphql_query(sales, """
      query Q($flag: String = "R") {
        sales(returnflag: $flag) { ...body }
      }
      fragment body on Sales { linestatus revenue count }""")
    rows = tree.build_query().relabeled().collect()
    assert len(rows) >= 1
    assert set(rows[0].asDict()) == {"linestatus", "revenue", "count"}


def test_skip_include_directives(sales):
    from activecube_graphql_spark.graphql import parse_graphql
    spec = parse_graphql("""
      query ($all: Boolean = false) {
        sales {
          returnflag
          count @include(if: $all)
          revenue @skip(if: $all)
          ...extra @include(if: $all)
      } }
      fragment extra on Sales { quantity }""")
    assert list(spec["fields"]) == ["returnflag", "revenue"]
    spec2 = parse_graphql("""
      query ($all: Boolean = false) {
        sales {
          returnflag
          count @include(if: $all)
          revenue @skip(if: $all)
          ...extra @include(if: $all)
      } }
      fragment extra on Sales { quantity }""", variables={"all": True})
    assert list(spec2["fields"]) == ["returnflag", "count", "quantity"]


def test_list_typed_variable_declarations(sales):
    """``$ids: [Int!]! = [1, 2]`` — list types parse recursively (the
    graphql-ruby front-end accepts them; type names stay unchecked)."""
    from activecube_graphql_spark.graphql import parse_graphql
    spec = parse_graphql("""
      query ($ids: [Int!]! = [1, 2], $seg: String = "BUILDING") {
        sales(quantity: {in: $ids}, mktsegment: $seg) { count }
      }""")
    assert spec["args"] == {"quantity": {"in": [1, 2]}, "seg": "BUILDING"} \
        or spec["args"]["quantity"] == {"in": [1, 2]}
    spec2 = parse_graphql("""
      query ($ids: [[Int]] = [[1], [2, 3]]) {
        sales(quantity: {in: $ids}) { count } }""")
    assert spec2["args"]["quantity"] == {"in": [[1], [2, 3]]}


def test_fragment_before_operation_uses_operation_default(sales):
    """Definition order is free in GraphQL: a fragment defined BEFORE the
    operation may use a variable whose default the operation declares —
    resolution is deferred to post-parse expansion."""
    from activecube_graphql_spark.graphql import parse_graphql
    spec = parse_graphql("""
      fragment f on Sales { hi: revenue(discount: {gteq: $min}) }
      query ($min: Float = 0.05) { sales { returnflag ...f } }""")
    assert spec["fields"]["hi"]["args"] == {"discount": {"gteq": 0.05}}
    spec2 = parse_graphql("""
      fragment f on Sales { count @skip(if: $off) }
      query ($off: Boolean = true) { sales { returnflag ...f } }""")
    assert list(spec2["fields"]) == ["returnflag"]


def test_nonconstant_variable_default_rejected(sales):
    from activecube_graphql_spark.errors import InputArgumentError
    from activecube_graphql_spark.graphql import parse_graphql
    with pytest.raises(InputArgumentError, match="constant"):
        parse_graphql("query ($a: Int = $b, $b: Int = 1) { sales { count } }")


def test_literals_enums_lists_typename(sales):
    from activecube_graphql_spark.graphql import parse_graphql
    spec = parse_graphql("""
      { sales(mktsegment: [BUILDING, "MACHINERY"],
              quantity: {gteq: 1.5, lt: 40}, returnflag: null) {
          returnflag
          __typename
          count
      } }""")
    assert spec["args"]["mktsegment"] == ["BUILDING", "MACHINERY"]
    assert spec["args"]["quantity"] == {"gteq": 1.5, "lt": 40}
    assert spec["args"]["returnflag"] is None
    assert "__typename" in spec["fields"]  # dropped later by ParseTree
    tree_fields = [e.name for e in
                   __import__("activecube_graphql_spark.parse_tree",
                              fromlist=["ParseTree"]).ParseTree(sales, spec).elements]
    assert tree_fields == ["returnflag", "count"]


def test_alias_fanout_from_text(sales):
    from activecube_graphql_spark.graphql import graphql_query
    tree = graphql_query(sales, """
      { sales {
          returnflag
          all: count
          flagged: count(linestatus: "F")
      } }""")
    rows = {r["returnflag"]: r for r in
            tree.build_query().relabeled().collect()}
    assert all(r["flagged"] <= r["all"] for r in rows.values())


def test_grouping_option_from_text(sales):
    """A7 reachable from the GraphQL surface: options: {grouping: rollup}
    adds the super-aggregate rows over the same document without it."""
    from activecube_graphql_spark.graphql import graphql_query
    plain = graphql_query(sales, """
      { sales { returnflag linestatus count } }""").build_query()
    rolled = graphql_query(sales, """
      { sales(options: {grouping: rollup}) {
          returnflag linestatus count } }""").build_query()
    n_plain = plain.df().count()
    rows = rolled.relabeled().collect()
    assert len(rows) == n_plain + len(
        {r["returnflag"] for r in rows if r["returnflag"] is not None}) + 1
    assert any(r["returnflag"] is None and r["linestatus"] is None
               for r in rows)


# ---------------------------------------------------- property: text ≡ builder

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

G_DIMS = ["returnflag", "linestatus", "orderstatus", "mktsegment", "region"]
G_METRICS = ["count", "revenue", "quantity", "orders", "min_price"]
G_FILTERS = [("returnflag", '"R"', "R"),
             ("quantity", "{gteq: 10}", {"gteq": 10}),
             ("mktsegment", '[BUILDING, "MACHINERY"]',
              ["BUILDING", "MACHINERY"])]


@st.composite
def graphql_specs(draw):
    dims = draw(st.lists(st.sampled_from(G_DIMS), min_size=1, max_size=2,
                         unique=True))
    mets = draw(st.lists(st.sampled_from(G_METRICS), min_size=1, max_size=3,
                         unique=True))
    filt = draw(st.none() | st.sampled_from(G_FILTERS))
    # desc arg passed scalar, exactly as the text front-end delivers it
    # (the option applier accepts scalar or list)
    opts = draw(st.permutations(
        [("desc", f'"{mets[0]}"', mets[0]), ("limit", "7", 7),
         ("offset", "2", 2)]))[:draw(st.integers(0, 3))]
    frag = draw(st.booleans())
    return dims, mets, filt, opts, frag


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(graphql_specs())
def test_graphql_document_equals_builder_chain(spec):
    """Any document over the cube vocabulary must compile to the SAME
    query IR (canonical cache key) as the equivalent builder-API chain —
    argument order, option order, filters, and fragment indirection
    included. Metadata-only: no Spark execution."""
    from activecube_graphql_spark.cubes import SalesCube
    from activecube_graphql_spark.graphql import graphql_query
    dims, mets, filt, opts, frag = spec
    cube = SalesCube(None, "/")  # metadata-only cube

    args = []
    if filt is not None:
        args.append(f"{filt[0]}: {filt[1]}")
    if opts:
        args.append("options: {" +
                    ", ".join(f"{n}: {lit}" for n, lit, _ in opts) + "}")
    arg_txt = f"({', '.join(args)})" if args else ""
    body = " ".join(dims + mets)
    if frag:
        doc = (f"{{ sales{arg_txt} {{ ...f }} }} "
               f"fragment f on Sales {{ {body} }}")
    else:
        doc = f"{{ sales{arg_txt} {{ {body} }} }}"
    via_text = graphql_query(cube, doc).build_query()

    q = cube.query()
    for d in dims:
        q = q.slice(d)
    for m in mets:
        q = q.measure(m)
    if filt is not None:
        q = q.when({filt[0]: filt[2]})
    for n, _, val in opts:
        q = q.option(n, val)
    assert via_text.cache_key() == q.cache_key(), doc


def test_graphql_over_segmented_union_cube(spark, sf_dir, tmp_path):
    """Composition: the GraphQL text front-end drives the UNION ALL
    segmented cube (plans/segments.py) — the reference's input syntax
    over a multi-backing-table cube, agreeing with the single-table
    EventsCube on the same request."""
    from activecube_graphql_spark.cubes import EventsCube
    from activecube_graphql_spark.graphql import graphql_query
    from activecube_graphql_spark.plans.segments import attach_split_events
    doc = '''
      query Q($t: String = "purchase") {
        events(event_type: {eq: $t},
               options: {desc: "total", limit: 5}) {
          event_type
          total
          cnt: count
      } }'''
    seg = attach_split_events(spark, sf_dir,
                              cache_root=str(tmp_path / "segs"))

    def rows(cube):
        out = graphql_query(cube, doc).build_query().relabeled().collect()
        # sums round per convention: segment-union vs single-scan
        # aggregation order differs in the last ulp
        return [(r[0], round(r[1], 2), r[2]) for r in out]

    got = rows(seg)
    want = rows(EventsCube(spark, sf_dir))
    assert got == want and got


def test_graphql_picks_preagg_representation(spark, sf_dir, tmp_path):
    """Composition: a GraphQL document compiled through the builder
    participates in §4.3 backing-table selection like any cube query —
    the covering daily rollup is chosen, and results match the raw
    scan (correctness-neutral rewrite)."""
    from activecube_graphql_spark.cubes import SalesCube
    from activecube_graphql_spark.graphql import graphql_query
    from activecube_graphql_spark.plans.preagg import attach_daily_rollup
    doc = '''
      { sales {
          shipdate { month_start }
          revenue
          cnt: count
      } }'''

    def rows(q):
        return sorted((str(r[0]), r[1], r[2])
                      for r in q.relabeled().collect())

    plain = SalesCube(spark, sf_dir)
    want = rows(graphql_query(plain, doc).build_query())
    cube = SalesCube(spark, sf_dir)
    cube.representation_choice = "static"
    attach_daily_rollup(cube, sf_dir, cache_root=str(tmp_path / "rollup"))
    q = graphql_query(cube, doc).build_query()
    rep = q.chosen_representation()
    assert rep is not None and rep.name == "sales_daily_rollup"
    got = rows(q)
    # revenue compared with tolerance: re-aggregating daily partials
    # reorders the float sum vs the raw scan (last-ulp differences)
    import math
    assert len(got) == len(want) and got
    for (gm, gr, gc), (wm, wr, wc) in zip(got, want):
        assert gm == wm and gc == wc
        assert math.isclose(gr, wr, rel_tol=1e-9), (gm, gr, wr)


# ------------------------------------------------------------- fuzz hardening

@settings(max_examples=120, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.text(
    alphabet=st.sampled_from(list(
        "{}()[]:,@$!.\"\\abcz_ \n\t0159-#sales count fragment query on")),
    max_size=120))
def test_parser_never_crashes_uncontrolled(garbage):
    """Any input must either parse or raise the engine's own
    InputArgumentError — never an IndexError/KeyError/RecursionError
    from parser internals, and never hang. (The reference front-end
    surfaces malformed documents as GraphQL errors; ours must match
    that contract rather than leak Python internals.)"""
    from activecube_graphql_spark.errors import InputArgumentError
    from activecube_graphql_spark.graphql import parse_graphql
    try:
        out = parse_graphql(garbage)
        assert isinstance(out, dict)
    except InputArgumentError:
        pass


def test_unicode_escapes_decode_or_raise_input_error():
    """A ``\\u`` escape takes exactly four hex digits: a valid one
    decodes, and a short or signed one is the engine's InputArgumentError,
    not a ValueError from ``int()``/``chr()``."""
    import pytest

    from activecube_graphql_spark.errors import InputArgumentError
    from activecube_graphql_spark.graphql import parse_graphql

    out = parse_graphql('{ sales(x: "caf\\u00e9") { a } }')
    assert out["args"]["x"] == "caf\u00e9"
    for bad in ('"\\u"', '{ sales(x: "\\u12") { a } }',
                '{ sales(x: "\\u-159") { a } }'):
        with pytest.raises(InputArgumentError, match="unicode escape"):
            parse_graphql(bad)


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.integers(0, 2**32 - 1))
def test_parse_invariant_under_comments_and_commas(seed):
    """GraphQL treats commas and #-comments as whitespace: injecting
    them between any two tokens of a valid document must not change the
    parsed spec."""
    import random

    from activecube_graphql_spark.graphql import parse_graphql
    rng = random.Random(seed)
    tokens = ["{", "sales", "(", "shipdate", ":", "{", "gteq", ":",
              '"1996-01-01"', "}", ",", "options", ":", "{", "desc", ":",
              '"revenue"', "limit", ":", "4", "}", ")", "{", "returnflag",
              "revenue", "cnt", ":", "count", "}", "}"]
    noisy = []
    for t in tokens:
        noisy.append(t)
        r = rng.random()
        if r < 0.2:
            noisy.append(",")
        elif r < 0.35:
            noisy.append("# c,omm{ent\n")
        elif r < 0.5:
            noisy.append("\n\t ")
    want = parse_graphql(" ".join(tokens))
    got = parse_graphql(" ".join(noisy))
    assert got == want
