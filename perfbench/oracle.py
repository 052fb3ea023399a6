"""Correctness gate: every distinct response against DuckDB.

For each top-level field of a request, the engine's own SQL printer
(``CubeQueryBuilder.relabeled_sql()``) renders the field's cube query,
DuckDB runs it over the same parquet files, and the result is compared
with the field's rows in the JSON response, nested objects flattened to
dotted columns. Rows compare as an order-insensitive multiset, except
for fields with a ``limit`` option, whose documents sort on a total
order and so must also agree row by row. Floats agree to a relative
1e-9; every other value must be equal.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os
from typing import Any, Optional

TABLES = ("lineitem", "orders", "customer", "nation", "region", "part",
          "supplier", "documents", "events")


def _flatten(row: dict, prefix: str = "") -> dict:
    out: dict = {}
    for k, v in row.items():
        if isinstance(v, dict):
            out.update(_flatten(v, f"{prefix}{k}."))
        else:
            out[f"{prefix}{k}"] = v
    return out


def _jsonable(v: Any) -> Any:
    """The response encoding of a DuckDB value (the engine's JSON rules:
    temporal values as ISO-8601, exact decimals as strings)."""
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    return v


def _sort_key(row: dict) -> str:
    return json.dumps({k: (float(f"{v:.6g}") if isinstance(v, float) else v)
                       for k, v in row.items()}, sort_keys=True, default=str)


def _same(a: Any, b: Any) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return (isinstance(a, (int, float)) and isinstance(b, (int, float))
                and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9))
    return a == b


def _rows_equal(got: list[dict], want: list[dict]) -> bool:
    return len(got) == len(want) and all(
        g.keys() == w.keys() and all(_same(g[k], w[k]) for k in g)
        for g, w in zip(got, want))


class Oracle:
    def __init__(self, data_dir: str, threads: int) -> None:
        import duckdb
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {int(threads)}")
        self.con.execute("SET TimeZone = 'UTC'")
        for table in TABLES:
            path = os.path.join(data_dir, f"{table}.parquet")
            self.con.execute(f"CREATE TABLE {table} AS SELECT * FROM "
                             f"read_parquet('{path}')")

    def close(self) -> None:
        self.con.close()

    def check(self, cubes: dict, text: str, variables: Optional[dict],
              response: bytes) -> list[str]:
        """Mismatch descriptions for one response; empty when it agrees
        with DuckDB on every field."""
        from activecube_graphql_spark.graphql import (field_spec,
                                                      parse_operations)
        from activecube_graphql_spark.parse_tree import ParseTree

        data = json.loads(response).get("data") or {}
        problems = []
        for key, node in parse_operations(text, variables).items():
            spec = field_spec(node or {})
            sql = (ParseTree(cubes[(node or {}).get("field", key)], spec)
                   .build_query().relabeled_sql())
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            want = [{c: _jsonable(v) for c, v in zip(cols, r)}
                    for r in cur.fetchall()]
            got = [_flatten(r) for r in data.get(key) or []]
            options = (spec.get("args") or {}).get("options") or []
            ordered = "limit" in (dict(options) if isinstance(options, list)
                                  else options)
            if not ordered:
                got, want = (sorted(got, key=_sort_key),
                             sorted(want, key=_sort_key))
            if not _rows_equal(got, want):
                problems.append(f"{key}: {len(got)} rows differ from "
                                f"DuckDB's {len(want)}")
        return problems
