"""GraphQL schema introspection (``__schema`` / ``__type``) over cube
metadata — the last consumed-surface parity delta (VERDICT r08 item 4).

In the reference stack the host declares an SDL and graphql-ruby serves
introspection for it (activecube-graphql gemspec:28 pulls graphql-ruby,
whose introspection system answers ``__schema``/``__type`` for any
mounted schema), so a migrating user's tooling — GraphiQL, codegen
clients — loads the schema out of the box.  This engine has no SDL; its
schema IS the cube registry.  This module derives the introspection
response from it:

* the **Query** type has one field per registered cube; its args are
  the cube's selectors (each accepting the engine's scalar-shorthand or
  operator-hash filter forms — modelled as the ``AqFilter`` scalar, the
  honest GraphQL rendering of a union the SDL type system cannot
  express) plus ``options`` (ordered option application, O1-O5);
* each cube maps to an object type whose fields are its dimensions and
  metrics.  **Result types come from the engine itself**: the cube's
  joined frame is analyzed (driver-side only — no job runs) and each
  element's Spark ``DataType`` maps to a GraphQL type, the same
  type-name-driven conversion contract the response builder implements
  (R4).  Dimension sub-fields (P2) and struct metrics (A6 tuple member
  selection) become nested object types; metric fields carry the
  selector args (F8 conditional aggregates, ``revenue(discount:
  {gteq: 0.05})``).

The resolver is a generic selection walker over that value tree, so the
full GraphiQL ``IntrospectionQuery`` — fragments, aliases, deep TypeRef
nesting — works through the existing parser (graphql.py already expands
fragments/directives/variables).  Acid test:
``graphql.get_introspection_query()`` → ``build_client_schema`` loads
the result as a real client schema (tests/test_server.py).
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import types as T

from .cache import Memo, file_identity
from .model import Cube

__all__ = ["schema_data", "resolve_selection", "find_type"]

# ---------------------------------------------------------------- helpers


def _camel(name: str) -> str:
    return "".join(p.capitalize() for p in name.replace("-", "_").split("_"))


def _scalar(name: str, description: str) -> dict:
    return {"__typename": "__Type", "kind": "SCALAR", "name": name,
            "description": description, "fields": None,
            "inputFields": None, "interfaces": None, "enumValues": None,
            "possibleTypes": None, "ofType": None, "specifiedByURL": None}


def _obj(name: str, description: str, fields: list[dict]) -> dict:
    return {"__typename": "__Type", "kind": "OBJECT", "name": name,
            "description": description, "fields": fields,
            "inputFields": None, "interfaces": [], "enumValues": None,
            "possibleTypes": None, "ofType": None, "specifiedByURL": None}


def _non_null(of: dict) -> dict:
    return {"__typename": "__Type", "kind": "NON_NULL", "name": None,
            "ofType": of}


def _list_of(of: dict) -> dict:
    return {"__typename": "__Type", "kind": "LIST", "name": None,
            "ofType": of}


def _field(name: str, ftype: dict, description: Optional[str] = None,
           args: Optional[list[dict]] = None) -> dict:
    return {"__typename": "__Field", "name": name,
            "description": description, "args": args or [],
            "type": ftype, "isDeprecated": False,
            "deprecationReason": None}


def _input_value(name: str, vtype: dict,
                 description: Optional[str] = None) -> dict:
    return {"__typename": "__InputValue", "name": name,
            "description": description, "type": vtype,
            "defaultValue": None}


# Base scalars always present (GraphQL spec) plus the engine's response
# scalars (server._json_default coercions, R4 type-name-driven
# conversion: temporal → ISO-8601 strings, Decimal → string, binary →
# hex) and the two filter-surface scalars.
_BASE_SCALARS = [
    _scalar("String", "UTF-8 character sequence."),
    _scalar("Int", "Signed 32-bit integer."),
    _scalar("Float", "IEEE-754 double."),
    _scalar("Boolean", "true or false."),
    _scalar("ID", "Opaque identifier, serialized as a String."),
    _scalar("Long", "Signed 64-bit integer (Spark LongType; may exceed "
                    "GraphQL Int's 32-bit range)."),
    _scalar("Decimal", "Exact decimal, serialized as a string (never a "
                       "lossy float)."),
    _scalar("Date", "Calendar date, serialized as ISO-8601 (YYYY-MM-DD)."),
    _scalar("DateTime", "Timestamp, serialized as ISO-8601."),
    _scalar("Binary", "Byte string, serialized as lowercase hex."),
    _scalar("JSON", "Arbitrary JSON value (Spark map/variant columns)."),
    _scalar("AqFilter",
            "Cube filter argument (F1-F7): a bare scalar is equality "
            "shorthand; an object is an operator hash — eq, ne, gt, "
            "gteq, lt, lteq, in, not_in, like, not_like, between, "
            "is_null/not_null, or a list of hashes (AND), or "
            "{any: [...]} (OR)."),
    _scalar("AqOptions",
            "Ordered option application (O1-O5): {desc/asc: alias or "
            "[aliases], limit: n, offset: n, limit_by: {each: n, by: "
            "[aliases]}} — applied in client-written key order."),
]

_DIRECTIVES = [
    {"__typename": "__Directive", "name": "skip",
     "description": "Skips this field or fragment when the condition "
                    "is true.",
     "locations": ["FIELD", "FRAGMENT_SPREAD", "INLINE_FRAGMENT"],
     "isRepeatable": False,
     "args": [_input_value("if", _non_null({"kind": "SCALAR",
                                            "name": "Boolean",
                                            "ofType": None}),
                           "Skip when true.")]},
    {"__typename": "__Directive", "name": "include",
     "description": "Includes this field or fragment only when the "
                    "condition is true.",
     "locations": ["FIELD", "FRAGMENT_SPREAD", "INLINE_FRAGMENT"],
     "isRepeatable": False,
     "args": [_input_value("if", _non_null({"kind": "SCALAR",
                                            "name": "Boolean",
                                            "ofType": None}),
                           "Include when true.")]},
]

#: Spark atomic type → GraphQL scalar name (R4 conversion table).
_ATOMIC = {
    T.StringType: "String", T.CharType: "String", T.VarcharType: "String",
    T.IntegerType: "Int", T.ShortType: "Int", T.ByteType: "Int",
    T.LongType: "Long",
    T.DoubleType: "Float", T.FloatType: "Float",
    T.BooleanType: "Boolean",
    T.DateType: "Date",
    T.TimestampType: "DateTime", T.TimestampNTZType: "DateTime",
    T.DecimalType: "Decimal",
    T.BinaryType: "Binary",
}


class _Builder:
    def __init__(self, cubes: dict[str, Cube], database: str) -> None:
        self.cubes = cubes
        self.database = database
        self.types: dict[str, dict] = {t["name"]: t for t in _BASE_SCALARS}

    # -- Spark DataType → TypeRef (registering nested object types) -----
    def gql_type(self, dt: T.DataType, hint: str) -> dict:
        for cls, name in _ATOMIC.items():
            if isinstance(dt, cls):
                return self.types[name]
        if isinstance(dt, T.ArrayType):
            return _list_of(self.gql_type(dt.elementType, hint))
        if isinstance(dt, T.StructType):
            name = hint
            n = 2
            while name in self.types:  # distinct structs never alias
                name, n = f"{hint}{n}", n + 1
            fields = [_field(f.name, self.gql_type(
                f.dataType, f"{name}{_camel(f.name)}")) for f in dt.fields]
            t = _obj(name, "Struct result (A6 tuple member selection).",
                     fields)
            self.types[name] = t
            return t
        return self.types["JSON"]  # map / variant / anything exotic

    # -- one cube → its row object type ---------------------------------
    def cube_row_type(self, field_name: str, cube: Cube) -> dict:
        row_name = _camel(field_name) + "Row"
        df = cube.table(self.database)  # all joins; analysis only

        dim_cols, met_cols = [], []
        for dname, dim in cube.dimensions.items():
            dim_cols.append(dim.column().alias(f"d//{dname}"))
            for sub in (dim.fields or {}):
                dim_cols.append(dim.column(sub).alias(f"d//{dname}//{sub}"))
        for mname, met in cube.metrics.items():
            met_cols.append(met.agg(None).alias(mname))
        dim_schema = {f.name: f.dataType
                      for f in df.select(*dim_cols).schema.fields} \
            if dim_cols else {}
        met_schema = df.agg(*met_cols).schema if met_cols else None

        sel_args = [
            _input_value(sname, self.types["AqFilter"],
                         "Filter on this selector (scalar shorthand or "
                         "operator hash).")
            for sname in cube.selectors]

        fields: list[dict] = []
        for dname, dim in cube.dimensions.items():
            if dim.fields:
                # a union-shaped dimension declares ``__typename`` as its
                # discriminator sub-field (EventsCube.actor, §2 union
                # surface); GraphQL reserves dunder names and serves
                # __typename implicitly on every object type, so it must
                # not be DECLARED — the engine still answers it.
                sub_fields = [
                    _field(sub, self.gql_type(
                        dim_schema[f"d//{dname}//{sub}"],
                        row_name + _camel(dname) + _camel(sub)))
                    for sub in dim.fields if not sub.startswith("__")]
                tname = row_name + _camel(dname)
                t = _obj(tname,
                         f"Sub-fields of dimension '{dname}' (P2). "
                         "Selecting the bare field instead yields the "
                         "raw value ("
                         + self._type_name(dim_schema[f"d//{dname}"])
                         + ").", sub_fields)
                self.types[tname] = t
                fields.append(_field(dname, t, f"Dimension '{dname}'."))
            else:
                fields.append(_field(
                    dname, self.gql_type(dim_schema[f"d//{dname}"],
                                         row_name + _camel(dname)),
                    f"Dimension '{dname}'."))
        if met_schema is not None:
            for f in met_schema.fields:
                fields.append(_field(
                    f.name, self.gql_type(f.dataType,
                                          row_name + _camel(f.name)),
                    f"Metric '{f.name}'. Accepts selector args as a "
                    "metric-scoped filter (F8 conditional aggregate).",
                    args=[dict(a) for a in sel_args]))
        t = _obj(row_name, f"One result row of cube '{field_name}'.",
                 fields)
        self.types[row_name] = t
        return t

    def _type_name(self, dt: T.DataType) -> str:
        t = self.gql_type(dt, "Anon")
        while t.get("name") is None:
            t = t["ofType"]
        return t["name"]

    def build(self) -> dict:
        query_fields = []
        for fname, cube in self.cubes.items():
            row = self.cube_row_type(fname, cube)
            args = [_input_value(sname, self.types["AqFilter"],
                                 "Filter on this selector.")
                    for sname in cube.selectors]
            args.append(_input_value("options", self.types["AqOptions"],
                                     "Ordered output options (O1-O5)."))
            query_fields.append(_field(
                fname, _list_of(_non_null(row)),
                f"Query cube '{getattr(cube, 'name', fname)}' — slices "
                "are the selected dimensions, measures the selected "
                "metrics.", args=args))
        query = _obj("Query", "Cube registry query surface.", query_fields)
        self.types["Query"] = query
        return {
            "__typename": "__Schema",
            "description": "activecube-graphql-spark cube registry",
            "queryType": query,
            "mutationType": None,
            "subscriptionType": None,
            "types": list(self.types.values()),
            "directives": _DIRECTIVES,
        }


#: schema per (cubes, database, identity of every table they read):
#: long-lived cubes pay the driver-side analysis (~a few hundred ms per
#: cube) once per table version. ``Cube`` hashes by identity, so the key
#: itself pins the cubes.
_SCHEMA_CACHE = Memo()


def schema_data(cubes: dict[str, Cube], database: str = "default") -> dict:
    sources = tuple(file_identity(p) for cube in cubes.values()
                    for p in cube.source_paths(database, None, []))
    return _SCHEMA_CACHE.get_or_compute(
        (tuple(cubes.items()), database, sources),
        lambda: _Builder(cubes, database).build())


def find_type(cubes: dict[str, Cube], name: str,
              database: str = "default") -> Optional[dict]:
    for t in schema_data(cubes, database)["types"]:
        if t.get("name") == name:
            return t
    return None


# ---------------------------------------------------------------- resolver

def resolve_selection(value: Any, node: dict) -> Any:
    """Generic GraphQL selection walk over a plain value tree: dicts are
    objects (``__typename`` served from the data), lists map, leaves
    return as-is.  Unknown requested fields resolve to null (the
    introspection data carries every spec field a loadable client
    needs; anything beyond — e.g. a future spec addition — degrades to
    null instead of an error, which clients treat as absent)."""
    sels = (node or {}).get("fields")
    if value is None:
        return None
    if isinstance(value, list):
        return [resolve_selection(v, node) for v in value]
    if not sels:
        return None if isinstance(value, dict) else value
    if not isinstance(value, dict):
        return value
    out = {}
    for out_name, sub in sels.items():
        real = (sub or {}).get("field", out_name)
        out[out_name] = resolve_selection(value.get(real), sub or {})
    return out
