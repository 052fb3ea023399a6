"""ParseTree — the GraphQL-selection-shaped front-end.

Re-creates the reference's semantic analyzer (`Element#initialize`,
/root/reference/lib/activecube/graphql/parse_tree.rb:14-44) over a plain
Python dict spec (the transport — GraphQL HTTP — is out of scope per
SURVEY §7 non-goals; the *semantics* of the mapping are kept):

* each requested field is classified against the cube's registries:
  metric | dimension | dimension sub-field; unknown names fail fast
  (parse_tree.rb:30,33);
* path keys ``_aq.<name>`` / ``<parent_key>.<name>`` assigned exactly as
  the reference does (parse_tree.rb:8,21; SURVEY §1.4);
* aliases allow the same field twice with different args (R2);
* ``__typename`` children are dropped (parse_tree.rb:39-43) EXCEPT under
  a union-typed dimension (parse_tree.rb:70-72), where the request binds
  to the dimension's declared per-row type discriminator — a union
  dimension without a resolver raises, mirroring the reference's
  "Unable to detect type" (response_builder.rb:21-24);
* argument order is preserved (Python dicts are insertion-ordered — the
  analogue of ``sort_node_arguments``, parse_tree.rb:46-68);
* arguments on a *metric* node become metric-scoped filters (conditional
  aggregates); arguments on the *root* become cube-level filters and
  ``options`` (applied in written order, parse_tree.rb:99).

Spec shape::

    {
      "args": {                      # root arguments
         "returnflag": "R",          #   selector args (full F1-F6 grammar)
         "options": [("desc", ["revenue"]), ("limit", 10)],
      },
      "fields": {
         "returnflag": {},                          # dimension slice
         "orderdate": {"fields": {"year": {}}},     # dim sub-fields (nested)
         "revenue": {},                             # metric
         "rev_hi": {"field": "revenue",             # alias fan-out +
                    "args": {"discount": {"gteq": 0.05}}},  # metric-scoped
      },
    }

``parse(cube, spec)`` returns a ParseTree; ``.build_query()`` folds it
into a CubeQueryBuilder (the analogue of parse_tree.rb:84-107 +
cube_field.rb:49-53); ``.nested_df()`` additionally re-projects flat
output columns into nested structs — the reference's ResponseBuilder
re-projection (response_builder.rb:40-138) done Spark-side with
``F.struct`` so ``collect()`` returns the nested tree shape directly (R1).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .errors import InputArgumentError
from .model import Cube
from .query import PATH_PREFIX, CubeQueryBuilder


@dataclass
class Element:
    """One requested node: classification + path key + children."""

    name: str            # output name (alias if given)
    definition: str      # cube element name ("field" override or name)
    kind: str            # 'metric' | 'dimension' | 'subfield'
    key: str             # path key: _aq.<...> (§1.4)
    args: dict = dc_field(default_factory=dict)
    children: list["Element"] = dc_field(default_factory=list)


class ParseTree:
    def __init__(self, cube: Cube, spec: dict) -> None:
        self.cube = cube
        self.root_args: dict = dict(spec.get("args") or {})
        self.elements: list[Element] = []
        fields = spec.get("fields") or {}
        if not isinstance(fields, dict) or not fields:
            raise InputArgumentError("Query spec has no fields")
        seen: set[str] = set()
        for name, node in fields.items():
            if name == "__typename":  # parse_tree.rb:39-43
                continue
            if name in seen:  # children de-dup, parse_tree.rb:38
                continue
            seen.add(name)
            self.elements.append(self._parse_element(name, node or {}, None))

    # -- classification (parse_tree.rb:26-34) -------------------------------
    def _parse_element(self, name: str, node: dict,
                       parent: Optional[Element]) -> Element:
        definition = node.get("field", name)
        if parent is not None and parent.kind == "metric":
            # under a tuple metric → tuple-member lookup by declared name
            # (response_builder.rb:113-126 — children select tuple fields;
            # field order from metric.definition.class.tuple)
            metric = self.cube.metric(parent.definition)
            if not metric.tuple_fields or definition not in metric.tuple_fields:
                raise InputArgumentError(
                    f"Metric '{parent.definition}' has no tuple field "
                    f"'{definition}'")
            kind = "tuplefield"
            key = f"{parent.key}.{name}"
        elif parent is not None:
            # under a dimension → sub-field lookup (parse_tree.rb:27-30)
            dim = self.cube.dimension(parent.definition)
            if definition not in dim.fields:
                raise InputArgumentError(
                    f"Dimension '{parent.definition}' has no sub-field "
                    f"'{definition}'")
            kind = "subfield"
            key = f"{parent.key}.{name}"
        elif definition in self.cube.metrics:
            kind, key = "metric", PATH_PREFIX + name
        elif definition in self.cube.dimensions:
            kind, key = "dimension", PATH_PREFIX + name
        else:
            raise InputArgumentError(
                f"Can not find metric or dimension '{definition}' "
                f"in cube {self.cube.name}")  # parse_tree.rb:33
        el = Element(name=name, definition=definition, kind=kind, key=key,
                     args=dict(node.get("args") or {}))
        for child_name, child_node in (node.get("fields") or {}).items():
            if child_name == "__typename" and not self._union_typename(el):
                continue  # parse_tree.rb:39-43 — dropped unless union
            el.children.append(
                self._parse_element(child_name, child_node or {}, el))
        return el

    def _union_typename(self, el: Element) -> bool:
        """Should a ``__typename`` child of ``el`` survive? Only when the
        element is a union-typed dimension (parse_tree.rb:70-72). A union
        dimension with no declared discriminator is the reference's
        "Unable to detect type of node" (response_builder.rb:21-24)."""
        if el.kind != "dimension":
            return False
        dim = self.cube.dimension(el.definition)
        if not getattr(dim, "union", False):
            return False
        if "__typename" not in dim.fields:
            raise InputArgumentError(
                f"Unable to detect type of node: union dimension "
                f"'{el.definition}' declares no __typename resolver")
        return True

    # -- fold (parse_tree.rb:84-107) ----------------------------------------
    def build_query(self, database: str = "default") -> CubeQueryBuilder:
        q = CubeQueryBuilder(self.cube, database)
        for el in self.elements:
            if el.kind == "metric":
                q.measure(el.definition, alias=el.name,
                          where=el.args or None)
            elif el.kind == "dimension":
                if el.children:
                    for sub in el.children:
                        q.slice(f"{el.definition}.{sub.definition}",
                                alias=f"{el.name}.{sub.name}")
                else:
                    q.slice(el.definition, alias=el.name)
                if el.args:
                    q.when(el.args)  # dimension args filter globally
        # root args: selectors + ordered options (parse_tree.rb:99)
        selector_args = {k: v for k, v in self.root_args.items()
                         if k != "options"}
        if selector_args:
            q.when(selector_args)
        options = self.root_args.get("options")
        if options is not None:
            # an options payload is an ORDERED mapping: a dict (what the
            # GraphQL front-end passes), or a list of (name, args) pairs.
            # Anything else — or a malformed pair — is an input error,
            # not an unpack crash (fuzz).
            if not isinstance(options, (dict, list, tuple)):
                raise InputArgumentError(
                    "options: expects a mapping or a list of "
                    f"(name, args) pairs, got {type(options).__name__}")
            for item in (options.items() if isinstance(options, dict)
                         else options):
                if (not isinstance(item, (list, tuple))
                        or len(item) != 2
                        or not isinstance(item[0], str)):
                    raise InputArgumentError(
                        f"options: malformed entry {item!r} — expected "
                        "a (name, args) pair")
                q.option(item[0], item[1])
        return q

    # -- response shaping R1 (response_builder.rb:40-138) -------------------
    def nested_df(self, database: str = "default") -> DataFrame:
        """Flat path-keyed output re-projected into the requested nested
        tree: dimensions with children become structs of their sub-fields
        (leaf names = requested names, not path keys)."""
        flat = self.build_query(database).df()
        cols = []
        for el in self.elements:
            if el.kind == "dimension" and el.children:
                cols.append(F.struct(*[
                    F.col(f"`{el.key}.{sub.name}`").alias(sub.name)
                    for sub in el.children]).alias(el.name))
            elif el.kind == "metric" and el.children:
                # tuple metric: keep only the requested members, renamed to
                # their requested (alias) names, in request order — the
                # array-of-tuples re-projection of response_builder.rb:111-138
                def _project(members):  # single-arg lambda for F.transform
                    return lambda s: F.struct(*[
                        s[d].alias(n) for n, d in members])
                members = [(sub.name, sub.definition) for sub in el.children]
                cols.append(F.transform(F.col(f"`{el.key}`"),
                                        _project(members)).alias(el.name))
            else:
                cols.append(F.col(f"`{el.key}`").alias(el.name))
        return flat.select(*cols)


def parse(cube: Cube, spec: dict) -> ParseTree:
    return ParseTree(cube, spec)
