"""GraphQL document front-end — text → ParseTree spec.

The reference's public input format is a GraphQL document (README.md:39-52
shows ``{ ethereum { transactions(date: {since: ...}, options: {desc:
"date.date", limit: 10}) { date { date } count } } }``). The dict-spec
front-end (parse_tree.py) already replicates the *semantics* of the
mapping; this module adds the *syntax*, so a user of the reference can
paste the same query text and run it against a Spark cube:

    from activecube_graphql_spark.graphql import graphql_query
    tree = graphql_query(cube, '''
      { sales(returnflag: "R", options: {desc: "revenue", limit: 5}) {
          nation { initial }
          revenue
          hi: revenue(discount: {gteq: 0.05})
      } }''')
    df = tree.nested_df()

Implemented subset (everything the reference's query surface uses):
named/anonymous operations, variables with defaults incl. list types
(`$since: ISO8601 = "2019-01-01"`, `$ids: [Int!]! = [1,2]`, re-bound
per request — parse_tree.rb:52-60; resolution deferred to post-parse
expansion so fragments may precede the operation declaring the
defaults), aliases,
nested selection sets, arguments of every GraphQL literal kind (int,
float, string, boolean, null, enum → string, list, input object —
insertion-ordered, the analogue of ``sort_node_arguments`` preserving
client-written option order, parse_tree.rb:46-68), named fragment
definitions + spreads and inline fragments (expanded textually with
cycle detection; type conditions unchecked, like variable types), and
the standard executable directives ``@skip(if:)`` / ``@include(if:)``
evaluated against the bound variables. The reference gets all of these
for free from graphql-ruby (gemspec:28) — its adapter sees only the
post-expansion selection tree, which is exactly what expansion here
feeds to ParseTree; children still de-dup first-wins by output name
(parse_tree.rb:38). Unknown directives are rejected loudly rather than
silently ignored. Pure Python, no dependencies.
"""

from __future__ import annotations

import re
from typing import Any, Optional

from .errors import InputArgumentError
from .model import Cube
from .parse_tree import ParseTree

# ---------------------------------------------------------------- tokenizer

_TOKEN_RE = re.compile(r"""
      (?P<ws>[\s,]+|\#[^\n\r]*)
    | (?P<name>[_A-Za-z][_0-9A-Za-z]*)
    | (?P<float>-?(?:0|[1-9][0-9]*)(?:\.[0-9]+(?:[eE][+-]?[0-9]+)?|[eE][+-]?[0-9]+))
    | (?P<int>-?(?:0|[1-9][0-9]*))
    | (?P<string>"(?:\\.|[^"\\])*")
    | (?P<punct>\.\.\.|[{}()\[\]:$=@!])
""", re.VERBOSE)

_ESCAPES = {'"': '"', "\\": "\\", "/": "/", "b": "\b", "f": "\f",
            "n": "\n", "r": "\r", "t": "\t"}
_HEX4 = re.compile(r"[0-9a-fA-F]{4}")


def _unquote(raw: str) -> str:
    body = raw[1:-1]
    out: list[str] = []
    i = 0
    while i < len(body):
        ch = body[i]
        if ch == "\\":
            esc = body[i + 1]
            if esc == "u":
                hexd = body[i + 2:i + 6]
                if not _HEX4.fullmatch(hexd):
                    raise InputArgumentError(
                        f"GraphQL syntax error: bad unicode escape "
                        f"{body[i:i + 6]!r} in string {raw[:40]!r}")
                out.append(chr(int(hexd, 16)))
                i += 6
                continue
            out.append(_ESCAPES.get(esc, esc))
            i += 2
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _tokenize(text: str) -> list[tuple[str, Any]]:
    tokens: list[tuple[str, Any]] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if m is None:
            raise InputArgumentError(
                f"GraphQL syntax error at offset {pos}: {text[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        val: Any = m.group()
        if kind == "int":
            try:
                val = int(val)
            except ValueError:  # past Python's int-string digit limit
                raise InputArgumentError(
                    f"GraphQL: integer literal of {len(val)} digits") from None
        elif kind == "float":
            val = float(val)
        elif kind == "string":
            val = _unquote(val)
        tokens.append((kind, val))
    tokens.append(("eof", None))
    return tokens


# ------------------------------------------------------------------- parser

class _VarRef:
    """Parse-time placeholder for ``$name``. Values are resolved *after*
    the whole document is parsed (in :meth:`_Parser._expand`), because a
    fragment may be defined before the operation that declares the
    variable's default — definition order is free in GraphQL."""
    __slots__ = ("name",)

    def __init__(self, name: str) -> None:
        self.name = name


def _assert_const(v: Any, var: str) -> None:
    """Variable defaults must be constant (GraphQL spec: DefaultValue is
    a Value[Const]); rejecting ``$a: Int = $b`` here keeps post-parse
    resolution cycle-free."""
    if isinstance(v, _VarRef):
        raise InputArgumentError(
            f"GraphQL: default for ${var} must be a constant, "
            f"got ${v.name}")
    if isinstance(v, list):
        for x in v:
            _assert_const(x, var)
    elif isinstance(v, dict):
        for x in v.values():
            _assert_const(x, var)


class _Parser:
    def __init__(self, tokens: list[tuple[str, Any]],
                 variables: Optional[dict]) -> None:
        self.toks = tokens
        self.i = 0
        self.supplied = dict(variables or {})
        self.defaults: dict[str, Any] = {}
        self.declared: set[str] = set()
        self.fragments: dict[str, list] = {}
        #: recursion guard shared by selection sets and value literals —
        #: a hostile document ("{a{a{a…" or "(x: [[[[…") must fail as an
        #: input error at a bounded depth, never as a Python
        #: RecursionError escaping to the transport's 500 (r09 fuzz
        #: hardening). 64 is an order of magnitude past any real cube
        #: query (the deepest legitimate nesting here is 3).
        self._depth = 0

    _MAX_DEPTH = 64

    def _descend(self) -> None:
        self._depth += 1
        if self._depth > self._MAX_DEPTH:
            raise InputArgumentError(
                f"GraphQL: document nested deeper than {self._MAX_DEPTH}")

    # -- token helpers
    def peek(self) -> tuple[str, Any]:
        return self.toks[self.i]

    def next(self) -> tuple[str, Any]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect_punct(self, p: str) -> None:
        kind, val = self.next()
        if kind != "punct" or val != p:
            raise InputArgumentError(f"GraphQL: expected {p!r}, got {val!r}")

    def expect_name(self) -> str:
        kind, val = self.next()
        if kind != "name":
            raise InputArgumentError(f"GraphQL: expected a name, got {val!r}")
        return val

    def at_punct(self, p: str) -> bool:
        kind, val = self.peek()
        return kind == "punct" and val == p

    # -- grammar
    def document(self) -> dict:
        """Parse every definition (one query operation + any number of
        fragment definitions, in any order), then expand spreads."""
        op_items: Optional[list] = None

        def took_operation(items: list) -> None:
            nonlocal op_items
            if op_items is not None:
                raise InputArgumentError(
                    "GraphQL: only one operation per document is supported")
            op_items = items

        while self.peek()[0] != "eof":
            kind, val = self.peek()
            if kind == "punct" and val == "{":
                took_operation(self.selection_items())
            elif kind == "name" and val == "fragment":
                self.next()
                name = self.expect_name()
                if self.expect_name() != "on":
                    raise InputArgumentError(
                        f"GraphQL: fragment {name} missing type condition")
                self.expect_name()  # type condition (unchecked, like var types)
                self._directives()  # parse position; not executable here
                self.fragments[name] = self.selection_items()
            elif kind == "name":
                if val in ("mutation", "subscription"):
                    raise InputArgumentError(
                        f"GraphQL: only query operations are supported, got {val}")
                if val != "query":
                    raise InputArgumentError(
                        f"GraphQL: unexpected token {val!r} before selection set")
                self.next()
                if self.peek()[0] == "name":  # operation name
                    self.next()
                if self.at_punct("("):
                    self._variable_definitions()
                self._directives()
                took_operation(self.selection_items())
            else:
                raise InputArgumentError(
                    f"GraphQL: unexpected token {val!r} at top level")
        if op_items is None:
            raise InputArgumentError("GraphQL: document has no operation")
        return self._expand(op_items, frozenset())

    def _variable_definitions(self) -> None:
        self.expect_punct("(")
        while not self.at_punct(")"):
            self.expect_punct("$")
            name = self.expect_name()
            self.declared.add(name)
            self.expect_punct(":")
            self._type_ref()  # type (shape parsed, names unchecked)
            if self.at_punct("="):
                self.next()
                default = self.value()
                _assert_const(default, name)
                self.defaults[name] = default
        self.expect_punct(")")

    def _type_ref(self) -> None:
        """Type reference: ``Name`` | ``[Type]``, either suffixed ``!``.
        Parsed recursively so list types (``[Int!]!``) are accepted; type
        *names* stay unchecked, like the reference's adapter (it sees only
        the post-validation tree graphql-ruby hands it)."""
        if self.at_punct("["):
            self.next()
            self._type_ref()
            self.expect_punct("]")
        else:
            self.expect_name()
        if self.at_punct("!"):
            self.next()

    def selection_items(self) -> list:
        """A selection set as an ordered item list with spreads kept
        symbolic — a ``...Frag`` may refer to a fragment defined later in
        the document, so expansion happens after the whole document is
        parsed (see :meth:`_expand`). Items: ``("field", out_name, node)``,
        ``("spread", frag_name)``, ``("inline", items)``. Selections
        dropped by @skip/@include never produce an item."""
        self._descend()
        self.expect_punct("{")
        items: list = []
        while not self.at_punct("}"):
            if self.at_punct("..."):
                self.next()
                kind, val = self.peek()
                if kind == "name" and val == "on":  # inline fragment
                    self.next()
                    self.expect_name()  # type condition (unchecked)
                    dirs = self._directives()
                    items.append(("inline", self.selection_items(), dirs))
                else:
                    frag = self.expect_name()
                    items.append(("spread", frag, self._directives()))
                continue
            name = self.expect_name()
            node: dict[str, Any] = {}
            if self.at_punct(":"):  # alias
                self.next()
                node["field"] = self.expect_name()
            if self.at_punct("("):
                node["args"] = self._arguments()
            dirs = self._directives()
            if self.at_punct("{"):
                node["fields"] = self.selection_items()
            items.append(("field", name, node, dirs))
        self.expect_punct("}")
        self._depth -= 1
        return items

    def _directives(self) -> list[tuple[str, Any]]:
        """Parse any directives at the current position. The two standard
        executable ones are *collected* ``(name, condition)`` — evaluation
        waits for :meth:`_expand`, after every variable default in the
        document has been seen. Unknown directives are rejected loudly."""
        dirs: list[tuple[str, Any]] = []
        while self.at_punct("@"):
            self.next()
            name = self.expect_name()
            args = self._arguments() if self.at_punct("(") else {}
            if name not in ("skip", "include"):
                raise InputArgumentError(
                    f"GraphQL: unsupported directive @{name}")
            dirs.append((name, args.get("if")))
        return dirs

    # -- post-parse phase: variable resolution, directives, flattening

    def _resolve(self, v: Any) -> Any:
        """Substitute every :class:`_VarRef` (supplied value wins over the
        declared default), recursing through lists and input objects."""
        if isinstance(v, _VarRef):
            if v.name in self.supplied:
                return self.supplied[v.name]
            if v.name in self.defaults:
                return self.defaults[v.name]
            raise InputArgumentError(
                f"GraphQL: variable ${v.name} has no value")
        if isinstance(v, list):
            return [self._resolve(x) for x in v]
        if isinstance(v, dict):
            return {k: self._resolve(x) for k, x in v.items()}
        return v

    def _keep(self, dirs: list[tuple[str, Any]]) -> bool:
        """Evaluate collected @skip/@include against the bound variables.
        Returns False when the selection is to be dropped."""
        for name, cond in dirs:
            cond = self._resolve(cond)
            if not isinstance(cond, bool):
                raise InputArgumentError(
                    f"GraphQL: @{name} requires a Boolean if: argument")
            if (name == "skip") == cond:
                return False
        return True

    def _expand(self, items: list, active: frozenset) -> dict:
        """Item list → {out_name: node} field dict. Spreads and inline
        fragments are flattened in document order; duplicate output names
        de-dup first-wins, the same rule the reference applies to the
        post-expansion tree (parse_tree.rb:38 ``uniq(&:name)``). Variable
        references resolve here — after the whole document is parsed — so
        a fragment may precede the operation declaring the defaults."""
        fields: dict[str, dict] = {}
        for item in items:
            if item[0] == "field":
                _, name, node, dirs = item
                if not self._keep(dirs):
                    continue
                if "args" in node:
                    node = dict(node, args=self._resolve(node["args"]))
                if "fields" in node:
                    node = dict(node,
                                fields=self._expand(node["fields"], active))
                fields.setdefault(name, node)
                continue
            if not self._keep(item[2]):
                continue
            if item[0] == "inline":
                sub = self._expand(item[1], active)
            else:  # spread
                frag = item[1]
                if frag in active:
                    raise InputArgumentError(
                        f"GraphQL: fragment cycle through {frag!r}")
                if frag not in self.fragments:
                    raise InputArgumentError(
                        f"GraphQL: undefined fragment {frag!r}")
                sub = self._expand(self.fragments[frag], active | {frag})
            for name, node in sub.items():
                fields.setdefault(name, node)
        return fields

    def _arguments(self) -> dict:
        self.expect_punct("(")
        args: dict[str, Any] = {}
        while not self.at_punct(")"):
            name = self.expect_name()
            self.expect_punct(":")
            args[name] = self.value()
        self.expect_punct(")")
        return args

    def value(self) -> Any:
        kind, val = self.next()
        if kind in ("int", "float", "string"):
            return val
        if kind == "name":
            if val == "true":
                return True
            if val == "false":
                return False
            if val == "null":
                return None
            return val  # enum → its name as string (README: calculate: average)
        if kind == "punct" and val == "$":
            return _VarRef(self.expect_name())  # resolved in _expand
        if kind == "punct" and val == "[":
            self._descend()
            items = []
            while not self.at_punct("]"):
                items.append(self.value())
            self.next()
            self._depth -= 1
            return items
        if kind == "punct" and val == "{":
            self._descend()
            obj: dict[str, Any] = {}
            while not self.at_punct("}"):
                k = self.expect_name()
                self.expect_punct(":")
                obj[k] = self.value()  # insertion order == client order
            self.next()
            self._depth -= 1
            return obj
        raise InputArgumentError(f"GraphQL: unexpected value token {val!r}")


# ------------------------------------------------------------------ facade

def field_spec(node: dict) -> dict:
    """A parsed top-level field node → ParseTree dict spec (the field's
    args become root args; an ``options:`` object stays the mapping it
    is, in client order). Shared by :func:`parse_graphql` and the HTTP
    transport's per-root-field dispatch (server.py)."""
    spec: dict[str, Any] = {"fields": node.get("fields") or {}}
    args = node.get("args") or {}
    if args:
        spec["args"] = args
    return spec


def parse_operations(text: str,
                     variables: Optional[dict] = None) -> dict[str, dict]:
    """Top-level field map of a GraphQL document: response key (alias or
    field name) → parsed node (``node['field']`` holds the real field
    name under an alias). The multi-cube dispatch surface for the HTTP
    transport."""
    return _Parser(_tokenize(text), variables).document()


def parse_graphql(text: str, variables: Optional[dict] = None) -> dict:
    """GraphQL document text → ParseTree dict spec.

    If the document's top level is a single field *with* a selection set
    (the reference shape — the cube-bound field, README.md:39-52), that
    field's arguments become the root args and its selections the fields;
    otherwise the whole top-level set is taken as the field dict."""
    fields = parse_operations(text, variables)
    if len(fields) == 1:
        (name, node), = fields.items()
        if node.get("fields"):
            return field_spec(node)
    return {"fields": fields}


def graphql_query(cube: Cube, text: str,
                  variables: Optional[dict] = None) -> ParseTree:
    """Parse a GraphQL document against ``cube`` → validated ParseTree
    (classification, path keys, fail-fast unknown names — parse_tree.py)."""
    return ParseTree(cube, parse_graphql(text, variables))
