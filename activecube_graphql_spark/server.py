"""GraphQL HTTP transport — the last reference-parity delta (r08).

The reference gem is consumed over HTTP: a Rails/Rack app mounts
graphql-ruby, requests arrive as ``POST /graphql`` with a JSON body
``{"query": ..., "variables": ...}``, and the gem's ParseTree turns the
resolved field into a cube query (SURVEY §3.1; graphql.rb is invoked by
the host server's GraphQL schema). Every SEMANTIC layer of that path is
already graded here (graphql.py text parser → parse_tree.py → query
builder); this module adds the thin transport so a migrating user can
point an existing GraphQL client at this engine unchanged.

Deliberately stdlib-only (``wsgiref`` + ``json`` + ``concurrent.futures``):
no framework, no new dependency, and the WSGI callable is a pure
function of (cubes, request) so tests drive it without sockets.

Scale posture: the transport does NOT own a SparkSession or cache —
it holds long-lived cube instances (the serving-process shape; see
driver_queries._cube) so the engine's plan cache amortizes repeated
query shapes across requests. Each top-level cube field is its own
cube query with its own ``collect()``, exactly like the reference's
SQL round-trip per field (cube_field.rb:53); row caps belong in the
query (``options: {limit: ...}``), as they did under the reference.

Concurrency: a document's cube fields are independent queries, so
:func:`execute` overlaps them instead of leaving the second field idle
behind the first. A small Spark job is mostly scheduling latency, not
compute, so on a ``local[N]`` or a shared cluster the overlap fills
cores the first field leaves idle; under FIFO scheduling the fields'
stages share the cluster and a request never takes longer than the
serial sum. The calling thread runs the first cube field; every other
one runs on one process-wide thread pool of
``sc.defaultParallelism - 1`` threads. The size is derived from the
cluster, not a setting: field threads beyond the task slots would only
queue their jobs for the same slots. The pool is shared across requests because pinned-thread
py4j opens one JVM connection per Python thread, and its tasks never
wait on the pool, so concurrent requests cannot deadlock it. Each pool
task runs under a clone of the caller's JVM local properties (the
``pyspark.InheritableThread`` mechanism), so the request's job group,
description and SparkContext job tags cover every job it launches, and
clears them afterwards so a reused thread carries nothing into the
next request.
"""

from __future__ import annotations

import datetime
import decimal
import functools
import json
import re
from concurrent.futures import ThreadPoolExecutor, wait
from typing import Any, Callable, Optional

from py4j.clientserver import ClientServer
from pyspark import SparkContext
from pyspark.sql import DataFrame

from .errors import InputArgumentError
from .graphql import field_spec, parse_operations
from .introspection import find_type, resolve_selection, schema_data
from .model import Cube
from .parse_tree import ParseTree

__all__ = ["execute", "wsgi_app", "serve"]

#: Transport request-size bound: a GraphQL document is human-authored
#: text — 10 MB is orders of magnitude past GraphiQL's biggest
#: introspection query, and bounding BEFORE the read keeps a hostile
#: Content-Length from sizing server memory.
MAX_BODY_BYTES = 10_000_000


def _json_default(v: Any) -> Any:
    """JSON coercions for engine result types (mirrors the reference's
    response_builder type-name-driven conversion, R4): temporal →
    ISO-8601 strings, exact decimals → strings (never lossy floats),
    binary → hex."""
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    raise TypeError(f"unserializable response value of type {type(v)}")


@functools.lru_cache(maxsize=1)
def _field_pool(sc) -> Optional[ThreadPoolExecutor]:
    """The process-wide pool for a document's second and later cube
    fields: ``sc.defaultParallelism - 1`` threads (the calling thread
    runs the first field), or None on a single-slot context."""
    n = sc.defaultParallelism - 1
    return ThreadPoolExecutor(n, thread_name_prefix="graphql-field") \
        if n > 0 else None


def _inheriting(sc, fn: Callable[[], Any]) -> Callable[[], Any]:
    """``fn`` made to run, on another thread, under a clone of the
    CALLING thread's JVM local properties (job group, description, job
    tags), cloned now; the properties are cleared again afterwards.
    Without pinned-thread py4j there is no per-thread JVM state to
    carry, and ``fn`` runs as is (as in ``pyspark.InheritableThread``)."""
    if not isinstance(sc._gateway, ClientServer):
        return fn
    jsc = sc._jsc.sc()
    props = jsc.getLocalProperties().clone()

    def run():
        jsc.setLocalProperties(props)
        try:
            return fn()
        finally:
            jsc.setLocalProperties(sc._jvm.java.util.Properties())
    return run


def _attempt(fn: Callable[[], Any]) -> tuple[Any, Optional[Exception]]:
    try:
        return fn(), None
    except Exception as e:  # noqa: BLE001 - re-raised in document order
        return None, e


def _gather(calls: list[Callable[[], Any]], pooled: list[bool]) -> list:
    """Run one call per field and return the results in document order.
    Pooled calls after the first go to the field pool; the rest, the
    first pooled one included, run on the calling thread. Every call
    finishes before this returns or raises, and the error raised is the
    first one in document order, so the outcome never depends on which
    thread finished first."""
    offload = [i for i, p in enumerate(pooled) if p][1:]
    sc = SparkContext._active_spark_context
    pool = _field_pool(sc) if offload else None
    futures = {} if pool is None else {
        i: pool.submit(_attempt, _inheriting(sc, calls[i])) for i in offload}
    try:
        inline = {i: _attempt(call) for i, call in enumerate(calls)
                  if i not in futures}
    finally:
        wait(futures.values())
    outcomes = [futures[i].result() if i in futures else inline[i]
                for i in range(len(calls))]
    for _, err in outcomes:
        if err is not None:
            raise err
    return [value for value, _ in outcomes]


def _compile_field(cubes: dict[str, Cube], key: str, node: dict,
                   database: str) -> Any:
    """Phase 1 for one top-level field: an introspection field's value,
    or the compiled DataFrame of a cube field's query."""
    name = node.get("field", key)
    if name == "__typename":  # spec: root meta-field
        return "Query"
    if name == "__schema":  # introspection (VERDICT r08 item 4)
        return resolve_selection(schema_data(cubes, database), node)
    if name == "__type":
        tname = (node.get("args") or {}).get("name")
        if not isinstance(tname, str):
            raise InputArgumentError(
                "__type requires a String 'name' argument")
        return resolve_selection(find_type(cubes, tname, database), node)
    cube = cubes.get(name)
    if cube is None:
        raise InputArgumentError(
            f"Unknown cube field '{name}' — available: {sorted(cubes)}")
    return ParseTree(cube, field_spec(node)).nested_df(database)


def _collect_field(compiled: Any) -> Any:
    """Phase 2 for one top-level field: a cube field's rows, collected
    and shaped; an introspection value as it is."""
    if not isinstance(compiled, DataFrame):
        return compiled
    return [r.asDict(recursive=True) for r in compiled.collect()]


def execute(cubes: dict[str, Cube], document: str,
            variables: Optional[dict] = None,
            database: str = "default") -> dict:
    """Run a GraphQL document against the cube registry → GraphQL-spec
    response dict: ``{"data": {responseKey: [row, ...], ...}}`` on
    success, ``{"errors": [{"message": ...}], "data": None}`` on the
    first input error (fail-fast like the engine itself — a malformed
    request never half-executes). Multiple top-level fields may target
    different cubes in one document; aliases name the response keys.

    Two phases, each concurrent across the document's cube fields (see
    the module docstring for the threads):

    1. classify every field and compile every cube field's query;
       introspection fields resolve on the calling thread. All fields
       finish before any error is reported, and the error reported is
       the first in document order, so a bad field anywhere in the
       document comes back before any field has run a query job (the
       first read of a parquet path still infers its schema, a job).
    2. collect and shape every cube field's rows. ``data`` is built in
       document order, so the response bytes do not depend on which
       field finished first.

    There is no concurrency setting: the thread count follows
    ``sc.defaultParallelism`` and a one-field document runs entirely on
    the calling thread.

    In-band error surface, the three ways a bad request fails:
    :class:`InputArgumentError`, raised while the document and its
    values are parsed, before any plan exists (``query.parse_filter``
    and the option parsers alone decide whether a value is acceptable);
    ``RecursionError`` from a value nested past the Python stack; and a
    Spark ``AnalysisException`` or data exception (SQLSTATE class 22,
    e.g. ``shipdate: {gteq: "notadate"}`` → CAST_INVALID_INPUT, raised
    only once the job runs). A Spark message is cut before the analyzed
    plan (it lists the backing table's columns) and the query context
    (it names server files), and every message is capped, so a JVM
    trace never ships to a client. Anything else is a genuine server
    bug and propagates to the transport's 500."""
    from pyspark.errors import AnalysisException, PySparkException
    try:
        ops = parse_operations(document, variables)
        if not ops:
            raise InputArgumentError("document has no top-level fields")
        fields = [(key, node or {}) for key, node in ops.items()]
        compiled = _gather(
            [functools.partial(_compile_field, cubes, key, node, database)
             for key, node in fields],
            [node.get("field", key) in cubes for key, node in fields])
        values = _gather(
            [functools.partial(_collect_field, v) for v in compiled],
            [isinstance(v, DataFrame) for v in compiled])
        return {"data": {key: v for (key, _), v in zip(fields, values)}}
    except RecursionError:  # a value nested past the Python stack
        return {"errors": [{"message": "document too deeply nested"}],
                "data": None}
    except InputArgumentError as e:
        return _in_band(str(e))
    except PySparkException as e:
        if not (isinstance(e, AnalysisException)
                or (e.getSqlState() or "").startswith("22")):
            raise
        return _in_band(re.split(r";\n|\n== ", str(e), maxsplit=1)[0])


def _in_band(msg: str) -> dict:
    """An input error as a GraphQL ``errors`` response, its message
    capped at 500 characters."""
    if len(msg) > 500:
        msg = msg[:500] + " …"
    return {"errors": [{"message": msg}], "data": None}


def wsgi_app(cubes: dict[str, Cube], database: str = "default"):
    """WSGI callable serving the reference's transport contract:
    ``POST /graphql`` (or any path) with ``{"query", "variables"}``
    JSON. Malformed JSON / missing query → 400; non-POST → 405; input
    errors inside a well-formed request → 200 with an ``errors`` body
    (the GraphQL convention: transport-level problems are HTTP errors,
    query-level problems are in-band)."""
    def app(environ, start_response):
        def reply(status: str, payload: dict):
            body = json.dumps(payload, default=_json_default).encode()
            start_response(status, [
                ("Content-Type", "application/json"),
                ("Content-Length", str(len(body)))])
            return [body]

        if environ.get("REQUEST_METHOD") != "POST":
            return reply("405 Method Not Allowed",
                         {"errors": [{"message": "POST a JSON body "
                                      '{"query": ..., "variables": ...}'}]})
        try:
            n = int(environ.get("CONTENT_LENGTH") or 0)
            if n < 0:  # read(-1) would slurp the stream unbounded,
                # defeating the size bound below (ADVICE r09)
                raise ValueError(f"negative Content-Length: {n}")
            if n > MAX_BODY_BYTES:  # bound request memory before reading
                return reply("413 Content Too Large",
                             {"errors": [{"message": "request body over "
                                          f"{MAX_BODY_BYTES} bytes"}]})
            req = json.loads(environ["wsgi.input"].read(n) or b"{}")
            query = req["query"]
            variables = req.get("variables")
            # transport-level type contract (review r08: a null/non-str
            # query or non-dict variables previously escaped as a 500)
            if not isinstance(query, str) or not (
                    variables is None or isinstance(variables, dict)):
                raise TypeError("'query' must be a string and "
                                "'variables' an object")
        except (ValueError, KeyError, TypeError, RecursionError) as e:
            return reply("400 Bad Request",
                         {"errors": [{"message": f"malformed request: {e}"}]})
        return reply("200 OK",
                     execute(cubes, query, variables, database))
    return app


def serve(cubes: dict[str, Cube], host: str = "127.0.0.1",
          port: int = 8000, database: str = "default") -> None:
    """Blocking dev server (wsgiref) — production deployments mount
    :func:`wsgi_app` in any WSGI host, exactly as the reference gem is
    mounted in Rack."""
    from wsgiref.simple_server import make_server
    with make_server(host, port, wsgi_app(cubes, database)) as httpd:
        httpd.serve_forever()
