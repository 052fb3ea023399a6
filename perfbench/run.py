"""Serving benchmark: seeded GraphQL request streams through ``wsgi_app``.

One client replays a workload's request stream in a closed loop,
in-process and without sockets, against
``wsgi_app({"sales": SalesCube, "documents": DocsCube, "events":
EventsCube})`` on ``local[<cpus>]`` Spark over generated sf0.1-shaped
tables, then checks every distinct response against DuckDB.

    python3 perfbench/run.py --workload dash_variants --seed 1 \\
        --seconds 14 --trace 0

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` alternates untraced and traced passes and
reports the per-layer split (see README.md). Generated data, Spark
scratch space and span dumps go under ``.bench_build/perfbench`` in the
checkout root. Exits non-zero without a result line when the engine is
not next to the benchmark.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import statistics
import subprocess
import sys
import time
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
from workloads import WORKLOADS, Request, stream  # noqa: E402

#: full passes (one request per document) run before timing, to absorb
#: the JIT ramp of a fresh JVM
WARM_PASSES = 3
#: measured passes run even past ``--seconds``: the warm-up halves check
#: needs two untraced passes, and the traced run alternates passes
MIN_PASSES = 4
#: per-layer metrics reported as per-request means of self time
LAYER_MS = {
    "graphql.parse_ms": "graphql.parse",
    "parse_tree.classify_ms": "parse_tree.classify",
    "parse_tree.fold_ms": "parse_tree.fold",
    "parse_tree.nest_ms": "parse_tree.nest",
    "query.compile_ms": "query.compile",
    "query.rep_choice_ms": "query.rep_choice",
    "model.size_estimate_ms": "model.size_estimate",
    "sources.read_ms": "sources.read",
    "spark.collect_ms": "spark.collect",
    "server.shape_ms": "server.shape",
    "server.dispatch_ms": "server.execute",
    "server.json_ms": "server.request",
}
#: layers every traced request passes through; the variable workload
#: also compiles, which reads sources and chooses a representation
ALWAYS_RUN = ("server.request", "server.execute", "graphql.parse",
              "parse_tree.classify", "parse_tree.fold", "parse_tree.nest",
              "query.compile", "spark.collect", "server.shape")
COMPILING = ("query.rep_choice", "sources.read")


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _configure_env(build: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``build``
    (``-XX:-UsePerfData`` stops the JVM's hsperfdata file in the system
    temp dir) and run Spark on all available cores."""
    tmp = build / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(build / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(build / "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_NO_PROGRESS"] = "1"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()


class Client:
    """In-process WSGI client: one POST per call, timed around the app."""

    def __init__(self, app) -> None:
        self.app = app

    def post(self, body: bytes) -> tuple[str, bytes, float]:
        environ = {"REQUEST_METHOD": "POST",
                   "CONTENT_LENGTH": str(len(body)),
                   "wsgi.input": io.BytesIO(body)}
        status: list[str] = []
        t0 = time.perf_counter()
        out = b"".join(self.app(environ,
                                lambda s, headers: status.append(s)))
        return status[0], out, time.perf_counter() - t0


def _ok(status: str, body: bytes) -> bool:
    return status.startswith("200") and "errors" not in json.loads(body)


def _probe_ms(spark, data_dir: str) -> list[float]:
    """The repository's frozen calibration query: one discarded run,
    then two timed collects (ms)."""
    from bench import calibration_query
    calibration_query(spark, data_dir).collect()
    out = []
    for _ in range(2):
        t0 = time.perf_counter()
        calibration_query(spark, data_dir).collect()
        out.append((time.perf_counter() - t0) * 1e3)
    return out


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot; the
    guest fields after steal are already counted in user and nice."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _heap_live_mb(spark) -> float:
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
    usage = (jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
             .getHeapMemoryUsage())
    return usage.getUsed() / 2**20


def _hwm_mb(pid) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Run:
    """One benchmark run: set-up, warm-up, measured phase, checks."""

    def __init__(self, workload, seed: int, seconds: float, trace: bool,
                 data_dir: str, t_start: float) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.data_dir = data_dir
        self.t_start = t_start
        self.requests = stream(workload, seed)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        #: first response bytes per distinct request, and its request
        self.responses: dict[str, tuple[Request, bytes]] = {}
        self.sent: Counter = Counter()    # requests sent per distinct key
        self.phase_s: dict[str, float] = {}   # wall time per phase

    # ------------------------------------------------------------ set-up
    def setup(self) -> float:
        from activecube_graphql_spark import get_spark
        from activecube_graphql_spark.cubes import (DocsCube, EventsCube,
                                                    SalesCube)
        from activecube_graphql_spark.server import wsgi_app

        self.spark = get_spark("perfbench")
        self.cubes = {"sales": SalesCube(self.spark, self.data_dir),
                      "documents": DocsCube(self.spark, self.data_dir),
                      "events": EventsCube(self.spark, self.data_dir)}
        self.client = Client(wsgi_app(self.cubes))
        self.send(next(self.requests))
        return time.perf_counter() - self.t_start

    def send(self, req: Request, scope=None) -> float:
        """POST one request (inside ``scope``, the tracer's request span,
        when given) and record its outcome; returns its wall time."""
        with scope or contextlib.nullcontext():
            status, body, wall = self.client.post(req.body)
        self.attempted += 1
        self.sent[req.key] += 1
        if not _ok(status, body):
            self.failed += 1
            self.problems.append(f"request {req.index}: {status} "
                                 f"{body[:200]!r}")
        first = self.responses.setdefault(req.key, (req, body))
        if first[1] != body:
            self.problems.append(f"request {req.index}: response bytes "
                                 "differ from an earlier identical request")
        return wall

    def passes(self):
        """Endless full passes: one request per document each."""
        n = len(self.workload.documents)
        while True:
            yield [next(self.requests) for _ in range(n)]

    # ---------------------------------------------------------- measure
    def measure(self) -> dict:
        passes = self.passes()
        t_warm = time.perf_counter()
        for _ in range(WARM_PASSES):
            for req in next(passes):
                self.send(req)
        self.phase_s["warm"] = time.perf_counter() - t_warm
        self.probe = _probe_ms(self.spark, self.data_dir)

        tracer = None
        if self.trace:
            from tracing import Tracer
            tracer = self.tracer = Tracer(self.spark)
        lat: list[float] = []            # untraced, in send order
        lat_docs: list[int] = []
        by_doc: dict[int, list[float]] = {}
        traced: list[float] = []
        traced_reqs: list[Request] = []
        n_pass = 0
        ticks0 = _cpu_ticks()
        t0 = time.perf_counter()
        while (time.perf_counter() - t0 < self.seconds
               or n_pass < MIN_PASSES):
            batch = next(passes)
            if tracer is not None and n_pass % 2:
                tracer.install()
                try:
                    for req in batch:
                        traced.append(
                            self.send(req, tracer.request(req.index)))
                        traced_reqs.append(req)
                finally:
                    tracer.uninstall()
            else:
                for req in batch:
                    wall = self.send(req)
                    lat.append(wall)
                    lat_docs.append(req.doc)
                    by_doc.setdefault(req.doc, []).append(wall)
            n_pass += 1
        wall_s = time.perf_counter() - t0
        ticks1 = _cpu_ticks()
        # share of CPU time the hypervisor gave to other guests
        self.steal = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
        self.probe += _probe_ms(self.spark, self.data_dir)

        if tracer is not None:
            self._check_traced_bytes(traced_reqs)
        # halves split on a pass boundary, so each holds equal shares
        n_docs = len(self.workload.documents)
        half = len(lat) // n_docs // 2 * n_docs
        return {"lat": lat, "lat_docs": lat_docs, "by_doc": by_doc,
                "wall_s": wall_s,
                "traced": traced, "traced_reqs": traced_reqs,
                "halves": (statistics.median(lat[half:])
                           / statistics.median(lat[:half]))}

    def _check_traced_bytes(self, traced_reqs: list[Request]) -> None:
        """Traced responses must equal untraced ones byte for byte:
        resend the last traced request of each document untraced."""
        last = {req.doc: req for req in traced_reqs}
        for req in last.values():
            before = self.responses[req.key][1]
            status, body, _ = self.client.post(req.body)
            if body != before:
                self.problems.append(f"request {req.index}: traced and "
                                     "untraced responses differ")

    # ----------------------------------------------------------- checks
    def verify(self) -> int:
        """DuckDB check of every distinct response; returns the number
        of requests sent whose response mismatched."""
        from oracle import Oracle
        oracle = Oracle(self.data_dir, len(os.sched_getaffinity(0)))
        mismatched = 0
        try:
            for key, (req, body) in self.responses.items():
                doc = self.workload.documents[req.doc]
                problems = oracle.check(self.cubes, doc.text, req.variables,
                                        body)
                if problems:
                    mismatched += self.sent[key]
                    self.problems += [f"request {req.index} ({doc.name}): "
                                      f"{p}" for p in problems]
        finally:
            oracle.close()
        return mismatched

    def teardown(self) -> None:
        """Stop Spark, close the JVM's stdin so it exits, and wait."""
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def jvm_pid(self) -> int:
        from pyspark import SparkContext
        return SparkContext._gateway.proc.pid


def end_to_end(run: Run, setup_s: float, m: dict, mismatched: int) -> dict:
    lat_ms = [x * 1e3 for x in m["lat"]]
    n_measured = len(m["lat"]) + len(m["traced"])
    return {
        "setup_s": (setup_s, "s"),
        "req_p50_ms": (statistics.median(lat_ms), "ms"),
        "qps": (n_measured / m["wall_s"], "1/s"),
        "ok_ratio": (1 - (run.failed + mismatched) / run.attempted, "ratio"),
        "heap_live_mb": (run.heap_mb, "MB"),
    }


def per_layer(run: Run, m: dict) -> dict:
    rts = [run.tracer.requests[r.index] for r in m["traced_reqs"]]
    n = len(rts)

    def mean(f) -> float:
        return sum(f(rt) for rt in rts) / n

    out = {name: (mean(lambda rt, s=span: rt.self_s.get(s, 0.0)) * 1e3,
                  "ms") for name, span in LAYER_MS.items()}
    lookups = sum(rt.cache_lookups for rt in rts)
    traced_ms = statistics.fmean(m["traced"]) * 1e3
    out.update({
        "query.plan_cache_hit_ratio": (
            sum(rt.cache_hits for rt in rts) / lookups, "ratio"),
        "query.plan_cache_entries": (
            sum(len(c.plan_cache) for c in run.cubes.values()), "count"),
        "model.size_estimates_per_req": (
            mean(lambda rt: rt.calls["model.size_estimate"]), "count"),
        "sources.reads_per_req": (
            mean(lambda rt: rt.calls["sources.read"]), "count"),
        "spark.jobs_per_req": (mean(lambda rt: rt.jobs), "count"),
        "spark.stages_per_req": (mean(lambda rt: rt.stages), "count"),
        "spark.tasks_per_req": (mean(lambda rt: rt.tasks), "count"),
        "server.rows_per_req": (mean(lambda rt: rt.rows), "count"),
        "server.resp_kb": (statistics.fmean(
            len(run.responses[r.key][1]) for r in m["traced_reqs"]) / 1024,
            "KiB"),
        "trace.request_ms": (traced_ms, "ms"),
        "trace.accounted_ratio": (
            sum(v for v, _ in out.values()) / traced_ms, "ratio"),
        "trace.overhead_ratio": (
            traced_ms / (statistics.fmean(m["lat"]) * 1e3), "ratio"),
        "memory.peak_rss_mb": (run.rss_mb, "MB"),
        "host.probe_ms": (statistics.median(run.probe), "ms"),
        "host.probe_drift": (statistics.median(run.probe[2:])
                             / statistics.median(run.probe[:2]), "ratio"),
        "host.steal_ratio": (run.steal, "ratio"),
        "warm.halves_ratio": (m["halves"], "ratio"),
    })
    for d in range(len(run.workload.documents)):
        out[f"doc.{d}.p50_ms"] = (
            statistics.median(m["by_doc"][d]) * 1e3, "ms")
    return out


def _check_layers(run: Run, m: dict) -> None:
    expected = ALWAYS_RUN + (COMPILING if run.workload.documents[0].draw
                             else ())
    calls = {name: 0 for name in expected}
    for r in m["traced_reqs"]:
        for name in expected:
            calls[name] += run.tracer.requests[r.index].calls[name]
    run.problems += [f"traced layer {name} never ran"
                     for name, c in calls.items() if not c]


def _dump_trace(run: Run, path: Path, metrics: dict) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        json.dump({"workload": run.workload.name, "seed": run.seed,
                   "documents": [d.name for d in run.workload.documents],
                   "metrics": metrics,
                   "spans": run.tracer.span_records()}, f, indent=1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "activecube_graphql_spark" / "__init__.py").is_file() \
            or not (ROOT / "bench.py").is_file():
        return _fail(f"engine sources not found under {ROOT}")
    sys.path.insert(0, str(ROOT))
    build = ROOT / ".bench_build" / "perfbench"
    data_dir = datagen.ensure_data(str(build))
    _configure_env(build)

    # set-up is timed from here: engine import, session, registry and
    # the cold first request (the one-time data build is excluded)
    run = Run(WORKLOADS[args.workload], args.seed, args.seconds,
              bool(args.trace), data_dir, time.perf_counter())
    try:
        setup_s = run.setup()
        m = run.measure()
        t_check = time.perf_counter()
        run.heap_mb = _heap_live_mb(run.spark)
        run.rss_mb = _hwm_mb("self") + _hwm_mb(run.jvm_pid())
        mismatched = run.verify()
        run.phase_s["checks"] = time.perf_counter() - t_check
        if args.trace:
            _check_layers(run, m)
            metrics = per_layer(run, m)
        else:
            metrics = end_to_end(run, setup_s, m, mismatched)
    finally:
        t_down = time.perf_counter()
        run.teardown()
        run.phase_s["teardown"] = time.perf_counter() - t_down

    metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    if args.trace:
        _dump_trace(run, build / "traces" /
                    f"{args.workload}-seed{args.seed}.json", metrics)
    for p in run.problems[:20]:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps({"diagnostics": {
        "measured": len(m["lat"]) + len(m["traced"]),
        "probe_ms": [round(x, 2) for x in run.probe],
        "steal_ratio": round(run.steal, 4),
        "lat_ms": [[d, round(x * 1e3, 1)]
                   for d, x in zip(m["lat_docs"], m["lat"])],
        "halves_ratio": round(m["halves"], 4),
        "phase_s": {k: round(v, 2) for k, v in run.phase_s.items()}}}))
    print(json.dumps({"correct": not run.problems and not mismatched,
                      "attempted": run.attempted,
                      "failed": run.failed + mismatched,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
