"""Per-row measurement harness for registry rows.

Reproduces bench.py's v2 per-row discipline (clearCache -> 1 discarded
warm-up -> median of N timed builds+collects) for a subset of rows.
Next to each median it reports how many Spark jobs ran during the row's
BUILD (``fn(spark, sf_dir)``: should be zero for a lazy query path;
every build job is an eager driver action the bench pays once per timed
run) and during the ACTION (``collect()``), read from the
DAGScheduler's monotone ``nextJobId`` counter on the first timed run —
exact, no listener race. Each row's ``explain("formatted")`` plan is
written to ``plans/<tag>/<name>.txt`` so plan claims are checkable
without running Spark.

Usage (``--sf-dir`` may come from ``$SPARK_GRAFT_SF_DIR`` instead):
    python tools/measure.py --sf-dir DIR --tag before name [name ...]
    python tools/measure.py --sf-dir DIR --tag after --no-plan name ...
    python tools/measure.py --sf-dir DIR --tag before --top 20 --isolate
    python tools/measure.py --sf-dir DIR --all --no-plan --runs 1

Prints one line per row (median, runs, warm-up, build/action jobs) and a
final JSON line ``{name: {median, runs, warmup, build_jobs,
action_jobs}}``. The timed action stays ``collect()`` — the bench/driver
methodology — so medians are directly comparable to bench_out.json rows.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _row_names(args, registry) -> list[str]:
    if args.all:
        return list(registry)
    names = list(args.names)
    if args.top:
        rec = json.load(open(os.path.join(REPO, "bench_out.json")))
        ranked = sorted(rec["queries"].items(), key=lambda kv: -kv[1])
        names += [n for n, _ in ranked[:args.top] if n not in names]
    return names


def _isolated(args, names: list[str]) -> None:
    """One subprocess (own JVM) per row, outputs merged."""
    base = [sys.executable, os.path.abspath(__file__), "--tag", args.tag,
            "--sf-dir", args.sf_dir, "--runs", str(args.runs)]
    if args.no_plan:
        base.append("--no-plan")
    merged: dict[str, dict] = {}
    for name in names:
        p = subprocess.run(base + [name], capture_output=True, text=True)
        for line in p.stdout.splitlines():
            if line.lstrip().startswith("{"):
                merged.update(json.loads(line))
            elif "median" in line:
                print(line, flush=True)
    print(json.dumps(merged))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--tag", default="before",
                    help="plans go to plans/<tag>/")
    ap.add_argument("--top", type=int, default=0,
                    help="measure the N most expensive rows per bench_out.json")
    ap.add_argument("--all", action="store_true",
                    help="measure every registry row")
    ap.add_argument("--no-plan", action="store_true",
                    help="skip writing the explain file")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    required="SPARK_GRAFT_SF_DIR" not in os.environ,
                    help="fixture directory (default: $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--isolate", action="store_true",
                    help="run each row in its OWN subprocess/JVM — multi-row "
                    "sessions contaminate later rows (kn_buckets read 8.1 s "
                    "mid-batch vs 1.76 s solo; leaked JVM/GC state survives "
                    "clearCache), so decisive readings should be isolated")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_NO_PROGRESS", "1")
    from activecube_graphql_spark.driver_queries import QUERIES

    names = _row_names(args, QUERIES)
    bad = [n for n in names if n not in QUERIES]
    if bad:
        sys.exit(f"unknown rows: {bad}")
    if args.isolate and len(names) > 1:
        _isolated(args, names)
        return

    from activecube_graphql_spark import get_spark
    plan_dir = os.path.join(REPO, "plans", args.tag)
    if not args.no_plan:
        os.makedirs(plan_dir, exist_ok=True)

    spark = get_spark("acgs-measure")
    sc = spark.sparkContext

    def next_job_id() -> int:
        return sc._jsc.sc().dagScheduler().nextJobId()

    out: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name]
        spark.catalog.clearCache()
        sc.setJobDescription(f"measure warmup: {name}")
        t0 = time.perf_counter()
        fn(spark, args.sf_dir).collect()
        warm = time.perf_counter() - t0
        runs, jobs = [], None
        for i in range(args.runs):
            sc.setJobDescription(f"measure run{i}: {name}")
            j0 = next_job_id()
            t0 = time.perf_counter()
            df = fn(spark, args.sf_dir)
            j1 = next_job_id()
            df.collect()
            runs.append(round(time.perf_counter() - t0, 4))
            if jobs is None:
                jobs = (j1 - j0, next_job_id() - j1)
        sc.setJobDescription(None)
        med = round(statistics.median(runs), 4)
        out[name] = {"median": med, "runs": runs, "warmup": round(warm, 4),
                     "build_jobs": jobs[0], "action_jobs": jobs[1]}
        print(f"{name:28s} median {med:8.3f}  runs {runs}  warm {warm:.3f}  "
              f"build_jobs {jobs[0]:3d}  action_jobs {jobs[1]:3d}",
              flush=True)
        if not args.no_plan:
            txt = fn(spark, args.sf_dir)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted"))
            with open(os.path.join(plan_dir, f"{name}.txt"), "w") as f:
                f.write(txt)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
