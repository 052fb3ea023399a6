"""One-command round-prep gate: run everything the driver will check.

    python tools/preflight.py [--fast]

Stages (each fails the gate on error):

1. pytest — the full suite; with --fast only the registry plan sweep
   (``tests/test_plans.py::test_registry_plan_invariants``, ~1-2 min:
   every row's plan and build-time actions against the rule table),
   then the engine ⟷ SQL-printer agreement tests
   (``tests/test_sql_printer.py``, ``tests/test_semantics.py``), then
   ``tools/update_manifest.py --check`` (no row's ``(src, plan)``
   fingerprint moved from ``tests/graded_manifest.json``).
2. entry smoke — ``entry(spark)`` on a BARE session at sf0.001
   (the driver's own harness builds the session, not us).
3. result-dtype audit — Spark vs DuckDB physical column types for every
   oracle-bearing row at sf0.001 (the r03/r04 HUGEINT hash-fail class).
4. ULP margin gate — ANN/MMR decision boundaries at the grading SFs.
5. oracle verify — bit-exact value multisets for the FULL registry at
   sf0.01 on a bare session (the driver's grading scale + session).
6. bench parse — bench.py has written a parseable ``bench_out.json``
   whose query set matches the registry (stale/missing rows flagged;
   does NOT run the 15-minute bench itself).
7. serving benchmark guards — ``perfbench/test_perfbench.py``, which
   runs the serving benchmark once (~1 min; skipped with --fast).

Exit 0 = ship it; anything else prints the first failing stage.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(title: str, argv: list[str]) -> None:
    print(f"\n=== {title} ===", flush=True)
    r = subprocess.run(argv, cwd=REPO)
    if r.returncode != 0:
        print(f"PREFLIGHT FAILED at: {title}")
        sys.exit(r.returncode)


def main() -> None:
    fast = "--fast" in sys.argv
    py = sys.executable

    if fast:
        run("registry plan sweep", [
            py, "-m", "pytest",
            "tests/test_plans.py::test_registry_plan_invariants", "-q"])
        run("engine / SQL printer agreement", [
            py, "-m", "pytest", "tests/test_sql_printer.py",
            "tests/test_semantics.py", "-q"])
        run("graded fingerprints unchanged",
            [py, "tools/update_manifest.py", "--check"])
    else:
        run("pytest", [py, "-m", "pytest", "tests/", "-q"])

    run("entry smoke (bare session, sf0.001)", [py, "-c", (
        "import sys; sys.path.insert(0, '.')\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[8]')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "import __spark_entry__ as E\n"
        "rows = E.entry(spark).collect()\n"
        "assert rows, 'entry() returned no rows'\n"
        "print('entry ok:', len(rows), 'rows')\n"
    )])

    run("result-dtype audit (sf0.001)",
        [py, "tools/audit_types.py", "/root/testdata/sf0.001"])

    run("ULP margin gate (ANN/MMR boundaries, grading SFs)",
        [py, "tools/ulp_margins.py"])

    run("oracle verify, full registry (bare session, sf0.01)",
        [py, "tools/verify_local.py", "--vanilla", "/root/testdata/sf0.01"])

    print("\n=== bench_out.json parse ===", flush=True)
    path = os.path.join(REPO, "bench_out.json")
    try:
        rec = json.load(open(path))
    except Exception as e:  # noqa: BLE001
        print(f"PREFLIGHT FAILED: bench_out.json unreadable: {e}")
        sys.exit(1)
    sys.path.insert(0, REPO)
    from activecube_graphql_spark.driver_queries import QUERIES
    missing = sorted(set(QUERIES) - set(rec.get("queries", {})))
    if missing or "value" not in rec:
        print("PREFLIGHT FAILED: bench_out.json stale — rerun python "
              f"bench.py (missing rows: {missing[:6]}...)")
        sys.exit(1)
    print(f"bench ok: {len(rec['queries'])} rows, "
          f"suite {rec['value']}s at sf={rec['sf']}")

    if not fast:
        run("serving benchmark guards",
            [py, "-m", "pytest", "perfbench/test_perfbench.py", "-q"])

    print("\nPREFLIGHT GREEN")


if __name__ == "__main__":
    main()
