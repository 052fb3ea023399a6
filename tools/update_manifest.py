"""Regenerate tests/graded_manifest.json — the re-grade guard.

The manifest maps every registered query name to the CURRENT semantics
of its graded row, as TWO hashes:

* ``src``  — sha256 of the query function's source plus its oracle SQL
  text (oracle text is rendered at import, so changes to shared portable
  fragments flow into it);
* ``plan`` — sha256 of the normalized ANALYZED logical plan the query
  builds at sf0.001 (activecube_graphql_spark/plans/fingerprint.py).
  The plan is the rendered semantics of the row — every engine-side SQL
  fragment, cube element expression, and operator internal lands in it —
  so ANY transitive change that alters what the row computes voids its
  evidence mechanically (VERDICT r08 item 6: the r08 ``cosine()``
  zero-vector fix changed no graded row's own source, and voiding was
  left to reviewer vigilance; with plan fingerprints it is structural).

tests/test_driver_contract.py counts a green CORRECTNESS record as
evidence ONLY while the row's current hashes BOTH equal the manifest
entry — edit a graded row (directly or transitively) and it structurally
re-enters the never-green tier (leads the 50-row window) until the
driver grades it again (the ``arg_minmax`` lesson from round 2, made
structural per VERDICT r4 item 9, made transitive per VERDICT r8
item 6).

Run this ONLY when the working tree state is the one the driver's green
records grade: immediately after a round's CORRECTNESS lands, before
touching query code, or after verifying the full registry locally
(tools/verify_local.py).  Rows whose green evidence is known to predate
the current tree must NOT be re-stamped — pass them via ``--void name
[name ...]`` and they get a ``"VOID"`` sentinel that never matches,
keeping them in the never-green tier until the driver re-grades them.

``--check`` writes nothing: it lists every row whose current ``(src,
plan)`` hashes differ from the manifest (or that only one side has)
and exits non-zero if any do — the "no fingerprint moved" check for a
refactor.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, ".")

from activecube_graphql_spark import get_spark  # noqa: E402
from activecube_graphql_spark.driver_queries import QUERIES  # noqa: E402
from activecube_graphql_spark.plans.fingerprint import (  # noqa: E402
    plan_fingerprint,
)
from activecube_graphql_spark.session import ensure_runtime_confs  # noqa: E402
from tests.test_driver_contract import src_hash  # noqa: E402

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "tests", "graded_manifest.json")

SF_FP = "/root/testdata/sf0.001"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--void", nargs="*", default=[],
                    help="rows whose evidence predates this tree: stamp a "
                         "never-matching sentinel instead of current hashes")
    ap.add_argument("--check", action="store_true",
                    help="write nothing; list rows whose hashes moved and "
                         "exit 1 if any did")
    args = ap.parse_args()
    if args.check and args.void:
        raise SystemExit("--check writes nothing; drop --void")
    unknown = sorted(set(args.void) - set(QUERIES))
    if unknown:
        raise SystemExit(f"--void names not in registry: {unknown}")

    spark = ensure_runtime_confs(get_spark("update-manifest"))
    manifest: dict[str, object] = {}
    for name, fn in QUERIES.items():
        entry = {"src": src_hash(name),
                 "plan": plan_fingerprint(fn(spark, SF_FP))}
        if name in args.void:
            # void entries CARRY the current hashes (ADVICE r10): the
            # round-boundary carve-out in test_driver_contract.py only
            # honors a void row as 'pending re-manifest' while the
            # tree still hash-matches what was stamped — an edit AFTER
            # this stamp (hence after the grading it anticipates)
            # breaks the match and the row re-leads the window. Re-run
            # --void after any further edit to the row.
            entry["void"] = True
        manifest[name] = entry
    if args.check:
        raise SystemExit(check(manifest))
    with open(OUT, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.write("\n")
    voided = sorted(args.void)
    print(f"wrote {len(manifest)} entries to {OUT}"
          + (f" (voided: {voided})" if voided else ""))


def check(current: dict[str, dict]) -> int:
    """Print every row whose ``(src, plan)`` differs from the committed
    manifest; 1 if any does, else 0."""
    with open(OUT) as f:
        stamped = json.load(f)
    moved = []
    for name in sorted(set(current) | set(stamped)):
        now, then = current.get(name), stamped.get(name)
        if now is None or then is None:
            moved.append(f"{name}: only in the "
                         f"{'manifest' if now is None else 'registry'}")
            continue
        keys = [k for k in ("src", "plan") if now[k] != then.get(k)]
        if keys:
            moved.append(f"{name}: {'+'.join(keys)} moved")
    for line in moved:
        print(line)
    print(f"{len(moved)} of {len(current)} rows moved")
    return 1 if moved else 0


if __name__ == "__main__":
    main()
