"""Guard the driver correctness window (VERDICT r02 item 1/6, r04 items
2 and 9, r08 item 6).

The driver's CORRECTNESS harness checks only the FIRST 50 entries of
``queries()``.  Round 2 accidentally rotated 17 oracle-backed rows past
that cap the same round they were fixed, leaving them with zero hard
evidence.  These gates make that structurally impossible:

* every registry row must either sit inside the graded window for the
  upcoming round or already have a green record in some
  CORRECTNESS_r*.json on disk;
* rows with no usable green record must occupy the EARLIEST window
  positions;
* a green record is only usable while the row's current semantics
  hash-match the committed manifest (tests/graded_manifest.json,
  tools/update_manifest.py) on BOTH axes:

  - ``src``  — the query function source + oracle SQL text (the
    round-2 ``arg_minmax`` lesson: editing a graded row silently
    voided its evidence);
  - ``plan`` — the normalized analyzed-plan fingerprint
    (plans/fingerprint.py; the round-8 ``cosine()`` lesson: an
    engine-side edit that reaches a graded row only transitively
    changed no row source, and voiding was left to reviewer
    vigilance — the rendered plan catches ANY change to what the
    row computes, mechanically).

  A void entry (``tools/update_manifest.py --void``) never counts as
  evidence: it marks rows whose green records are known to predate the
  current tree until the driver re-grades them.  Since r11 (ADVICE r10)
  the void entry CARRIES the hashes current at stamp time, so the
  round-boundary carve-out below can tell 'graded this round, pending
  re-manifest' from 'edited AFTER grading, then voided' — only the
  former counts green for ordering.  Legacy bare ``"VOID"`` strings
  are honored as evidence-void but never as pending.
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import json
import os
import re

import pytest

from activecube_graphql_spark.driver_queries import ORACLES, QUERIES
from activecube_graphql_spark.plans.fingerprint import plan_fingerprint

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50  # observed driver cap (CORRECTNESS_r01-r08 all grade 50 rows)
MANIFEST = os.path.join(REPO, "tests", "graded_manifest.json")
SF_FP = "/root/testdata/sf0.001"  # fingerprints are sf-normalized anyway


def src_hash(name: str) -> str:
    src = inspect.getsource(QUERIES[name])
    return hashlib.sha256(
        (src + "\n---\n" + ORACLES.get(name, "")).encode()).hexdigest()


def _recorded_green() -> set[str]:
    """Names with at least one green row across all CORRECTNESS files.

    Green = rows+schema match, and hash matches when a hash was computed
    (rows-only checks carry no hash_match key or a null one).
    """
    green: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        data = json.load(open(path))
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            ok = row.get("rows_match") and row.get("schema_match")
            if ok and row.get("hash_match") in (True, None):
                green.add(name)
    return green


@pytest.fixture(scope="module")
def plan_fps(registry):
    """Current-tree plan fingerprints for every row whose manifest entry
    carries one, over the session's one registry build (sf0.001)."""
    manifest = json.load(open(MANIFEST))
    return {name: plan_fingerprint(row.df)
            for name, row in registry.items()
            if isinstance(manifest.get(name), dict)
            and "plan" in manifest[name]}


def _latest_round_green() -> set[str]:
    """Names green in the NEWEST CORRECTNESS file only.

    Used for the round-boundary carve-out below: the driver writes
    CORRECTNESS_r{N}.json AFTER the builder's final commit, so at the
    judged snapshot a row can be freshly green while its manifest entry
    still carries the pre-grading ``"VOID"`` sentinel (re-stamping is
    the FIRST action of round N+1, per the rotation protocol in
    driver_queries.py). Such a row has been graded — it is 'pending
    re-manifest', not never-green (the r09 judged-snapshot lesson:
    the ordering guard tripped on exactly this timing every round the
    driver landed artifacts post-commit)."""
    paths = glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    if not paths:
        return set()
    latest = max(paths, key=lambda p: int(
        re.search(r"r(\d+)", os.path.basename(p)).group(1)))
    green: set[str] = set()
    for name, row in json.load(open(latest)).items():
        if not isinstance(row, dict):
            continue
        ok = row.get("rows_match") and row.get("schema_match")
        if ok and row.get("hash_match") in (True, None):
            green.add(name)
    return green


def _usable_green(plan_fps: dict[str, str]) -> set[str]:
    """Green-on-record names whose current semantics still match the
    manifest entry (src hash AND plan fingerprint) recorded when that
    evidence was valid.  ``"VOID"`` sentinels never match."""
    manifest = json.load(open(MANIFEST))
    usable: set[str] = set()
    for name in _recorded_green():
        if name not in QUERIES:
            continue
        entry = manifest.get(name)
        if not isinstance(entry, dict):
            continue  # legacy VOID sentinel or missing
        if entry.get("void"):
            continue  # voided: evidence predates the tree by decree
        if entry.get("src") != src_hash(name):
            continue
        if entry.get("plan") != plan_fps.get(name):
            continue
        usable.add(name)
    return usable


def _green_for_ordering(plan_fps: dict[str, str]) -> set[str]:
    """Usable-green plus the round-boundary 'pending re-manifest' rows:
    void entry in the manifest, green in the newest CORRECTNESS file,
    AND the current tree still hash-matches what the void stamp
    recorded (ADVICE r10: without the hash check a row edited AFTER
    this round's grading — whose green record the edit stales — would
    escape the never-green-rows-lead-the-window guard).  Legacy bare
    "VOID" strings carry no hashes and never count as pending."""
    manifest = json.load(open(MANIFEST))
    pending = set()
    for n in _latest_round_green():
        entry = manifest.get(n)
        if (isinstance(entry, dict) and entry.get("void")
                and entry.get("src") == src_hash(n)
                and entry.get("plan") == plan_fps.get(n)):
            pending.add(n)
    return _usable_green(plan_fps) | pending


def test_every_query_graded_or_on_record(plan_fps):
    window = set(list(QUERIES)[:WINDOW])
    covered = window | _usable_green(plan_fps)
    missing = sorted(set(QUERIES) - covered)
    assert not missing, (
        f"registry rows outside the driver's {WINDOW}-row correctness window "
        f"with no (still-valid) green record on disk: {missing} — reorder "
        "QUERIES in driver_queries.py so they are graded before rotating "
        "them out"
    )


def test_oracles_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)


def test_manifest_covers_registry():
    manifest = json.load(open(MANIFEST))
    missing = sorted(set(QUERIES) - set(manifest))
    assert not missing, (
        f"rows missing from tests/graded_manifest.json: {missing} — run "
        "python tools/update_manifest.py (only when the tree matches what "
        "the green records graded)"
    )


def test_never_green_rows_lead_the_window(plan_fps):
    """Rows with no usable green record must occupy the earliest
    positions, so a harness that caps below 50 still grades them first.
    'Usable' includes both manifest hash checks: editing a graded row —
    directly or via a transitive engine edit that changes its plan —
    voids its evidence and must push it back to the front.

    Round-boundary carve-out: a row whose manifest entry is the
    ``"VOID"`` sentinel but which is green in the NEWEST CORRECTNESS
    file has been graded this round and merely awaits the next-round
    manifest re-stamp — it counts as green for ORDERING (it led the
    window and got its grade), while staying out of _usable_green for
    evidence purposes until tools/update_manifest.py re-stamps it."""
    green = _green_for_ordering(plan_fps)
    names = list(QUERIES)
    seen_recorded = False
    for name in names[:WINDOW]:
        if name in green:
            seen_recorded = True
        else:
            assert not seen_recorded, (
                f"never-green row {name!r} appears after already-green rows "
                "in the window; put unchecked rows first"
            )


def test_pending_re_manifest_counts_green_for_ordering(
        tmp_path, monkeypatch, plan_fps):
    """Replay the r09 judged-snapshot timing: the driver lands
    CORRECTNESS after the final commit, so a row graded green this
    round can still carry its pre-grading void stamp.  Such a row
    must count green for ORDERING (it has been graded) while staying
    out of the evidence set until the next-round re-stamp — but ONLY
    while the tree still matches the hashes the void stamp recorded
    (ADVICE r10: an edit after grading stales the green record and the
    carve-out must refuse it), and never for a legacy bare "VOID"
    string (it carries no hashes to check)."""
    latest_green = _latest_round_green()
    assert latest_green, "no CORRECTNESS files on disk"
    victim = sorted(latest_green & set(QUERIES))[0]
    manifest = json.load(open(MANIFEST))

    def with_entry(entry):
        m = dict(manifest)
        m[victim] = entry
        p = tmp_path / f"manifest_{len(list(tmp_path.iterdir()))}.json"
        p.write_text(json.dumps(m))
        monkeypatch.setitem(globals(), "MANIFEST", str(p))

    # (1) void stamped at the graded tree: pending, not evidence
    with_entry({"src": src_hash(victim), "plan": plan_fps.get(victim),
                "void": True})
    assert victim not in _usable_green(plan_fps)      # evidence: void
    assert victim in _green_for_ordering(plan_fps)    # ordering: pending

    # (2) row edited AFTER grading (hashes no longer match the stamp):
    # the green record is stale — NOT pending, row must re-lead
    with_entry({"src": "0" * 64, "plan": plan_fps.get(victim),
                "void": True})
    assert victim not in _green_for_ordering(plan_fps)

    # (3) legacy bare "VOID": evidence-void and never pending
    with_entry("VOID")
    assert victim not in _usable_green(plan_fps)
    assert victim not in _green_for_ordering(plan_fps)


def test_plan_fingerprint_deterministic(spark):
    """Two independent builds of the same row yield the same
    fingerprint (cross-process determinism for all rows was verified
    the round this landed: two fresh interpreters, zero diffs — this
    pins the cheap in-process half of that contract).

    ``containment`` is in the set deliberately: its plan carries
    higher-order-function lambdas, whose variable names draw from a
    session-global counter — the r10 review reproduced same-session
    fingerprint drift on exactly this row before the ``lambda x_N``
    normalizer landed."""
    for name in ("flagship_revenue", "containment"):
        fn = QUERIES[name]
        assert (plan_fingerprint(fn(spark, SF_FP))
                == plan_fingerprint(fn(spark, SF_FP))), name


def test_plan_fingerprint_is_config_neutral(spark):
    """plan_fingerprint must restore spark.sql.debug.maxToStringFields
    to EXACTLY its prior state — including 'unset', the common case,
    where leaving the widened value behind would be a silent global
    config leak from a read-only call (ADVICE r09)."""
    key = "spark.sql.debug.maxToStringFields"
    fn = QUERIES["flagship_revenue"]
    spark.conf.unset(key)
    plan_fingerprint(fn(spark, SF_FP))
    assert spark.conf.get(key, None) is None, "leaked a conf it set"
    spark.conf.set(key, "77")
    try:
        plan_fingerprint(fn(spark, SF_FP))
        assert spark.conf.get(key, None) == "77", "clobbered a user conf"
    finally:
        spark.conf.unset(key)


def test_transitive_fragment_edit_voids_evidence(spark, monkeypatch):
    """The r08 cosine() scenario, replayed as a unit test: patch an
    engine-side SQL fragment that a graded row uses only transitively
    (no graded source changes), and the row's plan fingerprint — hence
    its manifest match, hence its usable-green status — must flip."""
    from activecube_graphql_spark.operators import similarity as sim

    fn = QUERIES["embed_topk"]
    before = plan_fingerprint(fn(spark, SF_FP))
    assert src_hash("embed_topk") == src_hash("embed_topk")  # src is stable

    orig = sim._dot_sql

    def patched(a, b):
        return f"({orig(a, b)} + CAST(0.0 AS DOUBLE))"

    monkeypatch.setattr(sim, "_dot_sql", patched)
    after = plan_fingerprint(fn(spark, SF_FP))
    assert after != before, (
        "a transitive engine-side fragment edit did not change the plan "
        "fingerprint — the structural re-grade guard would miss it"
    )
    # and the usable-green logic treats the mismatch as void:
    fake_manifest_entry = {"src": src_hash("embed_topk"), "plan": before}
    assert fake_manifest_entry["plan"] != after
