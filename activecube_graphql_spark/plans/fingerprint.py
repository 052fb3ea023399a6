"""Analyzed-plan fingerprints — the structural re-grade guard, generalized.

VERDICT r08 item 6: the graded-manifest hash covered a row's *query
function source* plus its *oracle SQL text*, so an engine-side edit that
flows into a graded row only TRANSITIVELY (the r08 example: the
zero-vector fix inside ``operators/similarity.py`` ``cosine()`` — none of
the 12 affected rows' own sources changed) voided evidence only if a
reviewer noticed.  The analyzed logical plan is the rendered semantics of
a row: every dimension/selector/metric expression, every engine-side SQL
fragment, every operator composition lands in it.  Hashing the
(normalized) analyzed plan makes ANY transitive change that alters what
the row computes void its green evidence mechanically, while pure
refactors that leave the plan identical — rename, comment, move — keep
evidence alive, which is exactly the right sensitivity.

Normalization strips the run-varying parts of a plan string:

* expression ids (``name#123`` — fresh per analysis);
* ``plan_id=N`` tags on subquery/CTE nodes;
* filesystem locations (testdata sf dirs, /tmp scratch, warehouse
  paths) so the fingerprint is stable across sf dirs and temp dirs.

Determinism contract: for a fixed tree, fingerprinting the same row in
two different processes yields the same hash, on any host (pinned by
tests/test_driver_contract.py::test_plan_fingerprint_deterministic).
Execution settings — core count, cluster-profile confs — never reach an
analyzed plan: operators that write a partition count into a logical
plan take the engine's fixed ``session.ENGINE_PARTITIONS``, not the
session's default parallelism (pinned by
tests/test_plans.py::test_ensure_parallelism_plan_ignores_host_cores).
Truncation would break that silently, so the tree is rendered with
``spark.sql.debug.maxToStringFields`` raised far past any schema here.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame

#: Far above the widest schema in the registry (documents: ~20 cols;
#: multimodal structs fan out to ~40 fields) — no "... N more fields".
_MAX_FIELDS = "4096"

_NORMALIZERS = [
    (re.compile(r"#\d+"), "#"),                       # exprIds
    # higher-order-function lambda variables (lambda x_1, y_2, ...)
    # draw from a SESSION-GLOBAL monotonic counter, so their numbers
    # encode build ORDER, not semantics — without this rule the
    # fingerprint of any lambda-bearing plan depends on what was built
    # before it in the session (r10 review finding, reproduced live:
    # two same-session builds of the same row hashed differently)
    (re.compile(r"lambda ([a-zA-Z]+)_\d+"), r"lambda \1_"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"cte_id=\d+"), "cte_id="),
    (re.compile(r"/root/testdata/sf[\d.]+"), "<sf>"),
    (re.compile(r"file:/[^\s,\]\)]*"), "<loc>"),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "<tmp>"),
    (re.compile(r"[^\s,\[\]\(\)]*spark-warehouse[^\s,\]\)]*"), "<wh>"),
]


def normalize_plan(tree: str) -> str:
    for pat, repl in _NORMALIZERS:
        tree = pat.sub(repl, tree)
    return tree


def plan_fingerprint(df: DataFrame) -> str:
    """sha256 of the normalized analyzed-plan tree of ``df``."""
    spark = df.sparkSession
    key = "spark.sql.debug.maxToStringFields"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, _MAX_FIELDS)
        tree = df._jdf.queryExecution().analyzed().toString()
    finally:
        # restore EXACTLY the prior state: when the conf was unset (the
        # common case) leaving _MAX_FIELDS behind would be a silent
        # global config leak from a read-only call (ADVICE r09)
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)
    return hashlib.sha256(normalize_plan(tree).encode()).hexdigest()
