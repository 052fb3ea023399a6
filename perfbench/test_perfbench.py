"""Steadiness guards for the serving benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

The stream tests are pure Python and take a second. The last test runs
the benchmark itself once (about a minute on a 4-core host) and checks
that the two halves of its measured requests agree, i.e. that the
warm-up absorbed the JVM's ramp.
"""

from __future__ import annotations

import itertools
import json
import subprocess
import sys
from collections import Counter
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
from workloads import WORKLOADS, stream  # noqa: E402


def _take(name: str, seed: int, n: int):
    return list(itertools.islice(stream(WORKLOADS[name], seed), n))


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_request_bytes(name):
    assert ([r.body for r in _take(name, 5, 60)]
            == [r.body for r in _take(name, 5, 60)])


def test_seed_changes_variable_bindings():
    a = [r.body for r in _take("dash_variants", 5, 30)]
    b = [r.body for r in _take("dash_variants", 6, 30)]
    assert a != b


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_odd_equal_round_robin_shares(name):
    n_docs = len(WORKLOADS[name].documents)
    assert n_docs % 2 == 1 and n_docs >= 3
    reqs = _take(name, 9, 40 * n_docs)
    for i in range(0, len(reqs), n_docs):  # every pass has every document
        assert sorted(r.doc for r in reqs[i:i + n_docs]) == list(range(n_docs))
    assert set(Counter(r.doc for r in reqs).values()) == {40}


def test_variants_never_repeat_a_binding():
    workload = WORKLOADS["dash_variants"]
    seen = set()
    for r in _take("dash_variants", 3, 3000):
        doc = workload.documents[r.doc]
        for f, names in enumerate(doc.field_vars):
            key = (r.doc, f, tuple(r.variables[v] for v in names))
            assert key not in seen, key
            seen.add(key)


def test_export_documents_are_verbatim():
    reqs = _take("export_wide", 1, 30)
    assert all(r.variables is None for r in reqs)
    assert len({r.body for r in reqs}) == len(WORKLOADS["export_wide"]
                                              .documents)


def test_data_is_a_function_of_its_seed():
    a, b = datagen.build_tables(7, 0.001), datagen.build_tables(7, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not datagen.build_tables(8, 0.001)["lineitem"].equals(
        a["lineitem"])


def test_measured_halves_agree():
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", "export_wide",
         "--seed", "3", "--seconds", "14", "--trace", "1"],
        capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], out.stderr[-2000:]
    ratio = result["metrics"]["warm.halves_ratio"]["value"]
    assert 0.8 < ratio < 1.25, ratio
