"""Property-based cross-checks for the dedup pair pipelines.

Each property runs the DISTRIBUTED operator against an independent
brute-force O(n²) Python reference over hypothesis-random corpora drawn
from a tiny token alphabet (forcing shingle collisions, truncated-gram
docs, empty docs, and duplicate texts — the edge geometry the fixture
tables rarely hit). The reference mirrors the documented shingle
semantics (``_shingles``): lowercase ``[a-z]+`` tokens, distinct word
n-grams, a single truncated gram for 0 < tokens < n, nothing for empty
docs. The oracle-hash driver rows check the same operators against
DuckDB at fixture scale; this harness covers the combinatorial corners
those fixed tables cannot."""

from __future__ import annotations

import re
from itertools import combinations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

TOKENS = ["aa", "bb", "cc", "dd", "ee"]

doc = st.lists(st.sampled_from(TOKENS), min_size=0, max_size=8).map(" ".join)
corpus = st.lists(doc, min_size=2, max_size=7)

_SETTINGS = dict(max_examples=15, deadline=None,
                 suppress_health_check=[HealthCheck.too_slow,
                                        HealthCheck.function_scoped_fixture])


def ref_shingles(text: str, n: int = 3) -> frozenset[str]:
    toks = re.findall(r"[a-z]+", text.lower())
    if not toks:
        return frozenset()
    if len(toks) < n:
        return frozenset({" ".join(toks)})
    return frozenset(" ".join(toks[i:i + n])
                     for i in range(len(toks) - n + 1))


def _df(spark, texts, id_offset=0):
    return spark.createDataFrame(
        [(i + id_offset, t) for i, t in enumerate(texts)],
        "doc_id long, text string")


@settings(**_SETTINGS)
@given(corpus)
def test_ngram_jaccard_matches_bruteforce(spark, texts):
    """Both physical strategies of ngram_jaccard_pairs are exact: the
    emitted (a<b, jaccard>=t) pair set equals the brute-force reference,
    values within float-round noise. Strategy is forced BOTH ways so the
    prefix-filter path and the bitmap path each face every corpus."""
    from activecube_graphql_spark.operators import dedup as dd

    sets = {i: ref_shingles(t) for i, t in enumerate(texts)}
    want = {}
    for a, b in combinations(sorted(sets), 2):
        A, B = sets[a], sets[b]
        if not A or not B:
            continue
        inter = len(A & B)
        j = inter / (len(A) + len(B) - inter)
        if j >= 0.5:
            want[(a, b)] = j
    df = _df(spark, texts)
    for strategy in ("index", "bitmap"):
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in dd.ngram_jaccard_pairs(
                   df, threshold=0.5, strategy=strategy).collect()}
        assert set(got) == set(want), (strategy, texts, got, want)
        for k, v in want.items():
            assert abs(got[k] - round(v, 4)) < 1e-6, (strategy, k, texts)


@settings(**_SETTINGS)
@given(corpus)
def test_containment_matches_bruteforce(spark, texts):
    """ngram_containment_pairs emits every ORDERED pair (a, b), a != b,
    with |A∩B| / |A| >= t (no df cap in play at this scale)."""
    from activecube_graphql_spark.operators import dedup as dd

    sets = {i: ref_shingles(t) for i, t in enumerate(texts)}
    want = {}
    for a in sets:
        for b in sets:
            if a == b or not sets[a] or not sets[b]:
                continue
            c = len(sets[a] & sets[b]) / len(sets[a])
            if c >= 0.5:
                want[(a, b)] = c
    got = {(r["id_a"], r["id_b"]): r["containment"]
           for r in dd.ngram_containment_pairs(
               _df(spark, texts), threshold=0.5, max_df=10**6).collect()}
    assert set(got) == set(want), (texts, got, want)
    for k, v in want.items():
        assert abs(got[k] - round(v, 4)) < 1e-6, (k, texts)


@settings(**_SETTINGS)
@given(corpus)
def test_minhash_verified_subset_and_scores(spark, texts):
    """minhash_lsh_verified emits only TRUE-Jaccard >= t pairs (the
    exact-verify contract — no false positives ever), with correct
    scores. Completeness is probabilistic (>= 1 - 1e-8 per pair at
    t=0.5) and pinned separately by the deterministic fixture rows, so
    the property asserts the one-sided guarantee."""
    from activecube_graphql_spark.operators import dedup as dd

    sets = {i: ref_shingles(t) for i, t in enumerate(texts)}
    exact = {}
    for a, b in combinations(sorted(sets), 2):
        A, B = sets[a], sets[b]
        if not A or not B:
            continue
        inter = len(A & B)
        j = inter / (len(A) + len(B) - inter)
        if j >= 0.5:
            exact[(a, b)] = j
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dd.minhash_lsh_verified(
               _df(spark, texts), threshold=0.5).collect()}
    assert set(got) <= set(exact), (texts, got, exact)
    for k, v in got.items():
        assert abs(v - round(exact[k], 4)) < 1e-6, (k, texts)


@settings(**_SETTINGS)
@given(corpus, corpus)
def test_decontamination_overlap_matches_bruteforce(spark, train_texts,
                                                   bench_texts):
    """decontamination_overlap counts DISTINCT shared shingles per
    (train, bench) pair and keeps pairs with shared >= min_shared."""
    from activecube_graphql_spark.operators import dedup as dd

    t_sets = {i: ref_shingles(t) for i, t in enumerate(train_texts)}
    b_sets = {i + 1000: ref_shingles(t)
              for i, t in enumerate(bench_texts)}
    want = {(a, b): len(t_sets[a] & b_sets[b])
            for a in t_sets for b in b_sets
            if len(t_sets[a] & b_sets[b]) >= 2}
    got = {(r["train_id"], r["bench_id"]): r["shared"]
           for r in dd.decontamination_overlap(
               _df(spark, train_texts),
               _df(spark, bench_texts, id_offset=1000),
               min_shared=2).collect()}
    assert got == want, (train_texts, bench_texts, got, want)


@settings(**_SETTINGS)
@given(corpus)
def test_exact_dedup_keeps_min_id_survivor(spark, texts):
    """exact_dedup keyed on the text keeps exactly the min-id row of
    every distinct text."""
    from activecube_graphql_spark.operators import dedup as dd

    want = {}
    for i, t in enumerate(texts):
        want.setdefault(t, i)
    got = {(r["text"], r["doc_id"])
           for r in dd.exact_dedup(_df(spark, texts),
                                   ["text"], "doc_id").collect()}
    assert got == {(t, i) for t, i in want.items()}, (texts, got, want)


# ---------------------------------------------------------------- bm25 (r09)

@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(st.lists(st.sampled_from(TOKENS + ["zz"]), min_size=1, max_size=4,
                unique=True),
       st.lists(doc, min_size=2, max_size=8))
def test_bm25_matches_duckdb_twin_bitwise(spark, terms, texts):
    """The operator's whole determinism contract in one property: for
    RANDOM term bags and corpora (including terms absent everywhere and
    empty docs), the Spark plan and the printed DuckDB twin agree on
    the exact rounded scores, ranks, and membership. Bitwise-equal
    per-term doubles + fixed-order totals is what makes this hold; a
    re-association on either side fails this test, not just the fixed
    fixture row."""
    import duckdb

    from activecube_graphql_spark.operators import text as tx

    got = sorted(tuple(r) for r in
                 tx.bm25_topk(_df(spark, texts), terms, k=5).collect())
    con = duckdb.connect()
    con.register("documents_py", __import__("pandas").DataFrame(
        {"doc_id": range(len(texts)), "text": texts}))
    con.execute("CREATE VIEW documents AS SELECT "
                "CAST(doc_id AS BIGINT) doc_id, text FROM documents_py")
    want = sorted(tuple(r) for r in
                  con.execute(tx.bm25_topk_sql(terms, k=5)).fetchall())
    assert got == want


# ------------------------------------------------- duplicate spans (r15)

@settings(**_SETTINGS)
@given(st.lists(
    st.text(alphabet="ab", min_size=0, max_size=40),
    min_size=2, max_size=6))
def test_duplicate_spans_match_bruteforce(spark, texts):
    """VERDICT r14 item 2: duplicate_spans must equal an independent
    brute-force O(n²) maximal-extent finder — every position covered
    by a length-L window whose gram occurs ≥2 times anywhere in the
    corpus (within-doc repeats included), overlapping windows merged
    into maximal extents. The tiny 'ab' alphabet forces dense
    duplication, single-window islands, full-doc spans, and docs
    shorter than L."""
    from collections import Counter

    from activecube_graphql_spark.operators import dedup as dd

    L = 5
    counts = Counter(t[i:i + L] for t in texts
                     for i in range(len(t) - L + 1))
    want = set()
    for d, t in enumerate(texts):
        marked = [i + 1 for i in range(len(t) - L + 1)
                  if counts[t[i:i + L]] >= 2]  # 1-based
        run: list[int] = []
        for p in marked:
            if run and p - run[-1] <= L:
                run.append(p)
            else:
                if run:
                    want.add((d, run[0], run[-1] + L, len(run)))
                run = [p]
        if run:
            want.add((d, run[0], run[-1] + L, len(run)))
    got = {(r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
           for r in dd.duplicate_spans(
               _df(spark, texts), min_len=L).collect()}
    assert got == want


@settings(**_SETTINGS)
@given(st.lists(
    st.text(alphabet="ab", min_size=0, max_size=40),
    min_size=2, max_size=6))
def test_cut_duplicate_spans_matches_bruteforce(spark, texts):
    """The removal half: excising the brute-force maximal extents from
    each text must equal cut_duplicate_spans' kept_text exactly —
    including full-doc cuts (kept empty), no-span docs (unchanged),
    and extents that abut the string ends."""
    from collections import Counter

    from activecube_graphql_spark.operators import dedup as dd

    L = 5
    counts = Counter(t[i:i + L] for t in texts
                     for i in range(len(t) - L + 1))
    want = {}
    for d, t in enumerate(texts):
        marked = [i for i in range(len(t) - L + 1)
                  if counts[t[i:i + L]] >= 2]  # 0-based
        covered = set()
        for p in marked:
            covered.update(range(p, p + L))
        want[d] = "".join(ch for i, ch in enumerate(t)
                          if i not in covered)
    got = {r["doc_id"]: r for r in dd.cut_duplicate_spans(
        _df(spark, texts), min_len=L).collect()}
    for d, t in enumerate(texts):
        assert got[d]["kept_text"] == want[d], (t, got[d])
        assert got[d]["cut_chars"] == len(t) - len(want[d])


def test_duplicate_spans_leaves_no_cache(spark):
    """r16 (VERDICT r15 item 5): the r15 shape persisted the
    O(total_chars) per-position frame and leaked it across the
    dup_spans→dup_cut session (the 'Asked to cache already cached
    data' warning); the window-count shape persists NOTHING — after
    running both halves to completion the Spark cache must hold
    exactly what it held before."""
    from activecube_graphql_spark.operators import dedup as dd

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getRDDStorageInfo()
    texts = ["the quick brown fox jumps over the lazy dog " * 3,
             "the quick brown fox jumps over the lazy dog " * 3,
             "entirely unrelated text with no repeats at all"]
    df = _df(spark, texts)
    assert dd.duplicate_spans(df, min_len=20).count() > 0
    assert dd.cut_duplicate_spans(df, min_len=20).count() == len(texts)
    after = jsc.getRDDStorageInfo()
    assert len(after) == len(before), (
        f"duplicate_spans/cut_duplicate_spans leaked "
        f"{len(after) - len(before)} cached frame(s)")


def test_mass_guard_memoizes_per_plan(spark, tmp_path):
    """r16 (VERDICT r15 item 8): the candidate-mass guard's Σdf²
    aggregate memoizes on the freq frame's analyzed-plan fingerprint
    plus its input files' identities — the second call over the same
    file-backed plan must answer from the memo without launching a
    Spark job (job-counted via a dedicated job group), while a
    DIFFERENT plan misses the memo and runs."""
    from activecube_graphql_spark.operators import dedup as dd

    path = str(tmp_path / "freq.parquet")
    _df(spark, ["aa bb cc", "aa bb", "dd"]).selectExpr(
        "doc_id % 2 AS shingle", "doc_id AS df").write.parquet(path)
    freq = spark.read.parquet(path)
    dd._MASS_MEMO.clear()

    def jobs_during(fn):
        spark.sparkContext.setJobGroup("mass-guard-memo", "probe")
        try:
            fn()
        finally:
            spark.sparkContext.setJobGroup(None, None)
        tracker = spark.sparkContext.statusTracker()
        return len(tracker.getJobIdsForGroup("mass-guard-memo"))

    n1 = jobs_during(lambda: dd._guard_exact_join_mass(
        freq, "df", spark, None, "memo-test"))
    assert n1 > 0  # first call genuinely aggregated
    n2 = jobs_during(lambda: dd._guard_exact_join_mass(
        freq, "df", spark, None, "memo-test"))
    assert n2 == n1, "second call over the same plan re-ran the job"
    other = freq.filter("df >= 0")
    n3 = jobs_during(lambda: dd._guard_exact_join_mass(
        other, "df", spark, None, "memo-test"))
    # AQE may split one aggregate into several jobs — compare counts,
    # not exact job arithmetic
    assert n3 > n2, "a different plan must miss the memo and run"
    # SAME plan shape over a DIFFERENT corpus must also miss: the
    # fingerprint normalizes sf dirs away, so the input-file set must
    # be part of the key (else a stale Σdf² aliases across corpora)
    def freq_for(sf):
        return (spark.read.parquet(f"{sf}/documents.parquet")
                .selectExpr("doc_id % 7 AS shingle")
                .groupBy("shingle").count()
                .selectExpr("shingle", "count AS df"))
    n4 = jobs_during(lambda: dd._guard_exact_join_mass(
        freq_for("/root/testdata/sf0.001"), "df", spark, None, "m"))
    size4 = len(dd._MASS_MEMO)
    n5 = jobs_during(lambda: dd._guard_exact_join_mass(
        freq_for("/root/testdata/sf0.01"), "df", spark, None, "m"))
    assert n5 > n4, "a different corpus with the same plan must miss"
    assert len(dd._MASS_MEMO) == size4 + 1
    n6 = jobs_during(lambda: dd._guard_exact_join_mass(
        freq_for("/root/testdata/sf0.01"), "df", spark, None, "m"))
    # the repeat may still run the parquet file-LISTING job for the
    # fresh relation (inputFiles), but never the aggregate: strictly
    # fewer jobs than the miss, and no new memo entry
    assert n6 - n5 < n5 - n4, "the repeat over the same corpus must hit"
    assert len(dd._MASS_MEMO) == size4 + 1
    # a persisted frame hides its files from inputFiles(); the key reads
    # them from the analyzed plan, so the same corpus still hits
    persisted = freq_for("/root/testdata/sf0.01").persist()
    try:
        n7 = jobs_during(lambda: dd._guard_exact_join_mass(
            persisted, "df", spark, None, "m"))
    finally:
        persisted.unpersist()
    assert n7 - n6 < n5 - n4, "a persisted frame over the corpus must hit"
    assert len(dd._MASS_MEMO) == size4 + 1


def _shingle_freq(spark, df):
    return spark.createDataFrame([("aa", df)], "shingle string, c long")


def test_mass_guard_does_not_alias_in_memory_frames(spark):
    """Two in-memory frames with one plan shape and different rows: the
    fingerprint cannot tell them apart and they have no input files,
    so the light frame's mass must not be served from the heavy
    frame's guard run."""
    from activecube_graphql_spark.operators import dedup as dd

    dd._MASS_MEMO.clear()
    with pytest.raises(ValueError, match="mass 1.000e\\+04"):
        dd._guard_exact_join_mass(_shingle_freq(spark, 100), "c", spark,
                                  50.0, "heavy")
    dd._guard_exact_join_mass(_shingle_freq(spark, 1), "c", spark,
                              50.0, "light")
    assert len(dd._MASS_MEMO) == 0


def test_mass_guard_sees_an_in_place_corpus_rewrite(spark, tmp_path):
    """A file-backed freq frame rewritten in place (same file name) gets
    its mass recomputed: the memo key names the file's identity, not
    its path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from activecube_graphql_spark.operators import dedup as dd

    path = str(tmp_path / "freq.parquet")
    dd._MASS_MEMO.clear()
    pq.write_table(pa.table({"shingle": ["aa"], "c": [1]}), path)
    dd._guard_exact_join_mass(spark.read.parquet(path), "c", spark,
                              50.0, "light")
    assert len(dd._MASS_MEMO) == 1
    pq.write_table(pa.table({"shingle": ["aa", "bb"], "c": [100, 100]}),
                   path)
    with pytest.raises(ValueError, match="mass 2.000e\\+04"):
        dd._guard_exact_join_mass(spark.read.parquet(path), "c", spark,
                                  50.0, "heavy")
