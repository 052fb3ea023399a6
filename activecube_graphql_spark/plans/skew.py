"""Skew mitigation — salted joins for hot keys (SURVEY §4.2 shuffle/skew).

Spark's own tools cover most skew: AQE splits skewed SortMergeJoin
partitions at runtime (``spark.sql.adaptive.skewJoin.enabled``, on in
session.py), and map-side partial aggregation absorbs skewed group-bys
for algebraic aggregates. The remaining hole is a shuffle join where AQE
cannot act — stream-static joins, or a build side too large to broadcast
but with a handful of hot keys on the probe side. At 100 TB one hot key
(think a NULL-ish default id, or one whale customer) pins a whole
executor while the rest of the cluster idles.

``salted_join`` applies the classic fix deterministically:

- probe (skewed) side: add ``salt = pmod(hash(<row-unique cols>), n)`` —
  hash-derived, not ``rand()``, so retried tasks and re-runs salt
  identically (Spark re-executes tasks; nondeterministic salting can
  duplicate or drop rows on retry);
- build side: explode each row into ``n`` copies, one per salt value;
- join on ``(key, salt)`` — the hot key now spreads over ``n``
  partitions instead of one.

Cost model: the build side is replicated ``n``× through the shuffle, so
pick the smallest ``n`` that flattens the skew (8-32 is typical) and
only route *actually skewed* joins through this path.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import ENGINE_PARTITIONS

_SALT = "__aq_salt"


def salted_join(skewed: DataFrame, other: DataFrame, on: Sequence[str],
                salts: int = 16, how: str = "inner",
                salt_by: Optional[Sequence[str]] = None) -> DataFrame:
    """Equi-join ``skewed ⋈ other`` on columns ``on``, spreading each join
    key over ``salts`` shuffle partitions.

    ``salt_by``: columns of ``skewed`` whose hash assigns the salt
    (default: all non-key columns — any row-distinguishing subset works;
    rows identical in ``salt_by`` land in the same bucket, which is
    correct, just less spread). ``how`` supports inner/left joins (the
    replicated build side makes right/full-outer multiplicities wrong, so
    they are rejected)."""
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(f"salted_join does not support how='{how}'")
    keys = list(on)
    basis = [c for c in (salt_by if salt_by is not None else
                         [c for c in skewed.columns if c not in keys])]
    salt: Column = (F.pmod(F.hash(*[F.col(c) for c in basis]), F.lit(salts))
                    if basis else F.lit(0))
    left = skewed.withColumn(_SALT, salt)
    right = other.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(salts - 1))))
    out = left.join(right, keys + [_SALT], how)
    return out.drop(_SALT)


def split_salted_join(skewed: DataFrame, other: DataFrame,
                      on: Sequence[str], hot_keys: DataFrame,
                      salts: int = 16,
                      salt_by: Optional[Sequence[str]] = None,
                      partitions: Optional[int] = None) -> DataFrame:
    """Selective-salt inner join — the scale-sane form of salting: only
    rows whose key is in ``hot_keys`` (a SMALL frame of the ``on``
    columns, broadcast) pay the ``salts``× build-side replication; cold
    keys carry the constant salt 0 and join exactly once. One pass per
    side (a broadcast hot-marker join feeding a CONDITIONAL salt), one
    shuffle keyed ``(key, salt)`` — a hot key spreads over ``salts``
    partitions, and the result is the exact inner join, bit-identical
    to the unsalted plan. (The first cut of this was a semi/anti
    two-path union, which evaluated each input's lineage twice — at
    100 TB the inputs are exploded shingle indexes whose re-evaluation
    is the dominant cost; code-review r05 finding.)

    Whole-side salting multiplies the ENTIRE build shuffle by
    ``salts``; here the replicated rows are only the hot set's — by
    definition a few thousand keys whose copies fit comfortably.

    The probe side is shuffled with an EXPLICIT
    ``repartition(partitions, keys + salt)`` rather than letting
    EnsureRequirements insert the exchange. Reason (measured, r06):
    AQE's partition coalescing sizes post-shuffle partitions by
    MAP-OUTPUT bytes, and a skewed join's shuffle writes are often
    small while its OUTPUT amplifies (the decontamination shape — a
    modest shingle shuffle fanning out into millions of pairs). On a
    90 %-hot 180 M-row-output join at sf0.1, coalescing merged every
    (key, salt) bucket back into 1–2 tasks and silently undid the
    salting (salted measured 0.76–0.88× of the UNSALTED plan — pure
    overhead). The ``REPARTITION_BY_NUM`` shuffle origin is exempt
    from coalescing, so pinning the probe exchange keeps the salt
    buckets live and the build side co-partitions against it (same
    measurement after the pin: salted 1.11 s vs unsalted 1.78 s,
    1.6× at local[32] — and the unsalted plan's whale stays ONE task
    however wide the cluster, so the gap grows with executor count).
    Note EnsureRequirements may RAISE the exchange's partition count
    to match the peer side (max of the two wins); the pin's
    load-bearing property is the coalesce-exempt origin, not the
    exact count. Default ``partitions`` = the session's
    ``spark.sql.shuffle.partitions`` (the operator only routes when a
    work model measured real skew, a regime where coalescing to fewer
    tasks is never what you want); raise it at cluster scale along
    with everything else."""
    keys = list(on)
    lt, rt = dict(skewed.dtypes), dict(other.dtypes)
    # only compare keys present on both sides — a missing column falls
    # through to the select/join below, whose AnalysisException names
    # the column and suggests alternatives (better than a bare KeyError)
    mismatched = [c for c in keys
                  if c in lt and c in rt and lt[c] != rt[c]]
    if mismatched:
        # a mismatched key joins through an implicit cast, and the
        # pinned repartition below (on the RAW columns) then no longer
        # satisfies the join's distribution requirement — Catalyst
        # stacks a second, coalescible exchange on top and AQE undoes
        # the salting silently (measured r06). Surfacing it beats
        # widening here: an implicit join-key cast also defeats
        # bucketing and partition pruning, so the caller should align
        # types once at the source.
        raise ValueError(
            f"split_salted_join key dtype mismatch {mismatched}: "
            f"{[(c, lt[c], rt[c]) for c in mismatched]} — cast the key "
            "columns to a common type before salting")
    if partitions is not None:
        parts = int(partitions)
    else:
        # spark.sql.shuffle.partitions may be non-numeric on managed
        # platforms (e.g. 'auto' under Databricks AQE); fall back to
        # the engine's fixed count rather than raising (ADVICE r06) —
        # not the host's cores, which would reach the logical plan
        conf = skewed.sparkSession.conf.get("spark.sql.shuffle.partitions")
        try:
            parts = int(conf)
        except (TypeError, ValueError):
            parts = ENGINE_PARTITIONS
    hk = F.broadcast(hot_keys.select(*keys).distinct()
                     .withColumn("__aq_hot", F.lit(1)))
    basis = [c for c in (salt_by if salt_by is not None else
                         [c for c in skewed.columns if c not in keys])]
    spread: Column = (F.pmod(F.hash(*[F.col(c) for c in basis]),
                             F.lit(salts)) if basis else F.lit(0))
    left = (skewed.join(hk, keys, "left")
            .withColumn(_SALT, F.when(F.col("__aq_hot").isNotNull(),
                                      spread).otherwise(F.lit(0)))
            .drop("__aq_hot")
            .repartition(parts, *[F.col(c) for c in keys + [_SALT]]))
    right = (other.join(hk, keys, "left")
             .withColumn(_SALT, F.explode(
                 F.when(F.col("__aq_hot").isNotNull(),
                        F.sequence(F.lit(0), F.lit(salts - 1)))
                 .otherwise(F.array(F.lit(0)))))
             .drop("__aq_hot"))
    return left.join(right, keys + [_SALT]).drop(_SALT)
