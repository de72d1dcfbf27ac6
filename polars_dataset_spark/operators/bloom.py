"""Semi-join reduction: pre-filter a huge fact side with a compact
key-membership bitset built from the (much smaller) other side, BEFORE
the fact side pays its join shuffle.

This is the classic distributed-join optimization (Spark's own runtime
bloom-filter injection does a cost-based version of it; the SQL
`bloom_filter_agg` routine is not exposed to user code, so this operator
builds the equivalent structure from public primitives):

1. Hash every build-side key into an ``m``-bit bitset, stored as a
   DataFrame of 64-bit words ``(word_idx, word)`` — built with ONE
   aggregation (``bit_or`` of ``1 << bit`` grouped by word index), never
   collected to the driver.
2. The probe side computes its own ``(word_idx, bit)``, BROADCAST-joins
   the word table (≤ m/64 rows — a 2²⁴-bit filter is 2 MiB) and keeps
   rows whose bit is set. Map-side only: the huge side has not shuffled
   yet.
3. The surviving rows flow into the EXACT join, so results are
   identical to the plain join — the bitset only prunes. With one hash
   per key and ``m ≥ 16·n`` bits for ``n`` distinct build keys, a
   non-matching probe key survives with probability
   ``1 − e^(−n/m) ≤ 1 − e^(−1/16) ≈ 6%``; past
   ``_MAX_BITS / _BITS_PER_KEY`` keys the bitset stops growing and the
   rate rises with ``n``.

At 100 TB this is the difference between shuffling the full fact table
and shuffling only the fraction that can possibly match — the same
motivation as the broadcast join, but it works when the build side is
too big to broadcast raw keys yet small enough for a bitset (a bitset
holds ~16 bits/key vs ~100+ bytes/key for the rows themselves).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["bitset_prefilter_join"]

_BITS_PER_KEY = 16
# 2^27 bits = 16 MiB of broadcast words
_MAX_BITS = 1 << 27


def _next_pow2(n: int) -> int:
    p = 1
    while p < n:
        p <<= 1
    return p


def bitset_prefilter_join(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    how: str = "left_semi",
) -> DataFrame:
    """Join ``probe`` with ``build`` on column ``on``, pre-filtering the
    probe side through a distributed bitset of the build keys.

    ``how`` is any Spark join type whose result is a subset of the inner
    match on ``on`` (``left_semi``, ``inner``); outer joins would need
    the pruned rows back and are rejected. Result is EXACTLY the plain
    ``probe.join(build, on, how)`` — verified by the q110 oracle — the
    bitset only reduces the rows that reach the exact join's shuffle.
    """
    if how not in ("left_semi", "semi", "inner"):
        raise ValueError(
            f"bitset_prefilter_join: how={how!r} not supported — the bitset "
            "prunes probe rows, which breaks outer-join semantics"
        )
    how = "left_semi" if how == "semi" else how
    n = build.select(on).distinct().count()
    m = min(_next_pow2(max(n, 1) * _BITS_PER_KEY), _MAX_BITS)
    bucket = F.pmod(F.xxhash64(F.col(on)), F.lit(m))
    # the Python shiftleft/shiftright wrappers take only literal shift
    # amounts; the SQL forms accept a column (still whole-stage codegen)
    words = (
        build.select(bucket.alias("__b"))
        .groupBy(F.expr("CAST(__b div 64 AS LONG)").alias("__w"))
        .agg(F.expr("bit_or(shiftleft(1L, CAST(__b % 64 AS INT)))").alias("__word"))
    )
    probe_b = probe.withColumn("__b", bucket)
    filtered = (
        probe_b.withColumn("__w", F.expr("CAST(__b div 64 AS LONG)"))
        .join(F.broadcast(words), "__w", "inner")  # missing word → no key → drop
        .filter(F.expr("(shiftrightunsigned(__word, CAST(__b % 64 AS INT)) & 1) = 1"))
        .drop("__b", "__w", "__word")
    )
    return filtered.join(build, on, how)
