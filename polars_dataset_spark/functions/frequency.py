"""Heavy hitters over an unbounded-cardinality column: Misra–Gries
prefilter + exact candidate count.

The third sketch in the engine's scale family (beside the
Greenwald–Khanna quantile sketch, q78, and HyperLogLog++ cardinality,
q105): find every item whose frequency exceeds ``phi·n`` without a
full-cardinality shuffle. ``groupBy(col).count()`` over 100 TB of
free-text tokens shuffles BILLIONS of distinct keys to count the
handful that matter; the sketch path shuffles only candidate items.

Two phases, both with hard guarantees (Misra–Gries 1982; merge rule and
error bound from Agarwal et al., "Mergeable Summaries", PODS 2012 —
both public):

1. **Prefilter** (map-only): each partition keeps a ⌈1/phi⌉−1-counter
   MG summary (``mapInPandas``; merge batch value_counts into the
   summary, compress by subtracting the (k+1)-th largest counter).
   Per-partition output ≤ k rows. Summed across partitions, a
   counter underestimates the true count by at most ``phi·n``, so
   every item with true frequency > ``phi·n`` has a positive summed
   counter → the candidate set (≤ k·partitions items) is a SUPERSET
   of the true heavy hitters.
2. **Exact verify**: count ONLY the candidates (broadcast semi-join
   prefilter before the aggregation — the same reduce-before-shuffle
   shape as the bitset semi-join, operators/bloom.py) and keep items
   with exact count > ``phi·n``.

The output is therefore EXACT (deterministic, value-oracle-able), while
the shuffle volume is bounded by the candidate set instead of the
distinct-key cardinality.
"""

from __future__ import annotations

import functools
import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "heavy_hitters",
    "mg_candidates",
    "merge_mg_summaries",
    "cms_estimate",
    "hll_summary",
]


def mg_candidates(df: DataFrame, col: str, k: int) -> DataFrame:
    """Per-partition k-counter Misra–Gries summaries → one row per
    (partition, surviving item) with its residual counter. Union of the
    item sets is a superset of every item with frequency > n/(k+1)."""
    schema = T.StructType(
        [T.StructField("item", T.StringType()), T.StructField("est", T.LongType())]
    )

    # one summary per partition, counters carried across batches (map_rows does not fit)
    return df.select(F.col(col).cast("string").alias(col)).mapInPandas(
        functools.partial(_mg_summary, col, k), schema=schema
    )


def _mg_summary(col: str, k: int, batches):
    """One partition's k-counter Misra–Gries summary."""
    counters: dict[str, int] = {}
    for pdf in batches:
        vc = pdf[col].dropna().value_counts()
        for item, c in vc.items():
            counters[item] = counters.get(item, 0) + int(c)
        if len(counters) > k:
            # mergeable-summaries compress: subtract the (k+1)-th
            # largest counter, drop the non-positive
            sub = sorted(counters.values(), reverse=True)[k]
            counters = {i: c - sub for i, c in counters.items() if c > sub}
    if counters:
        yield pd.DataFrame({"item": list(counters), "est": list(counters.values())})


def merge_mg_summaries(
    summaries: DataFrame, k: int, item_col: str = "item", est_col: str = "est"
) -> DataFrame:
    """Combine any number of Misra–Gries summaries into one k-counter
    summary (Agarwal et al. merge rule): sum counters itemwise, then
    subtract the (k+1)-th largest combined counter and drop the
    non-positive. The error bound telescopes — the merged summary's
    counters underestimate true counts by at most n_total/(k+1).

    The itemwise sum is one aggregation over ≤ k·n_summaries rows; the
    (k+1)-th largest is a bounded ``limit(k+1)`` collect (k+1 rows to
    the driver, never data-scale). Result ≤ k rows.

    The combined summary is ``localCheckpoint``-ed (bounded:
    ≤ k·n_summaries rows however big the data was) so the threshold
    collect and the caller's consumption execute the upstream summary
    pipeline ONCE — without it, the per-partition MG pass ran twice per
    call (measured 2× per-micro-batch cost in the streaming path)."""
    from polars_dataset_spark.session import pin

    combined = pin(
        summaries.groupBy(item_col).agg(F.sum(est_col).alias(est_col)), eager=True
    )
    top = combined.orderBy(F.col(est_col).desc()).limit(k + 1).collect()
    if len(top) <= k:
        return combined
    sub = int(top[k][est_col])
    return combined.filter(F.col(est_col) > sub).withColumn(
        est_col, F.col(est_col) - sub
    )


def heavy_hitters(
    df: DataFrame, col: str, phi: float = 0.01, out_col: str = "cnt"
) -> DataFrame:
    """All items of ``col`` with exact frequency > ``phi``·n (n = number
    of non-null rows), computed with the MG-prefilter + exact-verify
    shape described in the module docstring. Returns ``(item, cnt)``,
    exact and deterministic."""
    if not 0.0 < phi < 1.0:
        raise ValueError(f"phi must be in (0, 1), got {phi}")
    k = math.ceil(1.0 / phi) - 1
    vals = df.select(F.col(col).cast("string").alias("item")).filter(
        F.col("item").isNotNull()
    )
    cand = mg_candidates(vals, "item", k).select("item").distinct()
    # candidate set is tiny (≤ k·partitions) → broadcast semi-join prunes
    # the stream BEFORE the counting shuffle
    counted = (
        vals.join(F.broadcast(cand), on="item", how="left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias(out_col))
    )
    total = vals.agg(F.count(F.lit(1)).alias("__n"))
    return (
        counted.crossJoin(F.broadcast(total))  # 1-row scalar frame
        .filter(F.col(out_col) > F.lit(phi) * F.col("__n"))
        .drop("__n")
    )


def cms_estimate(
    df: DataFrame,
    col: str,
    keys: "list[str]",
    depth: int = 4,
    width: int = 256,
    salt: str = "cms",
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005 — public) build +
    point queries in one plan, engine-portable.

    Build: every non-null value lands in one cell per hash row
    ``j < depth`` at ``bucket = md5_60bit(salt||j||value) % width``; the
    cell table aggregates with a map-side combine whose distinct-key
    space is at most ``depth x width`` — the corpus-cardinality shuffle
    a plain ``groupBy(value)`` would pay never happens, which is the
    whole point at 100 TB (the sketch table is a few KiB regardless of
    input size, and cells merge by addition across any partitioning).

    Query: for each requested key, ``est = min over j`` of its cell
    (CMS never underestimates). Returns ``(item, est)`` with the
    standard guarantee ``exact <= est`` — the q196 oracle replays both
    the md5 bucketing and the min in SQL and checks the bound against
    exact counts.
    """
    if depth <= 0 or width <= 0:
        raise ValueError(f"depth/width must be positive, got {depth}/{width}")
    if not keys:
        raise ValueError("keys must be non-empty")
    vals = df.select(F.col(col).cast("string").alias("item")).filter(
        F.col("item").isNotNull()
    )

    def bucket(item_col, j):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}{j}:"), item_col)), 1, 15
            ),
            16,
            10,
        ).cast("long")
        return (h % width).cast("int")

    rows = F.array(
        *[
            F.struct(F.lit(j).alias("j"), bucket(F.col("item"), j).alias("b"))
            for j in range(depth)
        ]
    )
    cells = (
        vals.select(F.explode(rows).alias("jb"))
        .groupBy(F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    key_rows = vals.sparkSession.createDataFrame(
        [(k,) for k in sorted(set(keys))], "item string"
    )
    probes = key_rows.select(
        "item",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), bucket(F.col("item"), j).alias("b"))
                    for j in range(depth)
                ]
            )
        ).alias("jb"),
    ).select("item", F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
    # the cell table is <= depth*width rows -> broadcast to the probes;
    # a missing cell means no value hashed there -> count 0
    return (
        probes.join(F.broadcast(cells), ["j", "b"], "left")
        .groupBy("item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def hll_summary(
    df: DataFrame, col: str, p: int = 8, salt: str = "hll"
) -> DataFrame:
    """Portable HyperLogLog summary (Flajolet et al. 2007 — public):
    ONE row ``(m, nonzero_buckets, sum_registers, max_register,
    harmonic_sum, estimate)`` built from the engine-portable 60-bit md5
    hash, so every column — including the float ``estimate`` — replays
    bit-exactly in ANSI SQL (q197's oracle), unlike the JVM-internal
    ``approx_count_distinct`` sketch (q105), which carries a contract
    oracle only.

    Mechanics: ``h`` = 60-bit md5 long; ``bucket = h % 2^p``;
    ``w = h div 2^p`` (60-p bits); register ``rho(w)`` = position of the
    leftmost 1-bit = ``61 - p - length(bin(w))`` (``61 - p`` for w = 0),
    computed on INTEGER string length — no float log anywhere. The
    register table is a map-side-combined groupBy with at most ``2^p``
    distinct keys (the no-cardinality-shuffle property that makes HLL
    the 100-TB distinct counter); ``harmonic_sum`` adds ``2^-register``
    terms — exact dyadic doubles, so summation order cannot change the
    value — plus ``1.0`` per empty bucket; ``estimate`` is the raw HLL
    formula ``alpha_m * m^2 / harmonic_sum`` rounded to 4, and
    ``corrected_estimate`` applies the standard small-range linear
    counting (``m * ln(m / empty_buckets)`` when the raw estimate is
    at most ``2.5m`` and empty buckets remain)."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    m = 1 << p
    wbits = 60 - p
    vals = df.select(F.col(col).cast("string").alias("item")).filter(
        F.col("item").isNotNull()
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), F.col("item"))), 1, 15),
        16,
        10,
    ).cast("long")
    # h div 2^p as an INTEGER shift — `/` is float division and a 60-bit
    # long exceeds double's 53-bit exact range
    w = F.shiftright(h, p)
    rho = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(w))
    )
    regs = (
        vals.select((h % m).cast("int").alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("r"))
    )
    # NOTE float-op ORDER matters for the cross-engine oracle: compute
    # alpha * (m*m) as ONE multiply by the exact integer m^2, matching
    # the SQL restatement's `(...) * 65536`
    alpha = 0.7213 / (1.0 + 1.079 / m)
    # coalesce the sums so an EMPTY input yields (0 registers, harmonic
    # sum = m) -> raw estimate alpha*m, corrected 0 via linear counting —
    # instead of an all-NULL row
    return regs.agg(
        F.lit(m).cast("long").alias("m"),
        F.count(F.lit(1)).alias("nonzero_buckets"),
        F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("sum_registers"),
        F.coalesce(F.max("r"), F.lit(0)).cast("long").alias("max_register"),
        (
            F.coalesce(F.sum(F.pow(F.lit(0.5), F.col("r"))), F.lit(0.0))
            + (F.lit(m) - F.count(F.lit(1))).cast("double")
        ).alias("harmonic_sum"),
    ).withColumn(
        "estimate",
        F.round(F.lit(alpha * (m * m)) / F.col("harmonic_sum"), 4),
    ).withColumn(
        # the standard small-range correction (linear counting when the
        # raw estimate is <= 2.5m and empty buckets remain) — without it
        # the raw formula is badly biased for n << m; the CASE replays
        # identically in SQL
        "corrected_estimate",
        F.when(
            (F.col("estimate") <= F.lit(2.5 * m))
            & (F.col("nonzero_buckets") < m),
            F.round(
                F.lit(float(m))
                * F.log(F.lit(float(m)) / (F.lit(m) - F.col("nonzero_buckets"))),
                4,
            ),
        ).otherwise(F.col("estimate")),
    )
