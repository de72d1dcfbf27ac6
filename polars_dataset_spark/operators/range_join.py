"""Bucketized range (interval-containment) join.

``points.join(intervals, s <= p AND p <= e)`` with no equi-key plans as
a broadcast-nested-loop join — O(|P|·|I|) comparisons, and the
broadcast side must fit in memory. This operator restores a hash join
by discretizing the range key: pick a bucket width W ≥ the longest
interval, give each point its single bucket ``floor(p/W)``, replicate
each interval to the (at most 2, since len ≤ W) buckets it overlaps,
equi-join on the bucket, then apply the exact containment predicate.

Each matching pair meets in EXACTLY one bucket (the point's), so no
post-join dedup is needed; the replication factor is ≤ 1 + len/W ≤ 2.
Shuffle volume is |P| + 2|I| keyed by bucket — arbitrarily large sides
both stream through a shuffled hash/sort-merge join, AQE handles skewed
buckets, and Catalyst may still broadcast a genuinely small side.

This is the standard interval-bucketing scheme (e.g. Spark's own
range-join hints in Databricks runtime, and interval joins in stream
processors); width selection is the one tunable: too small → more
replicas per interval (W < len allowed: replication 1+len/W), too large
→ buckets collapse and the residual predicate does the work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polars_dataset_spark.core import _qcol, _qname

__all__ = ["range_join"]


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: float | None = None,
    extra_on: list[str] | None = None,
) -> DataFrame:
    """Inner-join each point row to every interval row with
    ``start <= point <= end`` (closed ends), optionally also matching
    ``extra_on`` equi-columns. Numeric or timestamp keys; timestamps
    bucket via ``unix_micros``.

    ``bucket_width`` defaults to the longest interval (one tiny agg over
    the intervals side) — at most 2 replicas per interval.
    """

    def to_num(df: DataFrame, c: str) -> Column:
        if dict(df.dtypes)[c].startswith("timestamp"):
            return F.unix_micros(_qcol(c).cast("timestamp"))
        return _qcol(c).cast("double")

    p_num = to_num(points, point_col)
    s_num = to_num(intervals, start_col)
    e_num = to_num(intervals, end_col)

    if bucket_width is None:
        row = intervals.agg(F.max(e_num - s_num).alias("m")).first()
        bucket_width = float(row["m"]) if row["m"] is not None else 1.0
    if bucket_width <= 0:
        bucket_width = 1.0

    def num_ref(df: DataFrame, src: DataFrame, c: str) -> Column:
        # disambiguated reference into a join side (names may collide)
        ref = df[_qname(c)]
        if dict(src.dtypes)[c].startswith("timestamp"):
            return F.unix_micros(ref.cast("timestamp"))
        return ref.cast("double")

    w = F.lit(float(bucket_width))
    p = points.withColumn("__b", F.floor(p_num / w))
    i = intervals.withColumn(
        "__b",
        F.explode(
            F.sequence(
                F.floor(s_num / w).cast("long"), F.floor(e_num / w).cast("long")
            )
        ),
    )
    on = ["__b"] + list(extra_on or [])
    pn = num_ref(p, points, point_col)
    joined = p.join(i, on=on).filter(
        (pn >= num_ref(i, intervals, start_col))
        & (pn <= num_ref(i, intervals, end_col))
    )
    return joined.drop("__b")
