"""Sequence packing: assign documents to fixed token-budget bins.

LLM pretraining concatenates documents into fixed-length context
windows ("packing"); the shuffle-free bookkeeping for that is: order
the documents of a stream deterministically, take the running token
count, and derive for each document the window it starts in and the
offset where it starts — concat-and-chunk packing (documents may
straddle a window boundary; the trainer splits them). This is the
standard streaming-packing layout, and unlike first-fit bin packing it
is embarrassingly parallel and exactly expressible as a prefix sum.

One shuffle (the per-stream window sort); all arithmetic stays in
whole-stage codegen. At 100 TB the stream key (e.g. ``lang`` or a
shard id) bounds each window partition. With NO stream key the naive
plan is a single-partition global window — the classic serialization
bottleneck — so the global path here is the two-pass distributed
prefix sum instead: range-partition on the order key, per-partition
token totals (one tiny aggregate, #partitions rows), cumulative
partition offsets, then within-partition windows. Two data shuffles,
no single-reducer stage, same exact result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_dataset_spark.core import _qcol
from polars_dataset_spark.session import pin

__all__ = ["pack_sequences"]


def _global_prefix_sum(
    df: DataFrame, tokens_col: str, order_col: str | list[str], num_parts: int
) -> DataFrame:
    """Exact global running total of ``tokens_col`` in ``order_col``
    order (a column name or list of names), without a single-partition
    window: range partitions preserve global order between partitions,
    so each row's global prefix = (sum of all earlier partitions'
    totals) + (its within-partition prefix). The only driver-side data
    is one total per partition.

    Callers (with_row_index/slice/tail/gather_every/hstack/packing) are
    EAGER at call time: the per-partition totals collect runs two small
    jobs immediately rather than staying a lazy plan. The pinned
    localCheckpoint copy is GC-driven — ContextCleaner frees it when
    the returned frame is dropped, so repeated calls don't accumulate
    storage for the session lifetime.

    Fault-tolerance tradeoff (applies to every caller): localCheckpoint
    stores the pinned blocks on executors and TRUNCATES lineage, so
    losing an executor after the pin makes downstream actions fail
    rather than recompute (acceptable in local mode and for short-lived
    results; use ``checkpoint()`` to reliable storage for long-lived
    results on a real cluster)."""
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    d = df.repartitionByRange(num_parts, *map(_qcol, order_cols)).withColumn(
        "__pid", F.spark_partition_id()
    )
    d = pin(d)  # pin partition ids across reuse
    totals = (
        d.groupBy("__pid").agg(F.sum(_qcol(tokens_col)).alias("__t")).collect()
    )
    offsets = {}
    acc = 0
    for row in sorted(totals, key=lambda r: r["__pid"]):
        offsets[row["__pid"]] = acc
        # a partition whose tokens are all NULL aggregates to a NULL
        # total — contribute 0, matching the window sum's null-skipping
        acc += row["__t"] or 0
    off = F.element_at(
        F.create_map(
            *[F.lit(x) for pid, base in offsets.items() for x in (pid, base)]
        ),
        F.col("__pid"),
    ) if offsets else F.lit(0)
    w = (
        Window.partitionBy("__pid")
        .orderBy(*map(_qcol, order_cols))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # coalesce: a window frame whose tokens are all NULL (e.g. a sparse
    # range partition whose first rows carry null tokens) sums to NULL,
    # not 0 — null tokens contribute 0 to the running total
    return d.withColumn(
        "__cum", F.coalesce(F.sum(_qcol(tokens_col)).over(w), F.lit(0)) + off
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    tokens_col: str,
    order_col: str,
    stream_cols: list[str] | None = None,
) -> DataFrame:
    """Add packing coordinates per document: ``cum_tokens`` (running
    total INCLUDING this doc), ``bin`` (0-based window index where the
    doc starts) and ``offset`` (token position within that window),
    ordering each stream by ``order_col``.

    A document starting at global token position p (= running total
    before it) lands in window ``p // budget`` at offset ``p % budget``.

    The no-stream-key path materialises partition totals eagerly via a
    non-reliable localCheckpoint pin: executor loss after the call makes
    the result unrecoverable instead of recomputable (see
    ``_global_prefix_sum``).
    """
    if budget < 1:
        raise ValueError("budget must be >= 1")
    if stream_cols:
        w = (
            Window.partitionBy(*map(_qcol, stream_cols))
            .orderBy(_qcol(order_col))
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        out = df.withColumn(
            "__cum", F.coalesce(F.sum(_qcol(tokens_col)).over(w), F.lit(0))
        )
    else:
        parts = df.sparkSession.sparkContext.defaultParallelism
        out = _global_prefix_sum(df, tokens_col, order_col, max(parts, 1))
    # null tokens contribute 0, so a null-token doc still has a
    # well-defined start position (= the running total itself)
    before = F.col("__cum") - F.coalesce(_qcol(tokens_col), F.lit(0))
    return (
        out.withColumns(
            {
                "cum_tokens": F.col("__cum"),
                "bin": (before / budget).cast("long"),
                "offset": before % budget,
            }
        )
        .drop("__cum", "__pid")
    )
