"""Structured Streaming operators over event tables.

The reference has no streaming surface at all (SURVEY §2.3: the word
"stream" never occurs in it); this module is the driver-mandated extension
scope, built directly from Structured Streaming primitives over the
``events`` table shape (``event_id, ts, user_id, event_type, value,
props``).

Design rule: every aggregation here is defined ONCE as a batch-compatible
transformation — ``F.window`` / ``F.session_window`` evaluate identically
over a static DataFrame and a stream — so batch runs (and the DuckDB
oracle) pin the semantics, and ``readStream`` + watermark turns the same
plan incremental. That is the Spark-idiomatic way to keep a streaming
operator testable.

At scale: windowed aggs shuffle by (key, window) with partial aggregation
map-side; the watermark bounds state size; session windows merge state
per key. No Python in any of it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_dataset_spark.core import exact_sum

__all__ = [
    "EVENTS_SCHEMA",
    "read_events_stream",
    "windowed_agg",
    "session_agg",
    "sessionize_batch",
    "stream_dedup",
    "run_stream_to_memory",
    "stream_merge_upsert",
    "stream_neardup_filter",
    "stream_image_filter",
    "stream_audio_filter",
    "stream_video_filter",
    "stream_heavy_hitters",
]

# Schema for a NANOS-timestamped events file: Spark surfaces the ts column
# only as a raw long (see sources/tables.py); the stream reader converts
# inline. Micro/milli-timestamped files read natively as a timestamp —
# ``read_events_stream`` probes the footer and picks the right variant.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """Open the events table as a file-source stream (explicit schema — a
    streaming source cannot infer) with the nano-timestamp normalized."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The file stream source requires a DIRECTORY; when given the events
    # file itself, stream its parent with a glob filter instead.
    import os

    # A streaming source needs an explicit schema, but the on-disk ts type
    # varies (nanos → raw long via nanosAsLong; micros/millis → native
    # timestamp). Probe the footer with a one-off batch read — metadata
    # only, no data scan — and pick the matching schema variant. Probe the
    # given path BEFORE the directory rewrite below: the parent directory
    # may hold other tables with incompatible schemas.
    probe = dict(spark.read.parquet(path).dtypes).get("ts")
    glob_filter = None
    if path.endswith(".parquet") and os.path.isfile(path):
        glob_filter = os.path.basename(path)
        path = os.path.dirname(path)
    schema = EVENTS_SCHEMA
    if probe != "bigint":
        schema = T.StructType(
            [
                f if f.name != "ts" else T.StructField("ts", T.TimestampNTZType())
                for f in EVENTS_SCHEMA.fields
            ]
        )
    reader = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if glob_filter:
        reader = reader.option("pathGlobFilter", glob_filter)
    raw = reader.parquet(path)
    if probe == "bigint":
        # integer division: `/` would go through double and epoch-nano
        # magnitudes (~1.7e18) exceed 2^53, truncating off-alignment inputs
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        # NTZ → session-tz TIMESTAMP: watermarks reject TIMESTAMP_NTZ
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def windowed_agg(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "5 minutes",
    slide: str | None = None,
    keys: tuple[str, ...] = ("event_type",),
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` is given) event-time windowed
    aggregation: count / sum / avg of ``value`` per key per window. Works
    identically on a batch DataFrame and a stream; pass ``watermark`` on
    the streaming side to bound state and enable append mode."""
    src = events
    if watermark is not None and events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    # avg at 6 dp via INTEGRAL arithmetic in micro-units, never round()
    # on a double: Spark's round() rounds the double's shortest decimal
    # representation, DuckDB/others the exact binary — a quotient whose
    # shortest form lands on the 5-boundary splits between engines (the
    # r9 sf1 sweep caught 2 such rows). floor((2S+n)/(2n)) in exact
    # decimal = round-half-up(S/n); the subtraction-of-pmod quotient is
    # exactly divisible, so the decimal division is exact.
    s_u = (exact_sum("value") * F.lit(1_000_000)).cast("decimal(38,0)")
    n = F.count(F.lit(1))
    a = s_u * 2 + n
    b = n * 2
    avg_u = (a - F.pmod(a, b)) / b
    return (
        src.groupBy(win.alias("w"), *keys)
        .agg(
            F.count("*").alias("n_events"),
            exact_sum("value").cast("double").alias("sum_value"),
            (avg_u.cast("double") / F.lit(1_000_000.0)).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            "n_events",
            "sum_value",
            "avg_value",
        )
    )


def session_agg(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "10 minutes",
    keys: tuple[str, ...] = ("user_id",),
    watermark: str | None = None,
) -> DataFrame:
    """Session-window aggregation (gap-based) via ``F.session_window`` —
    Spark merges overlapping per-key sessions in state; batch-compatible."""
    src = events
    if watermark is not None and events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.session_window(ts_col, gap).alias("s"), *keys)
        .agg(
            F.count("*").alias("n_events"),
            exact_sum("value").cast("double").alias("sum_value"),
        )
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(
    events: DataFrame,
    subset: tuple[str, ...],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exact dedup on ``subset``, batch- and stream-compatible. Batch:
    plain ``dropDuplicates``. Stream: ``dropDuplicatesWithinWatermark``
    — a duplicate arriving within ``watermark`` of the first-seen row is
    dropped, and the key state is EVICTED once the watermark passes it,
    so state stays bounded by the duplicate-arrival horizon instead of
    growing with every key ever seen (which is what plain stream
    ``dropDuplicates`` would do — unusable on an unbounded stream).
    Returns ``subset`` + ``first_ts``: the batch path keeps min(ts) per
    key (deterministic, hence SQL-oracle-able); the stream path keeps
    the first ARRIVAL, which equals min(ts) whenever the source is
    time-ordered (the file stream here) — the parity test compares key
    sets, which agree regardless."""
    cols = [*subset, ts_col]
    if events.isStreaming:
        return (
            events.select(*[F.col(c) for c in cols])
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(list(subset))
            .withColumnRenamed(ts_col, "first_ts")
        )
    return (
        events.select(*[F.col(c) for c in cols])
        .groupBy(*[F.col(c) for c in subset])
        .agg(F.min(ts_col).alias("first_ts"))
    )


def sessionize_batch(
    events: DataFrame,
    ts_col: str = "ts",
    gap_seconds: int = 600,
    keys: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Batch sessionization by the classic lag+cumsum pattern: a new
    session starts where the gap to the previous event exceeds
    ``gap_seconds``. Pure window functions, ANSI-SQL-expressible (this is
    the oracle-checkable twin of :func:`session_agg`; note the two differ
    on session *end* semantics — session_window extends end by the gap)."""
    w = Window.partitionBy(*keys).orderBy(ts_col)
    gap_break = (
        F.unix_micros(F.col(ts_col).cast("timestamp"))
        - F.unix_micros(F.lag(ts_col).over(w).cast("timestamp"))
    ) / 1e6 > gap_seconds
    with_sid = events.withColumn(
        "session_id",
        F.sum(F.when(gap_break, 1).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        with_sid.groupBy(*keys, "session_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
            exact_sum("value").cast("double").alias("sum_value"),
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    max_delay: str = "30 minutes",
    left_types: tuple[str, ...] = ("view",),
    right_types: tuple[str, ...] = ("purchase",),
) -> DataFrame:
    """Event-correlation interval join: each left event matches right
    events for the same ``key`` arriving within ``(0, max_delay]`` AFTER
    it (classic click→conversion attribution).

    Batch and stream share this ONE definition. On streams BOTH sides
    must carry watermarks (set them before calling): Spark then bounds
    the join state to the interval — left rows are evicted once the
    right watermark passes ``left.ts + max_delay``, so state is
    O(rate × delay), not unbounded. On batch frames the same plan is an
    equi-join on ``key`` with a range predicate.
    """
    secs = _interval_seconds(max_delay)
    l = left.filter(F.col("event_type").isin(list(left_types))).select(
        F.col(key).alias("__k"),
        F.col(ts_col).alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
        F.col("value").alias("l_value"),
    )
    r = right.filter(F.col("event_type").isin(list(right_types))).select(
        F.col(key).alias("__k"),
        F.col(ts_col).alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
        F.col("value").alias("r_value"),
    )
    cond = (
        (l["__k"] == r["__k"])
        & (r["r_ts"] > l["l_ts"])
        & (r["r_ts"] <= l["l_ts"] + F.expr(f"INTERVAL {secs} SECONDS"))
    )
    return l.join(r, on=cond, how="inner").select(
        l["__k"].alias(key), "l_event_id", "r_event_id", "l_ts", "r_ts", "l_value", "r_value"
    )


def _interval_seconds(spec: str) -> int:
    n, unit = spec.split()
    mult = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60, "hour": 3600, "hours": 3600}[unit]
    return int(n) * mult


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> None:
    """Drive a streaming plan to completion against the currently available
    files via the memory sink (test/smoke harness: synchronous
    ``processAllAvailable``)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        # availableNow => the query drains everything and terminates on
        # its OWN — no stop()-driven job-group cancellation, which under
        # concurrent suites races the Python-worker daemon's fork
        # handshake and produces spurious BrokenPipeError tracebacks.
        q.processAllAvailable()
        q.awaitTermination(120)
    finally:
        q.stop()  # no-op on the (normal) already-terminated path


def _drain(stream_df: DataFrame, apply_batch, checkpoint_path: "str | None") -> "object":
    """Start ``stream_df`` draining into ``apply_batch`` through
    ``foreachBatch`` and return the started StreamingQuery (callers own
    ``processAllAvailable``/``stop``).

    availableNow: drain-everything-then-terminate. All callers feed a
    fully-materialized file listing and drain once; self-termination
    makes the caller's defensive stop() a no-op instead of a job-group
    cancellation (which races the Python-worker fork handshake under
    concurrent load — the bench's BrokenPipeError source)."""
    writer = stream_df.writeStream.trigger(availableNow=True).foreachBatch(apply_batch)
    if checkpoint_path:
        writer = writer.option("checkpointLocation", checkpoint_path)
    return writer.start()


def stream_merge_upsert(
    stream_df: DataFrame,
    target_path: str,
    on: "list[str] | str",
    checkpoint_path: str | None = None,
) -> "object":
    """Streaming CDC apply: every micro-batch is MERGEd into the parquet
    table at ``target_path`` via ``foreachBatch`` + ``merge_upsert`` —
    the standard upsert-sink pattern for engines whose native sinks are
    append-only. Each batch pays one anti-join against the current
    target (broadcast when the batch is small). Returns the started
    StreamingQuery; callers own ``processAllAvailable``/``stop``.

    On a lakehouse table (Delta/Iceberg) the same ``foreachBatch`` body
    becomes ``MERGE INTO`` and gets ACID file replacement; plain parquet
    rewrite here keeps the demonstration dependency-free. All state-dir
    exists/rename/delete run through the Hadoop FileSystem API
    (:mod:`polars_dataset_spark.streaming.state_fs`), so ``target_path``
    may live on any Hadoop-compatible filesystem (``file:``, ``hdfs:``,
    ``s3a:`` — see that module's atomicity contract), not just POSIX."""
    from polars_dataset_spark.operators.merge import merge_upsert
    from polars_dataset_spark.streaming.state_fs import (
        hfs_exists,
        repair_state,
        swap_state,
    )

    keys = [on] if isinstance(on, str) else list(on)
    spark = stream_df.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        repair_state(spark, target_path)
        batch = batch_df.dropDuplicates(keys)  # last-write-wins within a batch
        if hfs_exists(spark, target_path):
            base = spark.read.parquet(target_path)
            merged = merge_upsert(base, batch, on=keys)
        else:
            merged = batch
        # write-then-swap: the merged table is written DISTRIBUTED to a
        # scratch dir (the source files are still live, so no
        # read-what-you-overwrite hazard), then swapped in driver-side —
        # two directory renames, no data ever through the driver. The
        # worst crash window (between the renames) is repaired by
        # repair_state on the checkpointed re-run.
        merged.write.mode("overwrite").parquet(f"{target_path}__staging")
        swap_state(spark, target_path)

    return _drain(stream_df, apply_batch, checkpoint_path)


def stream_neardup_filter(
    stream_df: DataFrame,
    index: "object",  # functions.dedup.NeardupIndex
    sink_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    checkpoint_path: str | None = None,
) -> "object":
    """Continuous-ingestion fuzzy dedup: every micro-batch of arriving
    documents is MinHash-LSH probed against a PRE-BUILT static corpus
    index (:func:`functions.dedup.build_neardup_index` — the corpus is
    shingled and signed once, never per batch) and only documents with
    no near-duplicate (shingle Jaccard ≥ ``threshold``) in the corpus
    are appended to the parquet sink. Returns the started
    StreamingQuery; callers own ``processAllAvailable``/``stop``.

    ``foreachBatch`` because the per-document verdict collapses the
    exploded band candidates back to one row per document — a grouped
    aggregation over a stream-derived frame that append-mode streaming
    cannot express — and the batch body is exactly the batch-tested
    :func:`neardup_filter_against`, so stream ≡ batch by construction.
    Per-batch cost: signatures for the batch only, one bucket equi-join
    against the index (broadcast-sized batch side), exact verify on
    candidates. Each batch is signed with the index's own LSH
    parameters. The text index stays static: batches are probed against
    it but never added to it (the media filter, by contrast, appends its
    survivors to its index), so nothing grows with stream lifetime."""
    from polars_dataset_spark.functions.dedup import neardup_filter_against

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = neardup_filter_against(
            batch_df, index, id_col=id_col, text_col=text_col, threshold=threshold
        )
        out.write.mode("append").parquet(sink_path)

    return _drain(stream_df, apply_batch, checkpoint_path)


def _stream_media_filter(
    stream_df: DataFrame,
    index: "object",  # functions.dedup.BandedIndex
    sink_path: str,
    id_col: str = "media_id",
    content_col: str = "content",
    checkpoint_path: "str | None" = None,
) -> "object":
    """Continuous-ingestion media dedup for any modality (the index's
    own fingerprint decides: image, audio or video). Per micro-batch:
    fingerprint ONCE (decode dominates), band-probe the pinned
    :class:`functions.dedup.BandedIndex`, append only blobs with no
    indexed near-duplicate to the parquet sink, then append the
    survivors' signatures to the index, so batch N+1 dedups against
    batch N's survivors too. The batch body is the batch-tested
    :meth:`BandedIndex.filter_against` probe, so stream ≡
    sequential-batch by construction; the standing index is never
    re-shuffled. Undecodable blobs are KEPT and never indexed;
    intra-batch duplicates both survive (filter-against semantics).
    Returns the started StreamingQuery."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        hashed = index.hash(batch_df, id_col, content_col).persist()
        try:
            dupes = index.dup_ids(hashed, id_col)
            batch_df.join(dupes, on=id_col, how="left_anti").write.mode(
                "append"
            ).parquet(sink_path)
            index.append(hashed.join(dupes, on=id_col, how="left_anti"))
        finally:
            hashed.unpersist(blocking=False)

    return _drain(stream_df, apply_batch, checkpoint_path)


stream_image_filter = stream_audio_filter = stream_video_filter = _stream_media_filter


def stream_heavy_hitters(
    stream_df: DataFrame,
    col: str,
    state_path: str,
    phi: float = 0.01,
    checkpoint_path: str | None = None,
) -> "object":
    """Continuous heavy-hitter tracking over an unbounded stream: each
    micro-batch's per-partition Misra–Gries summaries are merged into a
    persistent ≤⌈1/phi⌉−1-counter state table (parquet, crash-safe
    write-then-swap like :func:`stream_merge_upsert`) with the
    mergeable-summaries rule (``functions.frequency.merge_mg_summaries``)
    — so state stays O(1/phi) rows FOREVER, whatever the stream's
    distinct-key cardinality, and at any point the state's item set is a
    superset of every item with frequency > phi·n over the WHOLE history
    (counters underestimate by ≤ phi·n). Read the state and exact-verify
    candidates against stored data for exact answers (the batch
    :func:`functions.frequency.heavy_hitters` shape). Returns the
    started StreamingQuery. State-dir swaps run through the Hadoop
    FileSystem API (:mod:`polars_dataset_spark.streaming.state_fs`) —
    ``state_path`` may live on any Hadoop-compatible filesystem, not
    just POSIX."""
    import math

    from polars_dataset_spark.functions.frequency import mg_candidates
    from polars_dataset_spark.streaming.state_fs import (
        hfs_exists,
        repair_state,
        swap_state,
    )

    if not 0.0 < phi < 1.0:
        raise ValueError(f"phi must be in (0, 1), got {phi}")
    k = math.ceil(1.0 / phi) - 1
    spark = stream_df.sparkSession
    # In-session state cache (r13): the merged summary is <= k counters
    # BY CONSTRUCTION, so it lives in driver memory between batches and
    # the itemwise merge runs driver-side over bounded rows (the same
    # Agarwal et al. rule merge_mg_summaries applies, over <= k x
    # (partitions + 1) rows — the scale of the collects the batch op
    # already does). The distributed work per batch is exactly the
    # per-partition MG pass over the batch's rows, whose summary is one
    # bounded collect. Crash-safety is UNCHANGED: every batch still
    # writes the state parquet through the staging+swap protocol; the
    # cache only removes the per-batch read-back (None = not loaded:
    # a restarted query re-reads the surviving state once).
    cache: "dict[str, list[tuple[str, int]] | None]" = {"state": None}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        repair_state(spark, state_path)
        vals = batch_df.select(F.col(col).cast("string").alias("item")).filter(
            F.col("item").isNotNull()
        )
        if cache["state"] is None:
            cache["state"] = (
                [
                    (r["item"], int(r["est"]))
                    for r in spark.read.parquet(state_path)
                    .select("item", "est")
                    .collect()
                ]
                if hfs_exists(spark, state_path)
                else []
            )
        counters: "dict[str, int]" = dict(cache["state"])
        # bounded collect: <= k counters per upstream partition
        for r in mg_candidates(vals, "item", k).collect():
            counters[r["item"]] = counters.get(r["item"], 0) + int(r["est"])
        if len(counters) > k:
            # Agarwal et al. merge rule — identical to merge_mg_summaries
            sub = sorted(counters.values(), reverse=True)[k]
            counters = {i: c - sub for i, c in counters.items() if c > sub}
        rows = sorted(counters.items())
        # pandas input -> Arrow local relation: ONE partition, one small
        # file (a python-list relation would inherit defaultParallelism
        # partitions, and coalesce(1) over those measures ~6 s here)
        merged = spark.createDataFrame(
            pd.DataFrame(rows, columns=["item", "est"]),
            schema="item string, est long",
        )
        merged.write.mode("overwrite").parquet(f"{state_path}__staging")
        swap_state(spark, state_path)
        # only after the durable swap: a failed batch must not leave
        # the next one merging onto state that never reached disk
        cache["state"] = rows

    return _drain(stream_df, apply_batch, checkpoint_path)
