import pytest
from pyspark.sql import functions as F

from polars_dataset_spark.sources import load_table
from polars_dataset_spark.streaming import (
    read_events_stream,
    run_stream_to_memory,
    session_agg,
    sessionize_batch,
    windowed_agg,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_windowed_agg_batch(events):
    out = windowed_agg(events, window="1 hour")
    total = out.agg(F.sum("n_events")).first()[0]
    assert total == events.count()


def test_windowed_agg_stream_matches_batch(spark, sf_dir, events):
    batch = windowed_agg(events, window="1 hour")
    st = read_events_stream(spark, f"{sf_dir}/events.parquet")
    assert st.isStreaming
    swa = windowed_agg(st, window="1 hour", watermark="0 seconds")
    run_stream_to_memory(swa, "t_wout", output_mode="append")
    stream_rows = spark.sql(
        "select window_start, event_type, n_events, sum_value from t_wout"
    ).collect()
    batch_rows = batch.select("window_start", "event_type", "n_events", "sum_value").collect()
    # watermark=0: all windows emitted except those holding the max event
    assert len(stream_rows) >= len(batch_rows) - 5
    bmap = {(r.window_start, r.event_type): (r.n_events, r.sum_value) for r in batch_rows}
    for r in stream_rows:
        assert bmap[(r.window_start, r.event_type)] == (r.n_events, r.sum_value)


def test_stream_dedup_matches_batch_keys(spark, sf_dir, events):
    from polars_dataset_spark.streaming import stream_dedup

    batch = stream_dedup(events, ("user_id", "event_type"))
    batch_keys = {(r.user_id, r.event_type) for r in batch.collect()}
    st = read_events_stream(spark, f"{sf_dir}/events.parquet")
    sd = stream_dedup(st, ("user_id", "event_type"), watermark="1 hour")
    assert sd.isStreaming
    run_stream_to_memory(sd, "t_dedup", output_mode="append")
    stream_rows = spark.sql("select user_id, event_type, first_ts from t_dedup").collect()
    stream_keys = {(r.user_id, r.event_type) for r in stream_rows}
    # every key appears exactly once in the stream output, same key set
    assert len(stream_rows) == len(stream_keys)
    assert stream_keys == batch_keys
    # time-ordered arrival => first arrival is min(ts): spot-check parity
    bmap = {(r.user_id, r.event_type): r.first_ts for r in batch.collect()}
    for r in stream_rows:
        assert bmap[(r.user_id, r.event_type)] == r.first_ts


def test_sessionize_batch_and_session_window_agree_on_count(events):
    a = sessionize_batch(events, gap_seconds=3600)
    b = session_agg(events, gap="1 hour")
    assert a.count() == b.count()
    assert a.agg(F.sum("n_events")).first()[0] == events.count()


def test_session_window_end_extends_gap(events):
    row = session_agg(events, gap="1 hour").first()
    assert (row.session_end - row.session_start).total_seconds() >= 3600


def test_running_trace_stats_matches_batch(spark, sf_dir, events):
    import pytest as _pytest
    from pyspark.sql import functions as F
    from polars_dataset_spark.streaming import read_events_stream, running_trace_stats, run_stream_to_memory

    st = read_events_stream(spark, f"{sf_dir}/events.parquet")
    stats = running_trace_stats(st, key_col="user_id", value_col="value")
    run_stream_to_memory(stats, "t_stats", output_mode="update")
    # after the whole (single-file) stream is folded, the final state per
    # key must equal the batch aggregation over the full table
    got = {
        r.key: r
        for r in spark.sql(
            """select * from (
                 select *, row_number() over (partition by key order by n desc) rn
                 from t_stats) where rn = 1"""
        ).collect()
    }
    batch = {
        r.user_id: r
        for r in events.groupBy("user_id")
        .agg(
            F.count("value").alias("n"),
            F.sum("value").alias("sum"),
            F.avg("value").alias("mean"),
            F.var_pop("value").alias("var"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
        )
        .collect()
    }
    assert set(got) == set(batch)
    for k, b in batch.items():
        g = got[k]
        assert g.n == b.n
        assert g.sum == _pytest.approx(b.sum, rel=1e-9)
        assert g.var == _pytest.approx(b["var"], rel=1e-6, abs=1e-9)
        assert (g.min, g.max) == (b["min"], b["max"])


def test_regrid_stream_converges_to_batch(spark, sf_dir):
    import numpy as np
    from polars_dataset_spark import Dataset
    from polars_dataset_spark.operators import regrid
    from polars_dataset_spark.streaming import read_events_stream, regrid_stream, run_stream_to_memory

    grid = np.linspace(0.0, 200.0, 25)
    st = read_events_stream(spark, f"{sf_dir}/events.parquet")
    # stream value over a numeric index derived from the event id
    st2 = st.select(
        (st.user_id % 3).alias("trace"),
        (st.event_id % 211).cast("double").alias("xi"),
        "value",
    )
    out = regrid_stream(st2, grid, key_col="trace", index_col="xi", value_col="value")
    run_stream_to_memory(out, "t_regrid", output_mode="update")
    # final (max n_samples) emission per key must equal the batch regrid
    final = spark.sql(
        """select * from (
             select *, row_number() over (partition by key, xi order by n_samples desc) rn
             from t_regrid) where rn = 1"""
    ).toPandas()
    from polars_dataset_spark.sources import load_table
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 3).alias("trace"),
        (F.col("event_id") % 211).cast("double").alias("xi"),
        "value",
    )
    ds = Dataset(ev, index="xi", id_vars=["trace"])
    batch = regrid(ds, grid).df.toPandas()
    merged = final.merge(
        batch, left_on=["key", "xi"], right_on=["trace", "xi"], suffixes=("_s", "_b")
    )
    assert len(merged) == 3 * 25
    import numpy as np
    ok = np.isfinite(merged.value_s) & np.isfinite(merged.value_b)
    assert np.allclose(merged.value_s[ok], merged.value_b[ok], rtol=1e-9)
    assert (np.isfinite(merged.value_s) == np.isfinite(merged.value_b)).all()


def test_stream_static_enrichment_join(spark, sf_dir, events):
    # stream-static join: a file-source events stream enriched against a
    # static per-user dimension — planned as a per-batch join with no
    # stream-side state; parity against the same join run in batch.
    from polars_dataset_spark.streaming import read_events_stream, run_stream_to_memory

    dim = events.groupBy("user_id").agg(F.avg("value").alias("user_avg"))
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    enriched = stream.join(dim, on="user_id", how="left").select(
        "event_id", "user_id", "value", "user_avg"
    )
    run_stream_to_memory(enriched, "enriched_events", output_mode="append")
    got = spark.table("enriched_events")
    batch = events.join(dim, on="user_id", how="left")
    assert got.count() == batch.count()
    assert got.filter(F.col("user_avg").isNull()).count() == 0


def test_interval_join_stream_matches_batch(spark, sf_dir, events):
    # stream-stream interval join: watermarks on BOTH sides bound the
    # join state to the delay interval; result equals the batch join.
    from polars_dataset_spark.streaming import interval_join, read_events_stream, run_stream_to_memory

    batch = interval_join(events, events, max_delay="30 minutes")
    s1 = read_events_stream(spark, f"{sf_dir}/events.parquet").withWatermark("ts", "1 hour")
    s2 = read_events_stream(spark, f"{sf_dir}/events.parquet").withWatermark("ts", "1 hour")
    streamed = interval_join(s1, s2, max_delay="30 minutes")
    assert streamed.isStreaming
    run_stream_to_memory(streamed, "interval_joined", output_mode="append")
    got = spark.table("interval_joined")
    key = ["l_event_id", "r_event_id"]
    assert got.count() == batch.count()
    assert got.select(key).subtract(batch.select(key)).count() == 0
    assert batch.select(key).subtract(got.select(key)).count() == 0


def test_clean_stream_matches_batch(spark, sf_dir):
    from polars_dataset_spark.streaming import clean_stream

    docs = load_table(spark, sf_dir, "documents")
    batch = clean_stream(docs)
    batch_rows = batch.collect()
    # batch twin: survivor SET of texts == exact_dedup's after the gates
    from polars_dataset_spark.functions import exact_dedup
    from polars_dataset_spark.functions.text import with_language_id, with_quality_score

    ref = exact_dedup(
        with_language_id(
            with_quality_score(docs).filter(F.col("quality") >= 0.5)
        ),
        subset="text",
        id_col="doc_id",
    )
    assert len(batch_rows) == ref.count()

    from polars_dataset_spark.streaming import read_documents_stream

    st = read_documents_stream(spark, f"{sf_dir}/documents.parquet").withColumn(
        "ts",
        F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        + F.make_interval(secs=F.col("doc_id").cast("double")),
    )
    out = clean_stream(st, ts_col="ts")
    assert out.isStreaming
    from polars_dataset_spark.streaming import run_stream_to_memory

    run_stream_to_memory(out, "t_clean_stream", output_mode="append")
    stream_rows = spark.sql("select * from t_clean_stream").collect()
    # same survivor text set and per-doc token counts, whatever the arrival order
    b = sorted((r.text, r.n_tokens) for r in batch_rows)
    s = sorted((r.text, r.n_tokens) for r in stream_rows)
    assert b == s


def test_trending_tokens_stream_matches_batch(spark, sf_dir):
    from polars_dataset_spark.streaming import run_stream_to_memory, trending_tokens

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "ts",
        F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        + F.make_interval(secs=((F.col("doc_id") % 48) * 300).cast("double")),
    )
    batch = trending_tokens(docs, "ts", window="1 hour")
    from polars_dataset_spark.streaming import read_documents_stream

    st = read_documents_stream(spark, f"{sf_dir}/documents.parquet").withColumn(
        "ts",
        F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        + F.make_interval(secs=((F.col("doc_id") % 48) * 300).cast("double")),
    )
    sout = trending_tokens(st, "ts", window="1 hour", watermark="0 seconds")
    run_stream_to_memory(sout, "t_trend", output_mode="append")
    srows = spark.sql("select * from t_trend").collect()
    bmap = {(r.window_start, r.token): r.n for r in batch.collect()}
    # watermark 0: every closed window must agree exactly with batch
    assert srows
    for r in srows:
        assert bmap[(r.window_start, r.token)] == r.n
    # top-3 per emitted window (ranked downstream of the sink) is consistent
    import collections

    per_window = collections.defaultdict(list)
    for r in srows:
        per_window[r.window_start].append((-r.n, r.token))
    for w, toks in per_window.items():
        top = [t for _, t in sorted(toks)[:3]]
        btop = [
            t
            for _, t in sorted(
                (-n, t) for (ws, t), n in bmap.items() if ws == w
            )[:3]
        ]
        assert top == btop


def test_sliding_window_stream_matches_batch(spark, sf_dir, events):
    """Sliding windows (window > slide) through the SAME definition on
    batch and stream: every emitted stream window must agree with the
    batch plan, proving the overlap fan-out works under incremental
    execution with watermark-bounded state."""
    batch = windowed_agg(events, window="2 hours", slide="1 hour")
    st = read_events_stream(spark, f"{sf_dir}/events.parquet")
    swa = windowed_agg(st, window="2 hours", slide="1 hour", watermark="0 seconds")
    run_stream_to_memory(swa, "t_slide", output_mode="append")
    stream_rows = spark.sql(
        "select window_start, event_type, n_events, sum_value from t_slide"
    ).collect()
    batch_rows = batch.select("window_start", "event_type", "n_events", "sum_value").collect()
    # each event covers 2 windows; watermark=0 withholds only the tail ones
    assert len(stream_rows) >= len(batch_rows) - 10
    bmap = {(r.window_start, r.event_type): (r.n_events, r.sum_value) for r in batch_rows}
    for r in stream_rows:
        assert bmap[(r.window_start, r.event_type)] == (r.n_events, r.sum_value)


def test_stream_merge_upsert_applies_batches(spark, tmp_path):
    """CDC-apply pattern: two delta files streamed one-per-trigger
    through foreachBatch + merge_upsert must leave the target equal to
    the sequential batch merge of the same deltas."""
    from polars_dataset_spark.streaming.ops import stream_merge_upsert

    import pandas as pd

    src = tmp_path / "deltas"
    src.mkdir()
    # plain parquet FILES: the file stream source lists files, not the
    # nested directories a Spark write would produce
    pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}).to_parquet(src / "f1.parquet")
    pd.DataFrame({"k": [2, 3], "v": ["B2", "c"]}).to_parquet(src / "f2.parquet")
    st = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    target = str(tmp_path / "target")
    q = stream_merge_upsert(st, target, on="k", checkpoint_path=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    # file order within a batch is not guaranteed, but the KEY SET and
    # every non-conflicting value are; k=2 is whichever delta applied last
    assert set(got) == {1, 2, 3}
    assert got[1] == "a" and got[3] == "c" and got[2] in ("b", "B2")


def test_stream_heavy_hitters_state_guarantees(spark, tmp_path):
    """Sketch-state streaming: after any prefix of micro-batches the
    MG state must (a) stay <= k rows, (b) contain every item whose
    frequency over the WHOLE consumed stream exceeds phi*n, (c) have
    counters that never overestimate and underestimate by <= phi*n."""
    from collections import Counter

    import pandas as pd

    from polars_dataset_spark.streaming.ops import stream_heavy_hitters

    rng = __import__("numpy").random.default_rng(23)
    all_items = []
    src = tmp_path / "stream"
    src.mkdir()
    for b in range(3):
        items = [f"hh{i}" for i in range(3) for _ in range(120)]
        items += [f"tail{rng.integers(0, 400)}" for _ in range(900)]
        rng.shuffle(items)
        all_items += items
        pd.DataFrame({"item": items}).to_parquet(src / f"b{b}.parquet")
    st = (
        spark.readStream.schema("item string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state = str(tmp_path / "mg_state")
    phi = 0.05
    q = stream_heavy_hitters(
        st, "item", state, phi=phi, checkpoint_path=str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.item: r.est for r in spark.read.parquet(state).collect()}
    true = Counter(all_items)
    n = len(all_items)
    k = 19  # ceil(1/0.05) - 1
    assert len(got) <= k
    heavy = {i for i, c in true.items() if c > phi * n}
    assert heavy <= set(got)
    for item, est in got.items():
        assert est <= true[item]
        assert est >= true[item] - phi * n


def test_stream_heavy_hitters_failed_swap_keeps_memory_state_durable(
    spark, tmp_path, monkeypatch
):
    """The in-session MG state cache advances only after the durable
    state swap: a batch whose swap fails must not leak into the next
    batch's merge. Batch 1's swap raises; batch 2 (disjoint items)
    swaps normally, so the durable state is batch 2's summary alone."""
    from collections import Counter

    from polars_dataset_spark.streaming import ops, state_fs

    captured = {}
    monkeypatch.setattr(
        ops,
        "_drain",
        lambda stream_df, apply_batch, checkpoint_path: captured.update(
            apply_batch=apply_batch
        ),
    )
    real_swap = state_fs.swap_state
    fail = {"on": True}

    def flaky_swap(spark, target_path):
        if fail["on"]:
            raise OSError("injected swap failure")
        real_swap(spark, target_path)

    monkeypatch.setattr(state_fs, "swap_state", flaky_swap)

    b1_items = ["a"] * 5 + ["b"] * 3
    b2_items = ["x"] * 4 + ["y"] * 2
    b1 = spark.createDataFrame([(i,) for i in b1_items], "item string")
    b2 = spark.createDataFrame([(i,) for i in b2_items], "item string")
    state = str(tmp_path / "mg_state")
    ops.stream_heavy_hitters(b1, "item", state, phi=0.2)  # k = 4 counters
    apply_batch = captured["apply_batch"]
    with pytest.raises(OSError, match="injected"):
        apply_batch(b1, 0)
    fail["on"] = False
    apply_batch(b2, 1)
    got = {r.item: r.est for r in spark.read.parquet(state).collect()}
    # <= k distinct items: the MG summary of batch 2 is its exact counts
    assert got == dict(Counter(b2_items))


def test_stream_neardup_filter_matches_batch(spark, sf_dir, tmp_path):
    """Continuous-ingestion fuzzy dedup: streaming arriving documents
    against a static corpus index must keep exactly the documents the
    batch neardup_filter_against keeps (stream ≡ batch by construction:
    the per-doc verdict depends only on the doc and the static index,
    never on batch boundaries)."""
    from polars_dataset_spark.functions import (
        build_neardup_index,
        neardup_filter_against,
    )
    from polars_dataset_spark.streaming import read_documents_stream
    from polars_dataset_spark.streaming.ops import stream_neardup_filter

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)       # "existing" half
    arriving = docs.filter(F.col("doc_id") % 2 == 1)
    idx = build_neardup_index(corpus)
    expect = sorted(
        r.doc_id
        for r in neardup_filter_against(arriving, idx, threshold=0.7).collect()
    )
    # some arriving docs must actually be dropped, or the test is vacuous
    assert len(expect) < arriving.count()

    st = read_documents_stream(spark, f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 2 == 1
    )
    sink = str(tmp_path / "survivors")
    q = stream_neardup_filter(
        st, idx, sink, threshold=0.7, checkpoint_path=str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r.doc_id for r in spark.read.parquet(sink).collect())
    assert got == expect
    idx.unpersist()


def test_stream_neardup_filter_uses_index_lsh_parameters(
    spark, tmp_path, monkeypatch
):
    """Each micro-batch is signed with the LSH parameters the index was
    built with (char 5-grams, 8 bands here), not the defaults: the planted
    near-duplicates never reach the sink."""
    from polars_dataset_spark.functions import build_neardup_index
    from polars_dataset_spark.streaming import ops

    from tests.test_functions import NEARDUP_CORPUS, NEARDUP_DOCS

    captured = {}
    monkeypatch.setattr(
        ops,
        "_drain",
        lambda stream_df, apply_batch, checkpoint_path: captured.update(
            apply_batch=apply_batch
        ),
    )
    corpus = spark.createDataFrame(NEARDUP_CORPUS, "doc_id long, text string")
    docs = spark.createDataFrame(NEARDUP_DOCS, "doc_id long, text string")
    idx = build_neardup_index(corpus, shingle_kind="char", shingle_size=5, bands=8)
    sink = str(tmp_path / "survivors")
    try:
        ops.stream_neardup_filter(docs, idx, sink, threshold=0.8)
        captured["apply_batch"](docs, 0)
        assert sorted(r.doc_id for r in spark.read.parquet(sink).collect()) == [2]
    finally:
        idx.unpersist()


def test_stream_merge_upsert_file_scheme_path(spark, tmp_path):
    """The state swap must run through the Hadoop FileSystem API, not
    os.path: an EXPLICIT file:-scheme target (os.path.exists() is False
    for 'file:/...' strings) proves no POSIX path call survives in the
    protocol, so the same code path serves hdfs:/s3a: URIs."""
    import os

    import pandas as pd

    from polars_dataset_spark.streaming.ops import stream_merge_upsert

    src = tmp_path / "deltas"
    src.mkdir()
    pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}).to_parquet(src / "f1.parquet")
    pd.DataFrame({"k": [2, 3], "v": ["B2", "c"]}).to_parquet(src / "f2.parquet")
    st = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    target = f"file:{tmp_path}/target"
    assert not os.path.exists(target)  # the scheme-prefixed string is opaque to os.path
    q = stream_merge_upsert(st, target, on="k", checkpoint_path=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1] == "a" and got[3] == "c" and got[2] in ("b", "B2")
    # swap hygiene: no staging/old remnants after a clean run
    assert not os.path.exists(f"{tmp_path}/target__staging")
    assert not os.path.exists(f"{tmp_path}/target__old")


def test_state_fs_repair_restores_crashed_swap(spark, tmp_path):
    """Crash between the two renames leaves data in __old with no target;
    repair_state must restore it — through the Hadoop FS API on a
    file:-scheme path."""
    import os

    import pandas as pd

    from polars_dataset_spark.streaming.state_fs import (
        hfs_exists,
        repair_state,
        swap_state,
    )

    target_posix = f"{tmp_path}/state"
    target = f"file:{target_posix}"
    os.makedirs(f"{target_posix}__old")
    pd.DataFrame({"x": [1]}).to_parquet(f"{target_posix}__old/part.parquet")
    assert not hfs_exists(spark, target)
    repair_state(spark, target)
    assert hfs_exists(spark, target)
    assert spark.read.parquet(target).count() == 1
    assert not os.path.exists(f"{target_posix}__old")

    # normal swap: staging replaces target, old cleaned up
    os.makedirs(f"{target_posix}__staging")
    pd.DataFrame({"x": [2, 3]}).to_parquet(f"{target_posix}__staging/part.parquet")
    swap_state(spark, target)
    assert spark.read.parquet(target).count() == 2
    assert not os.path.exists(f"{target_posix}__staging")
    assert not os.path.exists(f"{target_posix}__old")


def test_curation_ops_are_streamable(spark, sf_dir):
    """The round-5 curation surface (Gopher rules, encoding anomalies,
    URL blocklists, DSIR scoring via a pre-trained broadcast ratio
    table is excluded — it aggregates) is MAP-ONLY, so the identical
    call must run unchanged on a stream and agree with batch row for
    row."""
    from polars_dataset_spark.functions import (
        with_encoding_anomalies,
        with_gopher_rules,
    )
    from polars_dataset_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch = with_encoding_anomalies(with_gopher_rules(docs)).select(
        "doc_id", "gopher_keep", "encoding_clean"
    )
    st = read_documents_stream(spark, f"{sf_dir}/documents.parquet")
    out = with_encoding_anomalies(with_gopher_rules(st)).select(
        "doc_id", "gopher_keep", "encoding_clean"
    )
    assert out.isStreaming
    run_stream_to_memory(out, "t_curation_stream", output_mode="append")
    b = sorted(map(tuple, batch.collect()))
    s = sorted(map(tuple, spark.sql("select * from t_curation_stream").collect()))
    assert b == s


def test_url_filter_streamable(spark, sf_dir):
    from polars_dataset_spark.functions import filter_url_blocklist
    from polars_dataset_spark.streaming import (
        read_documents_stream,
        run_stream_to_memory,
    )

    def add_url(df):
        return df.select(
            "doc_id",
            F.concat(
                F.lit("https://"),
                F.when(F.col("doc_id") % 3 == 0, F.lit("spam.example"))
                .otherwise(F.concat(F.col("source"), F.lit(".example"))),
                F.lit("/p/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
        )

    docs = load_table(spark, sf_dir, "documents")
    batch_ids = {
        r["doc_id"]
        for r in filter_url_blocklist(add_url(docs), ["spam.example"]).collect()
    }
    st = add_url(read_documents_stream(spark, f"{sf_dir}/documents.parquet"))
    out = filter_url_blocklist(st, ["spam.example"])
    assert out.isStreaming
    run_stream_to_memory(out, "t_url_stream", output_mode="append")
    stream_ids = {r["doc_id"] for r in spark.sql("select doc_id from t_url_stream").collect()}
    assert batch_ids == stream_ids and batch_ids


def test_stream_image_filter_matches_batch_and_appends(spark, tmp_path):
    """Continuous image ingestion (r10): two micro-batches streamed
    against a static index must keep exactly what the SEQUENTIAL batch
    path (image_filter_against + append_to_image_index per batch)
    keeps — including dropping a batch-2 re-encode of a batch-1
    SURVIVOR, which only passes if the index append really happened."""
    import numpy as np
    import pandas as pd

    from polars_dataset_spark.functions.gif import encode_gif_gray
    from polars_dataset_spark.functions.imagehash import (
        append_to_image_index,
        build_image_index,
        image_filter_against,
    )
    from polars_dataset_spark.functions.png import encode_png_gray
    from polars_dataset_spark.streaming.ops import stream_image_filter

    yy, xx = np.mgrid[0:24, 0:32]
    img_a = ((xx * 5 + yy * 13 + (xx * yy) % 7) % 256) / 255.0
    img_b = ((xx * 7 + yy * 13) % 256) / 255.0
    img_c = ((xx * 11 + yy * 3) % 256) / 255.0
    img_d = ((xx + yy) % 2).astype(np.float64)

    corpus = spark.createDataFrame(
        [(0, bytearray(encode_png_gray(img_a))), (1, bytearray(encode_png_gray(img_b)))],
        "media_id long, content binary",
    )
    batch1 = [
        (10, encode_png_gray(np.clip(img_a + 1 / 255.0, 0, 1))),  # corpus dup: drop
        (11, encode_png_gray(img_c)),                             # novel: keep+index
        (12, b"junk blob"),                                       # undecodable: keep
    ]
    batch2 = [
        (20, encode_gif_gray(img_c)),                             # re-encode of batch-1 SURVIVOR: drop
        (21, encode_png_gray(img_d)),                             # novel: keep
        (22, encode_gif_gray(np.clip(img_b + 2 / 255.0, 0, 1))),  # corpus dup: drop
    ]
    src = tmp_path / "arriving"
    src.mkdir()
    for i, rows in enumerate([batch1, batch2]):
        pd.DataFrame(
            {"media_id": [r[0] for r in rows], "content": [bytes(r[1]) for r in rows]}
        ).to_parquet(src / f"batch{i}.parquet")

    # sequential-batch reference
    idx_b = build_image_index(corpus)
    expect = []
    for i in range(2):
        bdf = spark.read.parquet(str(src / f"batch{i}.parquet"))
        kept = image_filter_against(bdf, idx_b)
        expect += [r.media_id for r in kept.collect()]
        append_to_image_index(
            idx_b, idx_b.hash(kept, "media_id", "content")
        )
    idx_b.unpersist()
    assert sorted(expect) == [11, 12, 21]  # the fixture's designed verdicts

    idx_s = build_image_index(corpus)
    st = (
        spark.readStream.schema("media_id long, content binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sink = str(tmp_path / "survivors")
    q = stream_image_filter(
        st, idx_s, sink, checkpoint_path=str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r.media_id for r in spark.read.parquet(sink).collect())
    assert got == sorted(expect)
    idx_s.unpersist()


def test_stream_video_filter_matches_batch_and_appends(spark, tmp_path):
    """Continuous video ingestion (r11): the video twin of the image
    parity test — batch-2 carries a RETIMED copy of a batch-1 SURVIVOR,
    which only drops if the index append really happened."""
    import numpy as np
    import pandas as pd

    from polars_dataset_spark.functions.dedup import append_to_banded_index
    from polars_dataset_spark.functions.videohash import (
        build_video_index,
        video_filter_against,
        video_fingerprint,
    )
    from polars_dataset_spark.streaming.ops import stream_video_filter
    from polars_dataset_spark.suite import _video_clip_fixture, _y4m_fixture

    A = _video_clip_fixture()
    C = _video_clip_fixture(phase=0.23)
    D = _video_clip_fixture(phase=0.61)
    corpus = spark.createDataFrame(
        [(0, bytearray(_y4m_fixture(A)))], "media_id long, content binary"
    )
    batch1 = [
        (10, _y4m_fixture([f[::2, ::2] for f in A])),  # corpus rescale: drop
        (11, _y4m_fixture(C)),                         # novel: keep+index
        (12, b"junk"),                                 # undecodable: keep
    ]
    batch2 = [
        (20, _y4m_fixture(C[::2], fps="25:2")),        # retime of batch-1 SURVIVOR: drop
        (21, _y4m_fixture(D)),                         # novel: keep
    ]
    src = tmp_path / "arriving"
    src.mkdir()
    for i, rows in enumerate([batch1, batch2]):
        pd.DataFrame(
            {"media_id": [r[0] for r in rows], "content": [bytes(r[1]) for r in rows]}
        ).to_parquet(src / f"batch{i}.parquet")

    idx_b = build_video_index(corpus)
    expect = []
    for i in range(2):
        bdf = spark.read.parquet(str(src / f"batch{i}.parquet"))
        kept = video_filter_against(bdf, idx_b)
        expect += [r.media_id for r in kept.collect()]
        append_to_banded_index(
            idx_b,
            video_fingerprint(
                kept.select("media_id", "content"), out_col="__sig"
            ).select("media_id", "__sig"),
        )
    idx_b.unpersist()
    assert sorted(expect) == [11, 12, 21]

    idx_s = build_video_index(corpus)
    st = (
        spark.readStream.schema("media_id long, content binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sink = str(tmp_path / "survivors")
    q = stream_video_filter(st, idx_s, sink, checkpoint_path=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r.media_id for r in spark.read.parquet(sink).collect())
    assert got == sorted(expect)
    idx_s.unpersist()


def test_stream_audio_filter_matches_batch_and_appends(spark, tmp_path):
    """Continuous audio ingestion (r11): batch-2 carries a FLAC
    re-encode of a batch-1 SURVIVOR — drops only if the append
    happened."""
    import pandas as pd

    from polars_dataset_spark.functions.audiohash import (
        audio_fingerprint,
        build_audio_index,
        audio_filter_against,
    )
    from polars_dataset_spark.functions.dedup import append_to_banded_index
    from polars_dataset_spark.functions.flac import encode_flac
    from polars_dataset_spark.streaming.ops import stream_audio_filter
    from polars_dataset_spark.suite import _audio_rich_fixture, _pcm_wav_fixture

    sig_a = _audio_rich_fixture(8000)
    sig_c = _audio_rich_fixture(8000, base=550.0)
    sig_d = _audio_rich_fixture(8000, base=770.0)
    ints_c = (sig_c * 32768.0).clip(-32768, 32767).astype("int64")
    corpus = spark.createDataFrame(
        [(0, bytearray(_pcm_wav_fixture(sig_a, 8000)))],
        "media_id long, content binary",
    )
    batch1 = [
        (10, _pcm_wav_fixture(_audio_rich_fixture(44100), 44100)),  # corpus resample: drop
        (11, _pcm_wav_fixture(sig_c, 8000)),                        # novel: keep+index
        (12, b"junk"),                                              # undecodable: keep
    ]
    batch2 = [
        (20, encode_flac(ints_c, rate=8000)),                       # re-encode of survivor: drop
        (21, _pcm_wav_fixture(sig_d, 8000)),                        # novel: keep
    ]
    src = tmp_path / "arriving"
    src.mkdir()
    for i, rows in enumerate([batch1, batch2]):
        pd.DataFrame(
            {"media_id": [r[0] for r in rows], "content": [bytes(r[1]) for r in rows]}
        ).to_parquet(src / f"batch{i}.parquet")

    idx_b = build_audio_index(corpus)
    expect = []
    for i in range(2):
        bdf = spark.read.parquet(str(src / f"batch{i}.parquet"))
        kept = audio_filter_against(bdf, idx_b)
        expect += [r.media_id for r in kept.collect()]
        append_to_banded_index(
            idx_b,
            audio_fingerprint(
                kept.select("media_id", "content"), out_col="__sig"
            ).select("media_id", "__sig"),
        )
    idx_b.unpersist()
    assert sorted(expect) == [11, 12, 21]

    idx_s = build_audio_index(corpus)
    st = (
        spark.readStream.schema("media_id long, content binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sink = str(tmp_path / "survivors")
    q = stream_audio_filter(st, idx_s, sink, checkpoint_path=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r.media_id for r in spark.read.parquet(sink).collect())
    assert got == sorted(expect)
    idx_s.unpersist()
