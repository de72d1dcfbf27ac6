"""Empty-input totality: every operator must return an empty (not crash)
result on an empty frame — a filter that matches nothing must never take
down a pipeline."""

import numpy as np
import pytest

from polars_dataset_spark import Dataset
from polars_dataset_spark.functions import (
    cosine_topk,
    embedding_neardup,
    exact_dedup,
    minhash_lsh_candidates,
    simhash_dedup,
    with_fingerprint,
    with_language_id,
)
from polars_dataset_spark.operators import autophase, fourier_transform, join_asof, regrid


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


@pytest.fixture(scope="module")
def empty_traces(spark):
    return spark.createDataFrame([], "g double, x double, y double")


def test_text_ops_empty(empty_docs):
    assert exact_dedup(empty_docs).count() == 0
    assert minhash_lsh_candidates(empty_docs).count() == 0
    assert simhash_dedup(empty_docs).count() == 0
    assert with_fingerprint(empty_docs).count() == 0
    assert with_language_id(empty_docs).count() == 0


def test_kernel_ops_empty(empty_traces):
    ds = Dataset(empty_traces, index="x", id_vars=["g"])
    assert regrid(ds, np.linspace(0, 1, 5)).df.count() == 0
    assert fourier_transform(ds).df.count() == 0
    assert autophase(ds, "y", "y").df.count() == 0


def test_similarity_ops_empty(spark):
    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert cosine_topk(empty_emb, empty_emb).count() == 0
    assert embedding_neardup(empty_emb, dim=8).count() == 0


def test_asof_empty(spark, monkeypatch):
    from polars_dataset_spark.operators import asof

    lft = spark.createDataFrame([], "k double")
    rgt = spark.createDataFrame([], "k double, v double")
    assert join_asof(lft, rgt, on="k").count() == 0
    # below any size, so even an empty right side takes the sort path
    monkeypatch.setattr(asof, "_BROADCAST_LIMIT", -1)
    assert join_asof(lft, rgt, on="k").count() == 0


def test_round2_methods_empty(empty_traces, spark):
    ds = Dataset(empty_traces, index="x", id_vars=["g"])
    assert ds.upsample().df.count() == 0
    assert ds.fill_forward("y").df.count() == 0
    assert ds.fill_backward("y").df.count() == 0
    assert ds.interpolate_nulls("y").df.count() == 0
    assert ds.rolling_median("y", 3).df.count() == 0
    assert ds.rolling_quantile("y", 0.5, 3).df.count() == 0
    assert ds.cut("y", [1.0]).df.count() == 0
    assert ds.merge_sorted(empty_traces, key="x").df.count() == 0
    assert ds.value_counts("g").count() == 0
    assert ds.mode("g").count() == 0
    assert ds.partition_by("g") == {}
    assert ds.sample(n=5).df.count() == 0  # n > rows: all (zero) rows


def test_interval_join_empty(spark):
    from polars_dataset_spark.streaming import interval_join

    ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    assert interval_join(ev, ev).count() == 0


def test_cosine_pairs_block_empty(spark):
    from polars_dataset_spark.functions import cosine_pairs_block

    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert cosine_pairs_block(empty_emb).count() == 0


def test_decode_media_empty(spark):
    from polars_dataset_spark.functions import decode_media

    df = spark.createDataFrame([], "id int, content binary")
    for dec in ("fake", "ppm", "bmp"):
        assert decode_media(df, decoder=dec).count() == 0


def test_new_delegated_ops_empty(empty_traces):
    ds = Dataset(empty_traces, index="x", id_vars=["g"])
    assert ds.gather_every(3).df.count() == 0
    assert ds.slice(0, 5).df.count() == 0
    assert ds.tail(5).df.count() == 0
    assert ds.with_row_index("rn").df.count() == 0
    assert ds.is_duplicated(subset=["y"]).df.count() == 0
    assert ds.peak_max("y").df.count() == 0
    assert ds.sum_horizontal("y").df.count() == 0
    assert ds.hash_rows().df.count() == 0
    assert ds.corr("x", "y") is None  # Spark corr of zero rows is null
    assert ds.search_sorted("y", 1.0) == 0
    assert (
        ds.group_by_dynamic(1.0, period=2.0).agg(__import__("pyspark").sql.functions.count("*").alias("n")).count()
        == 0
    )


def test_to_dummies_empty_frame(spark):
    df = spark.createDataFrame([], "g string, x double, c string")
    ds = Dataset(df, index="x", id_vars=["g"])
    out = ds.to_dummies("c")
    # zero rows → zero categories → only the passthrough columns remain
    assert out.df.count() == 0 and set(out.df.columns) == {"g", "x"}


def test_sample_frames_empty(spark):
    from polars_dataset_spark.functions import sample_frames

    df = spark.createDataFrame([], "id int, content binary")
    assert sample_frames(df).count() == 0


def test_semantic_dedup_empty_input(spark):
    from polars_dataset_spark.functions import semantic_dedup

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = semantic_dedup(df)
    assert out.count() == 0
    assert set(out.columns) == {"vec_id", "cell", "kept"}
