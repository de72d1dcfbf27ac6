"""Deterministic sampling (hash_sample / stratified_sample) and sequence
packing — properties beyond the q66-q68 oracle value checks: stability
under re-execution and partitioning, quota bounds, salt decorrelation,
and packing coordinates vs a driver-side replay."""

import pytest
from pyspark.sql import functions as F

from polars_dataset_spark.functions.packing import pack_sequences
from polars_dataset_spark.functions.sampling import hash_sample, stratified_sample


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).cast("string").alias("g"),
        (F.col("id") % 350 + 10).alias("n_tok"),
    )


def test_hash_sample_deterministic_and_sized(corpus):
    a = sorted(r["doc_id"] for r in hash_sample(corpus, "doc_id", 0.2).collect())
    b = sorted(
        r["doc_id"]
        for r in hash_sample(corpus.repartition(13), "doc_id", 0.2).collect()
    )
    assert a == b  # partitioning-independent
    assert 0.1 < len(a) / 1000 < 0.3  # ~binomial(1000, .2)


def test_hash_sample_salt_decorrelates(corpus):
    a = {r["doc_id"] for r in hash_sample(corpus, "doc_id", 0.5, salt="s1").collect()}
    b = {r["doc_id"] for r in hash_sample(corpus, "doc_id", 0.5, salt="s2").collect()}
    assert a != b
    # independent 50% draws overlap ~25% of the corpus
    assert 0.1 < len(a & b) / 1000 < 0.4


def test_hash_sample_edge_fractions(corpus):
    assert hash_sample(corpus, "doc_id", 0.0).count() == 0
    assert hash_sample(corpus, "doc_id", 1.0).count() == 1000
    with pytest.raises(ValueError):
        hash_sample(corpus, "doc_id", 1.5)


def test_hash_sample_by_rates_and_nesting(corpus):
    from polars_dataset_spark.functions.sampling import hash_sample_by

    out = hash_sample_by(
        corpus, "doc_id", "g", {"0": 1.0, "1": 0.5}, default=0.0
    )
    per = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert per.get("0") == corpus.filter("g = '0'").count()  # fraction 1.0 keeps all
    assert 0.25 < per.get("1", 0) / corpus.filter("g = '1'").count() < 0.75
    assert set(per) == {"0", "1"}  # default 0.0 drops every other stratum
    # nesting: raising a rate only adds rows, never swaps them
    small = {r["doc_id"] for r in hash_sample_by(corpus, "doc_id", "g", {"1": 0.2}).collect()}
    large = {r["doc_id"] for r in hash_sample_by(corpus, "doc_id", "g", {"1": 0.6}).collect()}
    assert small <= large


def test_stratified_sample_quota_and_determinism(corpus):
    out = stratified_sample(corpus, ["g"], quota=20, id_col="doc_id")
    per = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert set(per) == {str(i) for i in range(7)}
    assert all(n == 20 for n in per.values())  # every stratum has >20 rows
    again = stratified_sample(corpus.repartition(11), ["g"], quota=20, id_col="doc_id")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_stratified_sample_small_stratum_passthrough(spark):
    df = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "doc_id long, g string")
    out = stratified_sample(df, ["g"], quota=10, id_col="doc_id")
    assert out.count() == 3  # quota above stratum size keeps everything


def test_pack_sequences_matches_replay(corpus):
    rows = pack_sequences(
        corpus, budget=512, tokens_col="n_tok", order_col="doc_id", stream_cols=["g"]
    ).collect()
    by_stream = {}
    for r in sorted(rows, key=lambda r: (r["g"], r["doc_id"])):
        pos = by_stream.get(r["g"], 0)
        assert r["bin"] == pos // 512
        assert r["offset"] == pos % 512
        assert r["cum_tokens"] == pos + r["n_tok"]
        by_stream[r["g"]] = pos + r["n_tok"]


def test_pack_global_matches_replay_and_avoids_single_partition(corpus):
    df = corpus.repartition(8)
    out = pack_sequences(df, budget=512, tokens_col="n_tok", order_col="doc_id")
    rows = sorted(out.collect(), key=lambda r: r["doc_id"])
    pos = 0
    for r in rows:
        assert (r["bin"], r["offset"], r["cum_tokens"]) == (
            pos // 512,
            pos % 512,
            pos + r["n_tok"],
        )
        pos += r["n_tok"]
    # the scale property: the two-pass global prefix sum never funnels
    # the data through one reducer
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_pack_sequences_single_stream_and_validation(spark):
    df = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100)], "doc_id long, n_tok long"
    )
    rows = {
        r["doc_id"]: (r["bin"], r["offset"])
        for r in pack_sequences(df, 250, "n_tok", "doc_id").collect()
    }
    assert rows == {1: (0, 0), 2: (0, 100), 3: (0, 200)}
    with pytest.raises(ValueError):
        pack_sequences(df, 0, "n_tok", "doc_id")


def test_temperature_mix_upweights_small_sources(spark, sf_dir):
    from polars_dataset_spark.functions import temperature_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    before = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    mixed = temperature_mix(docs, "doc_id", "source", temperature=0.5, target_fraction=0.5)
    after = {r["source"]: r["n"] for r in mixed.groupBy("source").agg(F.count("*").alias("n")).collect()}
    total_b, total_a = sum(before.values()), sum(after.values())
    assert 0.3 * total_b < total_a < 0.7 * total_b  # overall ≈ target
    # keep-RATE must be higher for smaller sources (that's the point of T<1)
    rates = {s: after.get(s, 0) / before[s] for s in before}
    smallest = min(before, key=before.get)
    largest = max(before, key=before.get)
    assert rates[smallest] >= rates[largest]
    # determinism
    again = temperature_mix(docs, "doc_id", "source", temperature=0.5, target_fraction=0.5)
    assert again.count() == mixed.count()


def test_take_until_token_budget_exact(spark):
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(20)), "n_tokens": [10] * 20})
    )
    from polars_dataset_spark.functions import take_until_token_budget

    out = take_until_token_budget(docs, 55, "n_tokens", "doc_id")
    assert out.count() == 5  # 5 docs × 10 tokens = 50 ≤ 55 < 60
    assert take_until_token_budget(docs, 0, "n_tokens", "doc_id").count() == 0
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in take_until_token_budget(docs, 55, "n_tokens", "doc_id").collect())
    assert a == b  # deterministic set


def test_weighted_sample_properties(spark):
    from polars_dataset_spark.functions import weighted_sample
    from pyspark.sql import functions as F

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 7, 1e9).otherwise(1.0).alias("w"),
    )
    got = weighted_sample(df, k=10, weight_col="w", id_col="doc_id")
    rows = got.collect()
    assert len(rows) == 10 and len({r.doc_id for r in rows}) == 10
    # overwhelming weight → certain inclusion
    assert any(r.doc_id == 7 for r in rows)
    again = {r.doc_id for r in weighted_sample(df, k=10, weight_col="w", id_col="doc_id").collect()}
    assert again == {r.doc_id for r in rows}  # deterministic
    # zero/negative/null weights excluded
    bad = spark.createDataFrame([(1, 0.0), (2, -3.0), (3, None), (4, 2.0)], "doc_id long, w double")
    assert [r.doc_id for r in weighted_sample(bad, k=10, weight_col="w", id_col="doc_id").collect()] == [4]
    import pytest as _pt
    with _pt.raises(ValueError):
        weighted_sample(df, k=0, weight_col="w", id_col="doc_id")


def test_snapshot_diff_tags(spark):
    from polars_dataset_spark.operators import snapshot_diff

    old = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    new = spark.createDataFrame([(2, "B"), (3, "c"), (4, "d")], "k long, v string")
    got = {r.k: (r.v, r.change_type) for r in snapshot_diff(old, new, on="k").collect()}
    assert got == {1: ("a", "delete"), 2: ("B", "update"), 4: ("d", "insert")}
    import pytest as _pt
    with _pt.raises(ValueError):
        snapshot_diff(old, new.withColumnRenamed("v", "w"), on="k")


def test_global_prefix_sum_null_tokens(spark):
    # a null token value inside some range partition must contribute 0,
    # not crash the driver-side offset fold (TypeError: int + NoneType)
    rows = [(i, None if i % 7 == 3 else i % 5 + 1) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, toks long")
    out = pack_sequences(df, budget=10, tokens_col="toks", order_col="doc_id")
    pdf = out.orderBy("doc_id").toPandas()
    assert len(pdf) == 100
    # running total equals the null-skipping cumulative sum
    expect = 0
    for _, r in pdf.iterrows():
        if r["toks"] is not None and not (r["toks"] != r["toks"]):
            expect += int(r["toks"])
        assert int(r["cum_tokens"]) == expect
