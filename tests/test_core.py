import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from polars_dataset_spark import Dataset, Datafile


@pytest.fixture(scope="module")
def lineitem_ds(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return Dataset(li, index="l_shipdate", id_vars=["l_returnflag", "l_linestatus"])


def test_value_vars_derived(lineitem_ds):
    vv = lineitem_ds.value_vars
    assert "l_quantity" in vv
    assert "l_shipdate" not in vv and "l_returnflag" not in vv


def test_index_drop_raises(lineitem_ds):
    with pytest.raises(ValueError, match="index"):
        lineitem_ds.select("l_returnflag", "l_quantity")


def test_id_vars_prune_silently(lineitem_ds):
    out = lineitem_ds.select("l_shipdate", "l_quantity")
    assert out.id_vars == []


def test_delegation_rewraps(lineitem_ds):
    out = lineitem_ds.selectExpr("l_shipdate", "l_returnflag", "l_quantity * 2 as q2")
    assert isinstance(out, Dataset)
    assert out.value_vars == ["q2"]
    assert out.id_vars == ["l_returnflag"]


def test_delegation_passthrough_non_dataframe(lineitem_ds):
    assert isinstance(lineitem_ds.count(), int)


def test_rename_remaps_metadata(lineitem_ds):
    out = lineitem_ds.rename({"l_shipdate": "ship", "l_returnflag": "flag"})
    assert out.index == "ship"
    assert out.id_vars == ["flag", "l_linestatus"]


def test_sort_columns_canonical(lineitem_ds):
    cols = lineitem_ds.sort_columns().columns
    assert cols[:3] == ["l_returnflag", "l_linestatus", "l_shipdate"]


def test_drop_guards_index(lineitem_ds):
    with pytest.raises(ValueError):
        lineitem_ds.drop("l_shipdate")
    assert "l_tax" not in lineitem_ds.drop("l_tax").columns


def test_set_and_select_data(lineitem_ds):
    ds = lineitem_ds.set(id_vars=["l_returnflag"])
    assert ds.id_vars == ["l_returnflag"]
    out = ds.select_data(F.col("l_quantity").alias("q"))
    assert out.columns == ["l_returnflag", "l_shipdate", "q"]


def test_union_construction_requires_shared_index(spark):
    a = spark.createDataFrame(pd.DataFrame({"x": [1.0], "v": [2.0]}))
    dsa = Dataset(a, index="x")
    dsb = Dataset(a.withColumnRenamed("x", "y"), index="y")
    with pytest.raises(ValueError, match="share index"):
        Dataset([dsa, dsb], index="x")


def test_union_idvars_set_union(spark):
    a = spark.createDataFrame(pd.DataFrame({"t": [1.0], "u": [0.0], "x": [0.0], "v": [5.0]}))
    c = spark.createDataFrame(pd.DataFrame({"t": [3.0], "u": [9.0], "x": [0.5], "v": [1.0]}))
    u = Dataset(
        [Dataset(a, index="x", id_vars=["t"]), Dataset(c, index="x", id_vars=["t", "u"])],
        index="x",
    )
    assert u.id_vars == ["t", "u"]
    assert u.df.count() == 2


def test_union_missing_column_raises(spark):
    a = spark.createDataFrame(pd.DataFrame({"t": [1.0], "x": [0.0], "v": [5.0]}))
    b = spark.createDataFrame(pd.DataFrame({"x": [0.0], "v": [7.0]}))
    with pytest.raises(KeyError, match="missing required column"):
        Dataset([Dataset(a, index="x", id_vars=["t"]), b], index="x", id_vars=["t"])


def test_coord_first_seen_order(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [3.0, 1.0, 3.0, 2.0], "v": [0.0] * 4}))
    ds = Dataset(df.coalesce(1), index="x")
    vals = [r["x"] for r in ds.coord("x", maintain_order=True).collect()]
    assert vals == [3.0, 1.0, 2.0]


def test_extrema_and_quantile(lineitem_ds):
    mn, mx = lineitem_ds.extrema("l_quantity")
    assert mn == 1.0 and mx == 50.0
    med = lineitem_ds.quantile("l_quantity", 0.5)
    assert 1.0 <= med <= 50.0


def test_drop_nan_struct_aware(spark):
    # NB: pandas NaN → Spark NULL through Arrow; a true IEEE NaN must be
    # constructed Spark-side to exercise the NaN/null duality.
    df = (
        spark.createDataFrame(pd.DataFrame({"x": [1.0, 2.0, 3.0]}))
        .withColumn("v", F.when(F.col("x") == 2.0, F.lit(float("nan"))).otherwise(F.col("x")))
        .withColumn("s", F.struct(F.col("v").alias("a"), F.lit(1.0).alias("b")))
    )
    ds = Dataset(df, index="x")
    out = ds.drop_nan()
    assert out.df.count() == 2
    # nulls are NOT NaN: a null row survives
    df2 = spark.createDataFrame(pd.DataFrame({"x": [1.0, 2.0], "v": [None, 5.0]}))
    assert Dataset(df2, index="x").drop_nan().df.count() == 2


def test_pipe(lineitem_ds):
    out = lineitem_ds.pipe(lambda ds: ds.df.filter(F.col("l_quantity") > 49))
    assert isinstance(out, Dataset)
    assert out.df.count() > 0


def test_per_trace_windows(lineitem_ds):
    small = lineitem_ds.select(
        "l_returnflag", "l_linestatus", "l_shipdate", "l_quantity"
    )
    cs = small.cum_sum("l_quantity")
    assert "l_quantity_cumsum" in cs.columns
    d = small.diff("l_quantity")
    assert "l_quantity_diff" in d.columns
    rm = small.rolling_mean("l_quantity", 5)
    assert "l_quantity_rolling_mean" in rm.columns


def test_join_merges_idvars(spark, sf_dir, lineitem_ds):
    orders = Dataset(
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        index="o_orderdate",
        id_vars=["o_orderstatus"],
    )
    out = lineitem_ds.join(orders, left_on="l_orderkey", right_on="o_orderkey")
    assert out.id_vars == ["l_returnflag", "l_linestatus", "o_orderstatus"]


def test_datafile_roundtrip(tmp_path, spark):
    pdf = pd.DataFrame({"t": [1.0, 1.0], "x": [0.0, 1.0], "v": [5.0, 6.0]})
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["t"])
    f = Datafile(str(tmp_path / "out_csv"), index="x", id_vars=["t"], fmt="csv")
    f.write(ds)
    back = f.load(spark)
    assert isinstance(back, Dataset)
    assert back.df.count() == 2
    assert back.index == "x"


def test_datafile_missing_returns_none(spark):
    assert Datafile("/tmp/nope_does_not_exist.csv", index="x").load(spark) is None


def test_partition_hint_plan(lineitem_ds):
    plan = lineitem_ds.partition_hint(8).df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan or "ShuffleExchange" in plan


def test_shim_aggregates(lineitem_ds):
    row = lineitem_ds.select(
        "l_returnflag", "l_linestatus", "l_shipdate", "l_quantity", "l_tax"
    ).sum().first()
    assert row["l_quantity"] == 153078.0 or row["l_quantity"] > 0
    med = lineitem_ds.median().first()
    assert 1.0 <= med["l_quantity"] <= 50.0


def test_shim_tail_slice(lineitem_ds):
    assert lineitem_ds.tail(7).df.count() == 7
    sl = lineitem_ds.slice(10, 5)
    assert sl.df.count() == 5


def test_shim_unnest(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [1.0], "a": [2.0]})).select(
        "x", F.struct(F.col("a").alias("f")).alias("s")
    )
    ds = Dataset(df, index="x")
    flat = ds.unnest("s")
    assert "s.f" in flat.columns


def test_shim_hstack(spark):
    a = spark.createDataFrame(pd.DataFrame({"x": [1.0, 2.0], "v": [10.0, 20.0]}))
    b = spark.createDataFrame(pd.DataFrame({"w": [100.0, 200.0]}))
    out = Dataset(a, index="x").hstack(b)
    assert out.df.count() == 2
    assert set(out.columns) == {"x", "v", "w"}


def test_shim_rolling_generic(lineitem_ds):
    small = lineitem_ds.select("l_returnflag", "l_linestatus", "l_shipdate", "l_quantity")
    out = small.rolling("l_quantity", 3, "max")
    assert "l_quantity_rolling_max" in out.columns


def test_method_operators(spark):
    import numpy as np

    grid = np.linspace(0, 9, 30)
    pdf = pd.DataFrame({"g": [1.0] * 30, "x": grid, "y": np.sin(grid)})
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    rg = ds.regrid(np.linspace(1, 8, 10))
    assert rg.df.count() == 10
    ft = ds.fourier_transform()
    assert ft.index == "frequency"
    ip = ds.interpolate(np.linspace(1, 8, 10))
    assert ip.df.count() == 10


def test_method_join_asof_defaults_to_index(spark):
    left = Dataset(
        spark.createDataFrame(pd.DataFrame({"k": [1.0, 5.0], "v": [0.0, 0.0]})), index="k"
    )
    right = spark.createDataFrame(pd.DataFrame({"k": [2.0], "val": ["a"]}))
    out = left.join_asof(right, strategy="forward")
    got = {r.k: r.val for r in out.df.collect()}
    assert got == {1.0: "a", 5.0: None}


def test_approx_n_unique(lineitem_ds):
    row = lineitem_ds.approx_n_unique("l_orderkey").first()
    assert row["l_orderkey_approx_n_unique"] > 1000


def test_group_by_dynamic_numeric(lineitem_ds):
    ds = lineitem_ds.set(index="l_quantity")
    out = ds.group_by_dynamic(10.0).agg(F.count("*").alias("n"))
    rows = {r.index_start for r in out.collect()}
    assert rows <= {0.0, 10.0, 20.0, 30.0, 40.0, 50.0}


def test_group_by_dynamic_timestamp(spark, sf_dir):
    from polars_dataset_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    ds = Dataset(ev, index="ts", id_vars=["event_type"])
    out = ds.group_by_dynamic("1 hour").agg(F.count("*").alias("n"))
    assert out.agg(F.sum("n")).first()[0] == ev.count()


def test_datafile_partitioned_write(tmp_path, spark):
    pdf = pd.DataFrame({"t": [1.0, 1.0, 2.0], "x": [0.0, 1.0, 0.5], "v": [5.0, 6.0, 7.0]})
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["t"])
    f = Datafile(str(tmp_path / "part_out"), index="x", id_vars=["t"], fmt="parquet")
    f.write(ds, partition_by="t")
    import os
    assert any(d.startswith("t=") for d in os.listdir(tmp_path / "part_out"))
    back = spark.read.parquet(str(tmp_path / "part_out"))
    assert back.count() == 3


def test_unique_keep_semantics(spark):
    pdf = pd.DataFrame({"g": ["a", "a", "b"], "x": [1.0, 2.0, 3.0], "v": [10.0, 20.0, 30.0]})
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    first = {r.g: r.v for r in ds.unique(subset="g", keep="first").df.collect()}
    last = {r.g: r.v for r in ds.unique(subset="g", keep="last").df.collect()}
    assert first == {"a": 10.0, "b": 30.0}
    assert last == {"a": 20.0, "b": 30.0}
    with pytest.raises(ValueError, match="keep"):
        ds.unique(subset="g", keep="nope")


def test_repr_html_colors_roles(lineitem_ds):
    html = lineitem_ds._repr_html_()
    assert "#d3f8d3" in html  # index cell green
    assert "#d3e8f8" in html  # id_vars cells blue


def test_interchange_and_arrow(spark):
    pdf = pd.DataFrame({"x": [1.0, 2.0], "v": [3.0, 4.0]})
    ds = Dataset(spark.createDataFrame(pdf), index="x")
    tbl = ds.to_arrow()
    assert tbl.num_rows == 2
    obj = ds.__dataframe__()
    assert obj.num_rows() == 2


def test_dataset_salted_join_method(spark, lineitem_ds, sf_dir):
    od = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_orderpriority")
        .withColumnRenamed("o_orderkey", "l_orderkey")
    )
    out = lineitem_ds.salted_join(od, on="l_orderkey", salt=4)
    assert out.index == "l_shipdate"
    assert "o_orderpriority" in out.df.columns
    assert out.df.count() == lineitem_ds.df.count()  # fk join, 1:1


def test_dataset_sampling_methods(lineitem_ds):
    li = lineitem_ds
    # index is a date column: hash-sampling over it still deterministic
    a = li.sample_hash(0.3)
    b = li.sample_hash(0.3)
    assert a.df.count() == b.df.count() > 0
    strat = li.sample_stratified(quota=7)
    per = strat.df.groupBy("l_returnflag", "l_linestatus").count().collect()
    assert all(r["count"] <= 7 for r in per)
    assert strat.index == "l_shipdate"


def test_dataset_pack_sequences_method(lineitem_ds):
    out = lineitem_ds.pack_sequences(budget=1000, tokens_col="l_quantity")
    cols = out.df.columns
    assert {"bin", "offset", "cum_tokens"} <= set(cols)
    assert out.df.filter("offset >= 1000 or offset < 0").count() == 0


def _mini_ds(spark):
    pdf = pd.DataFrame(
        {
            "g": ["a"] * 5 + ["b"] * 3,
            "x": [1.0, 2.0, 3.0, 4.0, 5.0, 1.0, 2.0, 3.0],
            "v": [10.0, None, None, 40.0, None, 7.0, None, 9.0],
        }
    )
    return Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])


def test_interpolate_nulls_linear_and_edges(spark):
    out = _mini_ds(spark).interpolate_nulls("v").df.collect()
    got = {(r.g, r.x): r.v for r in out}
    assert got[("a", 2.0)] == pytest.approx(20.0)  # 10 + (40-10)*(2-1)/(4-1)
    assert got[("a", 3.0)] == pytest.approx(30.0)
    assert got[("a", 5.0)] is None  # trailing null stays null (polars)
    assert got[("b", 2.0)] == pytest.approx(8.0)


def test_merge_sorted_contents_and_order(spark):
    pdf = pd.DataFrame({"k": [1.0, 3.0, 5.0], "v": [1, 3, 5]})
    qdf = pd.DataFrame({"k": [2.0, 4.0], "v": [2, 4]})
    a = Dataset(spark.createDataFrame(pdf), index="k")
    merged = a.merge_sorted(spark.createDataFrame(qdf), key="k")
    assert [r.v for r in merged.df.collect()] == [1, 2, 3, 4, 5]


def test_partition_by_lazy_views(lineitem_ds):
    parts = lineitem_ds.partition_by("l_returnflag")
    keys = sorted(k[0] for k in parts)
    assert keys == ["A", "N", "R"]
    total = sum(p.df.count() for p in parts.values())
    assert total == lineitem_ds.df.count()
    no_key = lineitem_ds.partition_by("l_returnflag", include_key=False)
    assert "l_returnflag" not in next(iter(no_key.values())).columns


def test_partition_by_high_cardinality_guard(lineitem_ds):
    """VERDICT r3: a high-cardinality key must raise instead of collecting
    every distinct tuple to the driver (mirrors transpose's max_rows)."""
    with pytest.raises(ValueError, match="distinct groups"):
        lineitem_ds.partition_by("l_orderkey", max_groups=100)
    # explicit opt-in still works
    parts = lineitem_ds.partition_by("l_returnflag", max_groups=3)
    assert len(parts) == 3


def test_sample_exact_n_deterministic(lineitem_ds):
    ds = Dataset(lineitem_ds.df.select("l_orderkey", "l_shipdate", "l_quantity"), index="l_orderkey")
    a = ds.sample(n=37, seed=3).df.collect()
    b = ds.sample(n=37, seed=3).df.collect()
    assert len(a) == 37 and sorted(map(tuple, a)) == sorted(map(tuple, b))
    c = ds.sample(n=37, seed=4).df.collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))  # seed changes the draw
    with pytest.raises(ValueError, match="exactly one"):
        ds.sample()
    with pytest.raises(ValueError, match="exactly one"):
        ds.sample(n=5, fraction=0.5)


def test_rolling_median_and_quantile(spark):
    pdf = pd.DataFrame({"g": ["a"] * 4, "x": [1.0, 2.0, 3.0, 4.0], "v": [4.0, 1.0, 3.0, 2.0]})
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    med = {r.x: r.v_rolling_median for r in ds.rolling_median("v", 3).df.collect()}
    assert med[1.0] == 4.0 and med[2.0] == 2.5 and med[3.0] == 3.0 and med[4.0] == 2.0
    q = {r.x: r.v_rolling_q for r in ds.rolling_quantile("v", 0.25, 3).df.collect()}
    assert q[3.0] == pytest.approx(2.0)  # sorted [1,3,4] → pos 0.5 → 1*(0.5)+3*0.5


def test_sort_descending_length_mismatch_raises(lineitem_ds):
    with pytest.raises(ValueError, match="descending"):
        lineitem_ds.sort("l_shipdate", "l_orderkey", descending=[True])


def test_hstack_count_mismatch_raises(spark):
    a = Dataset(spark.createDataFrame(pd.DataFrame({"x": [1.0, 2.0], "v": [1.0, 2.0]})), index="x")
    other = spark.createDataFrame(pd.DataFrame({"y": [1.0]}))
    with pytest.raises(ValueError, match="row counts differ"):
        a.hstack(other)


def test_cut_qcut_and_value_counts(lineitem_ds):
    binned = lineitem_ds.cut("l_quantity", [10, 25, 40], out_col="bin")
    labs = {r.bin for r in binned.df.select("bin").distinct().collect()}
    assert labs == {"(-inf, 10.0]", "(10.0, 25.0]", "(25.0, 40.0]", "(40.0, inf]"}
    with pytest.raises(ValueError, match="labels"):
        lineitem_ds.cut("l_quantity", [10], labels=["a", "b", "c"])
    q4 = lineitem_ds.qcut("l_extendedprice", 4, labels=["q1", "q2", "q3", "q4"])
    counts = {r["l_extendedprice_bin"]: r["n"] for r in
              q4.df.groupBy("l_extendedprice_bin").agg(F.count("*").alias("n")).collect()}
    n = sum(counts.values())
    assert set(counts) == {"q1", "q2", "q3", "q4"}
    assert all(abs(v - n / 4) / n < 0.02 for v in counts.values())  # near-equal bins
    vc = lineitem_ds.value_counts("l_returnflag").collect()
    assert [r["l_returnflag"] for r in vc] == sorted(
        [r["l_returnflag"] for r in vc],
        key=lambda f: (-dict((x["l_returnflag"], x["count"]) for x in vc)[f], f),
    )


def test_mode_returns_ties(spark):
    pdf = pd.DataFrame({"x": [1.0, 2.0, 3.0, 4.0], "v": ["a", "a", "b", "b"]})
    ds = Dataset(spark.createDataFrame(pdf), index="x")
    assert sorted(r.v for r in ds.mode("v").collect()) == ["a", "b"]


def test_sort_nulls_last(spark):
    pdf = pd.DataFrame({"x": [1.0, 2.0, 3.0], "v": [None, 5.0, 1.0]})
    ds = Dataset(spark.createDataFrame(pdf), index="x")
    got = [r.v for r in ds.sort("v", nulls_last=True).df.collect()]
    assert got == [1.0, 5.0, None]
    got = [r.v for r in ds.sort("v", descending=True, nulls_last=True).df.collect()]
    assert got == [5.0, 1.0, None]


def test_upsample_and_directional_fill(spark):
    pdf = pd.DataFrame(
        {"g": ["a", "a", "a", "b", "b"], "x": [1.0, 3.0, 6.0, 2.0, 4.0], "v": [10.0, None, 60.0, 1.0, 2.0]}
    )
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    up = ds.upsample(every=1.0)
    rows = {(r.g, r.x): r.v for r in up.df.collect()}
    assert set(k for k in rows if k[0] == "a") == {("a", float(i)) for i in range(1, 7)}
    assert rows[("a", 2.0)] is None and rows[("a", 6.0)] == 60.0
    ff = {(r.g, r.x): r.v for r in up.fill_forward("v").df.collect()}
    assert ff[("a", 2.0)] == 10.0 and ff[("a", 5.0)] is None or ff[("a", 5.0)] == 10.0
    # v at x=3 was null originally; forward fill carries 10.0 through
    assert ff[("a", 4.0)] == 10.0
    bf = {(r.g, r.x): r.v for r in up.fill_backward("v").df.collect()}
    assert bf[("a", 4.0)] == 60.0 and bf[("b", 3.0)] == 2.0
    lim = {(r.g, r.x): r.v for r in up.fill_forward("v", limit=1).df.collect()}
    assert lim[("a", 2.0)] == 10.0 and lim[("a", 4.0)] is None  # beyond limit stays null


def test_ewm_mean_matches_pandas(spark):
    rng = np.random.RandomState(5)
    pdf = pd.DataFrame(
        {"g": ["a"] * 30 + ["b"] * 20, "x": list(range(30)) + list(range(20)),
         "v": rng.uniform(-5, 5, 50)}
    )
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    for adjust in (True, False):
        got = (
            ds.ewm_mean("v", alpha=0.3, adjust=adjust)
            .df.orderBy("g", "x").toPandas()["v_ewm_mean"].to_numpy()
        )
        ref = (
            pdf.sort_values(["g", "x"])
            .groupby("g")["v"]
            .apply(lambda s: s.ewm(alpha=0.3, adjust=adjust).mean())
            .to_numpy()
        )
        assert np.allclose(got, ref, atol=1e-12)


def test_pct_change_and_clip(spark):
    pdf = pd.DataFrame({"g": ["a"] * 4, "x": [1.0, 2.0, 3.0, 4.0], "v": [2.0, 4.0, 2.0, 5.0]})
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    pc = {r.x: r.v_pct_change for r in ds.pct_change("v").df.collect()}
    assert pc[1.0] is None and pc[2.0] == 1.0 and pc[3.0] == -0.5
    cl = {r.x: r.v for r in ds.clip("v", lower=2.5, upper=4.5).df.collect()}
    assert cl == {1.0: 2.5, 2.0: 4.0, 3.0: 2.5, 4.0: 4.5}


def test_cumulative_family_and_rle(spark):
    pdf = pd.DataFrame(
        {"g": ["a"] * 6, "x": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
         "v": [3.0, 1.0, None, 5.0, 5.0, 2.0]}
    )
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    out = (
        ds.cum_max("v").cum_min("v").cum_count("v").cum_prod("v").rle_id("v")
        .df.orderBy("x")
    )
    rows = out.collect()
    assert [r.v_cummax for r in rows] == [3.0, 3.0, 3.0, 5.0, 5.0, 5.0]
    assert [r.v_cummin for r in rows] == [3.0, 1.0, 1.0, 1.0, 1.0, 1.0]
    assert [r.v_cumcount for r in rows] == [1, 2, 2, 3, 4, 5]
    # null row carries the running product so far (ignore-null window
    # semantics, same convention as cum_max/cum_count above)
    assert [r.v_cumprod for r in rows] == [3.0, 3.0, 3.0, 15.0, 75.0, 150.0]
    # runs: 3 | 1 | null | 5 5 | 2  → ids 0,1,2,3,3,4
    assert [r.v_rle_id for r in rows] == [0, 1, 2, 3, 3, 4]


def test_trace_windows_on_flattened_struct_names(spark):
    """The per-trace window family reads a flattened struct field
    (``"s.a"``) as one column name, as ewm_mean and smooth do."""
    df = spark.createDataFrame(
        [
            ("a", 1.0, (3.0, 10.0)),
            ("a", 2.0, (1.0, None)),
            ("a", 3.0, (4.0, 30.0)),
            ("b", 1.0, (2.0, None)),
        ],
        "g string, x double, s struct<a: double, b: double>",
    )
    ds = Dataset(df, index="x", id_vars=["g"]).unnest("s")
    out = (
        ds.cum_sum("s.a").cum_max("s.a").cum_min("s.a").cum_prod("s.a").cum_count("s.a")
        .rle_id("s.a").shift(1, "s.a").diff("s.a").pct_change("s.a")
        .rolling_mean("s.a", 2).rolling("s.a", 2, fn="max").peak_max("s.a")
        .clip("s.a", lower=1.5)
    )
    rows = [r.asDict() for r in out.df.filter(F.col("g") == "a").orderBy("x").collect()]
    col = lambda name: [r[name] for r in rows]  # noqa: E731
    assert col("s.a_cumsum") == [3.0, 4.0, 8.0]
    assert col("s.a_cummax") == [3.0, 3.0, 4.0]
    assert col("s.a_cummin") == [3.0, 1.0, 1.0]
    assert col("s.a_cumprod") == [3.0, 3.0, 12.0]
    assert col("s.a_cumcount") == [1, 2, 3]
    assert col("s.a_rle_id") == [0, 1, 2]
    assert col("s.a_shift") == [None, 3.0, 1.0]
    assert col("s.a_diff") == [None, -2.0, 3.0]
    assert col("s.a_pct_change")[1:] == [pytest.approx(-2 / 3), 3.0]
    assert col("s.a_rolling_mean") == [3.0, 2.0, 2.5]
    assert col("s.a_rolling_max") == [3.0, 3.0, 4.0]
    assert col("s.a_peak_max") == [True, False, True]
    assert col("s.a") == [3.0, 1.5, 4.0]

    out = (
        ds.rank("s.a").rolling_corr("s.a", "x", 2).detrend("s.a")
        .normalize("s.a", method="minmax").winsorize("s.a", p=0.25, out_col="s.a_w")
        .rolling_median("s.a", 2)
    )
    rows = [r.asDict() for r in out.df.filter(F.col("g") == "a").orderBy("x").collect()]
    assert col("s.a_rank") == [2, 1, 3]
    assert col("s.a_x_rolling_corr") == [None, pytest.approx(-1.0), pytest.approx(1.0)]
    assert col("s.a_detrended") == pytest.approx([5 / 6, -5 / 3, 5 / 6])
    assert col("s.a_norm") == pytest.approx([2 / 3, 0.0, 1.0])
    assert col("s.a_w") == [3.0, 1.75, 3.25]
    assert col("s.a_rolling_median") == [3.0, 2.0, 2.5]
    filled = lambda d: [r["s.b"] for r in d.df.orderBy("g", "x").collect()]  # noqa: E731
    assert filled(ds.fill_forward("s.b")) == [10.0, 10.0, 30.0, None]
    assert filled(ds.interpolate_nulls("s.b")) == [10.0, 20.0, 30.0, None]


def test_corr_cov_and_matrix(spark):
    pdf = pd.DataFrame(
        {"g": ["a"] * 5, "x": [1.0, 2.0, 3.0, 4.0, 5.0],
         "u": [1.0, 2.0, 3.0, 4.0, 5.0], "v": [2.0, 4.0, 6.0, 8.0, 10.0],
         "w": [5.0, 3.0, 8.0, 1.0, 9.0]}
    )
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    assert abs(ds.corr("u", "v") - 1.0) < 1e-12
    assert abs(ds.cov("u", "v") - pdf["u"].cov(pdf["v"])) < 1e-9
    assert abs(ds.cov("u", "w", ddof=0) - pdf["u"].cov(pdf["w"]) * 4 / 5) < 1e-9
    m = {(r.col_x, r.col_y): r.corr for r in ds.corr_matrix("u", "v", "w").collect()}
    assert len(m) == 9
    assert abs(m[("u", "u")] - 1.0) < 1e-12
    assert m[("u", "w")] == m[("w", "u")]
    assert abs(m[("u", "w")] - pdf["u"].corr(pdf["w"])) < 1e-9


def test_to_dummies(spark):
    pdf = pd.DataFrame(
        {"g": ["a", "a", "b", "b"], "x": [1.0, 2.0, 3.0, 4.0],
         "c": ["red", "blue", None, "red"]}
    )
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    out = ds.to_dummies("c").df.orderBy("x").toPandas()
    assert list(out["c_red"]) == [1, 0, 0, 1]
    assert list(out["c_blue"]) == [0, 1, 0, 0]
    assert list(out["c_null"]) == [0, 0, 1, 0]
    assert "c" not in out.columns
    dropped = ds.to_dummies("c", drop_first=True).df
    assert "c_blue" not in dropped.columns and "c_red" in dropped.columns
    # pinned categories: schema independent of the values present — a
    # category absent from the data still gets its (all-zero) column,
    # and the distinct scan is skipped (r11, VERDICT r10 #6)
    pinned = ds.to_dummies(
        "c", categories={"c": ["blue", "green", "red", None]}
    ).df.orderBy("x").toPandas()
    assert list(pinned["c_green"]) == [0, 0, 0, 0]
    assert list(pinned["c_red"]) == [1, 0, 0, 1]
    assert list(pinned["c_null"]) == [0, 0, 1, 0]


def test_dup_flags_and_gather_every(spark):
    pdf = pd.DataFrame(
        {"g": ["a"] * 6, "x": [float(i) for i in range(6)],
         "v": ["p", "q", "p", "r", "q", "p"]}
    )
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    out = (
        ds.is_duplicated(subset=["v"]).is_unique(subset=["v"])
        .is_first_distinct(subset=["v"]).is_last_distinct(subset=["v"])
        .df.orderBy("x").collect()
    )
    assert [r.is_duplicated for r in out] == [True, True, True, False, True, True]
    assert [r.is_unique for r in out] == [False, False, False, True, False, False]
    assert [r.is_first_distinct for r in out] == [True, True, False, True, False, False]
    assert [r.is_last_distinct for r in out] == [False, False, False, True, True, True]
    picked = sorted(r.x for r in ds.gather_every(2, offset=1).df.collect())
    assert picked == [1.0, 3.0, 5.0]
    with pytest.raises(ValueError):
        ds.gather_every(0)


def test_peak_flags(spark):
    pdf = pd.DataFrame(
        {"g": ["a"] * 7, "x": [float(i) for i in range(7)],
         "v": [1.0, 3.0, 2.0, 2.0, 5.0, 0.0, 4.0]}
    )
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    mx = [r.v_peak_max for r in ds.peak_max("v").df.orderBy("x").collect()]
    mn = [r.v_peak_min for r in ds.peak_min("v").df.orderBy("x").collect()]
    # plateaus (2,2) are not strict peaks; edges compare one-sided
    assert mx == [False, True, False, False, True, False, True]
    assert mn == [True, False, False, False, False, True, False]


def test_horizontal_ops(spark):
    pdf = pd.DataFrame(
        {"g": ["a"] * 3, "x": [1.0, 2.0, 3.0],
         "u": [1.0, None, 4.0], "v": [2.0, 3.0, None], "w": [None, None, None]}
    )
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    out = (
        ds.sum_horizontal("u", "v", "w")
        .mean_horizontal("u", "v", "w")
        .min_horizontal("u", "v", "w")
        .max_horizontal("u", "v", "w")
        .df.orderBy("x").collect()
    )
    assert [r.sum_horizontal for r in out] == [3.0, 3.0, 4.0]
    assert [r.mean_horizontal for r in out] == [1.5, 3.0, 4.0]
    assert [r.min_horizontal for r in out] == [1.0, 3.0, 4.0]
    assert [r.max_horizontal for r in out] == [2.0, 3.0, 4.0]


def test_search_sorted_and_hash_rows(spark):
    pdf = pd.DataFrame({"g": ["a"] * 5, "x": [1.0, 2.0, 3.0, 4.0, 5.0],
                        "v": [10.0, 20.0, 20.0, 30.0, 40.0]})
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    assert ds.search_sorted("v", 20.0) == 1   # strictly-below count (side=left)
    assert ds.search_sorted("v", 25.0) == 3
    assert ds.search_sorted("v", 0.0) == 0
    hashed = ds.hash_rows(subset=["v"]).df
    vals = {r.v: r.row_hash for r in hashed.collect()}
    assert vals[20.0] is not None and len(set(vals.values())) == 4  # equal rows hash equal
    again = {r.v: r.row_hash for r in ds.hash_rows(subset=["v"]).df.collect()}
    assert vals == again  # deterministic


def test_group_by_dynamic_sliding_numeric(spark):
    pdf = pd.DataFrame({"g": ["a"] * 5, "x": [0.0, 1.0, 2.0, 3.0, 4.0],
                        "v": [1.0, 1.0, 1.0, 1.0, 1.0]})
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    # windows of width 2 sliding by 1: x=2 falls in [1,3) and [2,4)
    out = {
        r.index_start: r.n
        for r in ds.group_by_dynamic(1.0, period=2.0).agg(F.count("*").alias("n")).collect()
    }
    assert out == {-1.0: 1, 0.0: 2, 1.0: 2, 2.0: 2, 3.0: 2, 4.0: 1}
    with pytest.raises(ValueError):
        ds.group_by_dynamic(2.0, period=1.0).agg(F.count("*").alias("n"))


def test_update_coalesce_semantics(spark):
    base = pd.DataFrame(
        {"g": ["a", "a", "b"], "x": [1.0, 2.0, 1.0],
         "v": [10.0, 20.0, 30.0], "w": ["p", "q", "r"]}
    )
    upd = pd.DataFrame(
        {"g": ["a", "b", "c"], "x": [2.0, 1.0, 9.0],
         "v": [200.0, None, 999.0]}
    )
    ds = Dataset(spark.createDataFrame(base), index="x", id_vars=["g"])
    out = (
        ds.update(spark.createDataFrame(upd))
        .df.orderBy("g", "x").collect()
    )
    # matched non-null wins; matched null keeps original; unmatched rows
    # of other are ignored; row set, schema, untouched columns preserved
    assert [r.v for r in out] == [10.0, 200.0, 30.0]
    assert [r.w for r in out] == ["p", "q", "r"]
    assert len(out) == 3
    with pytest.raises(ValueError, match="join keys absent"):
        ds.update(spark.createDataFrame(upd).drop("x"))


def test_hist_bins_clamp_and_zero_fill(spark):
    pdf = pd.DataFrame(
        {"g": ["a"] * 6, "x": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
         "v": [0.0, 1.0, 2.5, 10.0, 10.0, None]}
    )
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    rows = {r.bin: r for r in ds.hist("v", bins=4, lower=0.0, upper=10.0).collect()}
    assert len(rows) == 4
    # 0.0, 1.0, 2.5 -> bin 0/0/1; both 10.0 clamp into the last bin; null dropped
    assert [rows[b]["count"] for b in range(4)] == [2, 1, 0, 2]
    assert rows[0].lo == 0.0 and rows[3].hi == 10.0
    # out-of-bounds values are dropped under explicit bounds
    narrow = ds.hist("v", bins=2, lower=0.5, upper=3.0)
    assert sum(r["count"] for r in narrow.collect()) == 2
    with pytest.raises(ValueError, match="bins"):
        ds.hist("v", bins=0)
    with pytest.raises(ValueError, match="upper"):
        ds.hist("v", bins=2, lower=5.0, upper=5.0)


def test_skew_kurtosis_transpose_shrink(spark):
    pdf = pd.DataFrame(
        {"g": ["a"] * 6, "x": [float(i) for i in range(6)],
         "v": [1.0, 1.0, 1.0, 1.0, 1.0, 10.0], "n": [1, 2, 3, 4, 5, 200]}
    )
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    sk = ds.skew().first()
    # right-tailed outlier → strongly positive skew, positive excess kurtosis
    assert sk["v"] > 1.5
    assert ds.kurtosis().first()["v"] > 0.5
    pr = ds.product().first()
    assert pr["v"] == 10.0 and pr["n"] == 1 * 2 * 3 * 4 * 5 * 200
    tr = ds.transpose()
    got = {r.column: r for r in tr.collect()}
    assert got["v"].column_5 == "10.0" and got["g"].column_0 == "a"
    with pytest.raises(ValueError):
        ds.transpose(max_rows=3)
    shrunk = ds.shrink_dtype()
    assert dict(shrunk.df.dtypes)["n"] == "smallint"  # 200 > tinyint max
    assert [r.n for r in shrunk.df.orderBy("x").collect()] == [1, 2, 3, 4, 5, 200]


def test_detrend_and_normalize(spark):
    pdf = pd.DataFrame(
        {"g": ["a"] * 5 + ["b"] * 4,
         "x": [1.0, 2.0, 3.0, 4.0, 5.0, 1.0, 2.0, 3.0, 4.0],
         # trace a: exactly linear → residuals all 0; trace b: constant
         "v": [3.0, 5.0, 7.0, 9.0, 11.0, 4.0, 4.0, 4.0, 4.0]}
    )
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    det = ds.detrend("v").df.orderBy("g", "x").collect()
    assert all(abs(r.v_detrended) < 1e-9 for r in det)
    z = ds.normalize("v").df.orderBy("g", "x").collect()
    za = [r.v_norm for r in z if r.g == "a"]
    assert abs(sum(za)) < 1e-9 and abs(max(za) - 1.2649110640673518) < 1e-9
    assert all(r.v_norm is None for r in z if r.g == "b")  # sigma=0 → null
    mm = ds.normalize("v", method="minmax").df.orderBy("g", "x").collect()
    assert [r.v_norm for r in mm if r.g == "a"] == [0.0, 0.25, 0.5, 0.75, 1.0]
    with pytest.raises(ValueError):
        ds.normalize("v", method="robust")


def test_detrend_keeps_null_trace_keys(spark):
    df = spark.createDataFrame(
        [(None, 0.0, 1.0), (None, 1.0, 2.0), ("a", 0.0, 5.0), ("a", 1.0, 7.0)],
        "grp string, x double, y double",
    )
    ds = Dataset(df, index="x", id_vars=["grp"])
    out = ds.detrend("y").df
    assert out.count() == 4  # null-keyed rows preserved, not dropped
    nullrows = out.filter(F.col("grp").isNull()).collect()
    assert len(nullrows) == 2
    # perfect line y = x + 1 -> residuals ~ 0 within the null group
    for r in nullrows:
        assert abs(r["y_detrended"]) < 1e-9


def test_normalize_keeps_null_trace_keys(spark):
    df = spark.createDataFrame(
        [(None, 0.0, 1.0), (None, 1.0, 3.0), ("a", 0.0, 5.0)],
        "grp string, x double, y double",
    )
    ds = Dataset(df, index="x", id_vars=["grp"])
    out = ds.normalize("y", method="minmax").df
    assert out.count() == 3
    got = {
        (r["grp"], r["y"]): r["y_norm"]
        for r in out.collect()
    }
    assert got[(None, 1.0)] == 0.0
    assert got[(None, 3.0)] == 1.0
    assert got[("a", 5.0)] is None  # degenerate single-row trace


def test_detrend_exact_path_partition_invariant(spark):
    """Decimal measure + integer index takes the exact-moments fit (r9):
    residuals must be BIT-identical under any repartitioning — the
    property the regr_slope co-moment path lacks (last-ulp drift under
    different merge orders, caught by the sf1 oracle sweep on q120)."""
    import decimal

    from polars_dataset_spark.core import Dataset

    rows = [
        (g, d, decimal.Decimal(f"{(d * 37 + g * 11) % 1000}.{(d * 7) % 100:02d}0000"))
        for g in (0, 1)
        for d in range(200)
    ]
    df = spark.createDataFrame(rows, "g int, day int, rev decimal(28,6)")

    def resids(frame):
        ds = Dataset(frame, index="day", id_vars=["g"])
        out = ds.detrend("rev", out_col="r")
        return {(r.g, r.day): r.r for r in out.df.collect()}

    a = resids(df.repartition(1))
    b = resids(df.repartition(32, "day"))
    assert a == b


def test_rolling_corr_and_winsorize(spark):
    rng = np.random.RandomState(3)
    pdf = pd.DataFrame(
        {"g": ["a"] * 40, "x": np.arange(40, dtype=float),
         "u": rng.normal(0, 1, 40), "v": rng.normal(0, 1, 40)}
    )
    ds = Dataset(spark.createDataFrame(pdf), index="x", id_vars=["g"])
    got = (
        ds.rolling_corr("u", "v", window_size=10, out_col="rc")
        .df.orderBy("x").toPandas()["rc"].to_numpy()
    )
    ref = pdf["u"].rolling(10, min_periods=1).corr(pdf["v"]).to_numpy()
    mask = ~np.isnan(ref)
    mask[0] = False  # single-point window: pandas NaN, ours null too
    assert np.allclose(got[mask].astype(float), ref[mask], atol=1e-9)
    wz = ds.winsorize("u", p=0.1, out_col="wz").df.orderBy("x").toPandas()
    lo, hi = np.percentile(pdf["u"], 10), np.percentile(pdf["u"], 90)
    assert np.allclose(wz["wz"], np.clip(pdf["u"], lo, hi), atol=1e-9)
    with pytest.raises(ValueError):
        ds.winsorize("u", p=0.6)


def test_transpose_empty_frame(spark):
    df = spark.createDataFrame([], "g string, x double, v double")
    ds = Dataset(df, index="x", id_vars=["g"])
    out = ds.transpose()
    assert {r.column for r in out.collect()} == {"g", "x", "v"}
    assert ds.transpose(include_header=False).count() == 0


def test_transpose_empty_no_header_has_no_columns(spark):
    df = spark.createDataFrame([], "a string, b long")
    ds = Dataset(df, index="b")
    out = ds.transpose(include_header=False)
    assert out.columns == []
    assert out.count() == 0
