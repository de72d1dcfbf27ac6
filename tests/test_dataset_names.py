"""Every public method defined on ``Dataset`` resolves a flattened struct
name (``"s.a"``, what ``unnest`` makes) as one column name: in its
column-name arguments and in the index, id_vars and value_vars it reads.

``_CALLS`` calls each method with flattened names for every column-name
argument, on an unnested 4-row frame, once with plain id_vars and once with
a flattened id_var. ``_EXEMPT`` would name a method that cannot be called
that way, with its reason; none is today. A new method fails
``test_every_public_method_is_listed`` until it is added to one of them.
Methods that ``Dataset`` delegates to ``DataFrame`` through ``__getattr__``
are Spark's own and out of scope."""

from unittest import mock

import pytest
from pyspark.sql import DataFrame, GroupedData
from pyspark.sql import functions as F

from polars_dataset_spark.core import Dataset
from polars_dataset_spark.operators import asof


def q(name):
    """A caller-built expression over a flattened name."""
    return F.col(f"`{name}`")


# ds: the unnested frame; a, b: two flattened value columns
_CALLS = {
    "set": lambda ds, a, b: ds.set(index=ds.index, id_vars=ds.id_vars),
    "to_arrow": lambda ds, a, b: ds.to_arrow(),
    "scale_report": lambda ds, a, b: ds.scale_report(),
    "select": lambda ds, a, b: ds.select(ds.index, a),
    "select_data": lambda ds, a, b: ds.select_data(a),
    "fetch": lambda ds, a, b: ds.fetch(a, b),
    "pivot": lambda ds, a, b: ds.pivot(a),
    "join": lambda ds, a, b: (
        ds.join(ds.df.select(q(a), q(b).alias("o")), on=a),
        ds.join(ds.df.select(q(a).alias("k.a")), left_on=a, right_on="k.a"),
    ),
    "rename": lambda ds, a, b: ds.rename({a: "r.a"}),
    "pipe": lambda ds, a, b: ds.pipe(lambda d: d.df.select(*map(q, d.columns))),
    "drop": lambda ds, a, b: ds.drop(b),
    "coord": lambda ds, a, b: ds.coord(a),
    "extrema": lambda ds, a, b: ds.extrema(a),
    "sort": lambda ds, a, b: ds.sort(a, b, descending=[True, False]),
    "sort_columns": lambda ds, a, b: ds.sort_columns(),
    "drop_nan": lambda ds, a, b: ds.drop_nan(),
    "partition_hint": lambda ds, a, b: ds.partition_hint(2),
    "filter": lambda ds, a, b: ds.filter(q(a) > 0),
    "remove": lambda ds, a, b: ds.remove(q(a) > 100),
    "with_columns": lambda ds, a, b: ds.with_columns(**{a: q(a) * 2}),
    "with_row_index": lambda ds, a, b: ds.with_row_index(),
    "group_by": lambda ds, a, b: ds.group_by(a),
    "unique": lambda ds, a, b: (ds.unique(a), ds.unique(a, keep="last")),
    "n_unique": lambda ds, a, b: ds.n_unique([a, b]),
    "head": lambda ds, a, b: ds.head(2),
    "limit": lambda ds, a, b: ds.limit(2),
    "top_k": lambda ds, a, b: ds.top_k(2, by=a),
    "unpivot": lambda ds, a, b: ds.unpivot(on=[a, b]),
    "melt": lambda ds, a, b: ds.melt(on=[a], index=[ds.index, b]),
    "fill_null": lambda ds, a, b: ds.fill_null(0.0),
    "fill_nan": lambda ds, a, b: ds.fill_nan(0.0),
    "drop_nulls": lambda ds, a, b: ds.drop_nulls(a),
    "cast": lambda ds, a, b: ds.cast({a: "float"}),
    "explode": lambda ds, a, b: ds.with_columns(**{a: F.array(q(a), q(b))}).explode(a),
    "null_count": lambda ds, a, b: ds.null_count(),
    "vstack": lambda ds, a, b: ds.vstack(ds),
    "extend": lambda ds, a, b: ds.extend(ds),
    "concat": lambda ds, a, b: ds.concat([ds.drop(b)], how="diagonal"),
    "quantile": lambda ds, a, b: (ds.quantile(a, 0.5), ds.quantile(a, 0.5, exact=False)),
    "describe": lambda ds, a, b: ds.describe(),
    "cum_sum": lambda ds, a, b: ds.cum_sum(a),
    "cum_max": lambda ds, a, b: ds.cum_max(a),
    "cum_min": lambda ds, a, b: ds.cum_min(a),
    "cum_prod": lambda ds, a, b: ds.cum_prod(a),
    "cum_count": lambda ds, a, b: ds.cum_count(a),
    "rle_id": lambda ds, a, b: ds.rle_id(a),
    "shift": lambda ds, a, b: ds.shift(1, a),
    "diff": lambda ds, a, b: ds.diff(a),
    "rolling_mean": lambda ds, a, b: ds.rolling_mean(a, 2),
    "pct_change": lambda ds, a, b: ds.pct_change(a),
    "clip": lambda ds, a, b: ds.clip(a, lower=1.5),
    "ewm_mean": lambda ds, a, b: ds.ewm_mean(a, alpha=0.5),
    "smooth": lambda ds, a, b: ds.smooth(a, window=3, polyorder=1),
    "rolling_corr": lambda ds, a, b: ds.rolling_corr(a, b, 2),
    "winsorize": lambda ds, a, b: ds.winsorize(a, p=0.25),
    "detrend": lambda ds, a, b: (
        ds.detrend(a),
        ds.with_columns(**{a: q(a).cast("long")}).detrend(a),  # the exact-moment path
    ),
    "normalize": lambda ds, a, b: (ds.normalize(a), ds.normalize(a, method="minmax")),
    "rank": lambda ds, a, b: ds.rank(a),
    "rolling": lambda ds, a, b: ds.rolling(a, 2, fn="max"),
    "rolling_median": lambda ds, a, b: ds.rolling_median(a, 2),
    "rolling_quantile": lambda ds, a, b: ds.rolling_quantile(a, 0.25, 2),
    "rolling_quantiles": lambda ds, a, b: ds.rolling_quantiles(a, {"lo": 0.1}, 2),
    "update": lambda ds, a, b: ds.update(ds.df.select(*map(q, [*ds.id_vars, ds.index, a]))),
    "merge_sorted": lambda ds, a, b: ds.merge_sorted(ds, key=a),
    "partition_by": lambda ds, a, b: ds.partition_by(a),
    "sample": lambda ds, a, b: ds.sample(n=2),
    "cut": lambda ds, a, b: ds.cut(a, [2.0]),
    "qcut": lambda ds, a, b: ds.qcut(a, 2),
    "value_counts": lambda ds, a, b: ds.value_counts(a),
    "mode": lambda ds, a, b: ds.mode(a),
    "corr": lambda ds, a, b: ds.corr(a, b),
    "cov": lambda ds, a, b: ds.cov(a, b),
    "corr_matrix": lambda ds, a, b: ds.corr_matrix(a, b),
    "to_dummies": lambda ds, a, b: ds.to_dummies(a),
    "is_duplicated": lambda ds, a, b: ds.is_duplicated(a),
    "is_unique": lambda ds, a, b: ds.is_unique(a),
    "is_first_distinct": lambda ds, a, b: ds.is_first_distinct(a),
    "is_last_distinct": lambda ds, a, b: ds.is_last_distinct(a),
    "gather_every": lambda ds, a, b: ds.gather_every(2),
    "peak_max": lambda ds, a, b: ds.peak_max(a),
    "peak_min": lambda ds, a, b: ds.peak_min(a),
    "sum_horizontal": lambda ds, a, b: ds.sum_horizontal(a, b),
    "mean_horizontal": lambda ds, a, b: ds.mean_horizontal(a, b),
    "min_horizontal": lambda ds, a, b: ds.min_horizontal(a, b),
    "max_horizontal": lambda ds, a, b: ds.max_horizontal(a, b),
    "search_sorted": lambda ds, a, b: ds.search_sorted(a, 2.0),
    "hash_rows": lambda ds, a, b: ds.hash_rows([a, b]),
    "upsample": lambda ds, a, b: ds.upsample(),
    "fill_forward": lambda ds, a, b: ds.fill_forward(a),
    "fill_backward": lambda ds, a, b: ds.fill_backward(a, limit=1),
    "interpolate_nulls": lambda ds, a, b: ds.interpolate_nulls(a),
    "unnest": lambda ds, a, b: ds.with_columns(t=F.struct(q(a).alias("u"))).unnest("t"),
    "tail": lambda ds, a, b: ds.tail(2),
    "slice": lambda ds, a, b: ds.slice(1, 2),
    "hstack": lambda ds, a, b: ds.hstack(ds.df.select(q(a).alias("h.a"))),
    "approx_n_unique": lambda ds, a, b: ds.approx_n_unique(a),
    "sum": lambda ds, a, b: ds.sum(),
    "mean": lambda ds, a, b: ds.mean(),
    "product": lambda ds, a, b: ds.product(),
    "min": lambda ds, a, b: ds.min(),
    "max": lambda ds, a, b: ds.max(),
    "median": lambda ds, a, b: ds.median(),
    "std": lambda ds, a, b: ds.std(),
    "var": lambda ds, a, b: ds.var(),
    "skew": lambda ds, a, b: ds.skew(),
    "kurtosis": lambda ds, a, b: ds.kurtosis(),
    "hist": lambda ds, a, b: ds.hist(a, bins=2),
    "transpose": lambda ds, a, b: ds.transpose(),
    "shrink_dtype": lambda ds, a, b: ds.with_columns(**{a: q(a).cast("long")}).shrink_dtype(),
    "group_by_dynamic": lambda ds, a, b: ds.group_by_dynamic(2, period=3),
    "regrid": lambda ds, a, b: ds.regrid([1.0, 1.5, 2.0], method="linear"),
    "interpolate": lambda ds, a, b: ds.interpolate([1.0, 1.5, 2.0]),
    "fourier_transform": lambda ds, a, b: ds.fourier_transform(value_vars=[a]),
    "lomb_scargle": lambda ds, a, b: ds.lomb_scargle([0.25], value_vars=[a, b]),
    "autophase": lambda ds, a, b: ds.autophase(a, b),
    "zero_quadrature": lambda ds, a, b: (
        ds.with_columns(p=F.struct(q(a).alias("X"), q(b).alias("Y"))).zero_quadrature("p")
    ),
    "join_asof": lambda ds, a, b: _join_asof_both_paths(ds, b),
    "salted_join": lambda ds, a, b: ds.salted_join(ds.df.select(q(a), q(b).alias("o")), on=a),
    "join_range": lambda ds, a, b: ds.join_range(
        ds.df.select(q(a).alias("i.lo"), q(b).alias("i.hi")), "i.lo", "i.hi"
    ),
    "sample_hash": lambda ds, a, b: ds.sample_hash(0.5),
    "sample_stratified": lambda ds, a, b: ds.sample_stratified(1, strata=[a]),
    "pack_sequences": lambda ds, a, b: ds.pack_sequences(4, a),
}

_EXEMPT: dict = {}


def _join_asof_both_paths(ds, b):
    right = ds.df.select(*map(q, ds.id_vars), q(ds.index), q(b).alias("r.b"))
    out = [ds.join_asof(right, by=ds.id_vars)]
    with mock.patch.object(asof, "_BROADCAST_LIMIT", 0):  # the union-sort path
        out.append(ds.join_asof(right, by=ds.id_vars, strategy="nearest"))
    return out


@pytest.fixture(scope="module")
def flat(spark):
    df = spark.createDataFrame(
        [
            ("a", 1, (1.0, 3.0, 10.0)),
            ("a", 2, (1.0, 1.0, None)),
            ("b", 1, (2.0, 4.0, 30.0)),
            ("b", 2, (2.0, 2.0, 40.0)),
        ],
        "g string, x long, s struct<a: double, b: double, c: double>",
    )
    return Dataset(df, index="x", id_vars=["g"]).unnest("s")


def _run(result):
    """Execute whatever a method returned, so a name resolved only at
    run time (inside a Python worker) is exercised too."""
    if isinstance(result, Dataset):
        return result.df.collect()
    if isinstance(result, DataFrame):
        return result.collect()
    if isinstance(result, GroupedData):
        return result.count().collect()
    if isinstance(result, dict):
        return [_run(v) for v in result.values()]
    if isinstance(result, (list, tuple)):
        return [_run(v) for v in result]
    return result


def test_every_public_method_is_listed():
    public = {
        n for n, v in vars(Dataset).items() if not n.startswith("_") and callable(v)
    }
    assert sorted(public - _CALLS.keys() - _EXEMPT.keys()) == []
    assert sorted((_CALLS.keys() | _EXEMPT.keys()) - public) == []
    assert not _CALLS.keys() & _EXEMPT.keys()


def _failures(ds) -> dict:
    failed = {}
    for name, call in _CALLS.items():
        try:
            _run(call(ds, "s.b", "s.c"))
        except Exception as e:  # noqa: BLE001 - report every method at once
            failed[name] = str(e).splitlines()[0][:160]
    return failed


def test_flattened_names_resolve(flat):
    assert flat.columns == ["g", "x", "s.a", "s.b", "s.c"]
    assert _failures(flat) == {}


def test_flattened_id_var_resolves(flat):
    assert _failures(flat.set(id_vars=["g", "s.a"])) == {}
