"""Regression tests for the round-2 ADVICE findings: null tokens in the
global prefix sum, key-only / dtype-mismatched snapshot_diff, and 0-row
no-header transpose."""

import pytest

from polars_dataset_spark.core import Dataset
from polars_dataset_spark.functions import pack_sequences
from polars_dataset_spark.operators.merge import snapshot_diff


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


def test_snapshot_diff_key_only(spark):
    old = spark.createDataFrame([(1,), (2,)], "k long")
    new = spark.createDataFrame([(2,), (3,)], "k long")
    out = snapshot_diff(old, new, on="k")
    got = {(r["k"], r["change_type"]) for r in out.collect()}
    assert got == {(1, "delete"), (3, "insert")}
    assert out.columns == ["k", "change_type"]


def test_snapshot_diff_dtype_mismatch_raises(spark):
    old = spark.createDataFrame([(1, 1)], "k long, v long")
    new = spark.createDataFrame([(1, "1")], "k long, v string")
    with pytest.raises(ValueError, match="schemas differ on columns \\['v'\\]"):
        snapshot_diff(old, new, on="k")


def test_transpose_empty_no_header_has_no_columns(spark):
    df = spark.createDataFrame([], "a string, b long")
    ds = Dataset(df, index="b")
    out = ds.transpose(include_header=False)
    assert out.columns == []
    assert out.count() == 0


def test_bench_order_unmeasured_not_tailed():
    """ADVICE r3: a new heavy query absent from BENCH_DETAIL.json must not
    sort behind every measured query — unmeasured run first, static heavy
    order among them; measured follow by time descending."""
    import bench

    prev = {"q_light": 0.3, "q_heavy": 30.0}
    rank = {"q_new_heavy": 0, "q_heavy": 1}
    names = ["q_light", "q_heavy", "q_new_heavy", "q_new_unknown"]
    got = sorted(names, key=lambda n: bench._order_key(n, prev, rank))
    assert got == ["q_new_heavy", "q_new_unknown", "q_heavy", "q_light"]
    # a measured-but-light query in the static list must NOT jump measured
    # heavies (rank applies to the unmeasured group only)
    prev2 = {"q_heavy": 30.0, "q65": 2.0}
    rank2 = {"q65": 0}
    got2 = sorted(["q_heavy", "q65"], key=lambda n: bench._order_key(n, prev2, rank2))
    assert got2 == ["q_heavy", "q65"]


def test_offscale_affine_maps_pairwise_far():
    """The derivation invariant the off-scale sweep rests on: any two
    distinct affine maps (incl. the identity used by replica 0) agree on
    at most 2 of the 26 letters, so cross-replica copies of a doc differ
    at essentially every letter position."""
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from make_offscale import _AFFINE_MAPS

    maps = [(1, 0)] + list(_AFFINE_MAPS)  # replica 0 = identity
    assert len(set(maps)) == len(maps) >= 100
    tables = [[(a * c + b) % 26 for c in range(26)] for a, b in maps]
    # all genuinely permutations
    for t in tables:
        assert sorted(t) == list(range(26))
    # pairwise agreement <= 2 letters (spot-check the full first 60 maps
    # exhaustively — 1770 pairs — plus identity vs everyone)
    subset = tables[:60]
    for i in range(len(subset)):
        for j in range(i + 1, len(subset)):
            agree = sum(x == y for x, y in zip(subset[i], subset[j]))
            assert agree <= 2, (i, j, agree)
    for t in tables[1:]:
        assert sum(x == c for c, x in enumerate(t)) <= 2
