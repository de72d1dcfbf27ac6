"""Connected components (large-star/small-star) and the salted skew join.

CC ground truth is a driver-side union-find over the same edge list —
independent math, same answer — on the adversarial shapes: paths (worst
case for naive propagation), stars, cycles, and random multigraphs.
"""

import random

import pytest
from pyspark.sql import functions as F

from polars_dataset_spark.functions.graph import (
    chain_edges,
    connected_components,
    dedup_by_components,
)
from polars_dataset_spark.operators.skew import salted_join


def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for n in nodes:
        groups.setdefault(find(n), []).append(n)
    return {n: min(mem) for mem in groups.values() for n in mem}


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {r["id"]: r["component"] for r in connected_components(df).collect()}


@pytest.mark.parametrize(
    "edges",
    [
        [(i, i + 1) for i in range(30)],  # 31-node path
        [(0, i) for i in range(1, 20)],  # star
        [(i, (i + 1) % 17) for i in range(17)],  # cycle
        [(1, 2), (2, 3), (10, 11), (12, 11)],  # two components
        [(5, 5), (1, 2), (2, 1), (2, 3)],  # self-loops + both directions
    ],
    ids=["path", "star", "cycle", "two-comps", "loops-dups"],
)
def test_cc_matches_union_find(spark, edges):
    clean = [(a, b) for a, b in edges if a != b]
    nodes = sorted({x for e in clean for x in e})
    assert _cc(spark, edges) == _uf_components(clean, nodes)


def test_cc_random_graphs_match_union_find(spark):
    rng = random.Random(13)
    for _ in range(3):
        n, m = rng.randint(10, 50), rng.randint(5, 70)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        clean = [(a, b) for a, b in edges if a != b]
        nodes = sorted({x for e in clean for x in e})
        assert _cc(spark, edges) == _uf_components(clean, nodes)


def test_cc_empty_edges(spark):
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0


def test_star_input_skips_contraction(spark):
    # already a min-rooted star union: must converge with ZERO
    # contraction rounds (max_iter=0 succeeds only via the early-exit)
    rows = [(0, i) for i in range(1, 5)] + [(10, j) for j in range(11, 14)]
    edges = spark.createDataFrame(rows, "id_a long, id_b long")
    out = connected_components(edges, max_iter=0)
    got = {r["id"]: r["component"] for r in out.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10, 11: 10, 12: 10, 13: 10}


def test_vunique_chain_not_mistaken_for_star(spark):
    # (1,2),(2,3): every v unique, but 2 is both parent and child — the
    # disjointness probe must reject it and the loop must run
    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(edges, max_iter=0)
    out = connected_components(edges, max_iter=25)
    assert {r["component"] for r in out.collect()} == {1}
    assert out.count() == 3


def test_dedup_by_components_transitive_chain(spark):
    # 1~2, 2~3, 3~4: one cluster, representative 1 survives; 5 untouched.
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(1, 6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")
    kept = sorted(r["doc_id"] for r in dedup_by_components(docs, pairs).collect())
    assert kept == [1, 5]


def test_chain_edges_path_per_group(spark):
    df = spark.createDataFrame(
        [(1, "a"), (3, "a"), (7, "a"), (2, "b"), (9, "c")],
        "doc_id long, g string",
    )
    edges = {(r["id_a"], r["id_b"]) for r in chain_edges(df, "doc_id", "g").collect()}
    assert edges == {(1, 3), (3, 7)}  # singleton groups emit no edges


def test_salted_join_equals_plain_join(spark, sf_dir):
    from polars_dataset_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    od = load_table(spark, sf_dir, "orders")
    plain = (
        li.join(od, on="o_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("s"))
    )
    salted = (
        salted_join(li, od, on="o_orderkey", salt=4)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("s"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, "x"), (2, "y"), (99, "z")], "k long, lv string")
    right = spark.createDataFrame([(1, "A"), (2, "B")], "k long, rv string")
    out = {
        (r["k"], r["rv"]) for r in salted_join(left, right, on="k", how="left").collect()
    }
    assert out == {(1, "A"), (2, "B"), (99, None)}
    with pytest.raises(ValueError):
        salted_join(left, right, on="k", how="full")


def test_dedup_by_components_quality_keep(spark):
    """quality_col keeps the best member per cluster, not the min id;
    null quality sorts last; isolated docs always survive."""
    from polars_dataset_spark.functions import dedup_by_components

    docs = spark.createDataFrame(
        [
            (1, 10.0), (2, 30.0), (3, 20.0),   # cluster {1,2,3}: keep 2
            (4, None), (5, 1.0),               # cluster {4,5}: keep 5 (null last)
            (6, 7.0), (7, 7.0),                # cluster {6,7}: tie -> lower id 6
            (8, 0.0),                          # isolated: kept
        ],
        "doc_id long, q double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 7)], "id_a long, id_b long"
    )
    kept = {r["doc_id"] for r in
            dedup_by_components(docs, pairs, quality_col="q").collect()}
    assert kept == {2, 5, 6, 8}
    # default rule unchanged: min id per cluster
    kept_min = {r["doc_id"] for r in dedup_by_components(docs, pairs).collect()}
    assert kept_min == {1, 4, 6, 8}
