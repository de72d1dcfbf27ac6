"""pagerank (functions/graph): mass conservation, dangling handling,
known-graph values vs a NetworkX-free hand iteration, convergence
direction, and argument gates."""

import pytest
from pyspark.sql import functions as F

from polars_dataset_spark.functions.graph import pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _ref_pagerank(pairs, iterations, d=0.85):
    """Plain-python power iteration with uniform dangling
    redistribution — the same recurrence, independently coded."""
    nodes = sorted({x for p in pairs for x in p})
    out = {}
    for s, t in set(pairs):
        out.setdefault(s, []).append(t)
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        nxt = {v: 0.0 for v in nodes}
        dm = sum(r[v] for v in nodes if v not in out)
        for s, ts in out.items():
            share = r[s] / len(ts)
            for t in ts:
                nxt[t] += share
        for v in nodes:
            r2 = (1 - d) / n + d * (nxt[v] + dm / n)
            nxt[v] = r2
        r = nxt
    return r


CHAIN = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
WITH_SINK = [("a", "b"), ("b", "sink"), ("a", "sink")]


@pytest.mark.parametrize("pairs", [CHAIN, WITH_SINK])
def test_matches_reference_iteration(spark, pairs):
    got = {r.node: r.rank for r in pagerank(_edges(spark, pairs), iterations=4).collect()}
    want = _ref_pagerank(pairs, 4)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, (v, got[v], want[v])


@pytest.mark.parametrize("pairs", [CHAIN, WITH_SINK])
def test_mass_conserved(spark, pairs):
    total = (
        pagerank(_edges(spark, pairs), iterations=3)
        .agg(F.sum("rank")).first()[0]
    )
    assert abs(total - 1.0) < 1e-9


def test_hub_outranks_leaf(spark):
    # everyone links to 'hub'; hub links back to one node
    pairs = [("x1", "hub"), ("x2", "hub"), ("x3", "hub"), ("hub", "x1")]
    got = {r.node: r.rank for r in pagerank(_edges(spark, pairs), iterations=5).collect()}
    assert got["hub"] > got["x2"] > 0


def test_duplicate_edges_collapse(spark):
    a = {r.node: r.rank for r in pagerank(_edges(spark, CHAIN), iterations=3).collect()}
    b = {r.node: r.rank for r in pagerank(_edges(spark, CHAIN + CHAIN), iterations=3).collect()}
    for v in a:
        assert abs(a[v] - b[v]) < 1e-12


def test_bad_args(spark):
    with pytest.raises(ValueError):
        pagerank(_edges(spark, CHAIN), damping=1.5)
    with pytest.raises(ValueError):
        pagerank(_edges(spark, CHAIN), iterations=0)
