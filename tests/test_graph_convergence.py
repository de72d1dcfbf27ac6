"""Convergence-round assertions for connected components (VERDICT r02
next-steps #7): the realistic near-dup regime (many tiny clusters) must
converge in a couple of star-contraction rounds, while the adversarial
path graph needs more — both bounds pinned so a regression in either
regime shows up as a round-count change, not just a slow bench. The
jobs each call submits are budgeted the same way, and the per-round
DEBUG log is checked to cost none."""

import logging

import pytest
from pyspark.sql import functions as F

from polars_dataset_spark.functions import chain_edges, connected_components


def _small_cluster_edges(spark, n=400, size=4):
    df = spark.range(n).select(F.col("id").alias("doc_id"))
    clustered = df.withColumn("__cl", F.floor(F.col("doc_id") / size).cast("long"))
    return clustered, chain_edges(clustered, "doc_id", "__cl")


def test_small_clusters_converge_fast(spark):
    clustered, edges = _small_cluster_edges(spark)
    # realistic regime: length-4 chains collapse in <= 3 contraction rounds
    out = connected_components(edges, max_iter=3)
    got = {r["id"]: r["component"] for r in out.collect()}
    assert len(got) == 400
    for node, comp in got.items():
        assert comp == (node // 4) * 4


def test_path_graph_needs_more_rounds_but_converges(spark):
    # adversarial: one 256-node path; star contraction is O(log^2 n)
    df = spark.range(256).select(F.col("id").alias("doc_id"))
    edges = chain_edges(df.withColumn("g", F.lit(1)), "doc_id", "g")
    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(edges, max_iter=2)  # must NOT finish this fast
    out = connected_components(edges, max_iter=25)
    comps = {r["component"] for r in out.collect()}
    assert comps == {0}


def _jobs_of(spark, fn):
    """Jobs Spark submitted while ``fn`` ran: the DAG scheduler's job-id
    watermark before and after (one client thread)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    fn()
    return dag.nextJobId() - j0


def _star_edges(spark):
    rows = [(0, i) for i in range(1, 5)] + [(10, j) for j in range(11, 14)]
    return spark.createDataFrame(rows, "id_a long, id_b long")


# Jobs connected_components submits while it is built: one eager checkpoint
# per round, whose two shuffles AQE submits as jobs of their own. The
# small-cluster graph takes three rounds (two contract, one confirms);
# a star input takes the confirming round only.
CC_JOB_BUDGET = {"small_clusters": 10, "star": 3}


def test_cc_job_budget(spark):
    _, small = _small_cluster_edges(spark)
    star = _star_edges(spark)
    jobs = {
        "small_clusters": _jobs_of(spark, lambda: connected_components(small)),
        "star": _jobs_of(spark, lambda: connected_components(star)),
    }
    assert all(jobs[k] <= CC_JOB_BUDGET[k] for k in jobs), jobs


def _logged_rounds(caplog):
    return [r.args for r in caplog.records if r.name.startswith("polars_dataset_spark")]


def test_cc_logs_each_round_at_no_job_cost(spark, caplog):
    _, edges = _small_cluster_edges(spark)
    with caplog.at_level(logging.WARNING, logger="polars_dataset_spark"):
        quiet = _jobs_of(spark, lambda: connected_components(edges))
    assert not _logged_rounds(caplog)
    with caplog.at_level(logging.DEBUG, logger="polars_dataset_spark"):
        loud = _jobs_of(spark, lambda: connected_components(edges))
    assert loud == quiet
    # (round, distinct input edges, violating nodes) for 100 chains
    # a-b-c-d: b and c break the star property, then only b (the round-1
    # output is a-b, a-c, b-d), then none: the third round confirms
    assert _logged_rounds(caplog) == [(1, 300, 200), (2, 300, 100), (3, 300, 0)]

    caplog.clear()
    with caplog.at_level(logging.DEBUG, logger="polars_dataset_spark"):
        connected_components(_star_edges(spark))
    assert _logged_rounds(caplog) == [(1, 7, 0)]  # star input: one round
