"""Regression tests for the round-9 ADVICE/VERDICT fixes:

1. `_dedupe_cached_subtrees` trailing-newline fingerprint miss — Spark's
   treeString always ends with '\\n', so the LAST InMemoryRelation dump
   in a plan absorbed the trailing blank into its fingerprint and never
   matched an earlier identical dump (ADVICE r8 #1).
2. Pass-2 skip state leaked on blank lines INSIDE a dropped subtree —
   the remainder of the supposedly-dropped region re-entered the deduped
   text (ADVICE r8 #2).
3. `connected_components` early-exits when the edge set is already a
   min-rooted star union (VERDICT r8 #4) — and must NOT mistake a
   v-unique chain for a star.
4. `Datafile.load` on a missing path returns None WITHOUT raising a JVM
   AnalysisException (no 30-line Java stack in logs, VERDICT r8 #4/#7).
"""

import logging

import pytest
from pyspark.sql import functions as F

from polars_dataset_spark.functions import connected_components
from polars_dataset_spark.plans.inspect import _dedupe_cached_subtrees


def test_dedupe_last_dump_with_trailing_newline():
    # identical cached dump appears twice, the second one ENDING the
    # plan, with treeString's trailing newline present
    plan = (
        "\n".join(
            [
                "Join",
                ":- InMemoryRelation [a#1], StorageLevel(memory)",
                ":     +- Project [md5(x#2) AS a#1]",
                "+- InMemoryRelation [a#9], StorageLevel(memory)",
                "      +- Project [md5(x#8) AS a#9]",
            ]
        )
        + "\n"
    )
    ded = _dedupe_cached_subtrees(plan)
    assert ded.count("InMemoryRelation") == 1
    assert ded.count("md5") == 1


def test_dedupe_skip_survives_blank_line_inside_subtree():
    # the dropped second dump contains a blank line; the skip must not
    # end there and leak the rest of the subtree back
    plan = "\n".join(
        [
            "Join",
            ":- InMemoryRelation [a#1], StorageLevel(memory)",
            ":     +- Project [md5(x#2) AS a#1]",
            ":     +- Scan parquet [x#2]",
            "+- InMemoryRelation [a#9], StorageLevel(memory)",
            "      +- Project [md5(x#8) AS a#9]",
            "",
            "      +- Scan parquet [x#8]",
        ]
    )
    ded = _dedupe_cached_subtrees(plan)
    # the dropped dump's Scan line, after its interior blank, must NOT
    # leak back; the kept first dump's copy survives
    assert ded.count("md5") == 1
    assert ded.count("Scan parquet") == 1


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


def test_datafile_missing_path_no_jvm_exception(spark, tmp_path, caplog):
    from polars_dataset_spark.sources.datafile import Datafile

    df = Datafile(str(tmp_path / "nope.csv"))
    with caplog.at_level(logging.WARNING, logger="polars_dataset_spark"):
        assert df.load(spark) is None
    msgs = " ".join(r.getMessage() for r in caplog.records)
    assert "does not exist" in msgs
    # the precheck path must not embed a JVM stack trace in the log
    assert "py4j" not in msgs and "at org.apache" not in msgs


def test_datafile_glob_still_loads(spark, sf_dir):
    from polars_dataset_spark.sources.datafile import Datafile

    df = Datafile(sf_dir + "/region*.parquet", fmt="parquet")
    out = df.load(spark)
    assert out is not None and out.count() > 0


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
