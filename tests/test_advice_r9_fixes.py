"""Regression tests for the round-9 ADVICE/VERDICT fixes:

1. `_dedupe_cached_subtrees` trailing-newline fingerprint miss — Spark's
   treeString always ends with '\\n', so the LAST InMemoryRelation dump
   in a plan absorbed the trailing blank into its fingerprint and never
   matched an earlier identical dump (ADVICE r8 #1).
2. Pass-2 skip state leaked on blank lines INSIDE a dropped subtree —
   the remainder of the supposedly-dropped region re-entered the deduped
   text (ADVICE r8 #2).
3. `Datafile.load` on a missing path returns None WITHOUT raising a JVM
   AnalysisException (no 30-line Java stack in logs, VERDICT r8 #4/#7).
"""

import logging

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
