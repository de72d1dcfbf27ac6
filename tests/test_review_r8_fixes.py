"""Tests for the round-8 VERDICT items.

- #5: the declared-exact all-pairs cosine tool must REFUSE above the
  quadratic pair guardrail unless ``allow_quadratic=True`` (a docstring
  note is not enough for an API that silently goes O(n²) at 100 TB).
- #2: ``clean_corpus`` pins the scored+filtered frame before the
  fuzzy stage so the scoring lineage is not recomputed on both the
  LSH-signature branch and the anti-join probe branch.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from polars_dataset_spark.functions import similarity as SIM


def _tiny_emb(spark, n=6, dim=4):
    rows = [(i, [float((i * 7 + j) % 5) for j in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_pairs_block_guardrail_raises(spark, monkeypatch):
    df = _tiny_emb(spark)
    monkeypatch.setattr(SIM, "_QUADRATIC_PAIR_LIMIT", 4)  # 6*6=36 > 4
    with pytest.raises(ValueError, match="embedding_neardup"):
        SIM.cosine_pairs_block(df, threshold=0.5)


def test_cosine_pairs_block_guardrail_override(spark, monkeypatch):
    df = _tiny_emb(spark)
    monkeypatch.setattr(SIM, "_QUADRATIC_PAIR_LIMIT", 4)
    out = SIM.cosine_pairs_block(df, threshold=0.5, allow_quadratic=True)
    assert out.count() >= 0  # executes; exactness covered by q35's oracle


def test_cosine_pairs_block_under_limit_unchanged(spark):
    df = _tiny_emb(spark)
    out = SIM.cosine_pairs_block(df, threshold=0.99)
    assert {c for c in out.columns} == {"id_a", "id_b", "cosine"}


def test_clean_corpus_persists_before_fuzzy_stage(spark, sf_dir):
    from polars_dataset_spark.functions import clean_corpus
    from polars_dataset_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = clean_corpus(docs, min_quality=0.5, fuzzy_threshold=0.7)
    executed = out._jdf.queryExecution().executedPlan().toString()
    # the materialization barrier (a pin: a scan of the pinned RDD that
    # carries the scoring columns) must be in the plan — it is what
    # stops the score->filter->lang->dedup lineage from being recomputed
    # on both fuzzy-stage branches (r7 VERDICT: ~110 text copies of the
    # scoring pipeline in the pre-fix plan)
    assert any(
        "Scan ExistingRDD" in ln and "lang_pred" in ln for ln in executed.split("\n")
    ), executed
    # and the scoring chain must no longer replicate ~100x: the tokenize
    # split() call is the cheapest proxy for the whole chain
    from polars_dataset_spark.plans.inspect import expensive_snippet_counts

    # 24 = the adjudicated single-computation count (pushed-predicate
    # copies inside the ONE kept cache dump); pre-persist this was 110
    # and pre-dedupe the cache's textual echoes inflated it to 272
    worst = max(expensive_snippet_counts(out).values(), default=0)
    assert worst <= 24, f"scoring chain still duplicated x{worst}"


def test_dedupe_cached_subtrees_contract():
    from polars_dataset_spark.plans.inspect import _dedupe_cached_subtrees

    # section BODY lines print at the header's own depth (real AQE dump
    # shape: "+- == Final Plan ==" then "   ResultQueryStage ..." at the
    # same tree-prefix depth)
    plan = "\n".join(
        [
            "Join",
            ":- InMemoryRelation [a#1, b#2], StorageLevel(memory)",
            ":     +- AdaptiveSparkPlan isFinalPlan=true",
            ":         +- == Final Plan ==",
            ":            Project [md5(concat(a#1, b#2)) AS h#3]",
            ":         +- == Initial Plan ==",
            ":            Project [md5(concat(a#1, b#2)) AS h#3]",
            "+- InMemoryRelation [a#9, b#8], StorageLevel(memory)",
            "      +- AdaptiveSparkPlan isFinalPlan=true",
            "          +- == Final Plan ==",
            "             Project [md5(concat(a#9, b#8)) AS h#7]",
            "          +- == Initial Plan ==",
            "             Project [md5(concat(a#9, b#8)) AS h#7]",
        ]
    )
    ded = _dedupe_cached_subtrees(plan)
    # second dump of the SAME relation (expr-ids differ, identical
    # normalized subtree) dropped entirely; the kept dump loses its
    # Initial-plan echo
    assert ded.count("InMemoryRelation") == 1
    assert ded.count("md5") == 1
    assert "== Initial Plan ==" not in ded
    assert "Join" in ded


def test_dedupe_keeps_distinct_relations():
    from polars_dataset_spark.plans.inspect import _dedupe_cached_subtrees

    plan = "\n".join(
        [
            "Union",
            ":- InMemoryRelation [a#1], StorageLevel(memory)",
            ":     +- Scan parquet",
            "+- InMemoryRelation [z#2, y#3], StorageLevel(memory)",
            "      +- Scan csv",
        ]
    )
    ded = _dedupe_cached_subtrees(plan)
    assert ded.count("InMemoryRelation") == 2
    assert "Scan parquet" in ded and "Scan csv" in ded


def test_dedupe_keeps_distinct_same_schema_relations():
    # two DIFFERENT cached frames can render the same header (same
    # schema); only dumps with identical SUBTREES may collapse
    from polars_dataset_spark.plans.inspect import _dedupe_cached_subtrees

    plan = "\n".join(
        [
            "Union",
            ":- InMemoryRelation [a#1, b#2], StorageLevel(memory)",
            ":     +- Filter (a#1 > 5)",
            ":        +- Scan parquet",
            "+- InMemoryRelation [a#9, b#8], StorageLevel(memory)",
            "      +- Filter (a#9 < 0)",
            "         +- Scan parquet",
        ]
    )
    ded = _dedupe_cached_subtrees(plan)
    assert ded.count("InMemoryRelation") == 2
    assert "(a# > 5)" in ded or "a#1 > 5" in ded
    assert "a#9 < 0" in ded


def test_cosine_guardrail_counts_unordered_pairs(spark, monkeypatch):
    # n=6 -> 15 unordered pairs; a limit of 15 must NOT trip (n*n=36 would)
    df = _tiny_emb(spark)
    monkeypatch.setattr(SIM, "_QUADRATIC_PAIR_LIMIT", 15)
    out = SIM.cosine_pairs_block(df, threshold=0.99)
    assert out.count() >= 0
    monkeypatch.setattr(SIM, "_QUADRATIC_PAIR_LIMIT", 14)
    with pytest.raises(ValueError):
        SIM.cosine_pairs_block(df, threshold=0.99)


def test_probe_bmp_top_down_and_core_header():
    from polars_dataset_spark.functions.multimodal import probe_media_header

    def le(v, w):
        return int(v % (1 << (8 * w))).to_bytes(w, "little")

    # BITMAPINFOHEADER with biHeight = -1080 (top-down)
    info = b"BM" + bytes(12) + le(40, 4) + le(1920, 4) + le(-1080, 4) + bytes(8)
    meta = probe_media_header(info)
    assert (meta["width"], meta["height"], meta["mode"]) == (1920, 1080, "top_down")
    # OS/2 BITMAPCOREHEADER: 16-bit dims at 18/20
    core = b"BM" + bytes(12) + le(12, 4) + le(640, 2) + le(480, 2) + bytes(6)
    meta = probe_media_header(core)
    assert (meta["width"], meta["height"], meta["mode"]) == (640, 480, "core_header")


def test_probe_ppm_rejects_prose():
    from polars_dataset_spark.functions.multimodal import probe_media_header

    # PPM has a 2-byte "signature", so prose that starts with it must be
    # rejected by the header grammar + payload-size plausibility check
    assert probe_media_header(b"P6 chips cost 500 or 600 yen") is None
    assert probe_media_header(b"P600 something 500") is None
    assert probe_media_header(b"P6 500 x 600 pixels") is None
    assert probe_media_header(b"P6 2 2 255 short") is None  # truncated payload
    good = b"P6 2 2 255\n" + bytes(12)
    meta = probe_media_header(good)
    assert (meta["fmt"], meta["width"], meta["height"]) == ("ppm", 2, 2)
