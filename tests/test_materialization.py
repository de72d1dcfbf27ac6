"""Materialization ownership: ``session.pin`` owns every result.

- A function's result is ``pin(result, eager=True)``, which Spark's
  ContextCleaner frees once the caller drops the frame; a ``persist``
  would stay in the CacheManager for the whole session.
- An intermediate read twice in one call is persisted and released in a
  ``finally`` block.
- Index objects (``NeardupIndex``, ``BandedIndex``) pin what they build
  and release it through ``unpin`` in their ``unpersist``.

The guardrail reads the package's source; the audit runs every dedup
entry point in the shared test session, drops its result and checks
nothing stays behind.
"""

import ast
import gc
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

PKG = Path(__file__).resolve().parents[1] / "polars_dataset_spark"

# (module, function) pairs whose persist is an intermediate read twice in
# one call: each must release it in a ``finally`` block
TWICE_READ = {
    ("functions.dedup", "minhash_lsh_candidates"),
    ("functions.dedup", "simhash_dedup"),
    ("functions.dedup", "banded_neardup_pairs"),
    ("functions.dedup", "fuzzy_join"),
    ("functions.dedup", "neardup_filter_against"),
    ("functions.dedup", "build_neardup_index"),
    ("streaming.ops", "_stream_media_filter.apply_batch"),
}


def _scan_package():
    """``(persist sites, functions with a finally-unpersist, names)`` over
    every module of the package; sites are ``(module, qualname)``."""
    persists, released, names = [], set(), set()
    for path in sorted(PKG.rglob("*.py")):
        module = ".".join(path.relative_to(PKG).with_suffix("").parts)

        def walk(node, qual):
            for child in ast.iter_child_nodes(node):
                q = qual
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    names.add(child.name)
                    q = f"{qual}.{child.name}" if qual else child.name
                elif isinstance(child, ast.Name):
                    names.add(child.id)
                elif isinstance(child, ast.Attribute):
                    names.add(child.attr)
                elif isinstance(child, ast.alias):
                    names.add(child.asname or child.name.split(".")[-1])
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "persist"
                ):
                    persists.append((module, qual))
                if isinstance(child, ast.Try) and any(
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "unpersist"
                    for stmt in child.finalbody
                    for n in ast.walk(stmt)
                ):
                    released.add((module, qual))
                walk(child, q)

        walk(ast.parse(path.read_text(), str(path)), "")
    return persists, released, names


def test_persist_only_at_allowlisted_sites():
    persists, released, names = _scan_package()
    sites = set(persists)
    stray = sites - TWICE_READ
    assert not stray, f"persist outside the allowlist (pin results instead): {sorted(stray)}"
    stale = TWICE_READ - sites
    assert not stale, f"allowlisted sites that no longer persist: {sorted(stale)}"
    unreleased = TWICE_READ - released
    assert not unreleased, f"intermediates without a finally-unpersist: {sorted(unreleased)}"
    assert "_swap_cache" not in names


def _persistent(spark) -> int:
    """Persisted or pinned RDDs that still hold blocks. Not
    ``len(getPersistentRDDs())``: that map holds every RDD strongly until
    py4j's finalizer thread detaches it (it wakes once a second), so a
    poll loop that re-creates it can keep a dropped pin alive for
    minutes. ``RDDInfo`` references no RDD."""
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _release_all(spark) -> None:
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def _settled_count(spark, baseline: int, window_s: float = 60.0) -> int:
    """Persistent-RDD count once the ContextCleaner caught up: poll
    Python and JVM garbage collection until the count is back at
    ``baseline`` or the window closes. A dropped pin leaves the count
    once both collectors ran: about a second on a local[4] session."""
    deadline = time.monotonic() + window_s
    while True:
        gc.collect()
        spark._jvm.System.gc()
        n = _persistent(spark)
        if n <= baseline or time.monotonic() > deadline:
            return n
        time.sleep(0.5)


_TEXTS = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "the quick brown fox jumps over the lazy dog near the river bank tonight",
    "large language models train on deduplicated web corpora every week",
    "completely different content about spark engines and data processing",
    "large language models train on deduplicated web corpora every day",
]


def _docs(spark):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(_TEXTS)), "text": _TEXTS})
    )


def _images(spark):
    from polars_dataset_spark.functions.png import encode_png_gray

    yy, xx = np.mgrid[0:24, 0:32]
    a = ((xx * 5 + yy * 13 + (xx * yy) % 7) % 256) / 255.0
    b = ((xx * 7 + yy * 13) % 256) / 255.0
    blobs = [a, np.clip(a + 2 / 255.0, 0, 1), b]
    return spark.createDataFrame(
        [(i, bytearray(encode_png_gray(img))) for i, img in enumerate(blobs)],
        "media_id long, content binary",
    )


def _neardup_filter_against(spark):
    from polars_dataset_spark.functions import build_neardup_index, neardup_filter_against

    index = build_neardup_index(_docs(spark).filter("doc_id < 3"))
    out = neardup_filter_against(_docs(spark), index, threshold=0.5)
    out.collect()
    index.unpersist()
    return out


def _entry_points():
    from polars_dataset_spark import functions as fn

    return {
        "minhash_lsh_candidates": lambda s: fn.minhash_lsh_candidates(_docs(s), threshold=0.5),
        "minhash_dedup": lambda s: fn.minhash_dedup(_docs(s), threshold=0.5),
        "ngram_jaccard_pairs": lambda s: fn.ngram_jaccard_pairs(_docs(s), threshold=0.5),
        "simhash_dedup": lambda s: fn.simhash_dedup(_docs(s)),
        "fuzzy_join": lambda s: fn.fuzzy_join(
            _docs(s), _docs(s), left_id="doc_id", right_id="doc_id", threshold=0.5
        ),
        "neardup_filter_against": _neardup_filter_against,
        "image_neardup_pairs": lambda s: fn.image_neardup_pairs(_images(s)),
        "clean_corpus": lambda s: fn.clean_corpus(_docs(s), min_quality=0.0, fuzzy_threshold=0.5),
        "clean_corpus_transitive": lambda s: fn.clean_corpus(
            _docs(s), min_quality=0.0, fuzzy_threshold=0.5, transitive=True
        ),
    }


@pytest.mark.parametrize("name", sorted(_entry_points()))
def test_dropped_result_leaves_nothing_cached(spark, name):
    _release_all(spark)
    baseline = _persistent(spark)
    out = _entry_points()[name](spark)
    assert len(out.collect()) > 0
    del out
    # a persist would still be registered: deterministic, no waiting
    assert _cache_empty(spark)
    assert _settled_count(spark, baseline) == baseline


def test_banded_index_unpersist_releases_after_appends(spark):
    from polars_dataset_spark.functions.imagehash import build_image_index

    _release_all(spark)
    baseline = _persistent(spark)
    idx = build_image_index(_images(spark))
    for sig in (123, 456):
        idx.append(spark.createDataFrame([(sig,)], "__sig long"))
        # each append replaces its generation: one pinned index at a time
        assert _persistent(spark) == baseline + 1
    idx.unpersist()
    assert _persistent(spark) == baseline


def test_banded_index_results_survive_append_and_unpersist(spark):
    from polars_dataset_spark.functions.imagehash import (
        append_to_image_index,
        build_image_index,
        image_filter_against,
    )

    idx = build_image_index(_images(spark).filter("media_id < 2"))
    kept = image_filter_against(_images(spark), idx)
    # the stream's order: derive, grow the index, and only then consume
    append_to_image_index(idx, idx.hash(kept))
    idx.unpersist()
    assert [r.media_id for r in kept.collect()] == [2]


def test_neardup_index_unpersist_releases_its_pins(spark):
    from polars_dataset_spark.functions import build_neardup_index, neardup_filter_against

    _release_all(spark)
    baseline = _persistent(spark)
    index = build_neardup_index(_docs(spark).filter("doc_id < 3"))
    # band rows and shingle sets; the signed corpus is released
    assert _persistent(spark) == baseline + 2
    assert _cache_empty(spark)
    out = neardup_filter_against(_docs(spark), index, threshold=0.5)
    assert sorted(r.doc_id for r in out.collect()) == [3, 4, 5]
    index.unpersist()
    assert _persistent(spark) == baseline + 1  # the probe's own pinned hits
    del out
    assert _settled_count(spark, baseline) == baseline


def _plan_nodes(spark, node, seen_caches):
    """Every node under ``node``; a cached relation's plan is walked the
    first time that cache is met, like Spark computes it once."""
    yield node
    kids = [node.children().apply(i) for i in range(node.children().size())]
    if node.nodeName() == "InMemoryRelation":
        key = spark._jvm.System.identityHashCode(node.cacheBuilder())
        if key not in seen_caches:
            seen_caches.add(key)
            kids.append(node.cacheBuilder().cachedPlan())
    for kid in kids:
        yield from _plan_nodes(spark, kid, seen_caches)


def test_neardup_probe_signs_and_bands_only_its_batch(spark, monkeypatch):
    """A probe reads the index's pins, never the corpus: with every cache
    cleared, its materialized plan holds one sign pass and one band
    explode, and both read only the batch."""
    from polars_dataset_spark.functions import build_neardup_index, dedup

    index = build_neardup_index(_docs(spark).filter("doc_id < 3"))
    spark.catalog.clearCache()
    # the batch is a Range, so its leaves differ from the corpus's
    texts = F.array(*[F.lit(t) for t in _TEXTS])
    batch = spark.range(len(_TEXTS)).select(
        F.col("id").alias("doc_id"), F.element_at(texts, F.col("id").cast("int") + 1).alias("text")
    )
    pinned = []
    real_pin = dedup.pin
    monkeypatch.setattr(dedup, "pin", lambda df, **kw: pinned.append(df) or real_pin(df, **kw))
    out = dedup.neardup_filter_against(batch, index, threshold=0.5)
    assert sorted(r.doc_id for r in out.collect()) == [3, 4, 5]
    index.unpersist()
    (probe,) = pinned
    plan = probe._jdf.queryExecution().optimizedPlan()
    nodes = list(_plan_nodes(spark, plan, set()))
    work = [n for n in nodes if n.nodeName() in ("ArrowEvalPython", "Generate")]
    assert sorted(n.nodeName() for n in work) == ["ArrowEvalPython", "Generate"]
    for n in work:
        leaves = [
            m.nodeName()
            for m in _plan_nodes(spark, n, set())
            if m.children().size() == 0 and m.nodeName() != "InMemoryRelation"
        ]
        assert leaves and set(leaves) == {"Range"}, (n.nodeName(), leaves)
