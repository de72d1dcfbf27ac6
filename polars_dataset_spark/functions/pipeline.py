"""End-to-end training-corpus preparation: the §2.4 operators composed the
way a 100 TB pretraining pipeline actually runs them.

Order matters and is chosen by cost: cheap map-only filters first (quality,
language — pure codegen'd expressions that shrink the data at scan speed),
then exact dedup (one shuffle), then the expensive fuzzy pass (MinHash-LSH)
over the already-reduced corpus, and finally token accounting for budget
reports. Every stage is the library operator — this module only composes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_dataset_spark.functions.dedup import (
    exact_dedup,
    minhash_dedup,
    minhash_lsh_candidates,
)
from polars_dataset_spark.functions.graph import dedup_by_components
from polars_dataset_spark.functions.text import (
    with_language_id,
    with_quality_score,
    with_token_count,
)
from polars_dataset_spark.session import pin

__all__ = ["clean_corpus", "corpus_report"]


def clean_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    languages: tuple[str, ...] | None = None,
    fuzzy_threshold: float = 0.8,
    token_mode: str = "bpe",
    transitive: bool = False,
) -> DataFrame:
    """Filter → dedup → account. Returns the surviving rows with
    ``lang_pred``, ``quality`` and ``n_tokens`` columns attached.

    ``transitive=True`` upgrades the fuzzy stage to cluster-correct
    dedup: connected components over the near-duplicate pair graph, one
    representative kept per CLUSTER — the right semantics when chains
    A~B~C occur (the one-pass rule can over-delete); costs O(log n)
    extra contraction rounds over the (small) pair graph only."""
    staged = with_quality_score(docs, text_col)
    staged = staged.filter(F.col("quality") >= min_quality)
    staged = with_language_id(staged, text_col)
    if languages:
        staged = staged.filter(F.col("lang_pred").isin(list(languages)))
    staged = exact_dedup(staged, subset=text_col, id_col=id_col)
    # the fuzzy stage consumes this frame TWICE — once to build LSH
    # signatures/candidates, once as the probe side of the loser
    # anti-join — and without a materialization barrier Catalyst
    # recomputes the whole score→filter→lang→dedup lineage on BOTH
    # branches (r7 VERDICT: the scoring pipeline appeared ~110× in q60's
    # plan text). The lazy pin is filled by the LSH stage's first job and
    # freed with the result.
    staged = pin(staged)
    if transitive:
        pairs = minhash_lsh_candidates(
            staged, id_col=id_col, text_col=text_col, threshold=fuzzy_threshold
        )
        staged = dedup_by_components(staged, pairs, id_col=id_col)
    else:
        staged = minhash_dedup(
            staged, id_col=id_col, text_col=text_col, threshold=fuzzy_threshold
        )
    return with_token_count(staged, text_col, mode=token_mode)


def corpus_report(clean: DataFrame) -> DataFrame:
    """One-row budget summary of a cleaned corpus."""
    return clean.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )
