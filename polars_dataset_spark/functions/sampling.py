"""Deterministic sampling for training-data mixing.

Random `df.sample()` is neither reproducible across retries/cluster
layouts nor stratifiable with exact quotas; data-mixing pipelines want
"at most N docs per (lang, source), chosen stably" and "p% of the
corpus, the SAME p% every run". Both are expressed as pure hash
arithmetic — no RNG state, no seed plumbing through tasks, identical
output on any cluster topology.

The hash is ``md5(cast(id))`` — computable bit-identically in Spark,
DuckDB, and most engines, so the selections are oracle-checkable and
portable (a sample drawn by this engine can be re-derived by another).

Scale: ``hash_sample`` is a map-only filter (predicate-pushdown
friendly, no shuffle). ``stratified_sample`` is one shuffle on the
strata keys + a per-partition top-quota; skewed strata are bounded by
the quota itself, so reducers do O(quota) retained work regardless of
stratum size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_dataset_spark.core import _qcol

__all__ = [
    "hash_sample",
    "hash_sample_by",
    "stratified_sample",
    "temperature_mix",
    "take_until_token_budget",
    "cap_per_group",
]


def _hash_key(id_col: str, salt: str) -> "F.Column":
    return F.md5(F.concat(F.lit(salt), _qcol(id_col).cast("string")))


def portable_hash_long(id_col: str, salt: str = "") -> "F.Column":
    """The 60-bit engine-portable hash every deterministic-choice op in
    this package shares: first 15 hex digits of ``md5(salt || id)`` as a
    non-negative long. DuckDB restates it as
    ``('0x' || substr(md5(salt || CAST(id AS VARCHAR)), 1, 15))::BIGINT``
    — keep the two forms in lockstep; the cross-engine oracles
    (q66/q67/q167/q169) depend on bit-identical values."""
    return F.conv(F.substring(_hash_key(id_col, salt), 1, 15), 16, 10).cast("long")


def hash_sample(
    df: DataFrame, id_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by id hash — deterministic,
    stateless, map-only. ``salt`` decorrelates independent draws (two
    samples with different salts overlap proportionally, same salt →
    identical sample)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    # First 15 hex digits → 60 bits, exact in a long; threshold compare.
    bucket = F.conv(F.substring(_hash_key(id_col, salt), 1, 15), 16, 10).cast("long")
    return df.filter(bucket < F.lit(int(fraction * (16**15))))


def hash_sample_by(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum fraction sampling — the deterministic analogue of
    ``DataFrame.sampleBy``, for mixing recipes stated as rates ("keep
    40% of en, 100% of de, drop the rest"). Same map-only id-hash
    filter as :func:`hash_sample`, with the threshold chosen per stratum
    via one CASE expression; strata absent from ``fractions`` get
    ``default``. A row kept at fraction f stays kept at any f' > f
    (nested samples — raising a rate only ADDS documents)."""
    for k, v in fractions.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"fraction for {k!r} must be in [0, 1], got {v}")
    bucket = F.conv(F.substring(_hash_key(id_col, salt), 1, 15), 16, 10).cast("long")
    thr = F.lit(int(default * (16**15)))
    for k, v in fractions.items():
        thr = F.when(F.col(strata_col) == F.lit(k), F.lit(int(v * (16**15)))).otherwise(
            thr
        )
    return df.filter(bucket < thr)


def temperature_mix(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    temperature: float = 0.7,
    target_fraction: float = 0.5,
    salt: str = "",
) -> DataFrame:
    """Temperature-weighted source mixing (the standard pretraining
    recipe: sample source s proportionally to ``count(s)^T``, T<1
    up-weighting small sources). Computes per-stratum keep-rates from the
    observed counts so the OVERALL kept fraction ≈ ``target_fraction``,
    then applies them with the deterministic per-stratum id-hash filter
    (:func:`hash_sample_by` — map-only, reproducible, nested).

    One count aggregation (tiny result: one row per stratum collected to
    the driver) + one map-only filter; no data-sized shuffle."""
    if not 0.0 < temperature <= 1.0:
        raise ValueError(f"temperature must be in (0, 1], got {temperature}")
    counts = {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(strata_col).alias("s")).agg(F.count("*").alias("n")).collect()
    }
    total = sum(counts.values())
    if total == 0:
        return df
    weights = {s: n**temperature for s, n in counts.items()}
    wsum = sum(weights.values())
    budget = target_fraction * total
    # rate_s = budget · w_s / (Σw) / n_s, capped at 1 (a small source may
    # be fully kept; the shortfall is accepted rather than re-normalized
    # so rates stay monotone in target_fraction — nested-sample property)
    fractions = {
        s: min(1.0, budget * weights[s] / wsum / counts[s]) for s in counts
    }
    return hash_sample_by(df, id_col, strata_col, fractions, default=0.0, salt=salt)


def take_until_token_budget(
    df: DataFrame,
    budget: int,
    tokens_col: str,
    id_col: str,
    salt: str = "",
) -> DataFrame:
    """Deterministic corpus truncation to a global token budget: documents
    are taken in id-hash priority order until their cumulative token count
    would exceed ``budget`` (a doc is kept iff the budget covers every
    hash-earlier doc plus itself — exact, order-stable, retry-stable).

    The exact global cutoff needs a global running total, but NOT a
    single-partition window: this reuses the two-pass distributed prefix
    sum from sequence packing (range-partition on the hash order,
    per-partition totals — one tiny #partitions-row aggregate — then
    within-partition windows offset by the earlier partitions' totals).
    No single-reducer stage at any corpus size. For approximate cutoffs,
    :func:`hash_sample` with fraction ≈ budget/total_tokens is the
    shuffle-free alternative."""
    from polars_dataset_spark.functions.packing import _global_prefix_sum

    if budget < 0:
        raise ValueError("budget must be >= 0")
    parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    d = df.withColumn("__key", _hash_key(id_col, salt)).withColumn(
        "__tok", F.col(tokens_col).cast("long")
    )
    out = _global_prefix_sum(d, "__tok", ["__key", id_col], max(parts, 1))
    return (
        out.filter(F.col("__cum") <= budget).drop("__cum", "__key", "__tok", "__pid")
    )


def stratified_sample(
    df: DataFrame,
    strata: list[str],
    quota: int,
    id_col: str,
    salt: str = "",
) -> DataFrame:
    """At most ``quota`` rows per stratum, selected in id-hash order —
    the deterministic version of capped data mixing ("≤ N documents per
    (lang, source)"). Selection is stable under row order, partitioning,
    and retries; changing ``salt`` rotates which rows are kept."""
    if quota < 1:
        raise ValueError("quota must be >= 1")
    w = Window.partitionBy(*map(_qcol, strata)).orderBy(
        _hash_key(id_col, salt), _qcol(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= quota)
        .drop("__rn")
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str,
    salt: str = "",
) -> DataFrame:
    """Weighted random sample WITHOUT replacement of ``k`` rows
    (Efraimidis–Spirakis A-Res): each row draws a deterministic uniform
    u from its id hash and gets key ``ln(u)/w``; the k LARGEST keys win,
    giving inclusion probability proportional to weight. Deterministic
    and engine-portable (md5-based u, same id → same draw every run on
    any topology), so even the sampled SET is oracle-checkable.

    Plans as TakeOrderedAndProject: per-partition heaps of k, then one
    k-merge — no full sort, no shuffle of non-winners. Rows with
    non-positive or null weight are excluded (polars/NumPy convention
    for weighted draws)."""
    if k < 1:
        raise ValueError("weighted_sample: k must be >= 1")
    u = (
        F.conv(F.substring(_hash_key(id_col, salt), 1, 15), 16, 10).cast("double")
        / float(16**15)
    )
    # u ∈ (0,1]: shift the zero case away to keep ln defined
    u = F.greatest(u, F.lit(1e-18))
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("__wkey", key)
        .orderBy(F.col("__wkey").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("__wkey")
    )


def cap_per_group(
    df: DataFrame,
    group_col: str = "source",
    n_max: int = 1000,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Per-group quota: keep at most ``n_max`` rows per ``group_col``
    value, selected DETERMINISTICALLY by the portable md5 order — the
    per-domain cap every web-scale corpus applies (a handful of giant
    domains otherwise dominate the token budget), reproducible across
    engines/runs/cluster sizes because the "random" choice is a pure
    function of (salt, id).

    One shuffle (the per-group window); groups under the cap pass
    through untouched. For SKEWED group cardinalities note the window
    partitions by group — a single monster group serializes into one
    task, which is exactly bounded by that group's size and still only
    materializes ``n_max`` survivors."""
    if n_max < 1:
        raise ValueError(f"n_max must be >= 1, got {n_max}")
    from pyspark.sql import Window

    h = portable_hash_long(id_col, salt)
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_max)
        .drop("__rn")
    )
