"""Distributed linear-model training and evaluation for corpus quality.

``with_model_quality`` (functions/text.py) scores documents with FIXED
logistic weights; the missing half of a production quality pipeline is
fitting those weights on YOUR labels and measuring how well any scorer
ranks them. Both are classic single-pass distributed algorithms:

- ``ridge_fit`` — closed-form ridge regression by normal equations.
  ONE ``mapInPandas`` pass reduces each partition to its Gram moments
  ``(n, AᵀA, Aᵀy, yᵀy)`` with ``A = [X | 1]`` — (d+1)² + (d+2) doubles
  per partition, NOTHING driver-side scales with the row count (the
  same shape as ``fit_pca``). The driver sums the partials and solves
  the (d+1)×(d+1) system ``(AᵀA + λI₀)w = Aᵀy`` (no penalty on the
  intercept). Training MSE, the intercept-only baseline MSE and the
  normal-equation residual all fall out of the same moments for free.
  No iterative solver, no shuffle at all — the exact optimum in one
  pass, which for ridge beats anything SGD-shaped at 100 TB.
- ``linear_score`` — map-only scoring: one Arrow-batched pandas UDF
  carrying ``(w, b)`` as a closure broadcast (optionally through a
  sigmoid for a probability-shaped score).
- ``binary_auc`` — EXACT ROC-AUC by the rank-sum (Mann–Whitney U)
  identity with average-rank tie handling. Scale shape: group by score
  (one shuffle, output ≤ #distinct scores), then the cumulative
  negative count per score group via the two-pass distributed prefix
  sum (``packing._global_prefix_sum`` — range partitions + per-
  partition offsets, NO single-partition global window), then one
  final aggregate. The pair numerator ``Σ_g pos_g·(2·neg_below_g +
  neg_g)`` stays INTEGER, so the result is bit-identical across
  engines and partitionings.

The reference has no model surface (this module belongs to the
training-data-pipeline extension scope, SURVEY §2.4).
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "RidgeModel",
    "ridge_fit",
    "linear_score",
    "binary_auc",
    "KMeansModel",
    "kmeans_fit",
    "groupwise_linear_trend",
]


class RidgeModel:
    """Closed-form fit artifacts: ``weights`` (d,), ``intercept``,
    ``lam``, row count ``n``, training ``mse``, intercept-only
    ``baseline_mse`` (= population variance of y), and ``grad_inf`` —
    the ∞-norm of the normal-equation residual ``Aᵀ(y − ŷ) − λ·[w;0]``
    scaled by 1/n (≈0 certifies the solve hit the ridge optimum)."""

    def __init__(self, weights, intercept, lam, n, mse, baseline_mse, grad_inf):
        self.weights = np.asarray(weights, dtype=np.float64)
        self.intercept = float(intercept)
        self.lam = float(lam)
        self.n = int(n)
        self.mse = float(mse)
        self.baseline_mse = float(baseline_mse)
        self.grad_inf = float(grad_inf)


def _gram_partials(df: DataFrame, feat_col: str, label_col: str) -> list:
    """Per-partition ``(n, Aᵀy, AᵀA, yᵀy)`` with ``A = [X | 1]``.
    Width is inferred inside the pass (no separate first() probe — the
    CollectLimit task-cancel races the Python-worker fork handshake,
    see projection._partial_moments)."""
    schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("b", T.ArrayType(T.DoubleType())),
            T.StructField("g", T.ArrayType(T.DoubleType())),
            T.StructField("yy", T.DoubleType()),
        ]
    )

    # one reduction per partition, not a per-row map (map_rows does not fit)
    return (
        df.select(F.col(feat_col).alias(feat_col), F.col(label_col).alias(label_col))
        .dropna()
        .mapInPandas(functools.partial(_gram_moments, feat_col, label_col), schema=schema)
        .collect()
    )


def _gram_moments(feat_col: str, label_col: str, batches):
    """One partition's ``(n, Aᵀy, AᵀA, yᵀy)``."""
    n, b, g, yy = 0, None, None, 0.0
    for pdf in batches:
        if not len(pdf):
            continue
        X = np.asarray(np.stack(pdf[feat_col].to_numpy()), dtype=np.float64)
        y = pdf[label_col].to_numpy(dtype=np.float64)
        A = np.hstack([X, np.ones((X.shape[0], 1))])
        if g is None:
            m = A.shape[1]
            b, g = np.zeros(m), np.zeros((m, m))
        n += A.shape[0]
        b += A.T @ y
        g += A.T @ A
        yy += float(y @ y)
    if n:
        yield pd.DataFrame(
            {"n": [n], "b": [b.tolist()], "g": [g.ravel().tolist()], "yy": [yy]}
        )


def ridge_fit(
    df: DataFrame,
    feature_col: str = "embedding",
    label_col: str = "label",
    lam: float = 1.0,
) -> RidgeModel:
    """Exact ridge regression over an ``array<float|double>`` feature
    column in one distributed pass (see module docstring for the scale
    shape). ``lam`` penalizes the weights only, never the intercept;
    ``lam=0`` is plain least squares (``lstsq`` fallback keeps a rank-
    deficient Gram solvable). Rows with a null feature array or label
    are ignored."""
    if lam < 0:
        raise ValueError("lam must be >= 0")
    rows = _gram_partials(df, feature_col, label_col)
    if not rows:
        raise ValueError(f"ridge_fit: no non-null rows in {feature_col!r}/{label_col!r}")
    m = len(rows[0]["b"])
    n, b, G, yy = 0, np.zeros(m), np.zeros((m, m)), 0.0
    for r in rows:
        n += r["n"]
        b += np.asarray(r["b"])
        G += np.asarray(r["g"]).reshape(m, m)
        yy += r["yy"]
    reg = np.eye(m) * lam
    reg[-1, -1] = 0.0  # intercept unpenalized
    try:
        w = np.linalg.solve(G + reg, b)
    except np.linalg.LinAlgError:
        w = np.linalg.lstsq(G + reg, b, rcond=None)[0]
    # training stats from the SAME moments — no second pass:
    #   SSE = yᵀy − 2wᵀb + wᵀGw;  baseline = var_pop(y)
    sse = yy - 2.0 * w @ b + w @ G @ w
    mean_y = b[-1] / n
    baseline = yy / n - mean_y * mean_y
    grad = b - G @ w - np.concatenate([lam * w[:-1], [0.0]])
    return RidgeModel(
        w[:-1], w[-1], lam, n, max(sse / n, 0.0), max(baseline, 0.0),
        float(np.abs(grad).max()) / n,
    )


def linear_score(
    df: DataFrame,
    model: RidgeModel,
    feature_col: str = "embedding",
    out_col: str = "score",
    sigmoid: bool = False,
) -> DataFrame:
    """Map-only scoring ``x·w + b`` (optionally ``σ(·)``) with the fitted
    coefficients as a closure broadcast. Null features score null."""
    w = model.weights.copy()
    b0 = model.intercept
    use_sig = bool(sigmoid)

    @F.pandas_udf(T.DoubleType())
    def score(vecs: pd.Series) -> pd.Series:
        out = np.full(len(vecs), np.nan)
        mask = vecs.notna()
        if mask.any():
            X = np.asarray(np.stack(vecs[mask].to_numpy()), dtype=np.float64)
            s = X @ w + b0
            if use_sig:
                s = 1.0 / (1.0 + np.exp(-s))
            out[mask.to_numpy()] = s
        return pd.Series(out)

    return df.withColumn(out_col, score(F.col(feature_col)))


def binary_auc(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "y",
    round_to: int = 6,
) -> DataFrame:
    """Exact ROC-AUC of ``score_col`` against a 0/1 ``label_col`` —
    one row ``(n_pos, n_neg, auc)``.

    Rank-sum identity with average-rank ties: over distinct scores
    ascending, each group g (pos_g positives, neg_g negatives,
    neg_below_g negatives strictly below) contributes
    ``pos_g·(neg_below_g + neg_g/2)`` ordered-correct pairs, so

        AUC = Σ_g pos_g·(2·neg_below_g + neg_g) / (2·P·N)

    with an all-integer numerator (engine- and partitioning-exact).
    ``auc`` is null when either class is absent. Plan shape: one
    groupBy-score shuffle, the two-pass distributed prefix sum for
    ``neg_below`` (no single-partition window), one final aggregate."""
    from polars_dataset_spark.functions.packing import _global_prefix_sum

    s = df.select(
        F.col(score_col).alias("__score"),
        F.col(label_col).cast("long").alias("__y"),
    ).dropna()
    g = s.groupBy("__score").agg(
        F.sum("__y").alias("__pos"),
        (F.count(F.lit(1)) - F.sum("__y")).alias("__neg"),
    )
    parts = df.sparkSession.sparkContext.defaultParallelism
    c = _global_prefix_sum(g, "__neg", "__score", max(parts, 1))
    # DECIMAL(38,0) keeps the pair numerator exact where BIGINT would
    # overflow: pos_g·(2·neg_below+neg_g) approaches 2·P·N ≈ 2e24 at
    # ~1e12 rows per class — far past 2^63 but well inside 38 digits.
    # Factors cast to decimal(38,0) DIRECTLY (not 19) so no single
    # score-group count can overflow the factor cast before the product;
    # the 2·cum arithmetic stays bigint-exact to ~4.6e18 negatives per
    # score prefix, then the wide cast takes over for the multiply.
    contrib2 = F.col("__pos").cast("decimal(38,0)") * (
        2 * (F.col("__cum") - F.col("__neg")) + F.col("__neg")
    ).cast("decimal(38,0)")
    agg = c.agg(
        F.coalesce(F.sum("__pos"), F.lit(0)).alias("n_pos"),
        F.coalesce(F.sum("__neg"), F.lit(0)).alias("n_neg"),
        F.sum(contrib2).alias("__num2"),
    )
    return agg.select(
        F.col("n_pos"),
        F.col("n_neg"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                F.col("__num2") / (2.0 * F.col("n_pos") * F.col("n_neg")), round_to
            ),
        ).alias("auc"),
    )


class KMeansModel:
    """Distributed Lloyd's fit artifacts: ``centroids`` (k×d),
    per-cell ``sizes`` (k,), ``inertia`` (Σ‖x − c_assigned‖² measured
    against the centroids each iteration STARTED from), and
    ``iters_run`` (< requested when the ``tol`` early-stop fired)."""

    def __init__(self, centroids, sizes, inertia, iters_run):
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.sizes = np.asarray(sizes, dtype=np.int64)
        self.inertia = float(inertia)
        self.iters_run = int(iters_run)


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 10,
    seed: int = 42,
    init_centroids=None,
    tol: float | None = 1e-6,
    train_cap: int = 65_536,
) -> KMeansModel:
    """Distributed Lloyd's k-means over an embedding column — the public
    face of the scalable quantizer training behind ``ivf_topk`` /
    ``semantic_dedup`` (clustering is itself a first-class pipeline op:
    corpus diversity audits, SemDeDup cell design, stratified curation).

    Scale shape, per iteration: assignment is a map-only Arrow-batched
    argmin against ``sparkContext.broadcast`` centroids (tile-bounded —
    :func:`similarity._argmin_cells` — so per-batch memory never sees
    batch×k×d), then ONE ``groupBy(cell)`` whose map-side combine reduces
    each partition to ≤ k moment rows; the driver sees exactly k rows of
    (count, Σx, Σ‖x−c‖²) per iteration — (d+2)·k doubles, NOTHING scaling
    with the row count. This is the mini-batch-free exact Lloyd's: at
    100 TB you pay ``iters`` scans, each embarrassingly parallel.

    ``init_centroids`` pins the start (reproducible/oracle runs); the
    default samples ``k`` distinct rows from a bounded ``limit`` sample.
    Rows with null vectors are ignored. Empty cells keep their previous
    centroid. Returns :class:`KMeansModel`.
    """
    from polars_dataset_spark.functions.similarity import _argmin_cells

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = df.sparkSession
    slim = df.select(F.col(vec_col).alias("__v")).filter(F.col("__v").isNotNull())
    if init_centroids is not None:
        centers = np.asarray(init_centroids, dtype=np.float64)
        k = len(centers)
    else:
        sample = slim.limit(train_cap).toPandas()
        if sample.empty:
            raise ValueError("kmeans_fit: no non-null vectors to fit on")
        x = np.stack(sample["__v"].to_numpy()).astype(np.float64)
        rng = np.random.RandomState(seed)
        k = min(k, len(x))
        centers = x[rng.choice(len(x), size=k, replace=False)].copy()
    d = centers.shape[1]

    out_t = T.StructType(
        [T.StructField("cell", T.IntegerType()), T.StructField("d2", T.DoubleType())]
    )
    sizes = np.zeros(k, dtype=np.int64)
    inertia = 0.0
    iters_run = 0
    for _ in range(max(1, iters)):
        bc = spark.sparkContext.broadcast(centers)

        @F.pandas_udf(out_t)
        def cell_d2(vecs: pd.Series) -> pd.DataFrame:
            mat = np.stack(vecs.to_numpy()).astype(np.float64)
            c = bc.value
            a = _argmin_cells(mat, c)
            return pd.DataFrame(
                {"cell": a, "d2": ((mat - c[a]) ** 2).sum(axis=1)}
            )

        moments = (
            slim.withColumn("__a", cell_d2(F.col("__v")))
            .groupBy(F.col("__a.cell").alias("cell"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("__a.d2").alias("ssd"),
                *[
                    F.sum(F.col("__v")[i].cast("double")).alias(f"s{i}")
                    for i in range(d)
                ],
            )
            .collect()  # bounded: ≤ k rows of (d+2) doubles
        )
        # the collect above finished the iteration's only job: release the
        # centroid broadcast now, or executors hold iters × k×d tables
        bc.unpersist(blocking=False)
        new = centers.copy()
        sizes[:] = 0
        inertia = 0.0
        for r in moments:
            c = r["cell"]
            sizes[c] = r["n"]
            inertia += r["ssd"]
            new[c] = np.array([r[f"s{i}"] for i in range(d)]) / r["n"]
        shift = float(np.abs(new - centers).max()) if len(moments) else 0.0
        centers = new
        iters_run += 1
        if tol is not None and shift < tol:
            break
    return KMeansModel(centers, sizes, inertia, iters_run)


def groupwise_linear_trend(
    df: DataFrame,
    group_cols: "list[str]",
    x_col: str,
    y_col: str,
    y_round: int = 6,
) -> DataFrame:
    """Per-group ordinary-least-squares trend line — thousands of tiny
    independent regressions in ONE aggregation pass (the grouped-model
    sibling of the global :func:`ridge_fit`): per group,
    ``slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`` and
    ``intercept = (Σy − slope·Σx)/n`` from closed-form sums.

    Determinism contract (what makes this oracle-able): ``x_col`` must
    be integer-valued (day index, step number, ...) and ``y`` is
    rounded to ``y_round`` decimals then accumulated as DECIMAL — so
    every sum is EXACT whatever the partitioning, and the final double
    arithmetic is a pure function of exact inputs. Degenerate groups
    (n < 2 or zero x-variance) get null slope/intercept.

    Shape: ONE map-side-combined aggregation keyed by the group — no
    windows, no joins, no driver state; 100-TB cost is the single
    group-keyed exchange of five decimals per group."""
    x = F.col(x_col).cast("decimal(18,0)")
    y = F.round(F.col(y_col), y_round).cast(f"decimal(24,{y_round})")
    agg = df.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(y).alias("sy"),
        F.sum((x.cast(f"decimal(12,0)") * y).cast(f"decimal(36,{y_round})")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    denom = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / denom
    intercept = (sy - slope * sx) / n
    ok = (F.col("n") >= 2) & (denom != 0.0)
    return agg.select(
        *group_cols,
        F.col("n").cast("long").alias("n"),
        F.when(ok, F.round(slope, 6)).alias("slope"),
        F.when(ok, F.round(intercept, 6)).alias("intercept"),
    )
