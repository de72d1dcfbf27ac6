"""Similarity search over an embedding column (SURVEY §2.4).

Two tiers:

- :func:`cosine_topk` — exact brute-force top-k: probes × corpus join with
  a JVM-side dot product (``zip_with`` + ``aggregate``) and a per-probe
  ``row_number`` window. The correctness baseline. Cost |P|·|C| — fine when
  either side is small enough to broadcast, which Catalyst/AQE does
  automatically under the threshold (explicit ``broadcast()`` applied to
  the probe side).
- :func:`lsh_bucketed_topk` — the scale path: random-hyperplane buckets
  (same signature family as
  :func:`polars_dataset_spark.functions.dedup.embedding_neardup`) with
  multi-probe (flip the ``probe_bits`` weakest bits) so each probe only
  scans its buckets. Approximate: recall grows with ``probe_bits`` and
  falls with ``planes``; exact re-ranking happens inside the candidate
  set. At 100 TB the bucket join shuffles |C| + |P|·(probes) rows instead
  of |P|·|C|.

  Recall depends on how clustered the embeddings are: hyperplane LSH
  exploits angular structure, so on *uniform random* vectors (no structure
  — the worst case, and what the synthetic test fixture contains) recall
  ≈ fraction of space probed; on real embedding clusters the same settings
  recover most true neighbors. Defaults (``planes=8``, ``probe_bits=3``)
  probe 93/256 buckets ≈ 36% of the space for a ~3× candidate-scan saving;
  raise ``planes`` when the corpus is strongly clustered.
"""

from __future__ import annotations

import functools
import itertools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "cosine_topk",
    "lsh_bucketed_topk",
    "cosine_pairs_block",
    "ivf_topk",
    "semantic_dedup",
]


# Dense-subtract argmin is only used when the centroid set is tiny; above
# this, the matmul identity + tiling path takes over. The split keeps the
# small-k computation bitwise identical to what a SQL oracle restates
# (sum over (x_i - c_i)^2 terms) while bounding memory for large k.
_DENSE_K_MAX = 64
_ROW_CHUNK = 2048
_CENT_CHUNK = 4096
# Above this cell count a flat driver-trained quantizer stops making sense
# (train sample can't cover k, and the centroid matrix is better handled
# hierarchically) — switch to the two-level coarse->sub quantizer.
_FLAT_CELLS_MAX = 4096


def _argmin_cells(mat: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """argmin_j ||x_i - c_j||^2, ties to the LOWEST cell id.

    k <= _DENSE_K_MAX: exact dense subtract form (bitwise-faithful to the
    per-term SQL restatement oracle fixtures replay). Larger k: the matmul
    identity ||x||^2 - 2 x.C^T + ||c||^2 evaluated in row x centroid TILES,
    so peak memory is O(_ROW_CHUNK * _CENT_CHUNK) floats regardless of k —
    never the batch x k x d dense cube."""
    if len(centers) <= _DENSE_K_MAX:
        d = ((mat[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        return d.argmin(axis=1).astype(np.int32)
    cn = (centers**2).sum(axis=1)
    n = len(mat)
    out = np.empty(n, dtype=np.int32)
    for r0 in range(0, n, _ROW_CHUNK):
        rows = mat[r0 : r0 + _ROW_CHUNK]
        best_d = np.full(len(rows), np.inf)
        best_i = np.zeros(len(rows), dtype=np.int32)
        for c0 in range(0, len(centers), _CENT_CHUNK):
            cs = centers[c0 : c0 + _CENT_CHUNK]
            # ||x||^2 is constant per row — omit it; argmin is unchanged
            d = cn[c0 : c0 + _CENT_CHUNK][None, :] - 2.0 * (rows @ cs.T)
            i = d.argmin(axis=1)
            dv = d[np.arange(len(rows)), i]
            upd = dv < best_d  # strict: ties keep the earlier (lower) chunk
            best_d[upd] = dv[upd]
            best_i[upd] = (i + c0)[upd].astype(np.int32)
        out[r0 : r0 + _ROW_CHUNK] = best_i
    return out


def _top_cells(mat: np.ndarray, centers: np.ndarray, n: int) -> np.ndarray:
    """Per row: the n nearest centroid ids, ascending distance, ties to the
    lower cell id (stable). Tiled like :func:`_argmin_cells` — running
    top-n merge per centroid chunk keeps memory off the full batch x k."""
    n = min(n, len(centers))
    if len(centers) <= _DENSE_K_MAX:
        d = ((mat[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        return np.argsort(d, axis=1, kind="stable")[:, :n].astype(np.int32)
    cn = (centers**2).sum(axis=1)
    outs = []
    for r0 in range(0, len(mat), _ROW_CHUNK):
        rows = mat[r0 : r0 + _ROW_CHUNK]
        best_d = np.full((len(rows), 0), np.inf)
        best_i = np.zeros((len(rows), 0), dtype=np.int32)
        for c0 in range(0, len(centers), _CENT_CHUNK):
            cs = centers[c0 : c0 + _CENT_CHUNK]
            d = cn[c0 : c0 + _CENT_CHUNK][None, :] - 2.0 * (rows @ cs.T)
            ids = np.arange(c0, c0 + len(cs), dtype=np.int32)
            cat_d = np.concatenate([best_d, d], axis=1)
            cat_i = np.concatenate(
                [best_i, np.broadcast_to(ids, (len(rows), len(cs)))], axis=1
            )
            # lexsort (id, distance): ascending distance, ties -> lower id.
            # Sorting the merged set keeps ids ordered across chunks too.
            order = np.lexsort((cat_i, cat_d), axis=-1)[:, :n]
            r = np.arange(len(rows))[:, None]
            best_d, best_i = cat_d[r, order], cat_i[r, order]
        outs.append(best_i)
    return np.concatenate(outs, axis=0)


def _lloyd_kmeans(x: np.ndarray, k: int, seed: int, iters: int = 12) -> np.ndarray:
    """Plain numpy Lloyd's iterations (k-means++-lite init: distinct random
    picks) — all a COARSE quantizer needs. Deterministic given the seed.
    The assignment step is the tiled matmul argmin, so memory is bounded
    by the tile size, never sample x k x d."""
    rng = np.random.RandomState(seed)
    k = min(k, len(x))
    x = np.ascontiguousarray(x, dtype=np.float64)
    centers = x[rng.choice(len(x), size=k, replace=False)].astype(np.float64)
    for _ in range(iters):
        assign = _argmin_cells(x, centers)
        # vectorized per-cluster means (no python loop over k)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        sums = np.zeros_like(centers)
        np.add.at(sums, assign, x)
        nonempty = counts > 0
        centers[nonempty] = sums[nonempty] / counts[nonempty, None]
    return centers


class _Quantizer:
    """Coarse quantizer shipped to executors via ``sparkContext.broadcast``
    (never closure capture — one torrent copy per executor, not one pickle
    per task).

    Flat (``subs is None``): cell = argmin over ``coarse`` (k1 = n_cells).
    Two-level: cell = coarse_idx * k2 + sub_idx — nearest coarse centroid
    first, then nearest of that cell's k2 sub-centroids. Per-row assignment
    cost is O((k1 + k2) * d) instead of O(n_cells * d), and per-batch
    memory stays tile-bounded at any cell count."""

    __slots__ = ("coarse", "subs", "k2")

    def __init__(self, coarse: np.ndarray, subs: np.ndarray | None = None):
        self.coarse = np.ascontiguousarray(coarse, dtype=np.float64)
        self.subs = None if subs is None else np.ascontiguousarray(subs, dtype=np.float64)
        self.k2 = 1 if subs is None else self.subs.shape[1]

    @property
    def n_cells(self) -> int:
        return len(self.coarse) * self.k2

    def assign(self, mat: np.ndarray) -> np.ndarray:
        mat = np.ascontiguousarray(mat, dtype=np.float64)
        c1 = _argmin_cells(mat, self.coarse)
        if self.subs is None:
            return c1
        out = np.empty(len(mat), dtype=np.int32)
        for c in np.unique(c1):
            rows = np.nonzero(c1 == c)[0]
            sub = _argmin_cells(mat[rows], self.subs[c])
            out[rows] = c * self.k2 + sub
        return out

    def top_cells(self, mat: np.ndarray, n: int) -> np.ndarray:
        """n nearest cells per row (multi-probe). Two-level: the row's OWN
        hierarchical cell always probes first (so a probe co-located with a
        corpus vector is guaranteed to scan that vector's cell), then the
        best remaining sub-centroids of the ceil(n / k2) + 1 nearest coarse
        cells by true distance. Fully vectorized per row-block (batched
        gather + one broadcast distance + one batched lexsort) with the
        block size tiled so the (rows, a·k2, d) cube stays bounded."""
        mat = np.ascontiguousarray(mat, dtype=np.float64)
        if self.subs is None:
            return _top_cells(mat, self.coarse, n)
        n = min(n, self.n_cells)
        own = self.assign(mat)
        a = min(len(self.coarse), -(-n // self.k2) + 1)
        c1 = _top_cells(mat, self.coarse, a)  # batch x a
        d = self.subs.shape[2]
        rows_per_block = max(1, (4 << 20) // max(a * self.k2 * d, 1))
        out = np.empty((len(mat), n), dtype=np.int32)
        for r0 in range(0, len(mat), rows_per_block):
            r1 = min(r0 + rows_per_block, len(mat))
            blk = c1[r0:r1]  # rows x a
            cand = (
                blk[:, :, None] * self.k2 + np.arange(self.k2, dtype=np.int32)
            ).reshape(r1 - r0, a * self.k2)
            cents = self.subs[blk].reshape(r1 - r0, a * self.k2, d)
            dist = ((cents - mat[r0:r1, None, :]) ** 2).sum(axis=2)
            order = np.lexsort((cand, dist), axis=-1)
            ranked = np.take_along_axis(cand, order, axis=-1)
            o = own[r0:r1]
            out[r0:r1, 0] = o
            # drop the own cell from the ranked list, keep the next n-1
            keep = ranked != o[:, None]
            for j in range(r1 - r0):  # ragged compaction only; O(rows) cheap
                out[r0 + j, 1:] = ranked[j][keep[j]][: n - 1]
        return out


def _train_quantizer(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    seed: int,
    train_cap: int,
    n_rows: int | None = None,
) -> "_Quantizer":
    """Train the coarse quantizer with bounded DRIVER cost at any n_cells.

    n_cells <= _FLAT_CELLS_MAX: flat — Lloyd's on a sample of
    max(train_cap, 16 * n_cells) vectors (the sample SCALES with k; with
    the 4096-cell flat ceiling it never silently caps k below the ask).

    Larger n_cells: TWO-LEVEL — k1 = ceil(sqrt(n_cells)) coarse cells
    trained on the driver sample, then each coarse cell's k2 sub-centroids
    trained DISTRIBUTED via ``applyInPandas`` over a deterministic hash
    sample of that cell's actual members (so the train data volume per
    task is bounded and the heavy lifting never lands on the driver).
    Driver/broadcast footprint is the centroid table itself,
    n_cells x dim x 8 bytes — e.g. 51 MB at n_cells=1e5, d=64; raise
    ``target_cell_size`` past ~1e6 cells.

    Null vectors are ignored for training (callers decide their output
    semantics); pass ``n_rows`` (non-null count) when the caller already
    counted, to avoid a second full scan on the two-level path."""
    from pyspark.sql import types as T

    df = df.filter(F.col(vec_col).isNotNull())
    if n_cells <= _FLAT_CELLS_MAX:
        cap = max(train_cap, 16 * n_cells)
        sample = df.select(F.col(vec_col)).limit(cap).toPandas()
        if sample.empty:
            return None
        x = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
        return _Quantizer(_lloyd_kmeans(x, n_cells, seed))

    k1 = int(np.ceil(np.sqrt(n_cells)))
    k2 = -(-n_cells // k1)
    cap = max(train_cap, 16 * k1)
    sample = df.select(F.col(vec_col)).limit(cap).toPandas()
    if sample.empty:
        return None
    x = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
    coarse = _lloyd_kmeans(x, k1, seed)
    k1 = len(coarse)  # corpus smaller than k1: degrade gracefully
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(coarse)

    # deterministic hash sample: ~64 training vectors per FINAL cell in
    # expectation, bounded per coarse cell at train time
    n = df.count() if n_rows is None else n_rows
    want = min(n, n_cells * 64)
    denom = 1_000_000
    thresh = min(denom, int(denom * want / max(n, 1)))
    sampled = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")).filter(
        F.pmod(F.xxhash64(F.col("__id"), F.lit(seed)), F.lit(denom)) < F.lit(thresh)
    )

    dim = coarse.shape[1]
    per_cell_cap = k2 * 256

    # batch-vectorised, not per row (map_rows does not fit): one argmin per batch
    assigned = sampled.mapInPandas(
        functools.partial(_assign_coarse, bc),
        schema=T.StructType(
            [
                T.StructField("__c1", T.IntegerType()),
                T.StructField("__v", df.schema[vec_col].dataType),
            ]
        ),
    )

    def train_cell(key, pdf):
        m = np.stack(pdf["__v"].to_numpy()).astype(np.float64)[:per_cell_cap]
        cents = _lloyd_kmeans(m, k2, seed + 1 + int(key[0]))
        if len(cents) < k2:
            # tiny cell: pad with FAR sentinels, never duplicates — duplicate
            # centroids create exact-tie argmins whose winner flips with
            # BLAS batch-shape rounding, so identical vectors in different
            # Arrow batches could land in different (equivalent) cells
            pad = np.full((k2 - len(cents), cents.shape[1]), 1e30)
            cents = np.concatenate([cents, pad], axis=0)
        return pd.DataFrame(
            {
                "__c1": np.full(k2, key[0], dtype=np.int32),
                "__sub": np.arange(k2, dtype=np.int32),
                "__cent": list(cents),
            }
        )

    sub_rows = (
        assigned.groupBy("__c1")
        .applyInPandas(
            train_cell,
            schema=T.StructType(
                [
                    T.StructField("__c1", T.IntegerType()),
                    T.StructField("__sub", T.IntegerType()),
                    T.StructField("__cent", T.ArrayType(T.DoubleType())),
                ]
            ),
        )
        .collect()  # bounded: exactly k1*k2 = n_cells centroid rows
    )
    # empty coarse cells: slot 0 degrades to the coarse centroid itself,
    # the rest are non-winning sentinels (see train_cell's tie note)
    subs = np.full((k1, k2, dim), 1e30)
    subs[:, 0, :] = coarse
    for r in sub_rows:
        subs[r["__c1"], r["__sub"]] = np.asarray(r["__cent"], dtype=np.float64)[:dim]
    return _Quantizer(coarse, subs)


def _cell_udfs(spark, quant: "_Quantizer"):
    """(cell_of, near_cells_factory) pandas UDFs over a BROADCAST quantizer.
    The closure holds only the broadcast handle; executors fetch one
    torrent copy of the centroid table, and each Arrow batch is assigned
    with the tiled argmin — memory stays bounded per batch at any k."""
    from pyspark.sql import types as T

    bc = spark.sparkContext.broadcast(quant)

    @F.pandas_udf(T.IntegerType())
    def cell_of(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        return pd.Series(bc.value.assign(mat))

    def near_cells_udf(n_probe: int):
        @F.pandas_udf(T.ArrayType(T.IntegerType()))
        def near_cells(vecs: pd.Series) -> pd.Series:
            mat = np.stack(vecs.to_numpy()).astype(np.float64)
            return pd.Series(list(bc.value.top_cells(mat, n_probe)))

        return near_cells

    return cell_of, near_cells_udf


def ivf_topk(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    probe_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    train_cap: int = 65_536,
    centroids=None,
) -> DataFrame:
    """IVF (inverted-file) approximate cosine top-k — the clustered-corpus
    scale path beside :func:`lsh_bucketed_topk`.

    1. TRAIN a coarse quantizer on a BOUNDED SAMPLE (≤ ``train_cap``
       vectors collected via ``limit``): ``n_cells`` centroids from plain
       numpy Lloyd's iterations. This is the FAISS-style design — a coarse
       quantizer's quality saturates at a modest sample, so the train step
       is O(train_cap·n_cells·dim) on the driver regardless of corpus
       size, and the distributed plan stays pure DataFrame ops.
    2. ASSIGN each corpus vector to its nearest centroid (map-only
       Arrow-batched argmin — no ML-pipeline stage in the hot path).
    3. PROBE: each query searches only its ``n_probe`` nearest cells, then
       exact cosine re-ranks inside the candidate set.

    Scan fraction ≈ n_probe/n_cells (on clustered data the true neighbors
    concentrate in the probed cells; on uniform data recall ≈ the scan
    fraction — same caveat as hyperplane LSH). The cell assignment join is
    an equi-join on cell id: shuffle ∝ |C| + |P|·n_probe. The quantizer is
    shipped via ``sparkContext.broadcast`` and assignment is tile-bounded
    (see :class:`_Quantizer`), so per-batch memory stays flat at any
    ``n_cells``; past ``_FLAT_CELLS_MAX`` the quantizer goes two-level with
    distributed sub-training.
    """
    # null vectors can neither probe nor be found — drop them up front so
    # no Arrow batch ever hands np.stack a None
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    probes = probes.filter(F.col(vec_col).isNotNull())
    if centroids is not None:
        # explicit coarse quantizer (pre-trained elsewhere, or fixed
        # vectors for reproducible/oracle-checkable assignment)
        quant = _Quantizer(np.asarray(centroids, dtype=np.float64))
    else:
        quant = _train_quantizer(corpus, corpus_id, vec_col, n_cells, seed, train_cap)
        if quant is None:  # empty corpus — no neighbors for anyone
            from pyspark.sql import types as T

            return corpus.sparkSession.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField("query_id", probes.schema[probe_id].dataType),
                        T.StructField("neighbor_id", corpus.schema[corpus_id].dataType),
                        T.StructField("cosine", T.DoubleType()),
                        T.StructField("rank", T.IntegerType()),
                    ]
                ),
            )
    cell_of, near_cells_udf = _cell_udfs(corpus.sparkSession, quant)
    near_cells = near_cells_udf(n_probe)

    c_assigned = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _norm(vec_col).alias("__cn"),
        cell_of(F.col(vec_col)).alias("cell"),
    )
    p = probes.select(
        F.col(probe_id).alias("query_id"),
        F.col(vec_col).alias("__pv"),
        _norm(vec_col).alias("__pn"),
        F.explode(near_cells(F.col(vec_col))).alias("cell"),
    )
    joined = p.join(c_assigned, on="cell").filter(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.withColumn(
        "cosine", F.round(_dot("__pv", "__cv") / (F.col("__pn") * F.col("__cn")), 6)
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# exact all-pairs tools refuse above this many candidate pairs — pairs as
# counted, n·(n−1)/2 — unless the caller passes allow_quadratic=True
# (10^10 pairs ~ n=141k rows: minutes of BLAS on a cluster, the upper
# edge of sane for an exact product)
_QUADRATIC_PAIR_LIMIT = 10**10


def _assign_coarse(bc, batches):
    """Each sampled vector's coarse cell (``bc``: broadcast centroids)."""
    for pdf in batches:
        m = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
        yield pd.DataFrame(
            {"__c1": _argmin_cells(m, bc.value).astype(np.int32), "__v": pdf["__v"]}
        )


def cosine_pairs_block(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_to: int = 6,
    max_broadcast_bytes: int = 512 << 20,
    allow_quadratic: bool = False,
) -> DataFrame:
    """All-pairs cosine ≥ threshold over one table — the BLOCK-MATRIX
    realization: a (normalized) corpus TILE is broadcast to every executor;
    each partition scores its own rows against the tile with a single numpy
    matmul inside ``mapInPandas`` and emits only surviving pairs
    (``id_a < id_b``); per-tile results are unioned.

    Versus the expression-based cross join this trades |C|² interpreted
    per-pair expressions for |C|²/cores fused BLAS flops — ~20× here.

    Scale: the corpus is split into ``ceil(n·dim·8 / max_broadcast_bytes)``
    hash tiles (``pmod(xxhash64(id), n_tiles)``); only one tile is ever
    collected/broadcast at a time, so the driver/executor footprint is
    bounded by ``max_broadcast_bytes`` regardless of corpus size. Every
    (i, j) pair is still scored exactly once: j's tile owns it, and the
    ``id_a < id_b`` filter dedups within a tile. The |C|²·dim flops are
    inherent to the exact all-pairs contract — for corpora where even that
    is too much, use
    :func:`polars_dataset_spark.functions.dedup.embedding_neardup` (LSH),
    which has no quadratic term at all.

    Guardrail: above ``_QUADRATIC_PAIR_LIMIT`` (10^10 candidate pairs
    n·(n−1)/2, n ≈ 141k rows) the call raises unless
    ``allow_quadratic=True`` — an
    API that silently goes quadratic would turn a 100 TB corpus into
    ~10^18 scored pairs; the error names the LSH alternative.
    """
    from pyspark.sql import types as T

    # df.sparkSession, not getActiveSession(): the latter is thread-local
    # and None when called from a worker thread
    spark = df.sparkSession
    slim = df.select(id_col, vec_col)
    n = slim.count()
    n_pairs = n * (n - 1) // 2
    if not allow_quadratic and n_pairs > _QUADRATIC_PAIR_LIMIT:
        raise ValueError(
            f"cosine_pairs_block: {n} rows -> {n_pairs:.2e} candidate pairs "
            f"exceeds the quadratic guardrail ({_QUADRATIC_PAIR_LIMIT:.0e}). "
            "This operator is EXACT all-pairs by declaration and scales as "
            "n^2; for large corpora use embedding_neardup (hyperplane LSH, "
            "no quadratic term) or pass allow_quadratic=True if you truly "
            "want the full product."
        )
    dim = 0 if n == 0 else int(slim.select(F.size(vec_col).alias("d")).first()["d"])
    n_tiles = max(1, -(-(n * dim * 8) // max_broadcast_bytes))

    out_schema = T.StructType(
        [
            T.StructField("id_a", df.schema[id_col].dataType),
            T.StructField("id_b", df.schema[id_col].dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    if n == 0:
        return spark.createDataFrame([], out_schema)

    if n_tiles == 1:
        tile = slim.toPandas()
        mat = np.stack(tile[vec_col].to_numpy()).astype(np.float64)
        bc = spark.sparkContext.broadcast(
            (tile[id_col].to_numpy(), mat, np.linalg.norm(mat, axis=1))
        )
        # batch-vectorised, not per row (map_rows does not fit): one matmul per batch
        score = functools.partial(_score_tile, bc, id_col, vec_col, threshold, round_to)
        return slim.mapInPandas(score, schema=out_schema)

    # Tiled path, ONE distributed job (r13 — the previous realization
    # collected each tile to the driver SERIALLY and re-scanned the
    # corpus once per tile): a block-matrix product via cogroup. Corpus
    # rows keep their hash tile t; probe rows keep a hash block p; each
    # side is replicated across the OTHER axis, so group (p, t) holds
    # probe block p and corpus tile t and scores them with one matmul.
    # Every ordered pair lands in exactly one group and the id_a < id_b
    # keep dedups, exactly as the broadcast form. Memory per task is
    # bounded by one block + one tile (block count >= tile count, so a
    # block is never larger than max_broadcast_bytes); the driver never
    # touches vector data. Shuffle cost: each side moves ~sqrt(#groups)
    # times — the block-matmul optimum for an inherently quadratic
    # product.
    n_blocks = max(n_tiles, -(-int(spark.sparkContext.defaultParallelism) // n_tiles))
    tile_of = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_tiles))
    block_of = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
    all_tiles = F.array(*[F.lit(t) for t in range(n_tiles)])
    all_blocks = F.array(*[F.lit(p) for p in range(n_blocks)])
    probes = slim.withColumn("__pb", block_of).withColumn(
        "__tile", F.explode(all_tiles)
    )
    corpus_rep = slim.withColumn("__tile", tile_of).withColumn(
        "__pb", F.explode(all_blocks)
    )

    def score_group(left_pdf, right_pdf):
        if len(left_pdf) == 0 or len(right_pdf) == 0:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "cosine": []},
                columns=["id_a", "id_b", "cosine"],
            )
        qids = left_pdf[id_col].to_numpy()
        q = np.stack(left_pdf[vec_col].to_numpy()).astype(np.float64)
        cids = right_pdf[id_col].to_numpy()
        cmat = np.stack(right_pdf[vec_col].to_numpy()).astype(np.float64)
        qn = np.linalg.norm(q, axis=1)
        cnorms = np.linalg.norm(cmat, axis=1)
        sims = (q @ cmat.T) / (qn[:, None] * cnorms[None, :])
        rows_i, rows_j = np.nonzero(sims >= threshold)
        keep = qids[rows_i] < cids[rows_j]  # dedup + drop self-pairs
        return pd.DataFrame(
            {
                "id_a": qids[rows_i[keep]],
                "id_b": cids[rows_j[keep]],
                "cosine": np.round(sims[rows_i[keep], rows_j[keep]], round_to),
            }
        )

    return (
        probes.groupBy("__pb", "__tile")
        .cogroup(corpus_rep.groupBy("__pb", "__tile"))
        .applyInPandas(score_group, schema=out_schema)
    )


def _score_tile(bc, id_col, vec_col, threshold, round_to, batches):
    """Pairs of each batch against one broadcast tile ``bc = (ids,
    matrix, norms)`` at cosine >= ``threshold``."""
    # dot/(|a||b|), matching the per-pair formula (and the SQL oracle)
    # more closely than pre-normalized rows would
    cids, cmat, cnorms = bc.value
    for pdf in batches:
        q = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        qn = np.linalg.norm(q, axis=1)
        sims = (q @ cmat.T) / (qn[:, None] * cnorms[None, :])
        qids = pdf[id_col].to_numpy()
        rows_i, rows_j = np.nonzero(sims >= threshold)
        keep = qids[rows_i] < cids[rows_j]  # dedup + drop self-pairs
        yield pd.DataFrame(
            {
                "id_a": qids[rows_i[keep]],
                "id_b": cids[rows_j[keep]],
                "cosine": np.round(sims[rows_i[keep], rows_j[keep]], round_to),
            }
        )


def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(col: str):
    return F.sqrt(
        F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_topk(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    probe_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of every probe against the corpus.

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k per probe,
    ties broken by neighbor id for determinism. Self-matches (same id) are
    excluded when probe and corpus ids share a namespace."""
    p = F.broadcast(
        probes.select(
            F.col(probe_id).alias("query_id"),
            F.col(vec_col).alias("__pv"),
            _norm(vec_col).alias("__pn"),
        )
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _norm(vec_col).alias("__cn"),
    )
    joined = p.crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.withColumn(
        "cosine", F.round(_dot("__pv", "__cv") / (F.col("__pn") * F.col("__cn")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_bucketed_topk(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    probe_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    probe_bits: int = 3,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k: corpus rows land in one hyperplane bucket;
    each probe multi-probes its own bucket plus every bucket within
    ``probe_bits`` bit flips. Candidates are exactly re-ranked.

    Output schema matches :func:`cosine_topk`; probes whose buckets hold
    fewer than k candidates return fewer rows (approximate contract)."""
    if dim is None:
        dim = int(corpus.select(F.size(vec_col).alias("d")).first()["d"])
    rng = np.random.RandomState(seed)
    hyper = rng.normal(size=(dim, planes)).astype(np.float64)
    flips = [0] + [
        int(sum(1 << b for b in combo))
        for r in range(1, probe_bits + 1)
        for combo in itertools.combinations(range(planes), r)
    ]

    @F.pandas_udf("long")
    def bucket_of(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())
        signs = (mat @ hyper) > 0
        weights = 1 << np.arange(planes, dtype=np.int64)
        return pd.Series(signs.astype(np.int64) @ weights)

    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _norm(vec_col).alias("__cn"),
        bucket_of(F.col(vec_col)).alias("bucket"),
    )
    p = probes.select(
        F.col(probe_id).alias("query_id"),
        F.col(vec_col).alias("__pv"),
        _norm(vec_col).alias("__pn"),
        bucket_of(F.col(vec_col)).alias("__b0"),
    ).withColumn(
        "bucket",
        F.explode(F.array(*[F.col("__b0").bitwiseXOR(F.lit(fl)) for fl in flips])),
    )
    joined = p.join(c, on="bucket").filter(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.withColumn(
        "cosine", F.round(_dot("__pv", "__cv") / (F.col("__pn") * F.col("__cn")), 6)
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_cells: int | None = None,
    target_cell_size: int = 1024,
    seed: int = 42,
    train_cap: int = 65_536,
    centroids=None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication" — public arXiv paper): cluster the
    corpus with a coarse quantizer, compare vectors PAIRWISE ONLY WITHIN
    their cluster, and drop every vector that has an earlier-id
    cluster-mate at cosine ≥ ``threshold``.

    The keep rule is the deterministic parallel one: a vector survives
    iff NO lower-id member of its cell is ≥ threshold-similar. Unlike the
    greedy sequential sweep this needs no iteration and restates as a
    single SQL EXISTS, so it is driver-oracle-checkable end to end; for
    the transitive keep-one-per-component policy compose the pair output
    with :func:`polars_dataset_spark.functions.graph.dedup_by_components`
    (the q64 path) instead.

    Scale shape (the paper's own design): the assignment is a map-only
    Arrow-batched argmin against ≤ ``n_cells`` broadcast centroids; the
    pairwise stage is ONE equi-join on cell id, cost Σ|cell|²·dim. The
    cell count MUST grow with the corpus or that term goes quadratic
    (the upward off-scale sweep measured ×13.9 at 10× data with a fixed
    cell count), so the default ``n_cells=None`` derives it as
    ``max(16, ⌈n / target_cell_size⌉)`` from one bounded ``count()`` —
    ~``target_cell_size`` vectors per cell whatever the corpus, exactly
    the knob the paper tunes (k in the tens of thousands at web scale).
    Pass ``n_cells`` explicitly to pin it. Returns every input row as
    ``(id_col, cell, kept)``.

    Like :func:`ivf_topk`, pass explicit ``centroids`` for a reproducible
    quantizer (fixture/oracle use); omit it for the sampled-KMeans
    quantizer. Past ``_FLAT_CELLS_MAX`` cells the quantizer is two-level
    (driver-trained coarse, DISTRIBUTED per-cell sub-training) and every
    assignment runs tile-bounded against a ``sparkContext.broadcast``
    centroid table — no driver dense sample×k×d pass, no closure-captured
    centroid matrix, no silent k cap (the train sample scales with k and
    the sub-quantizers train on actual cell members).
    """
    import math

    # null vectors cannot be near-duplicates of anything: route them
    # around the quantizer (np.stack would raise) and emit them
    # (cell=null, kept=true) at the end
    nulls = df.filter(F.col(vec_col).isNull()).select(
        F.col(id_col),
        F.lit(None).cast("int").alias("cell"),
        F.lit(True).alias("kept"),
    )
    df = df.filter(F.col(vec_col).isNotNull())
    n_nonnull: int | None = None
    if centroids is not None:
        quant = _Quantizer(np.asarray(centroids, dtype=np.float64))
    else:
        if n_cells is None:
            n_nonnull = df.count()
            n_cells = max(16, math.ceil(n_nonnull / target_cell_size))
        quant = _train_quantizer(
            df, id_col, vec_col, n_cells, seed, train_cap, n_rows=n_nonnull
        )
        if quant is None:  # empty corpus — nothing to train on, nothing to dedup
            return nulls
    cell_of, _ = _cell_udfs(df.sparkSession, quant)

    assigned = df.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        _norm(vec_col).alias("__n"),
        cell_of(F.col(vec_col)).alias("cell"),
    )
    # `assigned` is referenced THREE times (both sides of the within-cell
    # pair join + the final keep join): without a lineage cut the scan,
    # norm and the Arrow-batched centroid argmin all run once per
    # reference. Non-eager localCheckpoint computes the assignment once
    # (same precedent as connected_components/pagerank).
    from polars_dataset_spark.session import pin

    assigned = pin(assigned)
    a = assigned.select(
        F.col(id_col).alias("__ida"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"), "cell",
    )
    b = assigned.select(
        F.col(id_col).alias("__idb"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"), "cell",
    )
    dropped = (
        a.join(b, on="cell")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(
            F.round(_dot("__va", "__vb") / (F.col("__na") * F.col("__nb")), 6)
            >= F.lit(threshold)
        )
        .select(F.col("__idb").alias(id_col))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        assigned.join(dropped, on=id_col, how="left")
        .select(
            id_col,
            "cell",
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
        )
        .unionByName(nulls)
    )
