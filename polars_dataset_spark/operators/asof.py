"""As-of join (nearest-key join): polars ``join_asof`` parity.

The reference reaches ``join_asof`` through its full-API delegation
(``/root/reference/polars_dataset.py:61-78``): for each left row, take the
right row with the greatest key ≤ left key (``backward``) or smallest key ≥
left key (``forward``), optionally within ``by`` groups and a ``tolerance``.

Spark has no built-in as-of join. This is the union-sort realization — NOT
a range join:

1. left and right rows are tagged and unioned, aligned on (by, key);
2. one window ``partitionBy(by).orderBy(key, side)`` carries each right
   row's payload to following left rows via ``last(..., ignorenulls=True)``
   (right sorts before left at equal keys, so matches are inclusive);
   ``nearest`` carries both directions — two in-partition sorts over the
   SAME single exchange — and picks the closer match per row (ties go
   backward, same rule as the broadcast path's searchsorted);
3. filter back to left rows; ``tolerance`` nulls out too-distant matches.

Cost profile: one shuffle of |L|+|R| rows keyed by ``by`` plus a sorted
window scan — linear, no candidate explosion, both sides may be arbitrarily
large (the pathological case for the naive range-join formulation). With no
``by`` the window is global (single-partition sort) — inherent to an
ungrouped as-of; prefer passing ``by`` at scale.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_dataset_spark.core import Dataset, _qcol, _redot, _undot

__all__ = ["join_asof"]

# right sides up to this many rows are collected and broadcast; larger
# ones take the union-sort path (the bound on the driver-side collect)
_BROADCAST_LIMIT = 1_000_000


def _numeric_key(df: DataFrame, name: str):
    """Order-preserving double key: timestamps/dates become epoch seconds
    (so ``tolerance`` is in seconds for time keys), numerics cast plainly."""
    import pyspark.sql.types as T

    dt = df.schema[name].dataType
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return F.unix_micros(_qcol(name).cast("timestamp")) / F.lit(1e6)
    return _qcol(name).cast("double")


def join_asof(
    left,
    right,
    on: str,
    by=None,
    strategy: str = "backward",
    tolerance: float | None = None,
    right_on: str | None = None,
    suffix: str = "_right",
) -> "Dataset | DataFrame":
    """As-of join ``left`` with ``right`` on key ``on`` (``right_on`` if the
    right key is named differently), per ``by`` group, ``backward``,
    ``forward`` or ``nearest``, optionally within ``tolerance`` (in key
    units; timestamps compare as epoch seconds).

    The physical path follows the right side's size, probed by a bounded
    collect (``limit(_BROADCAST_LIMIT + 1)``):

    - it fits: collect + broadcast the RIGHT side and answer each left
      row by binary search (``np.searchsorted``) inside ``mapInPandas``
      — MAP-ONLY: no shuffle, no sort, left side any size. An as-of right
      side is almost always reference data or a pre-aggregation, so at
      100 TB this keeps the common case map-only, and it is the only
      path that avoids a single-partition global sort when ``by`` is
      empty;
    - it does not: the union-sort realization described above — both
      sides arbitrarily large, one shuffle on ``by``. With no ``by`` this
      is a single-partition global sort over |L|+|R| rows.
    """
    if strategy not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"strategy must be 'backward', 'forward' or 'nearest', got {strategy!r}"
        )
    rp = _collect_right(right, on, by, right_on)
    if rp is not None:
        return _join_asof_broadcast(
            left, right, rp, on, by=by, strategy=strategy, tolerance=tolerance,
            right_on=right_on, suffix=suffix,
        )
    was_dataset = isinstance(left, Dataset)
    ldf = left.df if isinstance(left, Dataset) else left
    rdf = right.df if isinstance(right, Dataset) else right
    r_on = right_on or on
    by = [by] if isinstance(by, str) else list(by or [])

    payload = [c for c in rdf.columns if c != r_on and c not in by]
    renames = {c: (f"{c}{suffix}" if c in ldf.columns else c) for c in payload}
    lcols = ldf.columns

    l_sel = ldf.select(
        F.lit(1).alias("__side"),
        _numeric_key(ldf, on).alias("__key"),
        *map(_qcol, lcols),
        F.lit(None).cast("double").alias("__rkey"),
        *[F.lit(None).cast(rdf.schema[c].dataType).alias(renames[c]) for c in payload],
    )
    r_sel = rdf.select(
        F.lit(0).alias("__side"),
        _numeric_key(rdf, r_on).alias("__key"),
        *[
            (_qcol(c) if c in by else F.lit(None).cast(ldf.schema[c].dataType)).alias(c)
            for c in lcols
        ],
        _numeric_key(rdf, r_on).alias("__rkey"),
        *[_qcol(c).alias(renames[c]) for c in payload],
    )
    unioned = l_sel.unionByName(r_sel)

    # ``nearest`` carries BOTH directions over the SAME partitioning —
    # one exchange, two in-partition window sorts — then picks per row
    # whichever match is closer (ties go backward, matching the
    # broadcast path's searchsorted tie rule).
    base = Window.partitionBy(*map(_qcol, by))
    wb = base.orderBy(F.col("__key").asc(), F.col("__side").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wf = base.orderBy(F.col("__key").desc(), F.col("__side").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )

    def _carry(w, tag):
        cols = [F.last("__rkey", ignorenulls=True).over(w).alias(f"__{tag}key")]
        cols += [
            F.last(_qcol(renames[c]), ignorenulls=True).over(w).alias(f"__{tag}_{renames[c]}")
            for c in payload
        ]
        return cols

    sel = ["__side", "__key", *map(_qcol, lcols)]
    if strategy in ("backward", "nearest"):
        sel += _carry(wb, "b")
    if strategy in ("forward", "nearest"):
        sel += _carry(wf, "f")
    carried = unioned.select(*sel)
    out = carried.filter(F.col("__side") == 1)

    if strategy == "backward":
        mkey = F.col("__bkey")
        mpay = {c: _qcol(f"__b_{renames[c]}") for c in payload}
    elif strategy == "forward":
        mkey = F.col("__fkey")
        mpay = {c: _qcol(f"__f_{renames[c]}") for c in payload}
    else:
        bkey, fkey = F.col("__bkey"), F.col("__fkey")
        use_b = bkey.isNotNull() & (
            fkey.isNull()
            | (F.abs(F.col("__key") - bkey) <= F.abs(F.col("__key") - fkey))
        )
        mkey = F.when(use_b, bkey).otherwise(fkey)
        mpay = {
            c: F.when(use_b, _qcol(f"__b_{renames[c]}")).otherwise(
                _qcol(f"__f_{renames[c]}")
            )
            for c in payload
        }

    matched = mkey.isNotNull()
    if tolerance is not None:
        matched = matched & (F.abs(F.col("__key") - mkey) <= F.lit(float(tolerance)))
    out = out.select(
        *map(_qcol, lcols),
        *[F.when(matched, mpay[c]).alias(renames[c]) for c in payload],
    )
    if was_dataset:
        return left._rewrap(out)
    return out


def _collect_right(right, on: str, by, right_on: str | None):
    """Bounded collect of the as-of right side: select only (by, key,
    payload), take ``_BROADCAST_LIMIT + 1`` rows, sort driver-side.
    Returns the sorted pandas frame, or ``None`` when the right side
    exceeds the limit. The limit is applied BEFORE any ordering so the
    probe never pays a global sort."""
    rdf = right.df if isinstance(right, Dataset) else right
    r_on = right_on or on
    by = [by] if isinstance(by, str) else list(by or [])
    payload = [c for c in rdf.columns if c != r_on and c not in by]
    rp = (
        rdf.select(*map(_qcol, by), _numeric_key(rdf, r_on).alias("__k"), *map(_qcol, payload))
        .limit(_BROADCAST_LIMIT + 1)
        .toPandas()
    )
    if len(rp) > _BROADCAST_LIMIT:
        return None
    return rp.sort_values([*by, "__k"], ignore_index=True, kind="mergesort")


def _join_asof_broadcast(
    left,
    right,
    rp,
    on: str,
    by=None,
    strategy: str = "backward",
    tolerance: float | None = None,
    right_on: str | None = None,
    suffix: str = "_right",
):
    """Broadcast binary-search as-of join (see :func:`join_asof`) of
    ``left`` against ``rp``, the right side collected by
    :func:`_collect_right`."""
    from pyspark.sql import types as T

    was_dataset = isinstance(left, Dataset)
    ldf = left.df if isinstance(left, Dataset) else left
    rdf = right.df if isinstance(right, Dataset) else right
    r_on = right_on or on
    by = [by] if isinstance(by, str) else list(by or [])
    payload = [c for c in rdf.columns if c != r_on and c not in by]
    renames = {c: (f"{c}{suffix}" if c in ldf.columns else c) for c in payload}

    # NB: not getActiveSession() — that is thread-local and None when the
    # caller runs in a worker thread (e.g. a concurrent benchmark driver)
    spark = ldf.sparkSession
    # per-by-group sorted key arrays + aligned payload arrays
    groups: dict = {}
    if by:
        for key_vals, g in rp.groupby(by, sort=False):
            k = key_vals if isinstance(key_vals, tuple) else (key_vals,)
            groups[k] = (g["__k"].to_numpy(np.float64), {c: g[c].to_numpy() for c in payload})
    else:
        groups[()] = (rp["__k"].to_numpy(np.float64), {c: rp[c].to_numpy() for c in payload})
    b_groups = spark.sparkContext.broadcast(groups)

    out_fields = list(ldf.schema.fields) + [
        T.StructField(renames[c], rdf.schema[c].dataType, True) for c in payload
    ]
    out_schema = T.StructType(
        [T.StructField(_undot(f.name), f.dataType, f.nullable) for f in out_fields]
    )

    # mapInPandas gets dot-free names, restored on its output
    keyed = ldf.withColumn("__k", _numeric_key(ldf, on))
    keyed = keyed.toDF(*map(_undot, keyed.columns))

    # batch-vectorised searchsorted per key group, not per row (map_rows does not fit)
    lookup = functools.partial(
        _asof_lookup, b_groups, by, payload, renames, strategy, tolerance
    )
    result = keyed.mapInPandas(lookup, schema=out_schema)
    result = result.toDF(*map(_redot, result.columns))
    if was_dataset:
        return left._rewrap(result)
    return result


def _asof_pick(keys, kq_rows, strategy, tolerance):
    """Matched right-index per query key + validity mask, per strategy
    (nearest = closer of the backward/forward candidates, ties backward)."""
    if strategy == "backward":
        il = np.searchsorted(keys, kq_rows, side="right") - 1
        valid = il >= 0
    elif strategy == "forward":
        il = np.searchsorted(keys, kq_rows, side="left")
        valid = il < keys.size
    else:
        ib = np.searchsorted(keys, kq_rows, side="right") - 1
        ifw = np.searchsorted(keys, kq_rows, side="left")
        vb, vf = ib >= 0, ifw < keys.size
        db = np.where(vb, np.abs(kq_rows - keys[np.clip(ib, 0, keys.size - 1)]), np.inf)
        dfw = np.where(vf, np.abs(keys[np.clip(ifw, 0, keys.size - 1)] - kq_rows), np.inf)
        il = np.where(db <= dfw, ib, ifw)
        valid = vb | vf
    if tolerance is not None:
        matched = keys[np.clip(il, 0, keys.size - 1)]
        valid = valid & (np.abs(kq_rows - matched) <= tolerance)
    return np.clip(il, 0, keys.size - 1), valid


def _asof_lookup(b_groups, by, payload, renames, strategy, tolerance, batches):
    """Left batches with the matched right payload attached, per key group
    of each batch."""
    grp = b_groups.value
    for pdf in batches:
        pdf = pdf.reset_index(drop=True)
        pdf.columns = [_redot(c) for c in pdf.columns]
        out = pdf.copy()
        kq = pdf["__k"].to_numpy(np.float64)
        n = len(pdf)
        for c in payload:
            out[renames[c]] = np.full(n, None, dtype=object)
        row_groups = (
            pdf.groupby(by, sort=False).indices.items() if by else [((), np.arange(n))]
        )
        for key_vals, rows_pos in row_groups:
            k = key_vals if isinstance(key_vals, tuple) else (key_vals,)
            if k not in grp or grp[k][0].size == 0:
                continue
            keys, pay = grp[k]
            il, valid = _asof_pick(keys, kq[rows_pos], strategy, tolerance)
            for c in payload:
                col = out[renames[c]].to_numpy()
                col[rows_pos[valid]] = pay[c][il[valid]]
                out[renames[c]] = col
        out = out.drop(columns=["__k"])
        out.columns = [_undot(c) for c in out.columns]
        yield out
