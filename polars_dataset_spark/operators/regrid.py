"""Regrid — the flagship operator: per-trace spline interpolation of every
value column onto a common coordinate grid.

Reference parity (``/root/reference/polars_dataset.py:212-238`` plus helper
``_apply_spline`` ``:204-210``):

- every value column of every trace (one ``id_vars`` combination) is
  interpolated onto the user-supplied grid;
- struct columns are unnested before and rebuilt after;
- if the grid's name is an ``id_var``, the roles of that id_var and the
  index are swapped first (interpolate across the parameter dimension);
- groups are processed independently (reference ``map_groups``
  ``:225-229``).

Spark-first realization: :func:`~polars_dataset_spark.operators.structs.map_traces`,
the one per-trace grouped map (``groupBy(*id_vars).applyInPandas``) — groups
are hash-shuffled to executors once, handed to Python workers as Arrow
batches, the numpy kernel (:mod:`polars_dataset_spark.kernels`) runs per
group, and Arrow carries results back. The grid is a small numpy array
captured in the kernel's closure (shipped with the task, never a join).
Output schema is declared up front from the input schema: id_vars keep
their types, index and value columns become double.

Scale: one shuffle keyed by id_vars; skewed trace sizes are bounded by
physics (one sweep), so groups are small and uniform — the ideal
applyInPandas workload. At 100 TB ≈ 10^9 traces this parallelizes to any
executor count with no driver involvement.

``interpolate_frame`` is the PCHIP variant (historical reference op,
``/root/reference/build/lib/polars_dataset.py:304-328``): monotone
interpolation, single-point groups passed through untouched.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from polars_dataset_spark.core import Dataset
from polars_dataset_spark.kernels import interp_trace
from polars_dataset_spark.operators.structs import map_traces

__all__ = ["regrid", "interpolate_frame"]


def _grid_array(x) -> tuple[np.ndarray, str | None]:
    """Normalize a grid input (list / numpy / pandas Series) to
    (float64 array, optional name)."""
    name = None
    if isinstance(x, pd.Series):
        name = x.name
        x = x.to_numpy()
    return np.asarray(x, dtype=np.float64), name


def regrid(
    ds: Dataset,
    x,
    name: str | None = None,
    method: str = "cubic",
    bc_type: str = "not-a-knot",
    value_vars: Sequence[str] | None = None,
) -> Dataset:
    """Interpolate every value column of every trace onto the grid ``x``.

    ``x``: list / numpy array / pandas Series of grid points. ``name``
    (or ``x.name`` for a Series) selects the coordinate: the current index
    by default; naming an id_var swaps that id_var with the index first
    (reference role-swap, ``/root/reference/polars_dataset.py:219-223``).

    One hash shuffle on ``id_vars``, then an Arrow batch per trace;
    parallelism = trace cardinality (see ``Dataset._trace_window`` for
    the per-trace parallelism contract and the ``partition_hint()``
    recipe for chains of per-trace ops).
    """
    return _interpolate(ds, x, name, method, bc_type, value_vars)


def interpolate_frame(
    ds: Dataset,
    x,
    name: str | None = None,
) -> Dataset:
    """Monotone (PCHIP) per-trace interpolation — historical reference op
    ``interpolate_frame`` (``/root/reference/build/lib/polars_dataset.py:
    304-328``). ``name`` selects the coordinate as in :func:`regrid`.
    Single-point groups pass through unchanged (reference ``:316-317``),
    so the output grid is only guaranteed for groups with ≥2 samples."""
    return _interpolate(ds, x, name, "pchip", keep_single=True)


def _interpolate(ds, x, name, method, bc_type="not-a-knot", value_vars=None, keep_single=False):
    """Regrid and interpolate_frame: the coordinate, then one kernel per
    trace; ``keep_single`` passes one-sample traces through."""
    grid, grid_name = _grid_array(x)
    name = name or grid_name or ds.index
    if name in ds.id_vars:
        # role swap: interpolate across the parameter dimension
        new_ids = [c if c != name else ds.index for c in ds.id_vars]
        ds = ds.set(index=name, id_vars=new_ids)
    elif name != ds.index:
        raise ValueError(f"grid name {name!r} is neither the index nor an id_var")
    index, vv = ds.index, list(value_vars or ())

    def fields(trace_fields):
        names = vv or [f.name for f in trace_fields[1:]]
        return [T.StructField(c, T.DoubleType()) for c in [index, *names]]

    def kernel(trace: pd.DataFrame):
        if keep_single and len(trace) < 2:
            return trace.astype(np.float64)
        xs = trace[index].to_numpy(dtype=np.float64)
        out = {index: grid}
        for c in vv or trace.columns[1:]:
            ys = trace[c].to_numpy(dtype=np.float64)
            out[c] = interp_trace(xs, ys, grid, method=method, bc_type=bc_type)
        return out

    return map_traces(ds, kernel, fields)
