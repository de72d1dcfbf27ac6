"""Per-trace Fourier transform.

The reference advertises "fourier transform" (``/root/reference/README.md:3``,
``/root/reference/pyproject.toml:4``) but ships no implementation anywhere —
this realizes the advertised capability (SURVEY §2.2 H5): a real FFT of each
value column over each trace's (uniform) index, emitted as one row per
non-negative frequency with amplitude / real / imaginary components.

Requires a uniform index (regrid first for jittered sweeps); spacing is
taken from the per-trace median step and the output frequency column is in
cycles per index-unit. Runs through ``map_traces`` — the same one
``groupBy(id_vars).applyInPandas`` pass as regrid.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from polars_dataset_spark.core import Dataset
from polars_dataset_spark.kernels import lomb_scargle_power, rfft_trace
from polars_dataset_spark.operators.structs import map_traces

__all__ = ["fourier_transform", "lomb_scargle"]


def fourier_transform(ds: Dataset, value_vars=None, freq_name: str = "frequency") -> Dataset:
    """rFFT of each value column per trace. Output columns per value var
    ``v``: ``{v}_re``, ``{v}_im``, ``{v}_abs``."""
    index, vv = ds.index, list(value_vars or ())

    def fields(trace_fields):
        names = vv or [f.name for f in trace_fields[1:]]
        parts = [f"{v}{p}" for v in names for p in ("_re", "_im", "_abs")]
        return [T.StructField(c, T.DoubleType()) for c in [freq_name, *parts]]

    def kernel(trace: pd.DataFrame):
        cols = vv or trace.columns[1:]
        got = rfft_trace(
            trace[index].to_numpy(dtype=np.float64),
            [trace[c].to_numpy(dtype=np.float64) for c in cols],
        )
        if got is None:
            return None
        freqs, spectra = got
        out = {freq_name: freqs}
        for c, spec in zip(cols, spectra):
            out[f"{c}_re"], out[f"{c}_im"], out[f"{c}_abs"] = spec.real, spec.imag, np.abs(spec)
        return out

    return map_traces(ds, kernel, fields, index=freq_name)


def lomb_scargle(
    ds: Dataset,
    freqs,
    value_vars=None,
    freq_name: str = "frequency",
) -> Dataset:
    """Per-trace Lomb–Scargle normalized periodogram at the given
    ordinary frequencies (cycles per index unit) — the spectral analysis
    that works DIRECTLY on uneven/jittered sweeps, where
    :func:`fourier_transform` needs a regrid first. Output: one row per
    (trace, frequency) with ``{v}_power`` per value var.

    Same single-shuffle grouped-map profile as regrid/fourier: one
    ``map_traces`` pass, the vectorised O(n·m) trig kernel
    (``kernels.lomb_scargle_power``) inside, the frequency grid captured in
    the kernel's closure and shipped with the task. Traces are physically
    bounded sweeps, so per-group memory is n·m doubles at most."""
    fgrid = np.asarray(list(freqs), dtype=np.float64)
    index, vv = ds.index, list(value_vars or ())

    def fields(trace_fields):
        names = vv or [f.name for f in trace_fields[1:]]
        powers = [f"{v}_power" for v in names]
        return [T.StructField(c, T.DoubleType()) for c in [freq_name, *powers]]

    def kernel(trace: pd.DataFrame):
        xs = trace[index].to_numpy(dtype=np.float64)
        if xs.size < 2:
            return None
        out = {freq_name: fgrid}
        for c in vv or trace.columns[1:]:
            out[f"{c}_power"] = lomb_scargle_power(xs, trace[c].to_numpy(dtype=np.float64), fgrid)
        return out

    return map_traces(ds, kernel, fields, index=freq_name)
