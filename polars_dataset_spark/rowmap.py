"""One per-row map over Arrow batches for the engine's Python row kernels.

Decoders, parsers, probes and hashes turn one row's values into output
columns. :func:`map_rows` owns everything around such a kernel: the batch
loop, column extraction, the output frame and its typed columns, and the
transport. The transport is ``mapInPandas``: on this per-row bytes shape
``mapInArrow`` showed no gain (200k rows on 4 cores, minima over 6
alternating reps: 0.974 s for ``mapInArrow``, 0.956 s for ``mapInPandas``).

The batch runner is this module's :func:`_run` bound with
``functools.partial``, so cloudpickle sends it by reference: every Python
worker that runs a row kernel imports the package (and with it
``worker_zipimport``). The few batch loops this helper does not fit bind
a module function the same way.
"""

from __future__ import annotations

import functools
from itertools import repeat

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = ["map_rows"]

# nullable pandas dtypes for typed output columns; other types go as objects
_DTYPES = {
    T.IntegerType: "Int32",
    T.LongType: "Int64",
    T.DoubleType: "Float64",
    T.BooleanType: "boolean",
}


def map_rows(
    df: DataFrame,
    in_cols: "list[str | None]",
    fn,
    out_fields: "list[T.StructField]",
    explode: bool = False,
    drop: "tuple[str, ...] | list[str]" = (),
) -> DataFrame:
    """Map each row of ``df`` through ``fn`` in one map-only Arrow pass.

    ``fn`` takes the row's ``in_cols`` values in order (``None`` for an
    ``in_cols`` entry that is ``None``: an optional column the caller does
    not have) and returns one output row: a tuple in ``out_fields`` order,
    a dict keyed by field name (missing keys are null), or ``None`` for an
    all-null row. With ``explode=True`` it returns a list of output rows,
    and each input row is repeated once per element (zero times for an
    empty list). Null inputs reach ``fn`` as pandas holds them (``None``
    in binary, string and array columns): what a null means differs by
    kernel, so ``fn`` decides.

    The output columns are ``df``'s columns except ``drop``, then
    ``out_fields``."""
    keep = [f for f in df.schema.fields if f.name not in drop]
    run = functools.partial(
        _run, fn, list(in_cols), [f.name for f in keep], list(out_fields), explode
    )
    return df.mapInPandas(run, schema=T.StructType(keep + list(out_fields)))


def _run(fn, in_cols, keep, out_fields, explode, batches):
    names = [f.name for f in out_fields]
    for pdf in batches:
        args = zip(*(repeat(None, len(pdf)) if c is None else pdf[c] for c in in_cols))
        if explode:
            rows, idx = [], []
            for i, vals in enumerate(args):
                got = fn(*vals)
                rows.extend(got)
                idx.extend([i] * len(got))
            out = pdf.iloc[idx][keep].reset_index(drop=True)
        else:
            rows = [fn(*vals) for vals in args]
            out = pdf[keep].reset_index(drop=True)
        cells = [
            (None,) * len(names)
            if r is None
            else tuple(r.get(n) for n in names)
            if isinstance(r, dict)
            else r
            for r in rows
        ]
        cols = list(zip(*cells)) if cells else [()] * len(names)
        for f, col in zip(out_fields, cols):
            dtype = _DTYPES.get(type(f.dataType))
            out[f.name] = pd.array(list(col), dtype=dtype) if dtype else list(col)
        yield out
