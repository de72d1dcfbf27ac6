"""Struct flatten / rebuild round-trip, and :func:`map_traces`, the one
per-trace grouped map that every trace-wise kernel runs through.

Reference parity: ``_unnest_structs`` flattens every struct column to
prefixed scalars ``"{name}.{field}"`` recording a schema map, and
``_rebuild_structs`` reassembles them (``/root/reference/polars_dataset.py:
240-253`` and ``:255-263``). Both are pure projections here — Catalyst
collapses them with adjacent selects, so the round-trip costs nothing at
plan level.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_dataset_spark.core import _qcol, _qname, _redot, _undot

__all__ = ["unnest_structs", "rebuild_structs", "map_traces"]


def map_traces(ds, kernel, out_fields, index: str | None = None):
    """Run ``kernel`` on every trace of the Dataset ``ds`` in one grouped
    Arrow pass: ``groupBy(*id_vars).applyInPandas``, or ``groupBy()`` when
    the whole frame is one trace.

    ``kernel`` takes one trace as a pandas frame sorted by the index: the
    index, then every other non-id column, structs flattened to
    ``"{struct}.{field}"``. It returns its output columns as a mapping or a
    frame, or ``None`` for no rows. ``out_fields`` maps the trace's fields
    (the same columns, as ``StructField``s) to the kernel's output fields.

    The result holds the trace's id values, repeated, then the kernel's
    columns; structs whose fields all come back are rebuilt. It is a
    Dataset indexed by ``index`` (default: ``ds``'s index)."""
    from polars_dataset_spark.core import Dataset

    flat, schema_map = unnest_structs(ds.df)
    ids = list(ds.id_vars)
    fields = [flat.schema[ds.index]] + [
        f for f in flat.schema.fields if f.name not in ids and f.name != ds.index
    ]
    out = list(out_fields(fields))
    # a module function bound with partial goes to the workers by reference,
    # so they import the package (as rowmap.map_rows' runner does)
    run = functools.partial(
        _run_trace, kernel, ids, [f.name for f in fields], [f.name for f in out]
    )
    # applyInPandas gets dot-free names, which its runner restores
    result = flat.toDF(*map(_undot, flat.columns)).groupBy(*map(_undot, ids))
    result = result.applyInPandas(
        run, schema=T.StructType([flat.schema[c] for c in ids] + out)
    )
    return Dataset(rebuild_structs(result, schema_map), index=index or ds.index, id_vars=ids)


def _run_trace(kernel, ids, names, out_names, pdf):
    pdf.columns = [_redot(c) for c in pdf.columns]
    trace = pdf[names].sort_values(names[0], ignore_index=True)
    out = pd.DataFrame(kernel(trace), columns=out_names)
    for i, k in enumerate(ids):
        out.insert(i, k, pdf[k].iloc[0])
    return out


def unnest_structs(df: DataFrame) -> tuple[DataFrame, dict[str, list[str]]]:
    """Flatten all struct columns to ``"{name}.{field}"`` scalar columns.

    Returns the flattened frame and a ``{struct_name: [field, ...]}`` map
    for :func:`rebuild_structs`.
    """
    return _flatten(df, ())


def _flatten(df: DataFrame, names) -> tuple[DataFrame, dict[str, list[str]]]:
    """:func:`unnest_structs` of the structs in ``names`` (all when empty)."""
    schema_map: dict[str, list[str]] = {}
    cols = []
    for field in df.schema.fields:
        if isinstance(field.dataType, T.StructType) and (not names or field.name in names):
            subfields = [f.name for f in field.dataType.fields]
            schema_map[field.name] = subfields
            for sub in subfields:
                cols.append(
                    F.col(f"{_qname(field.name)}.{_qname(sub)}").alias(f"{field.name}.{sub}")
                )
        else:
            cols.append(_qcol(field.name))
    return df.select(*cols), schema_map


def rebuild_structs(df: DataFrame, schema_map: dict[str, list[str]]) -> DataFrame:
    """Re-nest previously flattened ``"{name}.{field}"`` columns, restoring
    original field names and column positions. A struct some of whose
    fields are missing stays flat."""
    out_cols = []
    seen: set[str] = set()
    cols = set(df.columns)
    for c in df.columns:
        if "." in c:
            name = c.split(".", 1)[0]
            if name in schema_map and all(f"{name}.{f}" in cols for f in schema_map[name]):
                if name not in seen:
                    seen.add(name)
                    out_cols.append(
                        F.struct(
                            *[_qcol(f"{name}.{f}").alias(f) for f in schema_map[name]]
                        ).alias(name)
                    )
                continue
        out_cols.append(_qcol(c))
    return df.select(*out_cols)
