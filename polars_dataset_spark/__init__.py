"""polars_dataset_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of ``monochromatti/polars-dataset``.

The reference library (see ``/root/reference/polars_dataset.py``) wraps an
eager, single-node polars DataFrame with an ``index`` / ``id_vars`` data
model for experimental trace data (sweeps sampled over a shared coordinate)
and a flagship per-trace spline-regridding operator.

This package re-expresses that model Spark-first:

- :class:`~polars_dataset_spark.core.Dataset` — a lazy, distributed wrapper
  over :class:`pyspark.sql.DataFrame` carrying the same ``index``/``id_vars``
  metadata and call-time invariants (schema-only checks, no jobs).
- :mod:`~polars_dataset_spark.operators` — regrid / interpolate / fourier /
  autophase kernels as Arrow-batched grouped-map pandas UDFs.
- :mod:`~polars_dataset_spark.functions` — large-scale training-data
  pipeline operators: dedup (exact, MinHash-LSH, SimHash, n-gram Jaccard,
  embedding cosine), similarity search, text analysis, multimodal columns.
- :mod:`~polars_dataset_spark.sources` — Datafile scan/sink parity plus
  multi-file trace ingestion.
- :mod:`~polars_dataset_spark.streaming` — Structured Streaming versions of
  the windowed/event operators.

Everything relational stays declarative (Catalyst optimizes scans, pushes
filters, prunes columns and picks join strategies); Python kernels are
confined to the genuinely custom numerics.
"""

from polars_dataset_spark import worker_zipimport

worker_zipimport.install()  # no-op outside a PySpark worker

from polars_dataset_spark.core import Dataset  # noqa: E402
from polars_dataset_spark.sources.datafile import Datafile
from polars_dataset_spark.session import get_spark

__all__ = ["Dataset", "Datafile", "get_spark"]

__version__ = "0.1.0"
