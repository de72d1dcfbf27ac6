"""Lock-in autophase: rotate (X, Y) quadrature signals so the quadrature
channel's energy is minimized.

Reference parity: historical ``autophase`` fits a global phase φ minimizing
``Σ (X·sinφ + Y·cosφ)²`` with ``lmfit`` least-squares and rotates (X, Y) by
φ (``/root/reference/build/lib/polars_dataset.py:331-360``);
``zero_quadrature`` applies it to a 2-field struct and keeps the in-phase
component (``:363-382``).

Spark-first realization: the minimizer has a CLOSED FORM in the second
moments —

    f(φ) = sin²φ·ΣX² + 2 sinφ cosφ·ΣXY + cos²φ·ΣY²
    df/dφ = 0  ⇒  tan 2φ = −2ΣXY / (ΣX² − ΣY²)

so one distributed aggregate (3 sums → a single driver row) replaces the
iterative fit, and the rotation is a plain column expression. No UDF, no
per-group Python, exact at any scale. Of the two stationary φ (π/2 apart)
the minimum is chosen by evaluating f.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from polars_dataset_spark.core import Dataset, _qcol

__all__ = ["autophase", "zero_quadrature", "fit_phase"]


def fit_phase(ds: Dataset, x_col: str, y_col: str) -> float:
    """The global phase φ minimizing Σ(X sinφ + Y cosφ)², closed form."""
    X, Y = _qcol(x_col), _qcol(y_col)
    row = ds.df.agg(
        F.sum(X * X).alias("sxx"),
        F.sum(Y * Y).alias("syy"),
        F.sum(X * Y).alias("sxy"),
    ).first()
    sxx, syy, sxy = row["sxx"] or 0.0, row["syy"] or 0.0, row["sxy"] or 0.0
    phi = 0.5 * math.atan2(-2.0 * sxy, sxx - syy)

    def objective(p: float) -> float:
        s, c = math.sin(p), math.cos(p)
        return s * s * sxx + 2 * s * c * sxy + c * c * syy

    alt = phi + math.pi / 2.0
    return phi if objective(phi) <= objective(alt) else alt


def autophase(ds: Dataset, x_col: str, y_col: str, phi: float | None = None) -> Dataset:
    """Rotate (X, Y) by the fitted (or given) phase:
    ``X' = X cosφ − Y sinφ``, ``Y' = X sinφ + Y cosφ`` — Y' carries the
    minimized quadrature residual."""
    if phi is None:
        phi = fit_phase(ds, x_col, y_col)
    s, c = math.sin(phi), math.cos(phi)
    X, Y = _qcol(x_col), _qcol(y_col)
    return ds.with_columns(
        **{
            x_col: (X * F.lit(c) - Y * F.lit(s)).alias(x_col),
            y_col: (X * F.lit(s) + Y * F.lit(c)).alias(y_col),
        }
    )


def zero_quadrature(ds: Dataset, struct_col: str, keep_name: str | None = None) -> Dataset:
    """Autophase a 2-field struct column (lock-in X/Y) and keep only the
    in-phase component (reference ``zero_quadrature``,
    ``/root/reference/build/lib/polars_dataset.py:363-382``)."""
    fields = [f.name for f in ds.schema[struct_col].dataType.fields]
    if len(fields) != 2:
        raise ValueError(f"{struct_col!r} must be a 2-field struct, has fields {fields}")
    fx, fy = fields
    flat = ds.with_columns(
        **{
            f"__{struct_col}_x": F.col(f"{struct_col}.{fx}"),
            f"__{struct_col}_y": F.col(f"{struct_col}.{fy}"),
        }
    )
    rotated = autophase(flat, f"__{struct_col}_x", f"__{struct_col}_y")
    keep = keep_name or struct_col
    out = rotated.with_columns(**{keep: F.col(f"__{struct_col}_x")})
    drop = [f"__{struct_col}_x", f"__{struct_col}_y"] + ([struct_col] if keep != struct_col else [])
    return out.drop([c for c in drop if c != keep])
