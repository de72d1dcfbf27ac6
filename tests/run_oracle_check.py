"""Local stand-in for the driver's t2 correctness gate: run every
``queries()`` entry at sf0.01 and compare with its DuckDB oracle —
row count, column names, and order-insensitive values (columns sorted by
name, rows sorted by all columns). Rows-only entries just execute and
count. Exit code 0 = all green.

Usage: python tests/run_oracle_check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from polars_dataset_spark.session import get_spark
from polars_dataset_spark.sources.tables import TABLES
import __spark_entry__ as entrymod


def _canon_val(v) -> str:
    """Driver-faithful stringification: no numeric coercion, no rounding.

    ``1`` (bigint) and ``1.0`` (double) canonicalise DIFFERENTLY on
    purpose — the driver's value hash stringifies, so a DuckDB HUGEINT
    materialised as float64 must FAIL here too (the q25 round-1/2 bug
    class).  No list/ndarray handling ON PURPOSE: the driver's
    canonicalizer crashes on nested cells (the q166 r5 red), so nested
    output columns must fail HERE too — see ``_nested_cols`` pre-flight.
    """
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if v != v else str(v)
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def _nested_cols(sdf) -> list[str]:
    """Output columns the driver's canonicalizer cannot hash
    (array/map/struct) — a guaranteed driver-red even with right values."""
    return [
        f.name
        for f in sdf.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        pdf[c] = pdf[c].map(_canon_val)
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    if problems:
        return problems
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    for c in s.columns:
        sv, dv = s[c], d[c]
        bad = sv != dv
        if bad.any():
            i = bad.idxmax()
            problems.append(
                f"value mismatch col={c} ({int(bad.sum())} rows), first at idx {i}: "
                f"spark={sv[i]!r} duck={dv[i]!r}"
            )
    return problems


def main() -> int:
    import json
    import os

    args = sys.argv[1:]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            print("usage: run_oracle_check.py [sf_dir] [--json PATH] [query ...]")
            return 2
        json_path = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    results: "dict[str, dict]" = {}
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        # driver fixtures are single files; the off-scale fixtures
        # (/tmp/sf1, /tmp/sf10) are Spark-written DIRECTORIES of part
        # files — DuckDB needs the glob form for those
        path = f"{sf_dir}/{t}.parquet"
        pat = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{pat}'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            nested = _nested_cols(sdf)
            if nested:
                failures.append(name)
                print(
                    f"FAIL  {name}: nested output columns {nested} — the "
                    "driver canonicalizer cannot hash these (q166 r5 class)"
                )
                continue
            spark_pdf = sdf.toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            results[name] = {"match": False, "err": f"spark error: {exc}"}
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"ok    {name}: rows-only ({len(spark_pdf)} rows)")
            if len(spark_pdf) == 0:
                print(f"WARN  {name}: zero rows")
            results[name] = {"rows_only": True, "spark_rows": len(spark_pdf), "err": None}
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            results[name] = {"match": False, "err": f"duckdb error: {exc}"}
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        results[name] = {
            "match": not problems,
            "spark_rows": len(spark_pdf),
            "oracle_rows": len(duck_pdf),
            "problems": problems or None,
        }
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            print(f"ok    {name}: {len(spark_pdf)} rows match oracle")
    # smoke: entry()
    if not only:
        res = entrymod.entry(spark)
        n = res.count()
        print(f"entry(): {n} rows, schema: {[f.name for f in res.schema.fields]}")
        if n <= 0:
            failures.append("entry")
    spark.stop()
    if json_path:
        with open(json_path, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(results),
                    "n_failures": len(failures),
                    "failures": failures,
                    "queries": results,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
    print(("ALL GREEN" if not failures else f"FAILURES: {failures}"))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
