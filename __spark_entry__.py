"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in :mod:`polars_dataset_spark.suite`; every entry is
an operator from SURVEY.md §2 expressed through the package's public API.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# make the package importable regardless of the caller's cwd
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from polars_dataset_spark import suite  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The star join through the Dataset API: broadcast dimension chain over
    the fact table, revenue per region."""
    return suite.flagship(spark, "/root/testdata/sf0.001")


# The driver scores the FIRST 50 entries of queries().  Rotation policy
# (VERDICT r05 items 2+4): every round the window spends (a) its first
# rows on queries a past round scored RED without a later green, then
# (b) never-driver-checked queries (new additions), then (c) a standing
# RE-CHECK budget — previously-green queries, oldest-checked first — so
# no query's driver row goes stale indefinitely.  New-query
# additions per round must leave >= 10 window rows for group (c); with
# 199 green rows and ~40 re-check slots/round the full suite re-verifies
# every ~5 rounds.


def _qnum(name: str) -> int:
    return int(name.split("_")[0][1:])


def _driver_history() -> "tuple[set[str], set[str], dict[str, int]]":
    """Scan past driver correctness artifacts (CORRECTNESS_r*.json beside
    this file): returns (ever_failed_without_later_green, ever_green,
    last_checked_round). Used to rotate the driver's 50-query scoring
    window automatically — failed queries re-enter first, never-checked
    next, then green queries oldest-driver-row-first — so no
    hand-maintained priority list can go stale."""
    import glob
    import json
    import re

    failed: set[str] = set()
    green: set[str] = set()
    last_round: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            ok = (
                row.get("rows_match") is not False
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
                and row.get("err") in (None, "")
            )
            (green if ok else failed).add(name)
            last_round[name] = max(last_round.get(name, 0), rnd)
    # a later green clears an earlier failure; a later failure re-flags
    # (keep it simple: any recorded failure without a LATER green is
    # approximated by set difference — failures that were subsequently
    # fixed and re-scored green drop out)
    return failed - green, green, last_round


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, ordered so
    the driver's 50-query correctness window scores the queries that
    most need a driver row: (1) queries a past round scored RED with no
    later green, (2) queries with no driver row ever (newest additions
    included automatically), (3) the standing re-check rotation of green
    queries, oldest driver row first — so every row is eventually
    re-verified without hand edits."""
    all_q = dict(suite.QUERIES)
    failed, green, last_round = _driver_history()

    def key(n: str):
        if n in failed:
            tier = 0
        elif n not in green:
            tier = 1
        else:
            tier = 2
        return (tier, last_round.get(n, 0), _qnum(n))

    return {n: all_q[n] for n in sorted(all_q, key=key)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twins for EVERY query (no rows-only
    entries) — including the LSH family (seeded hyperplanes / seeded
    minhash lanes replayed as literals), regrid (on-knot identity), FFT
    (O(n²) SQL DFT), simhash (md5-bit construction), IVF
    (fixed-centroid variant), and the off-knot spline pair q76/q77
    (contract oracles: knot-exact endpoint values, grid span, bin/knot
    counts, Nyquist frequency, DC/Nyquist realness, FFT-vs-direct-sum —
    with off-knot numerics additionally pinned by pytest/hypothesis)."""
    return dict(suite.ORACLES)
