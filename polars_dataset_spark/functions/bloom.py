"""Partitioned Bloom-filter membership — the frontier "have we seen
this URL?" test at crawl scale.

A crawl frontier asks set membership against billions of seen keys per
scheduling round. The exact answer is an anti-join — a full shuffle of
BOTH sides every round. The classic fix (Bloom 1970; used by every
production crawler since Mercator, Heydon & Najork 1999) is a bitmap
sketch with NO false negatives and a tunable false-positive rate: a
miss is definitely-new (safe to fetch), a hit is re-checked or simply
skipped (an FP drops one fetch — harmless at the documented rate).

The 100 TB shape here is a PARTITIONED Bloom filter: one bitmap per
key-space bucket (``bucket = xxhash64(key) % n_buckets``), built by one
hash-partitioned pass (each bucket's bitmap is a few MB of numpy bit
ops), stored as ordinary ``(bucket, bitmap)`` rows. 10 B keys at 1 %
FP is ~14 GB of bitmap — never a single driver-side object, never a
broadcast; the probe co-partitions candidates with their bucket's
bitmap via ONE hash join on the bucket id and tests bits in a map-only
Arrow pass. Bit positions are computed JVM-side with the SAME
``xxhash64(key, seed_i) % m`` expressions on both build and probe
paths, so build/probe can never drift.

No false negatives is structural (every member's bits were set in its
own bucket's bitmap); the FP rate follows the standard
``(1 - e^(-k·n/m))^k`` with m sized from the per-bucket count and the
target rate.

Reference envelope: `/root/reference/polars_dataset.py` has no crawl
surface; driver-mandated pipeline extension family (SURVEY §2.4),
composing with frontier_filter / schedule_frontier.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_dataset_spark.rowmap import map_rows

__all__ = ["BloomIndex", "bloom_build", "bloom_probe"]


@dataclass
class BloomIndex:
    """A built partitioned Bloom filter: ``bitmaps`` holds one row per
    key-space bucket — ``(bloom_bucket int, bitmap binary)`` — plus the
    hash geometry the probe side must reuse."""

    bitmaps: DataFrame
    n_buckets: int
    m_bits: int
    n_hashes: int


def _positions(key: Column, m_bits: int, n_hashes: int) -> Column:
    """k bit positions for a key — JVM-side, identical on build and
    probe: ``pmod(xxhash64(key, seed_i), m)``."""
    return F.array(
        *[
            F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits)).cast("long")
            for i in range(n_hashes)
        ]
    )


def bloom_build(
    df: DataFrame,
    key_col: str = "url",
    fp_rate: float = 0.01,
    n_buckets: int = 32,
    expected_n: "int | None" = None,
) -> BloomIndex:
    """Build the partitioned filter over ``df``'s keys. ``m`` is sized
    from the expected PER-BUCKET count (``expected_n / n_buckets``;
    ``expected_n`` defaults to one count job) and the target
    ``fp_rate`` via the standard ``m = -n·ln(p)/ln(2)²``, k =
    ``(m/n)·ln(2)`` clamped to [1, 16]; every bucket shares one
    geometry so the probe expressions are a fixed plan. One hash
    shuffle on the bucket id; each bucket's bitmap is one numpy pass."""
    if not 0.0 < fp_rate < 1.0:
        raise ValueError("fp_rate must be in (0, 1)")
    from polars_dataset_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    n = expected_n if expected_n is not None else df.count()
    n_per_bucket = max(1, math.ceil(n / n_buckets))
    m_bits = max(1024, math.ceil(-n_per_bucket * math.log(fp_rate) / (math.log(2) ** 2)))
    m_bits = ((m_bits + 63) // 64) * 64
    k = min(16, max(1, round(m_bits / n_per_bucket * math.log(2))))

    key = F.col(key_col)
    prepped = df.select(
        F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int").alias("bloom_bucket"),
        _positions(key, m_bits, k).alias("__pos"),
    )
    out_schema = T.StructType(
        [
            T.StructField("bloom_bucket", T.IntegerType()),
            T.StructField("bitmap", T.BinaryType()),
        ]
    )
    n_bytes = m_bits // 8

    def build_group(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(columns=["bloom_bucket", "bitmap"])
        bits = np.zeros(n_bytes, dtype=np.uint8)
        pos = np.concatenate([np.asarray(p, dtype=np.int64) for p in pdf["__pos"]])
        np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        return pd.DataFrame(
            [{"bloom_bucket": int(pdf["bloom_bucket"].iloc[0]),
              "bitmap": bits.tobytes()}]
        )

    bitmaps = prepped.groupBy("bloom_bucket").applyInPandas(
        build_group, schema=out_schema
    )
    return BloomIndex(bitmaps=bitmaps, n_buckets=n_buckets, m_bits=m_bits, n_hashes=k)


def bloom_probe(
    index: BloomIndex,
    df: DataFrame,
    key_col: str = "url",
    out_col: str = "might_contain",
) -> DataFrame:
    """Append ``out_col``: False = definitely NOT in the built set (no
    false negatives — safe to treat as new), True = probably seen (FP
    at the built rate). ONE hash join on the bucket id co-partitions
    candidates with their bucket's bitmap (bitmap rows are
    bucket-count-sized; Spark broadcasts them when small, shuffles
    co-partitioned when not), then a map-only Arrow pass tests the k
    bits. Keys absent from every bucket (an empty bucket built no
    row) are definitely-new."""
    from polars_dataset_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    key = F.col(key_col)
    cand = df.withColumns(
        {
            "__bloom_bucket": F.pmod(
                F.xxhash64(key), F.lit(index.n_buckets)
            ).cast("int"),
            "__pos": _positions(key, index.m_bits, index.n_hashes),
        }
    )
    joined = cand.join(
        index.bitmaps.withColumnRenamed("bloom_bucket", "__bloom_bucket"),
        on="__bloom_bucket",
        how="left",
    )

    def probe(bm, pos):
        if bm is None:
            return (False,)
        bits = np.frombuffer(bytes(bm), dtype=np.uint8)
        p = np.asarray(pos, dtype=np.int64)
        hit = bits[p >> 3] & (np.uint8(1) << (p & 7).astype(np.uint8))
        return (bool(np.all(hit != 0)),)

    return map_rows(
        joined,
        ["bitmap", "__pos"],
        probe,
        [T.StructField(out_col, T.BooleanType())],
        drop=["__bloom_bucket", "__pos", "bitmap"],
    )
