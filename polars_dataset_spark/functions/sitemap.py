"""Sitemap parsing (sitemaps.org protocol) — the crawl-SEEDING stage
that pairs with the robots politeness filter (functions/robots) and
the outlink frontier (q215): robots.txt advertises ``Sitemap:`` URLs,
each resolving to a ``<urlset>`` of seed pages (with lastmod /
changefreq / priority scheduling hints) or a ``<sitemapindex>`` of
further sitemaps, optionally gzipped.

All stdlib: gzip sniff + inflate, ``xml.etree`` parse (no external
entity resolution — ElementTree never fetches; input capped at the
protocol's own 50 MB uncompressed limit), namespace-tolerant tag
matching (real sitemaps arrive with the sitemaps.org namespace,
no namespace, or exotic prefixes — the local tag name decides).
Malformed blobs yield ``kind=None`` rows, never raise: one bad
sitemap must not kill a partition.

Spark surface: :func:`sitemap_entries` — one map-only Arrow pass
(``mapInPandas``) exploding each blob into its entries; no shuffle,
linear in sitemap bytes at any SF. Compose as::

    robots -> parse_robots()["sitemaps"] -> fetch -> sitemap_entries
           -> canonicalize_url -> frontier_filter -> fetch queue

Reference envelope: `/root/reference/polars_dataset.py` has no web
surface; this extends the crawl-pipeline family (q215/q218).
"""

from __future__ import annotations

import re
import zlib
from xml.etree import ElementTree

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from polars_dataset_spark.rowmap import map_rows

__all__ = ["parse_sitemap", "sitemap_entries"]

_MAX_BYTES = 50 << 20  # sitemaps.org: 50 MB uncompressed cap
_FLOAT_RE = re.compile(r"^-?\d+(?:\.\d+)?$")


def _local(tag: str) -> str:
    """Local name of a possibly-namespaced tag ('{ns}loc' -> 'loc')."""
    return tag.rsplit("}", 1)[-1].lower()


def parse_sitemap(data: bytes) -> "dict | None":
    """Parse one sitemap blob (plain or gzipped XML). Returns
    ``{"kind": "urlset" | "sitemapindex", "entries": [{loc, lastmod,
    changefreq, priority}, ...]}`` — for a sitemapindex the entries
    are the child sitemap locations (lastmod populated, the other
    hints are urlset-only per the protocol). ``None`` when the blob
    is not parseable XML or the root is neither element."""
    if data is None:
        return None
    if data[:2] == b"\x1f\x8b":  # gzip member
        # Bounded inflate: cap the UNCOMPRESSED output before it is ever
        # allocated (a 50 MB gzip bomb inflates to ~50 GB — feeding
        # gzip.decompress first would OOM the executor). decompressobj
        # with max_length stops inflating at the protocol's own cap.
        try:
            data = zlib.decompressobj(wbits=31).decompress(data, _MAX_BYTES)
        except zlib.error:
            return None
    data = data[:_MAX_BYTES]
    try:
        root = ElementTree.fromstring(data)
    except ElementTree.ParseError:
        return None
    kind = _local(root.tag)
    if kind not in ("urlset", "sitemapindex"):
        return None
    child_tag = "url" if kind == "urlset" else "sitemap"
    entries: "list[dict]" = []
    for child in root:
        if _local(child.tag) != child_tag:
            continue
        fields = {"loc": None, "lastmod": None, "changefreq": None, "priority": None}
        for el in child:
            name = _local(el.tag)
            if name in fields and el.text is not None:
                fields[name] = el.text.strip()
        if not fields["loc"]:
            continue  # loc is the protocol's one required field
        prio = fields["priority"]
        fields["priority"] = (
            float(prio) if prio is not None and _FLOAT_RE.match(prio) else None
        )
        entries.append(fields)
    return {"kind": kind, "entries": entries}


_ENTRY_FIELDS = [
    T.StructField("kind", T.StringType()),
    T.StructField("entry_idx", T.IntegerType()),
    T.StructField("loc", T.StringType()),
    T.StructField("lastmod", T.StringType()),
    T.StructField("changefreq", T.StringType()),
    T.StructField("priority", T.DoubleType()),
]


def sitemap_entries(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Explode each sitemap blob into its entries — one map-only Arrow
    pass, no shuffle. Unparseable blobs contribute ONE row with null
    ``kind``/fields so callers can count them (the q205 gate rule);
    a sitemapindex's rows carry ``kind='sitemapindex'`` and name the
    child sitemaps to fetch next."""
    from polars_dataset_spark.session import ensure_parallelism

    def entries(blob):
        parsed = parse_sitemap(bytes(blob)) if blob is not None else None
        if parsed is None:
            return [None]
        if not parsed["entries"]:
            return [{"kind": parsed["kind"]}]
        return [
            {"kind": parsed["kind"], "entry_idx": i, **e}
            for i, e in enumerate(parsed["entries"])
        ]

    return map_rows(
        ensure_parallelism(df), [content_col], entries, _ENTRY_FIELDS,
        explode=True, drop=[content_col],
    )
