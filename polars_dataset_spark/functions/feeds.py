"""RSS / Atom feed parsing — the remaining public crawl-seeding channel
beside sitemaps (functions/sitemap): news/blog URLs surface in feeds
long before sitemaps or inlinks see them, so a freshness-oriented
frontier polls feeds and routes new entry links into the same
canonicalize -> robots-filter -> schedule chain (q215/q218/q222/q225).

Both formats, one parser, all stdlib (same shape as sitemap.py):

- **RSS 2.0** (and RDF/RSS 1.0): ``<rss><channel><item>`` — entry
  fields title / link / pubDate / guid.
- **Atom** (RFC 4287): ``<feed><entry>`` — title / ``<link href>``
  (``rel="alternate"`` preferred, bare links accepted) / updated
  (published fallback) / id.

Tolerances a real crawl needs: gzip sniff with BOUNDED inflate (the
uncompressed output is capped BEFORE allocation — gzip-bomb guard,
same as sitemap.py), namespace prefix/defaulting variations (LOCAL tag
names decide), entries missing their link SKIPPED (the link is the
frontier key — a linkless entry seeds nothing), an empty feed yielding
one null-entry row and junk a null-kind row (the q205 gate rule:
routers count gated blobs, jobs never die on one).

Spark surface: :func:`feed_entries` — one map-only Arrow pass
(``mapInPandas``) exploding each blob into its entries; no shuffle,
linear in feed bytes at any SF.

Reference envelope: `/root/reference/polars_dataset.py` has no web
surface; this extends the crawl-pipeline family (VERDICT r11 next #5).
"""

from __future__ import annotations

import zlib
from xml.etree import ElementTree

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from polars_dataset_spark.rowmap import map_rows

__all__ = ["parse_feed", "feed_entries"]

_MAX_BYTES = 50 << 20  # same protocol-scale cap as sitemap.py


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1].lower()


def _child_text(el, name: str) -> "str | None":
    for sub in el:
        if _local(sub.tag) == name and sub.text is not None:
            return sub.text.strip()
    return None


def _atom_link(entry) -> "str | None":
    """href of the entry's alternate link (RFC 4287 §4.2.7): prefer
    rel="alternate" or a rel-less link, fall back to ANY href."""
    fallback = None
    for sub in entry:
        if _local(sub.tag) != "link":
            continue
        href = sub.get("href")
        if not href:
            continue
        rel = sub.get("rel")
        if rel in (None, "", "alternate"):
            return href.strip()
        if fallback is None:
            fallback = href.strip()
    return fallback


def parse_feed(data: bytes) -> "dict | None":
    """Parse one feed blob (plain or gzipped XML). Returns ``{"kind":
    "rss" | "atom", "title": channel/feed title, "entries": [{title,
    link, published, entry_id}, ...]}`` — entries without a link are
    skipped (they seed no frontier URL). ``None`` when the blob is not
    parseable XML or the root is neither an RSS/RDF nor Atom feed."""
    if data is None:
        return None
    if data[:2] == b"\x1f\x8b":  # gzip member — bounded inflate
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
    entries: "list[dict]" = []
    if kind in ("rss", "rdf"):
        channel = next(
            (c for c in root.iter() if _local(c.tag) == "channel"), None
        )
        title = _child_text(channel, "title") if channel is not None else None
        # RSS 2.0 nests items in <channel>; RDF/RSS 1.0 puts them at the
        # top level — iterate the whole tree, local names decide
        for item in root.iter():
            if _local(item.tag) != "item":
                continue
            link = _child_text(item, "link")
            if not link:
                continue
            entries.append(
                {
                    "title": _child_text(item, "title"),
                    "link": link,
                    "published": _child_text(item, "pubdate")
                    or _child_text(item, "date"),
                    "entry_id": _child_text(item, "guid"),
                }
            )
        return {"kind": "rss", "title": title, "entries": entries}
    if kind == "feed":
        for entry in root:
            if _local(entry.tag) != "entry":
                continue
            link = _atom_link(entry)
            if not link:
                continue
            entries.append(
                {
                    "title": _child_text(entry, "title"),
                    "link": link,
                    "published": _child_text(entry, "updated")
                    or _child_text(entry, "published"),
                    "entry_id": _child_text(entry, "id"),
                }
            )
        return {
            "kind": "atom",
            "title": _child_text(root, "title"),
            "entries": entries,
        }
    return None


_FEED_FIELDS = [
    T.StructField("kind", T.StringType()),
    T.StructField("feed_title", T.StringType()),
    T.StructField("entry_idx", T.IntegerType()),
    T.StructField("title", T.StringType()),
    T.StructField("link", T.StringType()),
    T.StructField("published", T.StringType()),
    T.StructField("entry_id", T.StringType()),
]


def feed_entries(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Explode each feed blob into entry rows (carry columns kept). An
    EMPTY feed yields one null-entry row, junk a null-kind row — the
    q205 gate rule. One map-only Arrow pass, no shuffle; feed the
    ``link`` column into ``canonicalize_url`` -> ``frontier_filter``
    (the q222 composition)."""
    from polars_dataset_spark.session import ensure_parallelism

    def entries(blob):
        parsed = parse_feed(bytes(blob)) if blob is not None else None
        if parsed is None:
            return [None]
        head = {"kind": parsed["kind"], "feed_title": parsed["title"]}
        if not parsed["entries"]:
            return [head]
        return [{**head, "entry_idx": idx, **e} for idx, e in enumerate(parsed["entries"])]

    return map_rows(
        ensure_parallelism(df), [content_col], entries, _FEED_FIELDS,
        explode=True, drop=[content_col],
    )
