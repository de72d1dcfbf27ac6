"""HTML -> text extraction: the stage that turns crawl response bodies
into the ``text`` column every downstream operator consumes.

A WARC crawl (sources/warc.warc_records) yields HTTP response BODIES —
overwhelmingly HTML bytes. Language id (text.detect_language), quality
scoring, dedup, and clean_corpus all operate on plain text, so the
pipeline needs exactly three things between them:

1. **Charset resolution** (WHATWG-ish precedence, `resolve_charset`):
   BOM sniff (UTF-8 / UTF-16LE / UTF-16BE) > the HTTP ``Content-Type``
   ``charset=`` parameter > an ASCII prescan of the first 1024 bytes
   for ``<meta charset=...>`` / ``<meta http-equiv=Content-Type ...>``
   > UTF-8. Unknown labels fall through to the next source; the
   ``iso-8859-1`` / ``latin1`` / ``ascii`` label family is decoded as
   windows-1252 (the WHATWG encoding standard maps those labels there —
   real pages declare Latin-1 and emit 0x80-0x9F smart quotes).
   Decoding always uses ``errors='replace'`` — one mojibake byte must
   not kill a partition.

2. **Markup stripping** (`extract_text`, stdlib ``html.parser``):
   script/style/noscript/template/iframe/svg subtrees dropped whole,
   comments dropped, character references resolved, block-level tags
   (p/div/li/h1-6/br/tr/...) segmenting the output into blocks, inline
   tags transparent. ``html.parser`` is a tolerant non-validating
   tokenizer — unclosed tags and attribute soup degrade, never raise.

3. **Boilerplate pruning**, two classifiers behind ``mode=`` (r11,
   VERDICT r10 #5):

   - ``"link"`` (default, jusText-flavoured local rules): a block is
     chrome when its *link density* (fraction of characters inside
     ``<a>``) is >= 0.5 — nav bars, footers, "related links" — or it
     is a <=2-word fragment that contains a link. Local to the block,
     never drops link-free text.
   - ``"density"``: Boilerpipe's published NumWordsRules decision
     tree (Kohlschütter et al., WSDM 2010) over (prev, curr, next)
     block word counts + link densities — catches link-FREE chrome
     (breadcrumbs, taglines, copyright fragments) the link rules
     structurally cannot, at the documented cost of also dropping
     genuine content shorter than ~17 words between sparse blocks.

   Both stay local to the DOCUMENT (neighbour context only within the
   row), so extraction is a pure per-row map and the same page always
   yields the same text at any partitioning.

Spark surface: :func:`html_to_text` — one map-only Arrow pass
(`mapInPandas`), appending ``text`` / ``title`` / ``charset`` columns;
no shuffle, scales linearly with input bytes. Compose as::

    recs = warc_records(blobs)
    pages = recs.filter("warc_type = 'response' AND http_status = 200"
                        " AND http_content_type LIKE 'text/html%'")
    corpus = html_to_text(pages, body_col="payload",
                          content_type_col="http_content_type")

Reference envelope: `/root/reference/polars_dataset.py` has no text or
web surface; this is the driver-mandated LLM-pipeline extension family
(SURVEY §2.4) — the VERDICT r9 top-next item closing the WARC ->
clean_corpus gap.
"""

from __future__ import annotations

import codecs
import re
from html.parser import HTMLParser

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from polars_dataset_spark.rowmap import map_rows

_PRESCAN = 1024  # WHATWG: meta-charset prescan window

_HTTP_CHARSET_RE = re.compile(r"charset\s*=\s*[\"']?\s*([A-Za-z0-9_\-:.]+)", re.I)
_META_CHARSET_RE = re.compile(
    rb"<meta[^>]{0,512}?charset\s*=\s*[\"']?\s*([A-Za-z0-9_\-:.]+)", re.I
)

# WHATWG encoding standard label aliases that differ from Python's
# codec registry: the Latin-1 family means windows-1252 on the web
_LABEL_ALIASES = {
    "iso-8859-1": "windows-1252",
    "iso8859-1": "windows-1252",
    "latin1": "windows-1252",
    "latin-1": "windows-1252",
    "ascii": "windows-1252",
    "us-ascii": "windows-1252",
}


def _valid_label(label: "str | None") -> "str | None":
    if not label:
        return None
    label = _LABEL_ALIASES.get(label.strip().lower(), label.strip().lower())
    try:
        codecs.lookup(label)
    except LookupError:
        return None
    return label


def resolve_charset(body: bytes, http_content_type: "str | None" = None) -> str:
    """The charset a browser would pick: BOM > HTTP header > meta
    prescan > utf-8. Always returns a label Python can decode."""
    if body[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if body[:2] == b"\xff\xfe":
        return "utf-16-le"
    if body[:2] == b"\xfe\xff":
        return "utf-16-be"
    if http_content_type:
        m = _HTTP_CHARSET_RE.search(http_content_type)
        if m:
            label = _valid_label(m.group(1))
            if label:
                return label
    m = _META_CHARSET_RE.search(body[:_PRESCAN])
    if m:
        label = _valid_label(m.group(1).decode("ascii", "replace"))
        if label:
            return label
    return "utf-8"


def decode_html(
    body: bytes, http_content_type: "str | None" = None
) -> "tuple[str, str]":
    """(decoded text, charset used). BOM-aware, replace-on-error."""
    charset = resolve_charset(body, http_content_type)
    if charset == "utf-16-le" and body[:2] == b"\xff\xfe":
        text = body[2:].decode(charset, "replace")  # strip the sniffed BOM
    elif charset == "utf-16-be" and body[:2] == b"\xfe\xff":
        text = body[2:].decode(charset, "replace")
    else:
        # a utf-16 label can also arrive via the HTTP header / meta
        # prescan with NO BOM present — stripping 2 bytes there would
        # silently drop the first real character (ADVICE r10)
        text = body.decode(charset, "replace")
    return text, charset


# tags whose entire subtree is never content
_SKIP_TAGS = frozenset(
    {"script", "style", "noscript", "template", "iframe", "svg", "object"}
)
# void or container tags that terminate the current text block
_BLOCK_TAGS = frozenset(
    {
        "address", "article", "aside", "blockquote", "br", "caption", "dd",
        "div", "dl", "dt", "fieldset", "figcaption", "figure", "footer",
        "form", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "li",
        "main", "nav", "ol", "option", "p", "pre", "section", "select",
        "table", "tbody", "td", "th", "thead", "tr", "ul",
    }
)

_WS_RE = re.compile(r"\s+")


class _Block:
    __slots__ = ("chars", "link_chars", "parts")

    def __init__(self) -> None:
        self.parts: "list[str]" = []
        self.chars = 0
        self.link_chars = 0

    def add(self, data: str, in_link: bool) -> None:
        self.parts.append(data)
        n = len(_WS_RE.sub("", data))
        self.chars += n
        if in_link:
            self.link_chars += n

    def text(self) -> str:
        return _WS_RE.sub(" ", "".join(self.parts)).strip()


class _TextExtractor(HTMLParser):
    """Tolerant block-segmenting text collector (convert_charrefs on:
    entities arrive already decoded in handle_data)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: "list[_Block]" = [_Block()]
        self.title_parts: "list[str]" = []
        self._skip = 0
        self._links = 0
        self._in_title = False

    def _flush(self) -> None:
        if self.blocks[-1].parts:
            self.blocks.append(_Block())

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip += 1
        elif tag == "title":
            self._in_title = True
        elif tag == "a":
            self._links += 1
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
        elif tag == "title":
            self._in_title = False
        elif tag == "a":
            self._links = max(0, self._links - 1)
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._skip or not data:
            return
        if self._in_title:
            self.title_parts.append(data)
            return
        if data.isspace():
            # keep a word break between inline siblings ("a</b> <i>b")
            if self.blocks[-1].parts:
                self.blocks[-1].parts.append(" ")
            return
        self.blocks[-1].add(data, self._links > 0)


def _is_boilerplate(block: _Block, text: str) -> bool:
    if block.chars == 0:
        return True
    density = block.link_chars / block.chars
    if density >= 0.5:
        return True
    n_words = len(text.split())
    return n_words <= 2 and block.link_chars > 0


class _Feat:
    """Per-block features for the sequence classifier."""

    __slots__ = ("n_words", "link_density")

    def __init__(self, n_words: int = 0, link_density: float = 0.0) -> None:
        self.n_words = n_words
        self.link_density = link_density


_EMPTY_FEAT = _Feat()


def _numwords_boilerplate(prev: _Feat, curr: _Feat, nxt: _Feat) -> bool:
    """Boilerpipe's NumWordsRules classifier (Kohlschütter, Fankhauser,
    Nejdl — "Boilerplate Detection using Shallow Text Features", WSDM
    2010; the decision tree published in the boilerpipe OSS): True =
    boilerplate. Unlike the local link-ratio rules it uses the
    NEIGHBOR blocks' word counts, so link-FREE fragments (breadcrumbs,
    taglines, copyright lines) sitting between other sparse blocks are
    caught — the class the link rules structurally cannot see."""
    if curr.link_density > 0.333333:
        return True
    if prev.link_density <= 0.555556:
        if curr.n_words <= 16:
            if nxt.n_words <= 15:
                return prev.n_words <= 4
            return False
        return False
    if curr.n_words <= 40:
        return nxt.n_words <= 17
    return False


def extract_text(
    html: str, drop_boilerplate: bool = True, mode: str = "link"
) -> "dict":
    """Markup-stripped text of one HTML document.

    Returns ``{text, title, n_blocks, n_dropped}``: ``text`` is kept
    blocks joined by newlines, ``title`` the <title> content (None when
    absent), ``n_blocks`` the non-empty block count before pruning,
    ``n_dropped`` how many of those the boilerplate rules removed.

    ``mode`` picks the boilerplate classifier (ignored when
    ``drop_boilerplate=False``):

    - ``"link"`` (default): local link-density rules — a block is
      chrome when >= 50% of its characters sit inside <a>, or it is a
      <= 2-word fragment containing a link. Local to the block, keeps
      every link-free fragment: the safe choice when short genuine
      content must survive (the q213 template contract).
    - ``"density"``: the Boilerpipe NumWordsRules sequence classifier
      (WSDM 2010) over (prev, curr, next) word counts + link
      densities. Catches link-FREE boilerplate fragments the link
      rules keep (breadcrumbs, taglines); its published tree also
      drops genuine content shorter than ~17 words between sparse
      neighbors — use for prose-page corpora, not snippet pages."""
    if mode not in ("link", "density"):
        raise ValueError(f"extract_text: unknown mode {mode!r}")
    blocks, title = _parse_blocks(html)
    drop = _boilerplate_drops(blocks, mode) if drop_boilerplate else [False] * len(blocks)
    kept = [t for (b, t), d in zip(blocks, drop) if not d]
    return {
        "text": "\n".join(kept),
        "title": title,
        "n_blocks": len(blocks),
        "n_dropped": sum(drop),
    }


def _parse_blocks(html: str) -> "tuple[list, str | None]":
    """Parse ONCE: the non-empty text blocks and the title — shared by
    every boilerplate classifier (the r13 fused multi-mode pass exists
    so one parse can feed several classifiers)."""
    parser = _TextExtractor()
    try:
        parser.feed(html)
        parser.close()
    except Exception:  # noqa: BLE001 — tokenizer blew up mid-document:
        pass  # keep whatever was collected before the bad byte run
    blocks = [(b, t) for b in parser.blocks if (t := b.text())]
    title = _WS_RE.sub(" ", "".join(parser.title_parts)).strip() or None
    return blocks, title


def _boilerplate_drops(blocks: "list", mode: str) -> "list[bool]":
    n_blocks = len(blocks)
    if mode == "link":
        return [_is_boilerplate(b, t) for b, t in blocks]
    feats = [
        _Feat(len(t.split()), (b.link_chars / b.chars) if b.chars else 0.0)
        for b, t in blocks
    ]
    drop = [False] * n_blocks
    for i in range(n_blocks):
        prev = feats[i - 1] if i > 0 else _EMPTY_FEAT
        nxt = feats[i + 1] if i + 1 < n_blocks else _EMPTY_FEAT
        drop[i] = _numwords_boilerplate(prev, feats[i], nxt)
    return drop


_HTML_FIELDS = [
    T.StructField("text", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("charset", T.StringType()),
]


def html_to_text(
    df: DataFrame,
    body_col: str = "payload",
    content_type_col: "str | None" = None,
    drop_boilerplate: bool = True,
    boilerplate_mode: str = "link",
) -> DataFrame:
    """Append ``text`` / ``title`` / ``charset`` columns extracted from
    a binary HTML body column — one map-only Arrow pass (no shuffle;
    linear in input bytes; safe under any partitioning because every
    rule is local to the row). Null bodies yield null fields. Filter to
    HTML rows upstream (``http_content_type LIKE 'text/html%'``) — the
    extractor decodes whatever it is fed. ``boilerplate_mode`` selects
    the classifier (see :func:`extract_text`): ``"link"`` (local
    link-density rules, the safe default) or ``"density"`` (Boilerpipe
    NumWordsRules — catches link-free chrome, for prose corpora)."""
    from polars_dataset_spark.session import ensure_parallelism

    def extract(blob, ctype):
        if blob is None:
            return None
        raw, charset = decode_html(bytes(blob), None if ctype is None else str(ctype))
        info = extract_text(raw, drop_boilerplate=drop_boilerplate, mode=boilerplate_mode)
        return info["text"], info["title"], charset

    return map_rows(
        ensure_parallelism(df), [body_col, content_type_col], extract, _HTML_FIELDS
    )


def html_to_text_modes(
    df: DataFrame,
    modes: "tuple[str, ...]" = ("link", "density"),
    body_col: str = "payload",
    content_type_col: "str | None" = None,
) -> DataFrame:
    """Every boilerplate classifier over the same pages in ONE Arrow
    pass: each document is decoded and PARSED ONCE, then each mode's
    rules run over the shared block list — one row per (input row,
    mode), columns = input columns + ``mode, text, title, charset``.
    The per-mode composition (:func:`html_to_text` once per mode,
    unioned) decodes and parses every page once PER MODE and ships the
    raw bytes through the Python boundary as many times (guide §4)."""
    for m in modes:
        if m not in ("link", "density"):
            raise ValueError(f"html_to_text_modes: unknown mode {m!r}")
    from polars_dataset_spark.session import ensure_parallelism

    def extract(blob, ctype):
        if blob is None:
            return [(m, None, None, None) for m in modes]
        raw, charset = decode_html(bytes(blob), None if ctype is None else str(ctype))
        blocks, title = _parse_blocks(raw)  # once per document
        rows = []
        for m in modes:
            drop = _boilerplate_drops(blocks, m)
            kept = [t for (b, t), d in zip(blocks, drop) if not d]
            rows.append((m, "\n".join(kept), title, charset))
        return rows

    return map_rows(
        ensure_parallelism(df),
        [body_col, content_type_col],
        extract,
        [T.StructField("mode", T.StringType())] + _HTML_FIELDS,
        explode=True,
    )


def warc_text_corpus(
    df: DataFrame,
    content_col: str = "content",
    drop_boilerplate: bool = True,
    boilerplate_mode: str = "link",
) -> DataFrame:
    """WARC blobs -> text corpus in ONE fused Arrow pass: explode
    records, keep 200-status ``text/html`` responses, extract — all
    inside a single ``mapInPandas``, so the record payloads cross the
    JVM/Python boundary once (the pre-r13 composition ran warc_records
    then html_to_text: every payload crossed Python -> JVM -> Python,
    with non-HTML payloads making the round trip just to be filtered —
    guide §4's boundary cost, linear in crawl bytes at 100 TB). Output
    columns: ``target_uri, warc_date, charset, title, text`` — feed
    straight into clean_corpus / language id / dedup."""
    from polars_dataset_spark.session import ensure_parallelism
    from polars_dataset_spark.sources.warc import parse_warc

    def records(blob):
        if blob is None:
            return []
        rows = []
        for rec in parse_warc(bytes(blob)):
            ctype = rec["http_content_type"]
            if (
                rec["warc_type"] != "response"
                or rec["http_status"] != 200
                # servers emit Text/HTML, TEXT/HTML — case-blind
                or ctype is None
                or not ctype.lower().startswith("text/html")
            ):
                continue
            raw, charset = decode_html(rec["payload"], str(ctype))
            info = extract_text(
                raw, drop_boilerplate=drop_boilerplate, mode=boilerplate_mode
            )
            rows.append(
                (rec["target_uri"], rec["warc_date"], charset, info["title"], info["text"])
            )
        return rows

    return map_rows(
        ensure_parallelism(df),
        [content_col],
        records,
        [
            T.StructField("target_uri", T.StringType()),
            T.StructField("warc_date", T.StringType()),
            T.StructField("charset", T.StringType()),
            T.StructField("title", T.StringType()),
            T.StructField("text", T.StringType()),
        ],
        explode=True,
        drop=df.columns,
    )


class _StructureExtractor(HTMLParser):
    """Start-tag name collector in document order — the page SKELETON.
    Two renders of one CMS template differ in text and attribute
    values but share the tag sequence almost exactly, so a hash of the
    sequence clusters a crawl by template: template frequency is a
    corpus-level chrome/boilerplate signal no per-page rule can see
    (a million pages with one skeleton are one site's template, and
    their shared blocks are chrome even where a single page looks like
    content)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.tags: "list[str]" = []

    def handle_starttag(self, tag: str, attrs) -> None:
        self.tags.append(tag)


def html_structure_tags(html: str) -> "list[str]":
    """The page's start-tag sequence (lowercased, attributes and text
    ignored) — feed to a hash for template clustering."""
    parser = _StructureExtractor()
    try:
        parser.feed(html)
        parser.close()
    except Exception:  # noqa: BLE001 — tokenizer choked: keep what we have
        pass
    return parser.tags


def html_structure(
    df: DataFrame,
    body_col: str = "payload",
    content_type_col: "str | None" = None,
) -> DataFrame:
    """Append ``structure_sig`` (md5 hex of the comma-joined start-tag
    sequence — md5 so the SAME signature is computable in any engine)
    and ``n_tags`` to every HTML body — one map-only Arrow pass.
    Group by ``structure_sig`` downstream for template clustering /
    frequency (the corpus-level boilerplate signal). Null bodies yield
    null fields."""
    import hashlib

    from polars_dataset_spark.session import ensure_parallelism

    def structure(blob, ctype):
        if blob is None:
            return None
        raw, _cs = decode_html(bytes(blob), None if ctype is None else str(ctype))
        tags = html_structure_tags(raw)
        return hashlib.md5(",".join(tags).encode()).hexdigest(), len(tags)

    return map_rows(
        ensure_parallelism(df),
        [body_col, content_type_col],
        structure,
        [
            T.StructField("structure_sig", T.StringType()),
            T.StructField("n_tags", T.IntegerType()),
        ],
    )


class _LinkExtractor(HTMLParser):
    """href + anchor-text collector: <a href> in document order,
    <base href> honored, links inside script/template subtrees ignored
    (same skip set as text extraction). Anchor text is the character
    data between the <a> and its </a> (inline children transparent),
    whitespace-collapsed — the label the LINKING page gives the target,
    the classic crawl-ranking / query-independent relevance signal."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.hrefs: "list[str]" = []
        self.texts: "list[str]" = []
        self.base: "str | None" = None
        self._skip = 0
        self._open: "int | None" = None  # index of the <a> being read
        self._parts: "list[str]" = []

    def _close_anchor(self) -> None:
        if self._open is not None:
            self.texts[self._open] = _WS_RE.sub(" ", "".join(self._parts)).strip()
        self._open = None
        self._parts = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip += 1
            return
        if self._skip:
            return
        if tag == "base" and self.base is None:
            for k, v in attrs:
                if k == "href" and v:
                    self.base = v.strip()
        elif tag == "a":
            self._close_anchor()  # tolerate an unclosed previous <a>
            for k, v in attrs:
                if k == "href" and v is not None:
                    self.hrefs.append(v.strip())
                    self.texts.append("")
                    self._open = len(self.hrefs) - 1
                    break

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
        elif tag == "a":
            self._close_anchor()

    def handle_data(self, data: str) -> None:
        if self._open is not None and not self._skip and data:
            self._parts.append(data)

    def close(self) -> None:  # flush a trailing unclosed <a>
        super().close()
        self._close_anchor()


_FETCHABLE_SCHEMES = ("http", "https")


def extract_links_with_text(
    html: str, base_url: "str | None" = None
) -> "list[tuple[str, str]]":
    """Outgoing fetchable links of one HTML document as ``(url,
    anchor_text)`` pairs, resolved and in document order (duplicates
    preserved — frontier dedup is :func:`urls.canonicalize_url`'s job
    downstream). Resolution per RFC 3986 via stdlib ``urljoin``
    against the <base href> if present, else ``base_url`` (the page's
    own URI). Non-fetchable schemes (javascript:, mailto:, data:,
    tel:, ...) and unresolvable relatives (no base at all) are
    dropped; fragments are stripped (a fragment names a position, not
    a resource). Anchor text is whitespace-collapsed, '' when the
    anchor wraps no text (image links)."""
    from urllib.parse import urldefrag, urljoin, urlsplit

    parser = _LinkExtractor()
    try:
        parser.feed(html)
        parser.close()
    except Exception:  # noqa: BLE001 — tokenizer choked: keep what we have
        parser._close_anchor()
    base = parser.base or base_url
    if parser.base and base_url:
        # a RELATIVE <base href> resolves against the page URI first
        base = urljoin(base_url, parser.base)
    out: "list[tuple[str, str]]" = []
    for href, text in zip(parser.hrefs, parser.texts):
        if not href or href.startswith("#"):
            continue  # fragment-only: a position on THIS page, never a resource
        scheme = urlsplit(href).scheme.lower()
        if scheme and scheme not in _FETCHABLE_SCHEMES:
            continue  # javascript:/mailto:/data:/tel:/...
        resolved = urljoin(base, href) if base else href
        resolved = urldefrag(resolved).url
        if urlsplit(resolved).scheme.lower() in _FETCHABLE_SCHEMES and resolved:
            out.append((resolved, text))
    return out


def extract_links(html: str, base_url: "str | None" = None) -> "list[str]":
    """URL-only view of :func:`extract_links_with_text` (the q215
    frontier contract)."""
    return [u for u, _t in extract_links_with_text(html, base_url)]


_LINK_FIELDS = [
    T.StructField("link_idx", T.IntegerType()),
    T.StructField("link_url", T.StringType()),
]
_ANCHOR_FIELD = T.StructField("anchor_text", T.StringType())


def html_links(
    df: DataFrame,
    body_col: str = "payload",
    url_col: "str | None" = None,
    content_type_col: "str | None" = None,
    with_text: bool = False,
) -> DataFrame:
    """Explode each HTML body into its outgoing links — the crawl
    FRONTIER stage: WARC pages in, (page columns, link_idx, link_url
    [, anchor_text]) rows out, ready for ``canonicalize_url`` +
    frontier dedup. ``with_text=True`` adds the whitespace-collapsed
    anchor text (what the linking page calls the target — aggregate it
    per canonical URL for the classic inlink/anchor relevance signal).
    One map-only Arrow pass (decode + parse per row, no shuffle);
    pages with no links contribute zero rows; null bodies contribute
    zero rows."""
    from polars_dataset_spark.session import ensure_parallelism

    def links(blob, ctype, url):
        if blob is None:
            return []
        raw, _cs = decode_html(bytes(blob), None if ctype is None else str(ctype))
        base = str(url) if url is not None else None
        return [
            (i, link, text) if with_text else (i, link)
            for i, (link, text) in enumerate(extract_links_with_text(raw, base))
        ]

    return map_rows(
        ensure_parallelism(df),
        [body_col, content_type_col, url_col],
        links,
        _LINK_FIELDS + ([_ANCHOR_FIELD] if with_text else []),
        explode=True,
        drop=[body_col],
    )


class _MetaExtractor(HTMLParser):
    """Head-metadata collector: OpenGraph <meta property=...>, the
    plain <meta name=description>, <link rel=canonical>, and the first
    ``application/ld+json`` script block. First occurrence wins for
    every field (the wild duplicates are copy-paste repeats)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.og: "dict[str, str]" = {}
        self.description: "str | None" = None
        self.canonical: "str | None" = None
        self.published: "str | None" = None
        self._in_ldjson = False
        self.ldjson_parts: "list[str]" = []
        self._ld_done = False

    def handle_starttag(self, tag: str, attrs) -> None:
        a = dict(attrs)
        if tag == "meta":
            prop = (a.get("property") or "").lower()
            content = a.get("content")
            if content is None:
                return
            if prop.startswith("og:") and prop not in self.og:
                self.og[prop] = content
            elif prop == "article:published_time" and self.published is None:
                self.published = content
            elif (
                (a.get("name") or "").lower() == "description"
                and self.description is None
            ):
                self.description = content
        elif tag == "link":
            if (
                (a.get("rel") or "").lower() == "canonical"
                and self.canonical is None
                and a.get("href")
            ):
                self.canonical = a["href"]
        elif tag == "script":
            if (
                (a.get("type") or "").lower() == "application/ld+json"
                and not self._ld_done
            ):
                self._in_ldjson = True

    def handle_endtag(self, tag: str) -> None:
        if tag == "script" and self._in_ldjson:
            self._in_ldjson = False
            self._ld_done = True

    def handle_data(self, data: str) -> None:
        if self._in_ldjson:
            self.ldjson_parts.append(data)


def extract_page_meta(html: str) -> "dict":
    """Structured page metadata of one HTML document — the fields a
    curation pipeline filters and dedups on before it ever reads body
    text: OpenGraph title/description/type, the plain meta
    description, the canonical link (URL-level dedup hint), the
    article publish time (date filtering), and the first JSON-LD
    block's ``@type``/``headline``/``datePublished``.

    JSON-LD is parsed with the stdlib json parser (tolerant: malformed
    JSON yields nulls, never raises); a top-level array uses its first
    object, a ``@graph`` wrapper its first node. All fields None when
    absent."""
    import json as _json

    parser = _MetaExtractor()
    try:
        parser.feed(html)
        parser.close()
    except Exception:  # noqa: BLE001 — tag soup must degrade, not raise
        pass
    ld_type = ld_headline = ld_date = None
    raw = "".join(parser.ldjson_parts).strip()
    if raw:
        try:
            node = _json.loads(raw)
            if isinstance(node, list):
                node = next((x for x in node if isinstance(x, dict)), None)
            if isinstance(node, dict) and isinstance(node.get("@graph"), list):
                node = next(
                    (x for x in node["@graph"] if isinstance(x, dict)), None
                )
            if isinstance(node, dict):
                t, h, d = (
                    node.get("@type"),
                    node.get("headline"),
                    node.get("datePublished"),
                )
                ld_type = t if isinstance(t, str) else None
                ld_headline = h if isinstance(h, str) else None
                ld_date = d if isinstance(d, str) else None
        except ValueError:
            pass
    return {
        "og_title": parser.og.get("og:title"),
        "og_description": parser.og.get("og:description"),
        "og_type": parser.og.get("og:type"),
        "meta_description": parser.description,
        "canonical": parser.canonical,
        "published_time": parser.published,
        "jsonld_type": ld_type,
        "jsonld_headline": ld_headline,
        "jsonld_date": ld_date,
    }


_META_FIELDS = [
    T.StructField("og_title", T.StringType()),
    T.StructField("og_description", T.StringType()),
    T.StructField("og_type", T.StringType()),
    T.StructField("meta_description", T.StringType()),
    T.StructField("canonical", T.StringType()),
    T.StructField("published_time", T.StringType()),
    T.StructField("jsonld_type", T.StringType()),
    T.StructField("jsonld_headline", T.StringType()),
    T.StructField("jsonld_date", T.StringType()),
]


def html_page_meta(
    df: DataFrame,
    body_col: str = "payload",
    content_type_col: "str | None" = None,
) -> DataFrame:
    """Append the :func:`extract_page_meta` columns from a binary HTML
    body column — same shape as :func:`html_to_text`: one map-only
    Arrow pass, charset resolved per row (BOM > header > meta
    prescan), null bodies yield null fields, no shuffle at any
    scale."""
    from polars_dataset_spark.session import ensure_parallelism

    def meta(blob, ctype):
        if blob is None:
            return None
        raw, _charset = decode_html(bytes(blob), None if ctype is None else str(ctype))
        return extract_page_meta(raw)

    return map_rows(
        ensure_parallelism(df), [body_col, content_type_col], meta, _META_FIELDS
    )


#: robots-meta extraction patterns (RE2/Java-portable: no lookaround;
#: (?i) inline flag; attribute order covered by the NAME-first and
#: CONTENT-first variants). The matched group is the directives string.
ROBOTS_META_NAME_FIRST_RE = (
    r"(?i)<meta[^>]{0,256}?name\s*=\s*[\"']?robots[\"']?"
    r"[^>]{0,256}?content\s*=\s*[\"']([^\"']*)[\"']"
)
ROBOTS_META_CONTENT_FIRST_RE = (
    r"(?i)<meta[^>]{0,256}?content\s*=\s*[\"']([^\"']*)[\"']"
    r"[^>]{0,256}?name\s*=\s*[\"']?robots[\"']?"
)
#: directive-token tests over the extracted string ('none' implies both
#: per the public Robots Meta convention)
ROBOTS_NOINDEX_RE = r"(?i)(^|[,\s])(noindex|none)([,\s]|$)"
ROBOTS_NOFOLLOW_RE = r"(?i)(^|[,\s])(nofollow|none)([,\s]|$)"


def with_robots_directives(
    df: DataFrame,
    html_col: str = "html",
    header_col: "str | None" = None,
) -> DataFrame:
    """Append ``noindex`` / ``nofollow`` booleans from the page's own
    robots signals — the in-page half of politeness that robots.txt
    cannot express: ``<meta name=robots>`` (either attribute order,
    first tag wins) and, when ``header_col`` is given, the
    ``X-Robots-Tag`` HTTP header value; a directive in EITHER source
    sets the flag, ``none`` implies both. A corpus that keeps noindex
    pages republishes what the site withdrew; outlinks from nofollow
    pages must not feed the frontier (compose with html_links).

    Pure codegen — two regexp_extracts staged into a directives
    column, two rlike tests, identical pattern strings replayable in
    an ANSI-SQL oracle. Map-only, zero exchanges."""
    from pyspark.sql import functions as F

    h = F.col(html_col)
    meta = F.nullif(
        F.regexp_extract(h, ROBOTS_META_NAME_FIRST_RE, 1), F.lit("")
    )
    meta2 = F.nullif(
        F.regexp_extract(h, ROBOTS_META_CONTENT_FIRST_RE, 1), F.lit("")
    )
    staged = df.withColumn("__robots_meta", F.coalesce(meta, meta2))
    sources = [F.col("__robots_meta")]
    if header_col is not None:
        sources.append(F.col(header_col))

    def flag(pattern: str):
        tests = [F.coalesce(s.rlike(pattern), F.lit(False)) for s in sources]
        out = tests[0]
        for t in tests[1:]:
            out = out | t
        return out

    return (
        staged.withColumn("noindex", flag(ROBOTS_NOINDEX_RE))
        .withColumn("nofollow", flag(ROBOTS_NOFOLLOW_RE))
        .drop("__robots_meta")
    )


#: <html lang=...> extraction (RE2/Java-portable; BCP 47 primary
#: subtag captured, region/script subtags dropped by the '-' boundary)
HTML_LANG_RE = (
    r"(?i)<html[^>]{0,256}?lang\s*=\s*[\"']?([A-Za-z]{2,8})"
)


def with_declared_lang(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "declared_lang",
) -> DataFrame:
    """Append the page's OWN language claim — the ``<html lang=…>``
    attribute, lowercased primary subtag (``ES-419`` → ``es``) — for
    cross-checking against content-based language ID: systematic
    disagreement on a host is a template-misconfiguration signal, and
    agreement upgrades confidence where the stopword classifier is
    weak. Null when the attribute is absent. Pure codegen (one
    regexp_extract), map-only, replayable verbatim in SQL."""
    from pyspark.sql import functions as F

    return df.withColumn(
        out_col,
        F.lower(
            F.nullif(
                F.regexp_extract(F.col(html_col), HTML_LANG_RE, 1), F.lit("")
            )
        ),
    )
