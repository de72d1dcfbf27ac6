"""HTML -> text extraction (functions/html): charset resolution
precedence, tolerant markup stripping, local boilerplate rules, the
map-only Spark operator, and the end-to-end WARC -> text -> clean_corpus
composition the module exists to close."""

import gzip

import pytest

from polars_dataset_spark.functions.html import (
    decode_html,
    extract_text,
    html_to_text,
    resolve_charset,
    warc_text_corpus,
)

# --------------------------------------------------------- charset


def test_charset_bom_beats_everything():
    assert resolve_charset(b"\xef\xbb\xbfhi", "text/html; charset=latin-1") == "utf-8-sig"
    assert resolve_charset(b"\xff\xfeh\x00", "text/html; charset=utf-8") == "utf-16-le"
    assert resolve_charset(b"\xfe\xff\x00h", None) == "utf-16-be"


def test_charset_http_header_beats_meta():
    body = b'<meta charset="shift_jis"><p>x</p>'
    assert resolve_charset(body, "text/html; charset=windows-1251") == "windows-1251"
    assert resolve_charset(body, None) == "shift_jis"
    assert resolve_charset(body, "text/html") == "shift_jis"  # no charset param


def test_charset_meta_variants_and_prescan_window():
    v1 = b'<meta http-equiv="Content-Type" content="text/html; charset=KOI8-R">'
    assert resolve_charset(v1, None) == "koi8-r"
    assert resolve_charset(b"<META CHARSET=UTF-8>", None) == "utf-8"
    # a meta beyond the 1024-byte prescan window is invisible
    late = b"<html>" + b" " * 1100 + b'<meta charset="koi8-r">'
    assert resolve_charset(late, None) == "utf-8"


def test_charset_latin1_family_is_cp1252_and_bad_labels_fall_through():
    assert resolve_charset(b"x", "text/html; charset=ISO-8859-1") == "windows-1252"
    assert resolve_charset(b"x", "text/html; charset=us-ascii") == "windows-1252"
    # unknown header label falls through to the meta, then utf-8
    body = b'<meta charset="utf-8">'
    assert resolve_charset(body, "text/html; charset=not-a-charset") == "utf-8"
    assert resolve_charset(b"x", "text/html; charset=bogus!") == "utf-8"


def test_decode_html_cp1252_and_utf16_and_replace():
    text, cs = decode_html(b"caf\xe9 \x97 ok", "text/html; charset=iso-8859-1")
    assert cs == "windows-1252"
    assert text == "caf\xe9 — ok"  # 0x97 is an em-dash in cp1252
    body = "﻿<p>héllo</p>".encode("utf-16-le")
    text, cs = decode_html(body, None)
    assert cs == "utf-16-le" and text == "<p>héllo</p>"
    text, cs = decode_html(b"ok \xff\xfe bad", None)  # invalid utf-8 mid-stream
    assert "ok" in text and cs in ("utf-8", "utf-16-le")


# ----------------------------------------------------- extraction


def test_extract_strips_script_style_comments_entities():
    html = (
        "<html><head><title>My Page</title>"
        "<style>p { color: red }</style>"
        "<script>var x = '<p>not text</p>';</script></head>"
        "<body><!-- a comment --><p>Tom &amp; Jerry &#8212; friends</p>"
        "<noscript>enable js</noscript></body></html>"
    )
    info = extract_text(html)
    assert info["text"] == "Tom & Jerry — friends"
    assert info["title"] == "My Page"


def test_extract_block_segmentation_and_whitespace():
    html = "<div>alpha\n  beta</div><p>gamma</p>delta<br>epsilon"
    info = extract_text(html, drop_boilerplate=False)
    assert info["text"].split("\n") == ["alpha beta", "gamma", "delta", "epsilon"]


def test_extract_unclosed_and_nested_tags_degrade_gracefully():
    html = "<div><p>outer <b>bold <i>both</p><ul><li>one<li>two</ul>"
    info = extract_text(html, drop_boilerplate=False)
    assert "outer bold both" in info["text"]
    assert "one" in info["text"] and "two" in info["text"]


def test_boilerplate_nav_dropped_content_kept():
    html = (
        "<nav><a href='/'>Home</a> | <a href='/a'>About</a> | "
        "<a href='/c'>Contact</a></nav>"
        "<p>This paragraph is the actual content of the page, long "
        "enough to be unmistakable as prose.</p>"
        "<footer><a href='/terms'>Terms</a></footer>"
    )
    info = extract_text(html)
    assert info["text"].startswith("This paragraph")
    assert "Home" not in info["text"] and "Terms" not in info["text"]
    assert info["n_dropped"] >= 2
    raw = extract_text(html, drop_boilerplate=False)
    assert "Home" in raw["text"] and "Terms" in raw["text"]


def test_boilerplate_short_linkless_block_survives():
    # a 2-word block WITHOUT links is content (headlines, captions)
    info = extract_text("<h1>hello crawl</h1>")
    assert info["text"] == "hello crawl"


def test_extract_prose_with_inline_link_kept():
    html = (
        "<p>Read the <a href='/spec'>specification</a> for details on "
        "the format and its framing rules.</p>"
    )
    info = extract_text(html)
    assert "specification" in info["text"]


def test_inline_siblings_keep_word_break():
    # whitespace-only data nodes between inline tags are word breaks,
    # not droppable — "Home</a> <a>About" must not fuse to "HomeAbout"
    info = extract_text("<p><b>alpha</b> <i>beta</i></p>", drop_boilerplate=False)
    assert info["text"] == "alpha beta"
    info = extract_text("<a href='/'>Home</a> <a href='/a'>About</a>", drop_boilerplate=False)
    assert info["text"] == "Home About"


def test_extract_empty_and_garbage():
    assert extract_text("")["text"] == ""
    assert extract_text("")["title"] is None
    info = extract_text("\x00\x01<<<>>> not << html")
    assert isinstance(info["text"], str)


# -------------------------------------------------- Spark operator


def test_html_to_text_operator(spark):
    rows = [
        (0, bytearray(b"<html><head><title>T0</title></head><body><p>doc zero body</p></body></html>"), "text/html; charset=utf-8"),
        (1, bytearray("<p>caf\xe9 price</p>".encode("cp1252")), "text/html; charset=iso-8859-1"),
        (2, None, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary, http_content_type string")
    out = {r.doc_id: r for r in html_to_text(df, content_type_col="http_content_type").collect()}
    assert out[0].text == "doc zero body" and out[0].title == "T0"
    assert out[0].charset == "utf-8"
    assert out[1].text == "caf\xe9 price" and out[1].charset == "windows-1252"
    assert out[2].text is None and out[2].charset is None


def _warc_response(uri: str, body: bytes, ctype: str = "text/html; charset=utf-8", status: str = "200 OK") -> bytes:
    http = f"HTTP/1.1 {status}\r\nContent-Type: {ctype}\r\n\r\n".encode() + body
    h = (
        f"WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:uuid:r-{uri}>\r\n"
        f"WARC-Date: 2024-03-01T12:00:00Z\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode()
    return h + http + b"\r\n\r\n"


def test_warc_to_text_to_clean_corpus_end_to_end(spark):
    """The full ingestion path the module closes: WARC bytes ->
    records -> HTML filter -> text -> clean_corpus survivors."""
    from pyspark.sql import functions as F

    from polars_dataset_spark.functions.pipeline import clean_corpus

    prose = (
        "The quick brown fox jumps over the lazy dog while the band "
        "plays a slow waltz in the town square and everyone watches "
        "the evening settle in over the rooftops of the old city."
    )
    page = (
        "<html><head><title>{t}</title><script>nav()</script></head>"
        "<body><nav><a href='/'>Home</a> <a href='/x'>More</a></nav>"
        "<p>{body}</p></body></html>"
    )
    blobs = [
        (0, bytearray(
            _warc_response("http://a.example/1", page.format(t="One", body=prose).encode())
            + _warc_response("http://a.example/2", page.format(t="Two", body=prose).encode())  # dup of 1
            + _warc_response("http://a.example/404", b"<p>gone</p>", status="404 Not Found")
            + _warc_response("http://a.example/img", bytes(range(32)), ctype="image/png")
        )),
        (1, bytearray(gzip.compress(
            _warc_response("http://b.example/3", page.format(
                t="Three", body=prose.replace("fox", "cat").replace("waltz", "march")
            ).encode()), mtime=0))),
    ]
    df = spark.createDataFrame(blobs, "blob_id long, content binary")
    corpus = warc_text_corpus(df)
    rows = {r.target_uri: r for r in corpus.collect()}
    # 404 and non-HTML rows never reach extraction
    assert set(rows) == {"http://a.example/1", "http://a.example/2", "http://b.example/3"}
    assert rows["http://a.example/1"].title == "One"
    assert rows["http://a.example/1"].text.startswith("The quick brown fox")
    assert "Home" not in rows["http://a.example/1"].text
    docs = corpus.select(F.col("target_uri").alias("doc_id"), "text")
    clean = clean_corpus(docs, min_quality=0.0, languages=None)
    kept = sorted(r.doc_id for r in clean.select("doc_id").collect())
    # the near-duplicate pair /1 ~ /2 loses one member; /3 differs enough
    assert len(kept) == 2 and "http://b.example/3" in kept


def test_html_to_text_plan_is_map_only(spark):
    df = spark.createDataFrame(
        [(0, bytearray(b"<p>x</p>"), "text/html")],
        "doc_id long, payload binary, http_content_type string",
    )
    plan = html_to_text(df, content_type_col="http_content_type")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan


def test_template_inversion_property():
    """The q213 contract as a property: for ANY text, wrapping in the
    page template (entity-escaped body, nav/footer link boilerplate)
    and extracting must return the whitespace-normalized original."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    ws = re.compile(r"\s+")

    def template(text):
        esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        return (
            "<html><head><title>T</title></head><body>"
            '<nav><a href="/">Home</a> <a href="/a">About</a></nav>'
            f"<p>{esc}</p>"
            '<footer><a href="/terms">Terms</a></footer></body></html>'
        )

    @settings(max_examples=200, deadline=None)
    @given(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_categories=("Cs",), exclude_characters="\x00"
            ),
            max_size=400,
        )
    )
    def check(text):
        got = extract_text(template(text))["text"]
        assert got == ws.sub(" ", text).strip()

    check()


def test_density_mode_catches_linkfree_chrome_link_mode_misses():
    """The page class that motivates the density mode (VERDICT r10 #5):
    link-FREE fragments (breadcrumb, tagline) that the link-ratio rules
    keep by construction, dropped by the NumWordsRules tree."""
    content = (
        "The quick brown fox jumps over the lazy dog while seventeen "
        "further words of genuine article prose keep this single "
        "paragraph comfortably above the sixteen word threshold."
    )
    html = (
        "<html><body>"
        "<div>Home » Products</div>"  # breadcrumb: link-free chrome
        "<div>Your trusted source</div>"  # tagline: link-free chrome
        "<div>Sign up for updates</div>"  # cta fragment (kept: the tree
        # keeps any short block whose NEXT is long content — documented)
        f"<p>{content}</p>"
        "</body></html>"
    )
    link = extract_text(html, mode="link")
    dens = extract_text(html, mode="density")
    assert "Home » Products" in link["text"]  # link rules can't see it
    assert "Home » Products" not in dens["text"]
    assert "Your trusted source" not in dens["text"]
    assert content in link["text"] and content in dens["text"]
    assert dens["n_dropped"] == 2 and link["n_dropped"] == 0


def test_density_mode_still_drops_link_dense_nav():
    html = (
        '<body><nav><a href="/">Home</a> <a href="/a">About</a></nav>'
        "<p>" + "word " * 45 + "</p></body>"
    )
    dens = extract_text(html, mode="density")
    assert "Home" not in dens["text"] and "word" in dens["text"]


def test_extract_text_unknown_mode_raises():
    import pytest

    with pytest.raises(ValueError):
        extract_text("<p>x</p>", mode="bogus")


def test_template_inversion_property_density_mode():
    """Template inversion for the density classifier: content above
    the published tree's 40-word threshold survives between link-dense
    nav/footer blocks regardless of its characters (the tree's
    prev-link-dense branch keeps curr > 40 words unconditionally)."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    ws = re.compile(r"\s+")

    def template(text):
        esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        return (
            "<html><head><title>T</title></head><body>"
            '<nav><a href="/">Home</a> <a href="/a">About</a></nav>'
            f"<p>{esc}</p>"
            '<footer><a href="/terms">Terms</a></footer></body></html>'
        )

    word = st.text(
        alphabet=st.characters(
            codec="utf-8",
            exclude_categories=("Cs", "Zs", "Zl", "Zp", "Cc"),
            exclude_characters="\x00",
        ),
        min_size=1,
        max_size=12,
    )

    @settings(max_examples=100, deadline=None)
    @given(st.lists(word, min_size=41, max_size=80))
    def check(words):
        text = " ".join(words)
        got = extract_text(template(text), mode="density")["text"]
        assert got == ws.sub(" ", text).strip()

    check()


def test_extract_links_with_text_anchors():
    from polars_dataset_spark.functions.html import (
        extract_links,
        extract_links_with_text,
    )

    html = (
        '<a href="/a">plain</a>'
        '<a href="/b"><b>bold</b> run</a>'
        '<a href="/c"><img src="x.png"></a>'
        '<a href="/d">first <a href="/e">second</a>'  # unclosed first <a>
        '<script><a href="/ghost">skip</a></script>'
        '<a href="/f">  spaced   out  </a>'
    )
    got = extract_links_with_text(html, "http://h.example/")
    assert got == [
        ("http://h.example/a", "plain"),
        ("http://h.example/b", "bold run"),
        ("http://h.example/c", ""),
        ("http://h.example/d", "first"),
        ("http://h.example/e", "second"),
        ("http://h.example/f", "spaced out"),
    ]
    # URL-only view unchanged (the q215 contract)
    assert extract_links(html, "http://h.example/") == [u for u, _ in got]


def test_html_links_with_text_operator(spark):
    from polars_dataset_spark.functions import html_links

    df = spark.createDataFrame(
        [(0, "http://h/", bytearray(b'<a href="/x">Label Here</a>'))],
        "page_id long, url string, payload binary",
    )
    r = html_links(df, url_col="url", with_text=True).first()
    assert r.link_url == "http://h/x" and r.anchor_text == "Label Here"
    # default stays text-free (schema-compatible with q215)
    assert "anchor_text" not in html_links(df, url_col="url").columns


def test_html_structure_template_invariance(spark):
    from polars_dataset_spark.functions import html_structure
    from polars_dataset_spark.functions.html import html_structure_tags

    a = '<div class="x"><p>hello</p><a href="/1">l</a></div>'
    b = '<div id="y"><p>completely other words</p><a href="/2">m</a></div>'
    c = "<div><p>hello</p><span>extra</span><a>l</a></div>"
    assert html_structure_tags(a) == html_structure_tags(b)
    assert html_structure_tags(a) != html_structure_tags(c)
    assert html_structure_tags("") == []
    df = spark.createDataFrame(
        [(0, bytearray(a.encode())), (1, bytearray(b.encode())), (2, None)],
        "page_id long, payload binary",
    )
    got = {r.page_id: r for r in html_structure(df).collect()}
    assert got[0].structure_sig == got[1].structure_sig
    assert got[0].n_tags == 3
    assert got[2].structure_sig is None and got[2].n_tags is None


def test_hostile_markup_never_raises():
    # deep nesting, unterminated everything, binary soup
    cases = [
        "<div>" * 5000 + "x" + "</div>" * 5000,
        "<p" + "a" * 100000,
        "<!--" + "x" * 50000,
        "&#xFFFFFFF;&bogus;&;<>" * 100,
        "\x00\x01\x02<script>" + "y" * 10000,  # unterminated script
    ]
    for html in cases:
        info = extract_text(html)
        assert isinstance(info["text"], str)


# ------------------------------------------------------ outlinks


def test_extract_links_resolution_and_filtering():
    from polars_dataset_spark.functions.html import extract_links

    h = (
        '<html><head><base href="/sub/"></head><body>'
        '<a href="page.html">rel</a>'
        '<a href="/abs">abs</a>'
        '<a href="//other.example/x">proto-rel</a>'
        '<a href="https://full.example/y#frag">full</a>'
        '<a href="javascript:void(0)">js</a>'
        '<a href="mailto:a@b.c">mail</a>'
        '<a href="#top">frag-only</a>'
        '<script>document.write(\'<a href="/ghost">skip</a>\')</script>'
        "</body></html>"
    )
    got = extract_links(h, "http://ex.com/dir/p.html")
    assert got == [
        "http://ex.com/sub/page.html",   # relative resolves against <base>
        "http://ex.com/abs",
        "http://other.example/x",        # protocol-relative inherits scheme
        "https://full.example/y",        # fragment stripped
    ]
    # no base at all: relatives are unresolvable and dropped
    assert extract_links('<a href="rel">x</a>', None) == []
    assert extract_links('<a href="http://a.example/">x</a>', None) == [
        "http://a.example/"
    ]
    # relative <base> resolves against the page URI first
    got = extract_links(
        '<head><base href="deep/"></head><a href="q">x</a>',
        "http://ex.com/dir/p.html",
    )
    assert got == ["http://ex.com/dir/deep/q"]


def test_html_links_operator_explodes(spark):
    from polars_dataset_spark.functions.html import html_links

    page = (
        b'<a href="/one">1</a><a href="two.html">2</a>'
        b'<a href="mailto:x@y.z">m</a>'
    )
    rows = [
        (0, "http://site.example/a/b.html", bytearray(page)),
        (1, "http://other.example/", bytearray(b"<p>no links</p>")),
        (2, None, None),
    ]
    df = spark.createDataFrame(rows, "page_id long, url string, payload binary")
    got = [
        (r.page_id, r.link_idx, r.link_url)
        for r in html_links(df, url_col="url").orderBy("page_id", "link_idx").collect()
    ]
    assert got == [
        (0, 0, "http://site.example/one"),
        (0, 1, "http://site.example/a/two.html"),
    ]
