"""Ported goldens from the reference test suite (tests/test_extractors.py,
tests/test_utils.py, tests/test_metadata.py) pinning the byte-identical
scalar semantics."""

from __future__ import annotations

import base64
from datetime import datetime, timezone

from ftw_crawler_spark.functions import html as htmlmod
from ftw_crawler_spark.functions import scalars


# --- normalize_whitespace (test_utils.py:101-116) -------------------------

def test_normalize_whitespace_collapses_all_runs():
    assert scalars.normalize_whitespace("foo\tbar") == "foo bar"
    assert scalars.normalize_whitespace("foo\nbar") == "foo bar"
    assert scalars.normalize_whitespace("foo\r\nbar") == "foo bar"
    assert scalars.normalize_whitespace("foo  \t\n  bar") == "foo bar"
    assert scalars.normalize_whitespace("  foo bar  ") == "foo bar"
    # unicode whitespace classes follow str.split(), not regex \s
    assert scalars.normalize_whitespace("foobar baz") == \
        "foo bar baz"


# --- UID (test_extractors.py:513-541) --------------------------------------

def test_uid_golden():
    assert scalars.uid_for_url("http://example.org") == \
        "dab521de-65f9-250b-4cca-7383feef67dc"


def test_uid_stable_and_distinct():
    a = scalars.uid_for_url("http://example.org")
    b = scalars.uid_for_url("http://example.org/foo")
    assert a == scalars.uid_for_url("http://example.org")
    assert a != b


# --- slug (test_extractors.py:544-598) --------------------------------------

def test_slug_basename():
    assert scalars.slug_for_url("http://example.org/foo/bar") == "bar"


def test_slug_trailing_slash():
    assert scalars.slug_for_url("http://example.org/foo/bar/") == "bar"


def test_slug_root_is_index_html():
    assert scalars.slug_for_url("http://example.org/") == "index-html"
    assert scalars.slug_for_url("http://example.org") == "index-html"


def test_slug_percent_encoding():
    assert scalars.slug_for_url("http://example.org/foo%20bar") == "foo-bar"


def test_slug_non_ascii():
    assert scalars.slug_for_url("http://example.org/b\xe4rengraben") == \
        "barengraben"
    assert scalars.slug_for_url(
        "http://example.org/b%C3%A4rengraben") == "barengraben"


# --- snippet lstrip quirk (test_extractors.py:375-430) ----------------------

def test_snippet_returns_text_when_no_title_prefix():
    assert scalars.snippet_text("Lorem Ipsum", "Foo") == "Lorem Ipsum"


def test_snippet_strips_title_prefix():
    assert scalars.snippet_text(
        scalars.normalize_whitespace("My Title\nLorem Ipsum"),
        "My Title") == "Lorem Ipsum"


def test_snippet_characterset_strip_quirk():
    # title 'Bären' strips the 'r' and 'en' of 'Bärengraben' too
    assert scalars.snippet_text("B\xe4rengraben", "B\xe4ren") == "graben"


# --- keywords (test_extractors.py:471-510) ----------------------------------

def test_keywords_comma_split():
    assert scalars.split_keywords("Foo, Bar,Baz") == ["Foo", "Bar", "Baz"]


def test_keywords_whitespace_split():
    assert scalars.split_keywords("Foo Bar  Baz") == ["Foo", "Bar", "Baz"]


def test_keywords_empty_items_kept():
    assert scalars.split_keywords("a,,b") == ["a", "", "b"]


# --- dates (test_utils.py:20-65) --------------------------------------------

def test_from_iso_date_only():
    dt = scalars.from_iso_datetime("2014-12-31")
    assert dt == datetime(2014, 12, 31, tzinfo=timezone.utc)


def test_from_iso_with_offset():
    dt = scalars.from_iso_datetime("2014-12-31T12:00:00+02:00")
    assert dt == datetime(2014, 12, 31, 10, 0, 0, tzinfo=timezone.utc)


def test_to_iso_format_includes_microseconds():
    dt = datetime(2014, 12, 31, 12, 30, 45, 123456, tzinfo=timezone.utc)
    assert scalars.to_iso_datetime(dt) == "2014-12-31T12:30:45.123456Z"


def test_to_http_datetime_tz_aware_golden():
    # reference tests/test_utils.py:70-80 (CET → GMT)
    from datetime import timedelta
    cet = timezone(timedelta(hours=1))
    dt = datetime(2014, 12, 31, 15, 45, 30, 999, tzinfo=cet)
    assert scalars.to_http_datetime(dt) == "Wed, 31 Dec 2014 14:45:30 GMT"


def test_to_http_datetime_naive_assumed_utc():
    dt = datetime(2014, 6, 30, 15, 45, 30)
    assert scalars.to_http_datetime(dt) == "Mon, 30 Jun 2014 15:45:30 GMT"


def test_from_http_datetime_three_rfc2616_formats():
    # reference tests/test_utils.py:82-98 — RFC 1123, RFC 850, asctime
    dt = datetime(2014, 6, 30, 15, 45, 30, tzinfo=timezone.utc)
    assert scalars.from_http_datetime("Mon, 30 Jun 2014 15:45:30 GMT") == dt
    assert scalars.from_http_datetime("Monday, 30-Jun-14 15:45:30 GMT") == dt
    assert scalars.from_http_datetime("Mon Jun 30 15:45:30 2014") == dt
    # winter date too (reference guards against DST issues)
    dt_w = datetime(2014, 12, 31, 15, 45, 30, tzinfo=timezone.utc)
    assert scalars.from_http_datetime("Wed, 31 Dec 2014 15:45:30 GMT") == dt_w


def test_http_datetime_roundtrip():
    dt = datetime(2015, 3, 7, 8, 9, 10, tzinfo=timezone.utc)
    assert scalars.from_http_datetime(scalars.to_http_datetime(dt)) == dt


# --- content-type / filename / headers ---------------------------------------

def test_get_content_type_strips_charset():
    assert scalars.get_content_type("text/html; charset=utf-8") == "text/html"
    assert scalars.get_content_type(None) is None


def test_filename_from_content_disposition():
    assert scalars.filename_from_content_disposition(
        'attachment; filename="foo.pdf"') == "foo.pdf"
    assert scalars.filename_from_content_disposition(
        "inline; filename=bar.txt") == "bar.txt"
    assert scalars.filename_from_content_disposition("inline") is None


def test_document_title_header_base64():
    encoded = base64.b64encode("  Bärengraben ".encode()).decode()
    assert scalars.decode_document_title_header(encoded) == "Bärengraben"


def test_gzip_roundtrip():
    data = b"<urlset></urlset>"
    import gzip as _gz
    assert scalars.gunzip(_gz.compress(data)) == data
    assert scalars.is_gzipped("application/x-gzip", "http://x/a.xml")
    assert scalars.is_gzipped("text/xml", "http://x/sitemap.xml.gz")
    assert not scalars.is_gzipped("text/xml", "http://x/sitemap.xml")


# --- metadata canonicalization (test_metadata.py:7-26) -----------------------

def test_metadata_precedence_first_hit_wins():
    meta = scalars.canonicalize_metadata(
        {"dc:title": "DC", "title": "plain"})
    assert meta["title"] == "DC"          # dc:title outranks plain title
    assert meta["dc:title"] == "DC"       # originals preserved


def test_metadata_author_maps_to_creator():
    meta = scalars.canonicalize_metadata({"author": "Hans"})
    assert meta["creator"] == "Hans"


# --- html: DOM, xpath, text (fixtures assets/html5_doc.html) -----------------

HTML5_DOC = b"""<!DOCTYPE html>
<html>
  <head>
    <title>HTML 5 Example</title>
    <meta charset="utf-8"/>
  </head>
 <body>
 \t<div id="content">
 \t\t<h1><span>Der</span> B\xc3\xa4rengraben</h1>

 \t\t<p>Foo</p>
 \t\t<p>Bar</p>
 \t</div>
 </body>
</html>"""


def test_xpath_h1_text_content():
    # golden: test_extractors.py:312-317 — descendant text included
    root = htmlmod.parse_html(HTML5_DOC)
    node = htmlmod.xpath_first(root, "//div[@id='content']/h1")
    assert node.text_content() == "Der B\xe4rengraben"


def test_xpath_no_match_returns_none():
    root = htmlmod.parse_html(b"<html><body><p>x</p></body></html>")
    assert htmlmod.xpath_first(root, "//div[@id='content']/h1") is None


def test_extract_metadata_title_and_meta_tags():
    doc = (b"<html><head><title>T</title>"
           b'<meta name="description" content="D"/>'
           b'<meta name="keywords" content="a, b"/>'
           b'<meta name="author" content="A"/></head><body></body></html>')
    raw = htmlmod.extract_metadata(doc, "text/html")
    meta = scalars.canonicalize_metadata(raw)
    assert meta["title"] == "T"
    assert meta["description"] == "D"
    assert meta["creator"] == "A"
    assert scalars.split_keywords(meta["keywords"]) == ["a", "b"]


def test_extract_metadata_non_markup_is_empty():
    assert htmlmod.extract_metadata(b"%PDF-1.4", "application/pdf") == {}


def test_encoding_sniff_latin1_fallback():
    latin = "<html><body><p>B\xe4r</p></body></html>".encode("latin-1")
    assert htmlmod.sniff_encoding(latin) == "latin-1"
    root = htmlmod.parse_html(latin)
    node = htmlmod.xpath_first(root, "//p")
    assert node.text_content() == "B\xe4r"


def test_html_to_text_blocks_and_skip_script():
    doc = (b"<html><head><title>T</title><script>var x=1;</script></head>"
           b"<body><div id='content'><h1>H</h1><p>A</p><p>B</p></div>"
           b"</body></html>")
    assert htmlmod.html_to_text(doc, "text/html") == "T\nH\nA\nB"

