"""Parser parity goldens on the reference's own HTML fixtures
(read-only at /root/reference/fixtures/html/), expectations from
parser/html/mod.rs:281-331.

html5ever (reference) vs stdlib html.parser (ours) differ in
error-recovery on malformed markup; deltas vs the exact reference
numbers are asserted within a documented tolerance where they occur.
"""

import hashlib
import os

import pytest

from netrunner_spark.parser.html import content_hash, html_to_text

FIX = "/root/reference/fixtures/html"


def _read(name: str) -> str:
    with open(os.path.join(FIX, name), encoding="utf-8") as f:
        return f.read()


@pytest.mark.skipif(not os.path.isdir(FIX), reason="reference fixtures unavailable")
class TestGoldens:
    def test_raw_html(self):
        doc = html_to_text("https://oldschool.runescape.wiki", _read("raw.html"))
        assert doc.title == "Old School RuneScape Wiki"
        assert len(doc.meta) == 9
        assert doc.content
        assert len(doc.links) == 58

    def test_wikipedia_title_and_description(self):
        doc = html_to_text("https://example.com", _read("wikipedia_entry.html"))
        assert doc.title == "Rust (programming language) - Wikipedia"
        assert doc.description == (
            "Rust  is a multi-paradigm , general-purpose programming language "
            " designed for performance  and safety, especially safe concurrency "
            ". Rust is syntactically  similar to C++ , but can guarantee memory "
            "safety  by using a borrow checker  to validate references . Rust "
            "achieves memory safety without garbage collection , and reference "
            "counting  is optional. Rust has been called a systems programming "
            " language, and in addition to high-level features such as "
            "functional programming  it also offers mechanisms for low-level "
            " memory management ."
        )

    def test_personal_blog_description(self):
        doc = html_to_text("https://example.com", _read("personal_blog.html"))
        assert doc.description == "2020 July 15 - San Francisco |  855 words"

    def test_yc_description(self):
        doc = html_to_text("https://example.com", _read("summary_test.html"))
        assert doc.title == "Why YC"
        assert doc.description.startswith("March 2006, rev August 2009")


def test_content_hash_is_blake2s():
    assert content_hash("abc") == hashlib.blake2s(b"abc").hexdigest()


def test_ignore_list_and_links():
    html = """
    <html><head><title> T </title>
      <meta name="description" content="">
      <meta property="og:description" content="og desc">
      <link rel="canonical" href="https://canon.test/page#frag">
    </head><body>
      <nav>navigation text</nav>
      <div role="navigation">role text</div>
      <script>var x = 1;</script>
      <p>hello <a href="/a">world</a></p>
      <a href="#anchor">anchor</a>
      <a rel="nofollow" href="/no">no</a>
      <a rel="External" href="/ext">ext</a>
      <br>
      <footer>footer text</footer>
    </body></html>"""
    doc = html_to_text("https://site.test/x", html)
    assert doc.title == "T"
    assert doc.links == {"https://site.test/a"}
    assert "navigation text" not in doc.content
    assert "role text" not in doc.content
    assert "var x" not in doc.content
    assert "footer text" not in doc.content
    assert "hello" in doc.content and "world" in doc.content
    # empty meta description falls through to og:description (X3)
    assert doc.description == "og desc"
    # canonical: absolute, fragment stripped (X4)
    assert doc.canonical_url == "https://canon.test/page"


def test_canonical_fallback_to_page_url():
    html = '<html><head><link rel="canonical" href="/relative"></head><body>x</body></html>'
    doc = html_to_text("https://site.test/x", html)
    assert doc.canonical_url == "https://site.test/x"


def test_htdig_noindex_skips_rest_of_level():
    html = """<html><head><title>t</title></head><body>
      <p>kept</p>
      <!-- htdig_noindex -->
      <p>dropped</p>
      <!-- /htdig_noindex -->
      <p>also dropped (reference quirk: re-enable branch unreachable)</p>
    </body></html>"""
    doc = html_to_text("https://s.test/", html)
    assert "kept" in doc.content
    assert "dropped" not in doc.content


def test_deeply_nested_page_degrades_instead_of_crashing(spark):
    """r5 review: 1500 nested divs blow the recursive DOM walk with
    RecursionError; one wild page must degrade to an empty parse for
    that row, never fail the batch."""
    from netrunner_spark.parser.udf import parse_pages

    deep = "<div>" * 1500 + "x" + "</div>" * 1500
    df = spark.createDataFrame(
        [("https://ok.test/", "<html><body><p>fine</p></body></html>"),
         ("https://deep.test/", deep)],
        "url string, content string",
    )
    rows = {r["url"]: r for r in parse_pages(df).collect()}
    assert rows["https://ok.test/"]["content"] == "fine"
    assert rows["https://deep.test/"]["content"] == ""
    assert rows["https://deep.test/"]["links"] == []


def test_parse_links_emits_next_depth_rows(spark):
    """Link expansion's parse: one (link, depth+1) row per out-link of
    each page, the same links ``html_to_text`` finds; a page too deeply
    nested to walk contributes no links instead of failing the batch."""
    from netrunner_spark.parser.udf import parse_links

    page = (
        "<html><body><a href='/a'>a</a> <a href='https://x.test/b'>b</a>"
        " <a href='#top'>skip</a> <a rel='nofollow' href='/n'>n</a></body></html>"
    )
    deep = "<div>" * 1500 + "<a href='/z'>z</a>" + "</div>" * 1500
    df = spark.createDataFrame(
        [("https://s.test/p", page, 1), ("https://deep.test/", deep, 0)],
        "url string, content string, depth int",
    )
    rows = parse_links(df).collect()
    assert sorted((r["url"], r["depth"]) for r in rows) == [
        (link, 2) for link in sorted(html_to_text("https://s.test/p", page).links)
    ]
    assert sorted(r["url"] for r in rows) == ["https://s.test/a", "https://x.test/b"]
