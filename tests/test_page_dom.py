"""Page expression library + DOM + dispatcher + datum tests —
the reference's unit-test shapes (SURVEY §5: CrawlDatumTest,
CrawlDatumsTest, MetaTest) plus coverage for select/attr/links/regex
(model/Page.java API) and the visitor dispatch precedence
(VisitorMethodDispatcher.java:199-230)."""

from __future__ import annotations

import pytest

from webcollector_spark.datum import CrawlDatum, CrawlDatums
from webcollector_spark.functions.dom import parse_html
from webcollector_spark.functions.extractor import get_news_by_html
from webcollector_spark.functions.page import Page
from webcollector_spark.operators.dispatch import (
    Visitor,
    VisitorDispatcher,
    after_parse,
    before_visit,
    match_code,
    match_type,
    match_url,
)

HTML = """
<html><head><title>Example Article Title</title></head>
<body>
  <div id="nav"><a href="/a">n1</a><a href="/b">n2</a></div>
  <h1>Example Article Title</h1>
  <div class="article" id="main">
    <p>First paragraph of the body text with enough words to matter.</p>
    <p>Second paragraph, also reasonably long for density purposes.</p>
    <p>Published 2024-03-15 09:30:05 by staff.</p>
    <span class="num"> 42 </span>
    <span class="num">7</span>
    <a href="http://x.test/rel">rel link</a>
  </div>
</body></html>
"""


class TestDom:
    def test_select_by_tag_class_id(self):
        root = parse_html(HTML)
        assert len(root.select("p")) == 3
        assert root.select_first("div.article").attr("id") == "main"
        assert root.select_first("#nav").tag == "div"
        assert len(root.select("div.article > p")) == 3
        assert len(root.select("#nav a")) == 2
        assert len(root.select("p, span")) == 5

    def test_attr_prefix_suffix(self):
        root = parse_html('<div id="title_x"></div><div class="y_title"></div>')
        assert len(root.select("*[id^=title]")) == 1
        assert len(root.select("*[class$=title]")) == 1

    def test_text_normalization(self):
        root = parse_html("<p>  a\n  b  <b>c</b>  d</p>")
        assert root.select_first("p").text() == "a b c d"

    def test_remove_and_outer_html(self):
        root = parse_html("<div><script>var x;</script><p>keep</p></div>")
        for el in root.select("script"):
            el.remove()
        assert "var x" not in root.outer_html()
        assert "<p>keep</p>" in root.outer_html()


class TestPage:
    def page(self) -> Page:
        return Page(url="http://h0.test/p/1", html=HTML, code=200)

    def test_select_text_and_casts(self):
        p = self.page()
        assert p.select_text("h1") == "Example Article Title"
        assert p.select_int("span.num") == 42
        assert p.select_int("span.num", 1) == 7
        # negative index wraps (Page.java:277-284)
        assert p.select_int("span.num", -1) == 7
        assert p.select_int_list("span.num") == [42, 7]

    def test_attrs_and_links(self):
        p = self.page()
        assert p.attr("div.article", "id") == "main"
        assert p.attrs("#nav a", "href") == ["/a", "/b"]
        links = p.links("a")
        assert "http://h0.test/a" in links  # urljoin absolutization
        assert "http://x.test/rel" in links

    def test_regex_group_default(self):
        p = self.page()
        assert p.regex(r"Published (\d{4})", 1) == "2024"
        assert p.regex(r"nomatch", 0, "fallback") == "fallback"  # Page.java:300

    def test_match_helpers(self):
        p = self.page()
        assert p.match_url(r"http://h0\.test/.*")
        assert not p.match_url(r"http://other\..*")
        p.meta["s_t"] = "list"
        assert p.match_type("list") and not p.match_type("item")

    def test_json(self):
        p = Page(url="u", html='{"a": [1, 2]}')
        assert p.json_object() == {"a": [1, 2]}
        p2 = Page(url="u", html='prefix {"k": 1} suffix')
        assert p2.regex_json_object(r"\{[^}]*\}") == {"k": 1}


class TestDatum:
    def test_key_fallback(self):
        # CrawlDatumTest.java:38-43
        d = CrawlDatum("http://a.test/")
        assert d.key() == "http://a.test/"
        d.key("custom")
        assert d.key() == "custom"

    def test_meta_roundtrip(self):
        # MetaTest.java:13-49 typed round-trips
        d = CrawlDatum("u").meta("i", 3).meta("d", 2.5).meta("b", True).meta("l", 9)
        assert d.meta_as_int("i") == 3
        assert d.meta_as_double("d") == 2.5
        assert d.meta_as_boolean("b") is True
        assert d.meta_as_long("l") == 9
        assert d.meta("i") == "3"  # stringly stored

    def test_type_via_meta(self):
        d = CrawlDatum("u").type("list")
        assert d.meta("s_t") == "list" and d.type() == "list"

    def test_json_array_roundtrip(self):
        d = CrawlDatum("http://a.test/").meta("k", "v")
        d.status = 5
        d.execute_time = 123
        d.execute_count = 2
        s = d.as_json_array()
        back = CrawlDatum.from_json_array("http://a.test/", s)
        assert back.url() == "http://a.test/"
        assert back.status == 5
        assert back.execute_time == 123
        assert back.execute_count == 2
        assert back.meta("k") == "v"

    def test_json_array_no_meta_is_6_elements(self):
        import json

        # meta attached only when non-empty (CrawlDatum.java:308-310);
        # reader only reads meta at exactly 7 elements (":323-325")
        assert len(json.loads(CrawlDatum("u").as_json_array())) == 6

    def test_datums_broadcast_setters(self):
        # CrawlDatumsTest.java:33-81
        ds = CrawlDatums()
        assert ds.add("http://a/").add("http://b/") is ds
        added = ds.add_and_return("http://c/")
        assert added.url() == "http://c/"
        ds.type("t").meta("depth", 2)
        assert all(d.type() == "t" and d.meta("depth") == "2" for d in ds)


class TestDispatch:
    class V(Visitor):
        def __init__(self):
            self.calls = []

        @before_visit
        def pre(self, page, nxt):
            self.calls.append("pre")

        @match_code(301, 302)
        def on_redirect(self, page, nxt):
            self.calls.append("code")

        @match_type("list")
        def on_list(self, page, nxt):
            self.calls.append("type")
            nxt.add("http://h.test/next")

        @match_url(r"http://h\.test/item/.*")
        def on_item(self, page, nxt):
            self.calls.append("url")

        @after_parse
        def post(self, page, nxt):
            self.calls.append("post")

        def visit(self, page, nxt):
            self.calls.append("default")

    def _dispatch(self, page):
        v = self.V()
        d = VisitorDispatcher(v)
        nxt = CrawlDatums()
        d.dispatch(page, nxt)
        return v.calls, nxt

    def test_code_beats_type(self):
        page = Page(url="u", code=301, meta={"s_t": "list"})
        calls, _ = self._dispatch(page)
        assert calls == ["pre", "code", "post"]

    def test_type_beats_url(self):
        page = Page(url="http://h.test/item/1", code=200, meta={"s_t": "list"})
        calls, nxt = self._dispatch(page)
        assert calls == ["pre", "type", "post"]
        assert len(nxt) == 1 and nxt[0].url() == "http://h.test/next"

    def test_url_then_default(self):
        calls, _ = self._dispatch(Page(url="http://h.test/item/1", code=200))
        assert calls == ["pre", "url", "post"]
        calls, _ = self._dispatch(Page(url="http://h.test/other", code=200))
        assert calls == ["pre", "default", "post"]


class TestContentExtractor:
    def test_extracts_article(self):
        news = get_news_by_html(HTML)
        assert "First paragraph" in news.content
        assert "Second paragraph" in news.content
        assert "n1" not in news.content  # nav links rejected by density
        assert news.title == "Example Article Title"
        assert news.time == "2024-03-15 09:30:05"

    def test_date_fallback(self):
        html = HTML.replace("2024-03-15 09:30:05", "2024-03-15")
        news = get_news_by_html(html)
        assert news.time == "2024-03-15"

    def test_raises_on_empty(self):
        with pytest.raises(ValueError):
            get_news_by_html("<html><body></body></html>")


class TestHtmlHelpers:
    def test_extract_links_auto_detect_img(self):
        from webcollector_spark.functions import html as H

        doc = (
            '<a href="/x">a</a>'
            '<img src="/img/pic.png"/>'
            '<img src="data:image/png;base64,AAAA"/>'
            '<script src="http://cdn.test/s.js"></script>'
        )
        base = "http://h.test/p/1"
        plain = H.extract_links(doc, base, detect_img=False)
        assert plain == ["http://h.test/x"]
        with_img = H.extract_links(doc, base, detect_img=True)
        assert "http://h.test/img/pic.png" in with_img
        assert "http://cdn.test/s.js" in with_img  # *[src] harvest
        assert all(not u.startswith("data:") for u in with_img)

    def test_extract_links_dedup_preserves_order(self):
        from webcollector_spark.functions import html as H

        doc = '<a href="/b">1</a><a href="/a">2</a><a href="/b">3</a>'
        assert H.extract_links(doc, "http://h.test/") == [
            "http://h.test/b",
            "http://h.test/a",
        ]

    def test_extract_links_decodes_entities_like_page_links(self):
        from webcollector_spark.functions import html as H

        doc = '<a href="/p?a=1&amp;b=2">x</a>'
        want = ["http://h.test/p?a=1&b=2"]
        assert H.extract_links(doc, "http://h.test/") == want
        assert Page(url="http://h.test/", html=doc).links() == want


def test_extract_news_pandas_udf_builds_and_runs(spark):
    """The Arrow-batched extractor UDF must construct under postponed
    annotations (regression: a function-local pandas import left
    'pd.Series' unresolvable and pyspark rejected the signature) and
    extract through the batch path."""
    from webcollector_spark.functions.extractor import extract_news_udf

    html = (
        "<html><head><title>Big Story - Site</title></head>"
        "<body><h1>Big Story</h1>"
        "<div><p>" + "news body text here. " * 30 + "</p>"
        "<p>2026-08-16 09:15:03</p></div></body></html>"
    )
    df = spark.createDataFrame([(html,), (None,)], "html string")
    rows = (
        df.select(extract_news_udf()("html").alias("n"))
        .select("n.*")
        .collect()
    )
    assert len(rows) == 2
    assert rows[0].title == "Big Story"
    assert "news body text" in rows[0].content
    assert rows[0].time == "2026-08-16 09:15:03"
    assert rows[1].title is None
