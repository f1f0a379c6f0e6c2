"""O4 — Visitor dispatch: route each fetched Page to a handler
(reference fetcher/VisitorMethodDispatcher.java, annotations in
fetcher/Visitor.java:44-82).

Python surface: decorators replace the Java annotations —

    class MyVisitor(Visitor):
        @match_code(301, 302)
        def on_redirect(self, page, next): ...
        @match_type("list")
        def on_list(self, page, next): ...
        @match_null_type
        def on_untyped(self, page, next): ...
        @match_url(r"https?://.*/item/.*")
        def on_item(self, page, next): ...
        @match_url_regex_rule("+.*detail.*", "-.*login.*")
        def on_detail(self, page, next): ...
        @before_visit
        def pre(self, page, next): ...
        @after_parse
        def post(self, page, next): ...
        def visit(self, page, next): ...   # the default handler

Dispatch precedence is the reference's exactly
(VisitorMethodDispatcher.java:199-230): beforeVisit always runs first;
then the FIRST match wins in the order code -> type -> url-regex ->
url-regex-rule -> default visit; then autoParse link harvesting (only
when a RegexRule is configured, ":221-223"); then afterParse.

Spark shape: the whole dispatcher runs inside the fetch stage's Arrow
batches (a Visitor is a row->rows UDTF, SURVEY §2.5): `fetch` calls
`dispatch` on each fetched page and carries the handler-emitted datums
out as its `next_datums` column.
"""

from __future__ import annotations

from webcollector_spark.datum import CrawlDatums
from webcollector_spark.functions.page import Page
from webcollector_spark.functions.regex_rule import RegexRule


def match_code(*codes: int):
    def deco(fn):
        fn._match_codes = list(codes)
        return fn

    return deco


def match_type(*types: str):
    def deco(fn):
        fn._match_types = list(types)
        return fn

    return deco


def match_null_type(fn):
    """Visitor.MatchNullType — handler for pages whose datum has no type
    (typeMethodMap key null in the reference)."""
    fn._match_null_type = True
    return fn


def match_url(url_regex: str):
    def deco(fn):
        fn._match_url = url_regex
        return fn

    return deco


def match_url_regex_rule(*rules: str):
    def deco(fn):
        fn._match_url_regex_rule = list(rules)
        return fn

    return deco


def before_visit(fn):
    fn._before_visit = True
    return fn


def after_parse(fn):
    fn._after_parse = True
    return fn


class Visitor:
    """User extension point (fetcher/Visitor.java:26-40 `visit`)."""

    def visit(self, page: Page, next: CrawlDatums) -> None:  # noqa: A002
        pass


class VisitorDispatcher:
    """Build the method maps once per Visitor instance
    (VisitorMethodDispatcher.java:56-158), dispatch per page."""

    def __init__(
        self,
        visitor: Visitor,
        auto_parse: bool = False,
        regex_rule: RegexRule | None = None,
    ):
        self.visitor = visitor
        self.auto_parse = auto_parse
        self.regex_rule = regex_rule or RegexRule([])
        self.code_map: dict[int, object] = {}
        self.type_map: dict[str | None, object] = {}
        self.url_regex_map: dict[str, object] = {}
        self.url_rule_map: list[tuple[RegexRule, object]] = []
        self.before_method = None
        self.after_method = None

        for name in dir(visitor):
            fn = getattr(visitor, name)
            if not callable(fn):
                continue
            for code in getattr(fn, "_match_codes", []):
                self.code_map[code] = fn
            for t in getattr(fn, "_match_types", []):
                self.type_map[t] = fn
            if getattr(fn, "_match_null_type", False):
                self.type_map[None] = fn
            if getattr(fn, "_match_url", None):
                self.url_regex_map[fn._match_url] = fn
            if getattr(fn, "_match_url_regex_rule", None):
                self.url_rule_map.append((RegexRule(fn._match_url_regex_rule), fn))
            if getattr(fn, "_before_visit", False):
                self.before_method = fn
            if getattr(fn, "_after_parse", False):
                self.after_method = fn

    def _route(self, page: Page):
        """First match wins: code -> type -> url-regex -> url-rule ->
        default (VisitorMethodDispatcher.java:206-220)."""
        m = self.code_map.get(page.code)
        if m is None:
            key = page.meta.get("s_t")
            m = self.type_map.get(key) if key in self.type_map else None
        if m is None:
            for regex, fn in self.url_regex_map.items():
                if page.match_url(regex):
                    m = fn
                    break
        if m is None:
            for rule, fn in self.url_rule_map:
                if rule.satisfy(page.url):
                    m = fn
                    break
        return m if m is not None else self.visitor.visit

    def dispatch(self, page: Page, next: CrawlDatums) -> None:  # noqa: A002
        if self.before_method is not None:
            self.before_method(page, next)
        self._route(page)(page, next)
        if (
            self.auto_parse
            and not self.regex_rule.is_empty()
            and page.content_type is not None
            and "text/html" in page.content_type
        ):
            # parseLink (":240-250"): harvest rule-matching anchors —
            # only for HTML payloads (the ":241-242" contentType gate;
            # JSON/binary pages must not be link-harvested)
            for u in page.links("a"):
                if self.regex_rule.satisfy(u):
                    next.add(u)
        if self.after_method is not None:
            self.after_method(page, next)
