"""Content-Encoding handling (RFC 9110 §8.4): the wire compression
real servers apply to HTML. Unit behavior of decoded_content, the
deterministic gzip-serving synthetic web, and the end-to-end
invariant: a crawl over gzip-served pages equals the identity-served
crawl in every harvested column."""

from __future__ import annotations

import gzip
import zlib

import pytest
from pyspark.sql import functions as F

from webcollector_spark import fixtures
from webcollector_spark.config import CrawlerConfig
from webcollector_spark.crawler import RamCrawler
from webcollector_spark.sources.requester import Response, SyntheticRequester


def test_decoded_content_unit():
    body = b"<html>payload</html>" * 50
    assert Response(200, content=body).decoded_content() == body
    assert (
        Response(200, content=body, content_encoding="identity").decoded_content()
        == body
    )
    gz = Response(200, content=gzip.compress(body), content_encoding="gzip")
    assert gz.decoded_content() == body
    zl = Response(200, content=zlib.compress(body), content_encoding="deflate")
    assert zl.decoded_content() == body
    # the historical raw-deflate-under-'deflate' server bug
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    raw = Response(
        200, content=co.compress(body) + co.flush(), content_encoding="deflate"
    )
    assert raw.decoded_content() == body
    assert Response(200, content=None, content_encoding="gzip").decoded_content() is None
    with pytest.raises(NotImplementedError, match="br"):
        Response(200, content=b"x", content_encoding="br").decoded_content()
    with pytest.raises(ValueError, match="guard"):
        Response(
            200, content=b"x" * 100, content_encoding="gzip"
        ).decoded_content(max_encoded=10)


def test_synthetic_web_serves_deterministic_gzip(small_web):
    graph, corpus = small_web
    plain = SyntheticRequester(
        graph.to_dict("records"), corpus.to_dict("records")
    )
    gzweb = SyntheticRequester(
        graph.to_dict("records"), corpus.to_dict("records"), gzip_pages=True
    )
    encodings = set()
    for url in list(graph["url"])[:20]:
        a, b = plain.fetch(url), gzweb.fetch(url)
        if a.code != 200:
            continue
        encodings.add(b.content_encoding)
        assert b.decoded_content() == a.content, url
        if b.content_encoding == "gzip":
            assert b.content[:2] == b"\x1f\x8b"  # really compressed on the wire
            assert b.etag == a.etag  # entity tag is of the representation
    assert encodings == {None, "gzip"}  # the split actually happens


def test_crawl_over_gzip_web_equals_identity_crawl(spark, small_web):
    graph, corpus = small_web

    def crawl(gz: bool):
        req = SyntheticRequester(
            graph.to_dict("records"), corpus.to_dict("records"), gzip_pages=gz
        )
        c = RamCrawler(spark, req, config=CrawlerConfig())
        c.add_seed(fixtures.seeds_for(graph, 3))
        c.start(3)
        return {
            r.key: (r.status, r.code, r.execute_count)
            for r in c.store.load().collect()
        }

    assert crawl(True) == crawl(False)


def test_inflated_side_bomb_guard():
    """ADVICE r4: the encoded-size guard alone admits ~1000x gzip
    expansion; the INFLATED side must be capped during streaming, and
    partial=True must degrade to truncation instead of raising."""
    bomb = gzip.compress(b"\x00" * (8 << 20))  # ~8 MiB -> ~8 KiB encoded
    assert len(bomb) < 64 << 10
    r = Response(200, content=bomb, content_encoding="gzip")
    with pytest.raises(ValueError, match="inflated"):
        r.decoded_content(max_inflated=1 << 20)
    got = r.decoded_content(max_inflated=1 << 20, partial=True)
    assert got == b"\x00" * (1 << 20)  # exactly the cap, correct prefix
    # under-cap body is untouched by the guard
    ok = gzip.compress(b"abc" * 100)
    assert Response(
        200, content=ok, content_encoding="gzip"
    ).decoded_content(max_inflated=1 << 20) == b"abc" * 100


def test_truncated_encoded_stream_salvages_prefix():
    """A byte-capped fetch truncates the ENCODED body; partial=True
    must return the decodable inflated prefix (usable truncated HTML)
    rather than failing the row (ADVICE r4)."""
    body = b"<html>" + b"word " * 20000 + b"</html>"
    enc = gzip.compress(body)
    cut = Response(200, content=enc[: len(enc) // 2], content_encoding="gzip")
    with pytest.raises(zlib.error):
        cut.decoded_content()  # strict mode still refuses
    prefix = cut.decoded_content(partial=True)
    assert prefix and body.startswith(prefix)
    assert len(prefix) > 1000  # a real salvage, not an empty string
    # deflate path, both zlib-wrapped and raw
    for wrap in (True, False):
        co = zlib.compressobj(6, zlib.DEFLATED, 15 if wrap else -15)
        denc = co.compress(body) + co.flush()
        dcut = Response(
            200, content=denc[: len(denc) // 2], content_encoding="deflate"
        )
        dprefix = dcut.decoded_content(partial=True)
        assert dprefix and body.startswith(dprefix)


def test_robots_txt_gzip_decoded(monkeypatch):
    """ADVICE r4: a server that gzips robots.txt must still yield
    parsed rules — not binary garbage that silently allows all."""
    from webcollector_spark.sources.requester import HttpRequester, RobotsCache

    body = b"User-agent: *\nDisallow: /private/\nCrawl-delay: 2\n"
    req = HttpRequester()
    monkeypatch.setattr(
        req,
        "fetch",
        lambda url, **kw: Response(
            200,
            content=gzip.compress(body),
            content_encoding="gzip",
            content_type="text/plain",
        ),
    )
    got = req.robots_txt("example.test")
    assert got == body.decode()
    rules, delay = RobotsCache.parse_rules(got)
    assert rules == [("/private/", False)] and delay == 2.0


def test_capped_inflate_fuzz_truncation_points():
    """Every truncation point of a gzip/deflate stream must either
    salvage a correct prefix (partial=True) or raise — never return
    wrong bytes, never blow past the cap."""
    from webcollector_spark.sources.requester import capped_inflate

    body = (b"<p>" + b"the quick brown fox " * 500 + b"</p>") * 3
    for encoding, enc in (
        ("gzip", gzip.compress(body)),
        ("deflate", zlib.compress(body)),
    ):
        for cut in range(1, len(enc), max(1, len(enc) // 23)):
            try:
                got = capped_inflate(enc[:cut], encoding, 1 << 20, partial=True)
            except Exception:
                continue  # undecodable prefix: raising is legal
            assert body.startswith(got), (encoding, cut)
        # cap honored at every cap value
        for cap in (0, 1, 7, 100, len(body) - 1, len(body)):
            got = capped_inflate(enc, encoding, cap, partial=True)
            assert got == body[:cap], (encoding, cap)
            if cap < len(body):
                with pytest.raises(ValueError, match="inflated"):
                    capped_inflate(enc, encoding, cap)


def test_corrupt_stream_fails_the_row_instead_of_salvaging():
    """A body corrupted mid-stream is not a truncation: partial=True
    must not return its decodable prefix as a page, and the fetch pass
    marks the row FAILED so it keeps its retry budget."""
    from webcollector_spark.functions.regex_rule import RegexRule
    from webcollector_spark.operators.fetch import _fetch_one
    from webcollector_spark.schema import STATUS_DB_FAILED
    from webcollector_spark.sources.requester import capped_inflate

    import random

    # incompressible text, so the corruption lands past the first 64 KiB
    # chunk of the encoded stream with a decoded prefix already out
    words = random.Random(7).randbytes(150_000).hex().encode()
    body = b"<html>" + words + b"</html>"
    enc = bytearray(gzip.compress(body))
    at = len(enc) * 3 // 4
    enc[at : at + 16] = b"\xff" * 16
    for partial in (False, True):
        with pytest.raises(zlib.error):
            capped_inflate(bytes(enc), "gzip", 1 << 20, partial=partial)

    class CorruptWeb:
        def fetch(self, url, attempt=1, etag=None, last_modified=None):
            return Response(200, content=bytes(enc), content_type="text/html",
                            content_encoding="gzip")

    row = {"key": "http://h/a", "url": "http://h/a", "host": "h",
           "execute_count": 0, "meta": None}
    out = _fetch_one(row, CorruptWeb(), RegexRule([]), CrawlerConfig())
    assert out["status"] == STATUS_DB_FAILED and out["code"] == 200
    assert out["execute_count"] == 1 and out["links"] is None


def test_capped_inflate_garbage_never_succeeds_strict():
    import random

    from webcollector_spark.sources.requester import capped_inflate

    rng = random.Random(4)
    for _ in range(20):
        junk = bytes(rng.randrange(256) for _ in range(200))
        for encoding in ("gzip", "deflate"):
            try:
                out = capped_inflate(junk, encoding, 1 << 16)
            except Exception:
                continue  # expected for almost all junk
            # freak accidental decode: output still bounded
            assert len(out) <= 1 << 16
