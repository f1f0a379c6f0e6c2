"""Property-based tests (hypothesis) — SURVEY §5 notes the reference
has none; these pin the invariants that matter at scale:

* MERGE semantics vs a dict model on arbitrary segment contents
  (fetch overwrite / link insert-if-absent / untouched rows unchanged)
* CrawlDatum positional-JSON codec round-trip
* url_to_path total function (never raises, host-prefixed)
* bloom filter: no false negatives, fpp within budget
* codecs.decode fails only as ValueError/NotImplementedError on corrupt
  payloads, and the header-only readers never raise
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from webcollector_spark.datum import CrawlDatum
from webcollector_spark.operators.seen import Bloom
from webcollector_spark.sinks import url_to_path

# -- codec round-trip ---------------------------------------------------

meta_scalars = st.one_of(
    st.integers(-(10**12), 10**12),
    st.booleans(),
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters='"\\'),
        max_size=20,
    ),
)


@given(
    url=st.text(min_size=1, max_size=50).map(lambda s: "http://h.test/" + s),
    status=st.sampled_from([0, 1, 5]),
    etime=st.integers(0, 2**41),
    count=st.integers(0, 100),
    meta=st.dictionaries(st.text(min_size=1, max_size=10), meta_scalars, max_size=5),
)
@settings(max_examples=200, deadline=None)
def test_datum_json_roundtrip(url, status, etime, count, meta):
    d = CrawlDatum(url)
    d.status, d.execute_time, d.execute_count = status, etime, count
    for k, v in meta.items():
        d.meta(k, v)
    back = CrawlDatum.from_json_array(url, d.as_json_array())
    assert back.url() == url
    assert back.status == status
    assert back.execute_time == etime
    assert back.execute_count == count
    assert back.meta_data == d.meta_data


# -- url_to_path total --------------------------------------------------


@given(
    path=st.text(
        alphabet=st.sampled_from(list("abc/._-")), max_size=20
    ),
    query=st.one_of(st.none(), st.text(alphabet=st.sampled_from(list("xy=&")), max_size=8)),
)
@settings(max_examples=200, deadline=None)
def test_url_to_path_total(path, query):
    url = "http://host.test/" + path + (f"?{query}" if query else "")
    out = url_to_path(url)
    assert out.startswith("host.test/")
    assert "?" not in out


# -- bloom invariants ---------------------------------------------------


@given(
    present=st.lists(st.text(min_size=1, max_size=30), min_size=1, max_size=500, unique=True),
)
@settings(max_examples=25, deadline=None)
def test_bloom_no_false_negatives(present):
    b = Bloom(capacity=max(64, len(present) * 2), fpp=0.01)
    b.add_series(pd.Series(present))
    assert b.maybe_contains(pd.Series(present)).all()


# -- merge semantics vs dict model (Spark; few examples, they each run
#    a job) ------------------------------------------------------------

key_st = st.text(alphabet=st.sampled_from(list("abcdef")), min_size=1, max_size=3)


@st.composite
def merge_case(draw):
    frontier = draw(st.dictionaries(key_st, st.sampled_from([0, 1, 5]), min_size=1, max_size=8))
    fetch_keys = draw(st.lists(st.sampled_from(sorted(frontier)), max_size=6, unique=True))
    links = draw(st.lists(key_st, max_size=6, unique=True))
    return frontier, fetch_keys, links


@given(case=merge_case())
@settings(max_examples=8, deadline=None)
def test_merge_matches_dict_model(spark, case):
    from webcollector_spark.schema import FRONTIER_SCHEMA
    from webcollector_spark.store import RamFrontierStore

    frontier, fetch_keys, links = case

    def row(key, status, count=0, etime=None):
        return (key, f"http://h.test/{key}", status, etime, count, -1, None,
                None, "h.test", 0, 0.0)

    store = RamFrontierStore(spark)
    store.inject(
        spark.createDataFrame(
            [row(k, s) for k, s in frontier.items()], FRONTIER_SCHEMA
        )
    )
    fetched_df = spark.createDataFrame(
        [row(k, 5, count=1, etime=1000) for k in fetch_keys], FRONTIER_SCHEMA
    ) if fetch_keys else None
    links_df = spark.createDataFrame(
        [row(k, 0) for k in links], FRONTIER_SCHEMA
    ) if links else None
    store.merge(fetched_df, links_df)
    got = {r.key: (r.status, r.execute_count) for r in store.load().collect()}

    # dict model: fetch overwrites, links insert-if-absent
    model = {k: (s, 0) for k, s in frontier.items()}
    for k in fetch_keys:
        model[k] = (5, 1)
    for k in links:
        if k not in model:
            model[k] = (0, 0)
    assert got == model


# -- URL canonicalization: total + idempotent ---------------------------
# The canonical form is the frontier dedup KEY at 10^10 scale: it must
# never raise on hostile link soup (totality) and must be a fixed point
# of itself (idempotence) — a non-idempotent key would let the same URL
# re-enter the frontier through a second canonicalization pass.

from webcollector_spark.functions.urls import canonicalize_url  # noqa: E402


@given(st.text(max_size=80))
@settings(max_examples=300, deadline=None)
def test_canonicalize_total_and_idempotent_on_garbage(s):
    out = canonicalize_url(s)
    assert canonicalize_url(out) == out


_urlish = st.builds(
    lambda sch, host, port, path, q, frag: (
        f"{sch}://{host}{port}{path}{q}{frag}"
    ),
    st.sampled_from(["http", "HTTP", "https", "HtTpS", "ftp"]),
    st.text(
        alphabet="aBcD09.-@",  # mixed case + userinfo separator
        min_size=1,
        max_size=12,
    ),
    st.sampled_from(["", ":80", ":443", ":8080"]),
    st.sampled_from(["", "/", "/A/b", "/x%20y", "//double"]),
    st.one_of(
        st.just(""),
        st.builds(
            lambda parts: "?" + "&".join(parts),
            st.lists(
                st.text(alphabet="ab=12&?", max_size=5), min_size=0, max_size=4
            ),
        ),
    ),
    st.sampled_from(["", "#f", "#a?b"]),
)


@given(_urlish)
@settings(max_examples=300, deadline=None)
def test_canonicalize_idempotent_on_urls(u):
    once = canonicalize_url(u)
    assert canonicalize_url(once) == once
    # canonical output never carries a fragment for absolute URLs
    if "://" in once and once.startswith(("http://", "https://", "ftp://")):
        assert "#" not in once


# -- minimal-intact-combo LUT (hamming-ball candidate dedup) -------------
#
# The LUT drives single-emission of block-combination candidate pairs
# (operators/images.py): a pair within hamming k of a 64-bit hash split
# into m blocks must survive on EXACTLY the first combination of its
# intact blocks. Brute-force oracle: enumerate the combinations.

_mk = st.sampled_from([(8, 4), (8, 2), (8, 1), (4, 2), (4, 1)])


@given(_mk, st.data())
@settings(max_examples=300, deadline=None)
def test_min_combo_lut_matches_bruteforce(mk, data):
    from itertools import combinations

    from webcollector_spark.operators.pairs import (
        _block_combos,
        _min_combo_lut,
    )

    m, k = mk
    t = m - k
    lut = _min_combo_lut(m, t)
    combos = _block_combos(m, t)
    assert combos == list(combinations(range(m), t))  # canonical order
    mask = data.draw(st.integers(0, (1 << m) - 1))
    intact = [ci for ci, c in enumerate(combos) if all(not (mask >> b) & 1 for b in c)]
    assert lut[mask] == (intact[0] if intact else -1)
    # pigeonhole: <= k corrupted blocks always leaves an intact combo
    if bin(mask).count("1") <= k:
        assert lut[mask] >= 0


@given(_mk, st.data())
@settings(max_examples=200, deadline=None)
def test_pair_survives_on_exactly_one_combo(mk, data):
    """Simulate the join + filter on random hash pairs: a pair within
    hamming k is emitted on exactly one combination; a pair beyond k on
    none (the hamming filter drops it before the combo filter)."""
    from webcollector_spark.operators.pairs import (
        _block_combos,
        _min_combo_lut,
    )

    m, k = mk
    t = m - k
    width = 64 // m
    blkmask = (1 << width) - 1
    combos = _block_combos(m, t)
    lut = _min_combo_lut(m, t)

    h1 = data.draw(st.integers(0, (1 << 64) - 1))
    flips = data.draw(st.lists(st.integers(0, 63), min_size=0, max_size=k + 3))
    h2 = h1
    for b in flips:
        h2 ^= 1 << b
    xor = h1 ^ h2
    ham = bin(xor).count("1")

    def bkey(h, c):
        v = 0
        for i in c:
            v = (v << width) | ((h >> (i * width)) & blkmask)
        return v

    joined = [ci for ci, c in enumerate(combos) if bkey(h1, c) == bkey(h2, c)]
    corrupt = 0
    for i in range(m):
        if (xor >> (i * width)) & blkmask:
            corrupt |= 1 << i
    survivors = [ci for ci in joined if ham <= k and ci == lut[corrupt]]
    assert len(survivors) == (1 if ham <= k else 0)
    if ham <= k:
        assert lut[corrupt] in joined  # completeness by pigeonhole


@given(_urlish)
@settings(max_examples=300, deadline=None)
def test_url_template_collapses_every_digit(u):
    """No raw digit survives templating (outside the {D}/{H} tokens
    themselves) and templating is idempotent — a template re-templated
    is itself, so trap tables never need re-normalizing."""
    import re

    from webcollector_spark.functions.urls import url_template

    t = url_template(u)
    assert not re.search(r"[0-9]", re.sub(r"\{[DH]\}", "", t))
    assert url_template("http://h.test" + t) == t


# -- decode failure contract --------------------------------------------


@lru_cache(maxsize=1)
def _payloads() -> dict[str, bytes]:
    """One small payload per container codecs.decode dispatches on."""
    import numpy as np

    from webcollector_spark import codecs, exif, fixtures, jpeg
    from webcollector_spark.jpeg_progressive import encode_progressive

    px = np.random.default_rng(3).integers(0, 256, (24, 40, 3), dtype=np.uint8)
    app1 = exif.build_exif_app1(make="Cam", orientation=6, pixel_x=40, pixel_y=24)
    out = {
        "png": codecs.encode_png(px),
        "png_adam7": codecs.encode_png(px, interlace=True, filters=True),
        "qimg": codecs.encode_lossy(px),
        "bmp": codecs.encode_bmp(px),
        "jpeg": jpeg.encode_baseline(px, restart_interval=2),
        "jpeg420": jpeg.encode_baseline(px, subsampling="420"),
        "progressive": encode_progressive(px),
        "exif": exif.insert_app1(jpeg.encode_baseline(px), app1),
    }
    for name in ("gif", "ico", "tiff", "webp"):
        rows = getattr(fixtures, f"make_corpus_{name}")(2)
        out[name] = bytes(rows["bytes"][1])
    return out


@given(st.deferred(lambda: st.sampled_from(sorted(_payloads()))), st.data())
@settings(max_examples=400, deadline=None)
def test_corrupt_payloads_fail_as_valueerror(name, data):
    """Over truncated and byte-flipped payloads of every container,
    codecs.decode raises only ValueError (or NotImplementedError for a
    valid feature outside the supported subset), and the header-only
    readers never raise."""
    from webcollector_spark import codecs, jpeg
    from webcollector_spark.exif import parse_exif

    buf = bytearray(_payloads()[name])
    if data.draw(st.booleans(), label="truncate"):
        buf = buf[: data.draw(st.integers(0, len(buf) - 1), label="cut")]
    else:
        for _ in range(data.draw(st.integers(1, 3), label="flips")):
            at = data.draw(st.integers(0, len(buf) - 1), label="at")
            buf[at] = data.draw(st.integers(0, 255), label="byte")
    payload = bytes(buf)
    try:
        codecs.decode(payload)
    except (ValueError, NotImplementedError):
        pass
    codecs.sniff_header(payload)
    jpeg.parse_dqt(payload)
    jpeg.sof_marker(payload)
    jpeg.header_quality(payload)
    parse_exif(payload)
