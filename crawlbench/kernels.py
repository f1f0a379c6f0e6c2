"""Kernel level: the fetch path's per-page work, one public call at a
time, in one process and without Spark.

`page_work` does for one frontier row what the fetch UDF does for a
page on the auto-parse path (requester, charset decode, caption and
data-URI extraction, image decode, phash, JPEG quality, link harvest),
timing each call. Over a sample of a workload's own pages this gives
ms/URL per kernel and the single-threaded baseline that the Spark fetch
stage is compared against.

`requester.fetch_ms` is the synthetic requester rendering the page and
hashing its ETag: load-generator cost that runs inside the fetch stage.
It is reported so that it can be subtracted; it is not engine work.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from contextlib import contextmanager

from webcollector_spark import codecs, jpeg
from webcollector_spark.functions import html as H
from webcollector_spark.functions.charset import decode_html

REQUESTER = "requester.fetch_ms"
ENGINE_KERNELS = (
    "charset.decode_ms",
    "html.data_uri_ms",
    "html.caption_ms",
    "html.links_ms",
    "codecs.decode_ms",
    "codecs.phash_ms",
    "jpeg.quality_ms",
)
KERNEL_SUM = "fetch.kernel_ms"
METRICS = (REQUESTER, *ENGINE_KERNELS, KERNEL_SUM)


class KernelClock:
    """Accumulates seconds per kernel name."""

    def __init__(self):
        self.total: dict[str, float] = {}

    @contextmanager
    def __call__(self, name: str) -> Iterator[None]:
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.total[name] = self.total.get(name, 0.0) + time.perf_counter() - t0


def page_work(requester, row: dict, revalidate: bool, clock: KernelClock) -> dict:
    """One page through the fetch path's kernels; returns what they
    extracted so a test can hold it against the fetch operator."""
    meta = row.get("meta") or {}
    with clock(REQUESTER):
        resp = requester.fetch(
            row["url"],
            attempt=row["execute_count"] + 1,
            etag=meta.get("etag") if revalidate else None,
        )
    out = {"code": resp.code, "caption": None, "phash": None, "image": None,
           "links": []}
    if not (resp.content and resp.content_type and "text/html" in resp.content_type):
        return out
    with clock("charset.decode_ms"):
        text, _ = decode_html(resp.content)
    with clock("html.caption_ms"):
        out["caption"] = H.extract_caption(text)
    with clock("html.data_uri_ms"):
        img = H.extract_data_uri_image(text)
    if img is not None:
        out["image"] = img
        try:
            with clock("codecs.decode_ms"):
                pixels = codecs.decode(img)
            with clock("codecs.phash_ms"):
                out["phash"] = codecs.phash64(pixels)
        except ValueError:
            out["phash"] = None
        with clock("jpeg.quality_ms"):
            jpeg.header_quality(img)
    with clock("html.links_ms"):
        out["links"] = H.extract_links(text, row["url"])
    return out


def kernel_ms_per_url(
    requester, rows: list[dict], revalidate: bool, min_s: float = 1.0,
    min_reps: int = 3,
) -> dict[str, float]:
    """ms/URL per kernel: the median over repeated passes of `rows`
    (at least `min_reps`, and until `min_s` has passed)."""
    import statistics

    reps: list[dict[str, float]] = []
    t0 = time.perf_counter()
    while len(reps) < min_reps or time.perf_counter() - t0 < min_s:
        clock = KernelClock()
        for row in rows:
            page_work(requester, row, revalidate, clock)
        reps.append(clock.total)
    n = max(1, len(rows))
    out = {
        k: statistics.median(r.get(k, 0.0) for r in reps) * 1000.0 / n
        for k in (REQUESTER, *ENGINE_KERNELS)
    }
    out[KERNEL_SUM] = sum(out[k] for k in ENGINE_KERNELS)
    return out
