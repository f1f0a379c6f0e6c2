"""HTML helpers — the Page expression library (reference model/Page.java).

No jsoup/lxml in the sandbox: link harvesting is regex-based with
urljoin absolutization (Page.links() uses jsoup `abs:href`,
Page.java:162-204; Links.addFromElement model/Links.java:98-104). These
run inside Arrow UDF batches — plain Python per document, vectorized at
the batch level.
"""

from __future__ import annotations

import base64
import re
from html import unescape
from urllib.parse import urldefrag, urljoin

_HREF_RE = re.compile(r"""<a\s[^>]*?href\s*=\s*["']?([^"'\s>]+)""", re.IGNORECASE)
_SRC_RE = re.compile(r"""<[^>]+\ssrc\s*=\s*["']?([^"'\s>]+)""", re.IGNORECASE)
_CAPTION_RE = re.compile(
    r"""<p\s+class=["']?caption["']?[^>]*>(.*?)</p>""", re.IGNORECASE | re.DOTALL
)
_DATA_URI_RE = re.compile(
    r"""src\s*=\s*["']data:image/[a-z]+;base64,([A-Za-z0-9+/=]+)["']""", re.IGNORECASE
)
# The same pattern for lower-cased ASCII text. Case-insensitive matching
# of the ~100 KB payload class is most of the scan's cost; an ASCII page
# lower-cases to the same length, so the offsets slice the original.
_DATA_URI_LOWER_RE = re.compile(
    r"""src\s*=\s*["']data:image/[a-z]+;base64,([a-z0-9+/=]+)["']"""
)


def extract_links(
    html: str, base_url: str, detect_img: bool = False
) -> list[str]:
    """Absolute out-links in document order, de-duplicated (Links is an
    ordered list; dedup happens downstream by key). Skips fragments,
    javascript:, mailto:, and data: URIs. Attribute values are
    entity-decoded before resolution (`&amp;` -> `&`), as a DOM parser
    hands them to jsoup's `abs:href` and to `Page.links`."""
    raw = _HREF_RE.findall(html)
    if detect_img:
        raw += [u for u in _SRC_RE.findall(html) if not u.startswith("data:")]
    seen: set[str] = set()
    out: list[str] = []
    for u in map(unescape, raw):
        if u.startswith(("javascript:", "mailto:", "#", "data:")):
            continue
        absu = urldefrag(urljoin(base_url, u))[0]
        if absu.startswith(("http://", "https://")) and absu not in seen:
            seen.add(absu)
            out.append(absu)
    return out


def extract_caption(html: str) -> str | None:
    m = _CAPTION_RE.search(html)
    return m.group(1).strip() if m else None


def extract_data_uri_image(html: str) -> bytes | None:
    """First base64 data-URI image payload in the page, decoded."""
    if html.isascii():
        m = _DATA_URI_LOWER_RE.search(html.lower())
        return base64.b64decode(html[m.start(1) : m.end(1)]) if m else None
    m = _DATA_URI_RE.search(html)
    return base64.b64decode(m.group(1)) if m else None
