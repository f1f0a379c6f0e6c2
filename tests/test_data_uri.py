"""`extract_data_uri_image` scans ASCII pages case-sensitively over a
lower-cased copy; this pins it to the original case-insensitive regex on
every page, ASCII or not."""

from __future__ import annotations

import base64
import binascii
import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from webcollector_spark.functions.html import extract_data_uri_image

_REFERENCE_RE = re.compile(
    r"""src\s*=\s*["']data:image/[a-z]+;base64,([A-Za-z0-9+/=]+)["']""", re.IGNORECASE
)


def _reference(html: str) -> bytes | None:
    m = _REFERENCE_RE.search(html)
    return base64.b64decode(m.group(1)) if m else None


def _outcome(fn, html: str):
    try:
        return fn(html)
    except binascii.Error as e:
        return ("error", str(e))


_PIECES = st.sampled_from([
    "src", "SRC", "sRc", "Src", "=", " ", "\t", "\n", "\x1c", "\x1d", "\x1e", "\x1f",
    '"', "'", "data:image/", "DATA:Image/", "png", "JPEG", "ſvg", ";base64,", ";BaSe64,",
    "aGVsbG8=", "QUJD", "QUJDRA==", "+/+/", "Zm9v", "<img ", ">", "K", "k", "ſ", "é",
])
_PAGES = st.lists(st.one_of(_PIECES, st.text(max_size=4)), max_size=40).map("".join)


@settings(max_examples=600, deadline=None)
@given(_PAGES)
@example('<img SRC = "DATA:IMAGE/PNG;BASE64,aGVsbG8=">')
@example('<img src="data:image/png;base64,QUJD"><img Src="data:image/gif;base64,Zm9v">')
@example('<img src="data:image/png;base64,aGVsbG8= junk src=\'data:image/gif;base64,Zm9v\'')
@example('<img src\x1c=\x1f"data:image/png;base64,aGVsbG8=">')
@example('<img ſrc="data:image/png;base64,aGVsbG8="> é')
@example('<img src="data:image/Kpng;base64,aGVsbG8=">')
@example('<img src="data:image/png;base64,aGVsbG8=" no closing quote')
def test_matches_case_insensitive_reference(html):
    assert _outcome(extract_data_uri_image, html) == _outcome(_reference, html)


def test_mixed_case_payload_is_sliced_from_the_original_text():
    payload = base64.b64encode(bytes(range(256))).decode()
    assert payload != payload.lower()
    html = f'<p>x</p><IMG SRC="Data:Image/JPEG;Base64,{payload}">'
    assert extract_data_uri_image(html) == bytes(range(256))
