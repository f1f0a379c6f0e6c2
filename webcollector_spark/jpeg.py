"""JPEG (ITU-T T.81 DCT, 8-bit, Huffman) — pure numpy codec.

This retires the QIMG stand-in as the only lossy path (VERDICT r3 item
5): real compressed bytes flow end-to-end through the Spark decode
operators. Scope is the baseline sequential process (SOF0, encode and
decode) and the progressive one (SOF2: decoded here, encoded in
jpeg_progressive) with sampling factors 1, 2 or 4 per axis — 4:4:4,
4:2:2, 4:4:0, 4:2:0 (what the real web overwhelmingly serves:
libjpeg's default, every phone camera) and 4:1:1 — plus grayscale,
implemented faithfully at the bitstream level:

* markers: SOI / DQT / SOF0 / SOF2 / DHT / DRI / SOS / RSTn / EOI,
  with 0xFF00 byte stuffing in the entropy-coded segment. One segment
  reader (`_segment`: fill bytes, TEM/RSTn, cut payloads), one
  frame-header parse (`_Frame`) and one unstuffing (`_entropy`) serve
  the decoder and every header-only reader (parse_dqt, sof_marker,
  header_quality here, codecs.sniff_header, exif.parse_exif);
* one frame loop (`_decode_frame`) reads scans until EOI, strict for
  `decode_baseline_at` and tolerant of a cut for
  `jpeg_progressive.decode_progressive_prefix`, and one scan decoder
  (`_decode_scan`) walks the blocks a scan covers (`_scan_blocks`,
  shared with both encoders): a sequential scan is the case Ss=0,
  Se=63, Ah=Al=0;
* entropy coding: canonical Huffman per Annex C (tables read from the
  DHT segments, NOT assumed), DC prediction per component, AC
  run-length with ZRL and EOB, restart-interval predictor resets;
* MCU interleave per A.2.3: hi x vi blocks per component per MCU,
  raster within the MCU; chroma box-mean downsampled on encode,
  replication-upsampled on decode;
* transform: level shift, 8x8 orthonormal DCT-II / IDCT as matrix
  products over all blocks at once, quantization tables from DQT;
* color: JFIF RGB <-> YCbCr.

Arithmetic, 12-bit, lossless and sampling-factor-3 streams raise
ValueError — decode quality over silent wrong answers. The default
quality (98) keeps round-trip PSNR above the input_hint's 40 dB gate
even on full-range NOISE images, the worst case (measured 43.4 dB; the
dominant error is Y+chroma quantization amplified ~2x through the
YCbCr->RGB transform, so 95 lands at only ~36 dB there — structured
images sit 50+ dB at either setting).

Everything is deterministic and the hot loops are either numpy or a
16-bit-LUT Huffman decode, so the codec is safe and fast inside
Arrow-batched pandas UDFs (operators/images.py, operators/media.py).

Reference parity: WebCollector fetches real compressed payloads as
opaque bytes (model/Page.java:323-330); this module is what makes the
graft's decode invariant (input_hint PSNR>=40dB) run against real
compression instead of the labeled QIMG fake.
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

# -- constants (ITU-T T.81 Annex K — published spec tables) -----------------

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

STD_LUMA_Q = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)

STD_CHROMA_Q = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# standard Huffman tables, (bits[1..16], values) — Annex K.3
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
              list(range(12)))
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II basis matrix C: coeffs = C @ block @ C.T."""
    k = np.arange(8)
    c = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16)
    c *= np.sqrt(2.0 / 8.0)
    c[0, :] = np.sqrt(1.0 / 8.0)
    return c


_C = _dct_matrix()


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling (libjpeg convention, public): 50 -> 1x."""
    quality = min(max(int(quality), 1), 100)
    s = 5000 // quality if quality < 50 else 200 - quality * 2
    return np.clip((table * s + 50) // 100, 1, 255).astype(np.int64)


# -- color ------------------------------------------------------------------

def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.clip(np.stack([y, cb, cr], axis=-1).round(), 0, 255)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0]
    cb = ycc[..., 1] - 128.0
    cr = ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


# -- blocking ---------------------------------------------------------------

def _to_blocks(plane: np.ndarray) -> tuple[np.ndarray, int, int]:
    """HxW float plane -> (nb, 8, 8) blocks (edge-replicated padding)."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    hh, ww = plane.shape
    blocks = (
        plane.reshape(hh // 8, 8, ww // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )
    return blocks, hh // 8, ww // 8


def _from_blocks(blocks: np.ndarray, bh: int, bw: int, h: int, w: int) -> np.ndarray:
    plane = (
        blocks.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
    )
    return plane[:h, :w]


# -- Huffman (encode side) ---------------------------------------------------

def _huff_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical codes per Annex C: value -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def restart(self, n: int) -> None:
        """Byte-align (1-fill) and emit RSTn — raw, never stuffed."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.buf.extend((0xFF, 0xD0 + (n & 7)))

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per spec F.1.2.3
        return bytes(self.buf)


def _magnitude(v: int) -> tuple[int, int]:
    """(size category, amplitude bits) per F.1.2.1/F.1.2.2."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


# -- chroma subsampling -------------------------------------------------------
#
# Sampling factors per component, (hi, vi) with luma first. 4:2:0 is
# what the real web overwhelmingly serves (libjpeg's default above
# quality-speak thresholds, every phone camera); 4:2:2 is the video
# convention; 4:4:4 keeps the original bitstream byte-identical.

_SAMP_FACTORS = {
    "444": ((1, 1), (1, 1), (1, 1)),
    "422": ((2, 1), (1, 1), (1, 1)),
    "420": ((2, 2), (1, 1), (1, 1)),
    # the DV-camera legacy layouts (r5): quarter-horizontal and
    # half-vertical chroma — rarer, but real crawled JPEGs carry them
    "411": ((4, 1), (1, 1), (1, 1)),
    "440": ((1, 2), (1, 1), (1, 1)),
}


def _box_down(plane: np.ndarray, fv: int, fh: int) -> np.ndarray:
    """Box-mean downsample by (fv, fh); odd edges replicate so every
    box is full (matches the decoder's replication upsample at edges)."""
    if fv == 1 and fh == 1:
        return plane
    h, w = plane.shape
    if h % fv or w % fh:
        plane = np.pad(plane, ((0, -h % fv), (0, -w % fh)), mode="edge")
    hh, ww = plane.shape
    return plane.reshape(hh // fv, fv, ww // fh, fh).mean(axis=(1, 3))


def _grid(samps, h: int, w: int) -> tuple[int, int, int, int]:
    """(hmax, vmax, mcux, mcuy) of the MCU grid (A.2) of an h x w image
    whose components have sampling factors `samps`, (hi, vi) each."""
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    return hmax, vmax, -(-w // (8 * hmax)), -(-h // (8 * vmax))


def _scan_blocks(samps, h: int, w: int, scan):
    """The blocks a scan over the components `scan` covers, in scan
    order: (blocks per MCU, number of blocks, iterator of (component,
    raster index into that component's MCU-padded block grid)). Several
    components interleave (A.2.3): MCU after MCU, each component's
    hi x vi blocks raster-wise. One component is scanned alone (A.2.2):
    raster over its own ceil(w*hi/hmax/8) x ceil(h*vi/vmax/8) blocks,
    without the MCU padding. Both encoders and the decoder walk this."""
    hmax, vmax, mcux, mcuy = _grid(samps, h, w)
    if len(scan) == 1:
        ci = scan[0]
        hi, vi = samps[ci]
        cw, ch = -(-w * hi // hmax), -(-h * vi // vmax)  # its own size
        nbx, nby = -(-cw // 8), -(-ch // 8)
        return 1, nby * nbx, (
            (ci, r * mcux * hi + x) for r in range(nby) for x in range(nbx)
        )
    layout = [(ci, *samps[ci]) for ci in scan]
    unit = sum(hi * vi for _, hi, vi in layout)
    return unit, mcuy * mcux * unit, (
        (ci, (my * vi + r) * mcux * hi + mx * hi + x)
        for my in range(mcuy)
        for mx in range(mcux)
        for ci, hi, vi in layout
        for r in range(vi)
        for x in range(hi)
    )


# -- encoder ----------------------------------------------------------------

def _quantize(
    pixels: np.ndarray, quality: int, subsampling: str
) -> tuple[list[np.ndarray], tuple, list[np.ndarray]]:
    """The half both encoders share: JFIF colour conversion, chroma
    box-downsampling, edge padding of each plane to its MCU-padded grid,
    level shift, DCT and quantization. Returns (quantized zigzag
    coefficients per component, raster block order over that grid; the
    sampling factors; the quantization tables, luma first)."""
    gray = pixels.ndim == 2
    h, w = pixels.shape[:2]
    if gray:
        planes, samps = [pixels.astype(np.float64)], ((1, 1),)
    else:
        ycc = rgb_to_ycbcr(pixels)
        planes = [ycc[..., i] for i in range(3)]
        samps = _SAMP_FACTORS[subsampling]
    hmax, vmax, mcux, mcuy = _grid(samps, h, w)
    qtabs = [_quality_scale(STD_LUMA_Q, quality)]
    if not gray:
        qtabs.append(_quality_scale(STD_CHROMA_Q, quality))
    comp_coefs = []
    for ci, plane in enumerate(planes):
        hi, vi = samps[ci]
        plane = _box_down(plane, vmax // vi, hmax // hi)
        gh, gw = mcuy * vi * 8, mcux * hi * 8
        ph, pw = gh - plane.shape[0], gw - plane.shape[1]
        if ph or pw:
            plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
        blocks, _, _ = _to_blocks(plane - 128.0)
        coefs = np.einsum("ij,njk,lk->nil", _C, blocks, _C)
        q = qtabs[min(ci, 1)].reshape(8, 8)
        quant = np.round(coefs / q).astype(np.int64)
        comp_coefs.append(quant.reshape(-1, 64)[:, ZIGZAG])
    return comp_coefs, samps, qtabs


def _seg(marker: int, payload: bytes) -> bytes:
    """One marker segment: marker, length (counting itself), payload."""
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def _frame_head(
    sof: int, qtabs: list[np.ndarray], h: int, w: int, samps
) -> bytearray:
    """SOI, a DQT per quantization table and the SOFn segment: how both
    encoders open a stream. Component ci + 1 uses table min(ci, 1)."""
    out = bytearray(b"\xff\xd8")
    for tid, q in enumerate(qtabs):
        # DQT elements are stored in ZIGZAG order (B.2.4.1), 8-bit
        out += _seg(_DQT, bytes([tid]) + bytes(int(x) for x in q[ZIGZAG]))
    sof_payload = struct.pack(">BHHB", 8, h, w, len(samps))
    for ci, (hi, vi) in enumerate(samps):
        sof_payload += bytes([ci + 1, (hi << 4) | vi, min(ci, 1)])
    return out + _seg(sof, sof_payload)


def encode_baseline(
    pixels: np.ndarray,
    quality: int = 98,
    restart_interval: int = 0,
    subsampling: str = "444",
) -> bytes:
    """RGB8 HxWx3 (or HxW grayscale) -> baseline JFIF JPEG bytes
    (standard Annex K Huffman tables, IJG quality scaling).
    subsampling picks the chroma layout: "444" (full, the historical
    default — bitstream unchanged), "422" (half horizontal), or "420"
    (half both ways, the layout the real web overwhelmingly serves).
    restart_interval > 0 emits DRI + RSTn every that many MCUs —
    the resync points a parallel/streaming decoder keys on."""
    comp_coefs, samps, qtabs = _quantize(pixels, quality, subsampling)
    h, w = pixels.shape[:2]
    ncomp = len(samps)
    dc_tabs = [_huff_codes(*_DC_LUMA), _huff_codes(*_DC_CHROMA)]
    ac_tabs = [_huff_codes(*_AC_LUMA), _huff_codes(*_AC_CHROMA)]

    bw_ = _BitWriter()
    pred = [0] * ncomp

    def emit(blk: np.ndarray, ci: int) -> None:
        ti = min(ci, 1)
        dct, act = dc_tabs[ti], ac_tabs[ti]
        diff = int(blk[0]) - pred[ci]
        pred[ci] = int(blk[0])
        size, bits = _magnitude(diff)
        code, length = dct[size]
        bw_.write(code, length)
        if size:
            bw_.write(bits, size)
        run = 0
        nz = np.nonzero(blk[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(blk[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = act[0xF0]  # ZRL
                bw_.write(code, length)
                run -= 16
            size, bits = _magnitude(v)
            code, length = act[(run << 4) | size]
            bw_.write(code, length)
            bw_.write(bits, size)
            run = 0
        if last < 63:
            code, length = act[0x00]  # EOB
            bw_.write(code, length)

    unit, _, blocks = _scan_blocks(samps, h, w, range(ncomp))
    rst = 0
    for j, (ci, idx) in enumerate(blocks):
        if restart_interval and j and j % (restart_interval * unit) == 0:
            bw_.restart(rst)
            rst += 1
            pred = [0] * ncomp
        emit(comp_coefs[ci][idx], ci)
    scan = bw_.flush()

    # -- markers ------------------------------------------------------------
    out = _frame_head(0xC0, qtabs, h, w, samps)  # SOF0
    for cls, tid, (bits, values) in (
        (0, 0, _DC_LUMA), (1, 0, _AC_LUMA), (0, 1, _DC_CHROMA), (1, 1, _AC_CHROMA)
    )[: 2 * len(qtabs)]:
        out += _seg(_DHT, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(values))
    if restart_interval:
        out += _seg(_DRI, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        ti = min(ci, 1)
        sos += bytes([ci + 1, (ti << 4) | ti])
    out += _seg(_SOS, sos + bytes([0, 63, 0])) + scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# -- container grammar (B.1.1-B.2.4): the one marker walk --------------------

_SOI, _EOI, _SOS, _DQT, _DHT, _DRI = 0xD8, 0xD9, 0xDA, 0xDB, 0xC4, 0xDD
#: start-of-frame markers (B.1.1.3): C0-CF less DHT, JPG and DAC
_SOF = frozenset(range(0xC0, 0xD0)) - {_DHT, 0xC8, 0xCC}
#: markers without a length field: TEM, RST0-7, SOI, EOI (B.1.1.3)
_NO_LENGTH = frozenset((0x01, *range(0xD0, 0xD8), _SOI, _EOI))

#: The most memory one image decode may hold, in bytes. 2^29 holds a
#: 16-bit RGBA 8K frame (7680x4320x8 = 265 MB) with room to spare;
#: codecs bounds an inflated PNG/QIMG raw image by it, and every
#: decoder that allocates a canvas from header dims checks those dims
#: against it through `check_canvas` first.
MAX_DECODE_BYTES = 1 << 29
#: What the JPEG decoders hold per frame pixel at their peak, rounded
#: up: 460-480 bytes for 4:4:4 baseline frames and 200-300 for
#: progressive ones (tracemalloc over 128x128 and 256x256 frames;
#: int64 coefficients, float planes and the RGB result). So a frame
#: may declare at most 2^20 pixels (1024x1024).
_PEAK_BYTES_PER_PIXEL = 512


def check_canvas(w: int, h: int, peak_bytes_per_pixel: int, what: str) -> None:
    """Refuse a w x h image before anything is allocated for it when
    its decoder, holding `peak_bytes_per_pixel` (its measured peak,
    rounded up) per pixel, would pass MAX_DECODE_BYTES. Header fields
    allow up to 65535x65535 or more, so without this a header of a few
    hundred bytes can ask a fetch worker for many GB."""
    if w * h * peak_bytes_per_pixel > MAX_DECODE_BYTES:
        raise ValueError(f"{what} {w}x{h} exceeds the decode budget")


def _segment(data: bytes, pos: int) -> tuple[int, int, int] | None:
    """The marker segment at `pos` as (marker, payload start, end).
    Fill bytes before the marker are skipped (B.1.1.2), and the markers
    without a length field have an empty payload. `end` is where the
    length field says the segment ends: past len(data) when the payload
    is cut short, which the caller reports instead of guessing. None
    when the bytes end before the marker or its length field; raises
    ValueError when no marker starts at `pos`."""
    n = len(data)
    if pos + 2 > n:
        return None
    if data[pos] != 0xFF:
        raise ValueError(f"marker expected at {pos}")
    while data[pos + 1] == 0xFF:
        pos += 1
        if pos + 2 > n:
            return None
    marker = data[pos + 1]
    if marker == 0x00:
        raise ValueError(f"marker expected at {pos}")
    if marker in _NO_LENGTH:
        return marker, pos + 2, pos + 2
    if pos + 4 > n:
        return None
    length = (data[pos + 2] << 8) | data[pos + 3]
    if length < 2:  # the length counts its own two bytes
        raise ValueError(f"bad segment length at {pos}")
    return marker, pos + 4, pos + 2 + length


def _header_segments(data: bytes, start: int = 0):
    """(marker, payload, whole) for each segment between the SOI at
    `start` and the first SOS or EOI — the header-only readers' walk.
    `whole` is False for a payload the bytes end inside, which is the
    last one yielded. Stops quietly at a non-marker: never raises."""
    if data[start : start + 2] != b"\xff\xd8":
        return
    pos = start + 2
    while True:
        try:
            seg = _segment(data, pos)
        except ValueError:
            return
        if seg is None or seg[0] in (_SOS, _EOI):
            return
        marker, p, pos = seg
        yield marker, data[p:pos], pos <= len(data)


def _dqt(payload: bytes):
    """DQT payload -> (table id, 64 entries in zigzag order) per table
    (B.2.4.1); ValueError on a 16-bit table or a short one, after the
    tables before it."""
    for p in range(0, len(payload), 65):
        if payload[p] >> 4:
            raise ValueError("only 8-bit quant tables supported")
        if p + 65 > len(payload):
            raise ValueError("truncated DQT table")
        yield payload[p] & 0xF, np.frombuffer(
            payload[p + 1 : p + 65], dtype=np.uint8
        ).astype(np.int64)


class _Frame:
    """What the segments ahead of a scan declare: quant tables (zigzag
    order), Huffman specs, the SOFn frame and its components, and the
    restart interval. The frame loop folds segments in with `read`."""

    def __init__(self) -> None:
        self.qtabs: dict[int, np.ndarray] = {}
        self.huff: dict[tuple[int, int], bytes] = {}
        self.comps: list[dict] = []
        self.sof: int | None = None
        self.h = self.w = 0
        self.restart_interval = 0

    def read(
        self, data: bytes, pos: int, strict: bool = True
    ) -> tuple[int | None, int, bytes]:
        """Fold the segments from `pos` up to the next SOS or EOI.
        Returns (SOS, entropy start, scan header), (EOI, offset past
        it, b""), or (None, offset of the cut segment, b"") when the
        bytes end first; a cut payload raises ValueError when
        `strict`. Frames other than SOF0/SOF2 raise ValueError."""
        while True:
            seg = _segment(data, pos)
            if seg is None:
                return None, pos, b""
            marker, p, end = seg
            if end > len(data):
                if strict:
                    raise ValueError("truncated segment")
                return None, pos, b""
            payload, pos = data[p:end], end
            if marker in (_SOS, _EOI):
                return marker, pos, payload
            if marker == _DQT:
                self.qtabs.update(_dqt(payload))
            elif marker == _DHT:
                p = 0
                while p < len(payload):
                    n = sum(payload[p + 1 : p + 17])
                    if p + 17 + n > len(payload):
                        raise ValueError("truncated DHT table")
                    key = (payload[p] >> 4, payload[p] & 0xF)
                    self.huff[key] = bytes(payload[p + 1 : p + 17 + n])
                    p += 17 + n
            elif marker in _SOF:
                self._sof(marker, payload)
            elif marker == _DRI:
                if len(payload) != 2:
                    raise ValueError("bad DRI segment")
                self.restart_interval = (payload[0] << 8) | payload[1]
            # APPn / COM / TEM / RSTn: skipped

    def _sof(self, marker: int, p: bytes) -> None:
        if marker not in (0xC0, 0xC2):
            raise ValueError(
                "only baseline (SOF0) and progressive (SOF2) supported"
            )
        if len(p) < 6 or len(p) != 6 + 3 * p[5]:
            raise ValueError("bad SOF segment")
        _, self.h, self.w, nc = struct.unpack(">BHHB", p[:6])
        check_canvas(self.w, self.h, _PEAK_BYTES_PER_PIXEL, "JPEG frame")
        self.comps = []
        for ci in range(nc):
            cid, samp, tq = p[6 + 3 * ci : 9 + 3 * ci]
            hi, vi = samp >> 4, samp & 0xF
            if hi not in (1, 2, 4) or vi not in (1, 2, 4):
                # 1/2/4 cover 4:4:4 / 4:2:2 / 4:4:0 / 4:2:0 / 4:1:1;
                # factor 3 would need fractional chroma alignment the
                # replication upsampler cannot do
                raise ValueError(f"unsupported sampling factors {hi}x{vi}")
            self.comps.append({"id": cid, "tq": tq, "hi": hi, "vi": vi})
        self.sof = marker

    def scan(self, sos: bytes) -> tuple[list[tuple[int, int, int]], int, int, int, int]:
        """SOS header -> ([(component index, DC table, AC table)], Ss,
        Se, Ah, Al)."""
        ns = sos[0] if sos else 0
        if not ns or len(sos) != 4 + 2 * ns:
            raise ValueError("bad SOS segment")
        ids = [c["id"] for c in self.comps]
        scomps = []
        for i in range(ns):
            cid, tabs = sos[1 + 2 * i], sos[2 + 2 * i]
            if cid not in ids:
                raise ValueError(f"scan names unknown component {cid}")
            scomps.append((ids.index(cid), tabs >> 4, tabs & 0xF))
        ss, se, a = sos[1 + 2 * ns :]
        return scomps, ss, se, a >> 4, a & 0xF

    def grid(self) -> tuple[int, int, int, int]:
        """(hmax, vmax, mcux, mcuy) of the frame's MCU grid (A.2)."""
        return _grid(self.samps(), self.h, self.w)

    def samps(self) -> list[tuple[int, int]]:
        return [(c["hi"], c["vi"]) for c in self.comps]


def _entropy(
    data: bytes, pos: int, limit: int = MAX_DECODE_BYTES
) -> tuple[bytes, list[int], int]:
    """Unstuff the entropy-coded segment at `pos` (FF00 -> FF, F.1.2.3).
    Returns (bytes, the bit position after each RSTn marker, offset of
    the marker that ends the segment — or of the last byte when the
    data ends first, which stays out of the bytes). Raises ValueError
    as soon as the unstuffed bytes would pass `limit`."""
    raw = bytearray()
    restarts = []
    p, n = pos, len(data) - 1
    while p < n:
        q = data.find(b"\xff", p, n)  # each run of other bytes in one copy
        if q < 0:
            q = n
        if len(raw) + q - p > limit:
            raise ValueError("entropy-coded segment longer than its scan")
        raw += data[p:q]
        p = q
        if p == n:
            break
        nxt = data[p + 1]
        if nxt == 0x00:
            raw.append(0xFF)
        elif 0xD0 <= nxt <= 0xD7:  # RSTn
            restarts.append(len(raw) * 8)
        else:
            break  # EOI or next marker
        p += 2
    return bytes(raw), restarts, p


# -- Huffman (decode side) ---------------------------------------------------

@lru_cache(maxsize=64)
def _decode_lut(spec: bytes) -> tuple[np.ndarray, np.ndarray]:
    """DHT payload (16 bits-counts + values) -> 16-bit-peek LUTs:
    symbol[peek16], codelen[peek16]. Entries never reached stay len=0
    (decode error)."""
    bits = list(spec[:16])
    values = list(spec[16:])
    sym = np.zeros(1 << 16, dtype=np.int16)
    ln = np.zeros(1 << 16, dtype=np.int8)
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            hi = lo + (1 << (16 - length))
            sym[lo:hi] = values[k]
            ln[lo:hi] = length
            code += 1
            k += 1
        code <<= 1
    return sym, ln


class _BitReader:
    """Bit reader over the UNSTUFFED entropy segment, numpy-backed."""

    def __init__(self, data: bytes) -> None:
        # the bits, then 16 zero bits past the end
        pad = np.unpackbits(np.frombuffer(data + bytes(2), dtype=np.uint8))
        n = len(pad) - 16
        # precompute the 16-bit peek value at every bit offset, in place
        # by Horner's rule over 16 shifted bit planes: O(n), no
        # temporaries the size of the table, and per-symbol work stays
        # one index. This table is the decode's peak memory.
        p16 = np.zeros(n + 1, dtype=np.int64)
        for i in range(16):
            p16 <<= 1
            p16 += pad[i : i + n + 1]
        self.peek16 = p16
        self.pos = 0

    def receive(self, n: int) -> int:
        """Next n bits as unsigned int (n <= 16)."""
        v = self.peek16[self.pos] >> (16 - n) if n else 0
        self.pos += n
        return int(v)


def _extend(v: int, size: int) -> int:
    """Amplitude decode per F.2.2.1 EXTEND."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


# -- decoder ----------------------------------------------------------------

def decode_baseline(data: bytes) -> np.ndarray:
    """JPEG bytes, baseline or progressive -> RGB8 HxWx3 (grayscale
    replicated to 3 channels is NOT done — a 1-component stream returns
    HxW)."""
    return decode_baseline_at(data, 0)[0]


def decode_baseline_at(data: bytes, start: int) -> tuple[np.ndarray, int]:
    """Decode one JPEG image, baseline (SOF0) or progressive (SOF2),
    beginning at byte `start`; returns (pixels, offset one past its
    EOI) — the seam MJPEG-style concatenated-frame streams iterate on
    (operators/media.py). A frame without a scan, or whose bytes end
    before its EOI, raises ValueError: a truncated body is a failure
    here, and jpeg_progressive.decode_progressive_prefix is the API that
    renders what arrived."""
    pixels, _, _, end = _decode_frame(data, start, strict=True)
    return pixels, end


def _decode_frame(
    data: bytes, start: int, strict: bool
) -> tuple[np.ndarray, int, bool, int]:
    """The one frame loop, for SOF0 and SOF2 alike: fold the segments
    ahead of each scan into the frame, entropy-decode the scan into
    coefficients allocated once (raster block order, full MCU-padded
    grid), repeat until EOI. Returns (pixels, scans decoded, whether
    EOI arrived, offset past it). Strict: a cut segment or scan raises,
    and so does a frame without a scan or an EOI. Tolerant
    (strict=False): the loop stops where the bytes run out and
    reconstructs what arrived; every block a cut scan finished keeps
    its coefficients."""
    if data[start : start + 2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    frame = _Frame()
    pos = start + 2
    coefs: list[np.ndarray] | None = None
    scans = 0
    while True:
        marker, pos, sos = frame.read(data, pos, strict=strict)
        if coefs is None and frame.comps:
            _, _, mcux, mcuy = frame.grid()
            coefs = [
                np.zeros((mcuy * vi * mcux * hi, 64), dtype=np.int64)
                for hi, vi in frame.samps()
            ]
        if marker != _SOS:  # EOI, or the bytes ran out
            break
        if coefs is None:
            raise ValueError("SOS before SOF")
        scan = frame.scan(sos)
        try:
            pos = _decode_scan(data, pos, coefs, frame, *scan)
        except (ValueError, IndexError):
            if strict:
                raise
            pos = len(data)
            break
        scans += 1
    if coefs is None:
        raise ValueError("no frame found")
    if strict and (marker != _EOI or not scans):
        raise ValueError("JPEG frame without a scan or an EOI")
    return _reconstruct(coefs, frame), scans, marker == _EOI, pos


def _decode_scan(data, pos, coefs, frame, scomps, Ss, Se, Ah, Al) -> int:
    """Entropy-decode one scan into `coefs` in place; returns the offset
    where its entropy-coded segment ends (EOB runs never cross scans).
    A sequential scan is the case Ss=0, Se=63, Ah=Al=0 — each block's
    DC, then its AC band — and the only one a SOF0 frame carries. A
    progressive scan carries the DC (Ss=0) of one or more components or
    one AC band of one component, first (Ah=0) or refining (G.1.2)."""
    sequential = (Ss, Se, Ah, Al) == (0, 63, 0, 0)
    if sequential != (frame.sof == 0xC0):
        raise ValueError("scan parameters do not fit the frame's process")
    if Ss and len(scomps) > 1:
        raise ValueError("AC scans must be single-component (A.2.2)")
    unit, n_blocks, blocks = _scan_blocks(
        frame.samps(), frame.h, frame.w, [ci for ci, _, _ in scomps]
    )
    # a block's data is at most 64 coefficients x (16-bit code + at most
    # 16 appended bits) = 256 bytes, so no valid scan's segment is longer
    raw, restarts, end = _entropy(data, pos, 256 * n_blocks)
    reader = _BitReader(raw)
    huff, dc_first = frame.huff, Ss == 0 and not Ah
    dc = {ci: _decode_lut(huff[0, td]) for ci, td, _ in scomps} if dc_first else {}
    band = 1 if sequential else Ss  # first AC coefficient; 0: a DC scan
    ac = {ci: _decode_lut(huff[1, ta]) for ci, _, ta in scomps} if band else {}
    ac_block = _ac_refine if Ah else _ac_first
    pred = dict.fromkeys(dc, 0)
    eobrun = ri = 0
    restart = frame.restart_interval * unit
    for j, (ci, idx) in enumerate(blocks):
        if restart and j and j % restart == 0:
            # byte-align to the recorded restart position, reset DC
            # prediction and the EOB run
            reader.pos = restarts[ri]
            ri += 1
            pred = dict.fromkeys(dc, 0)
            eobrun = 0
        blk = coefs[ci][idx]
        if Ss == 0:
            if Ah:
                blk[0] |= reader.receive(1) << Al
            else:
                dsym, dlen = dc[ci]
                peek = reader.peek16[reader.pos]
                size = int(dsym[peek])
                ll = int(dlen[peek])
                if ll == 0:
                    raise ValueError("bad DC Huffman code")
                reader.pos += ll
                if size:
                    pred[ci] += _extend(reader.receive(size), size)
                blk[0] = pred[ci] << Al
        if band:
            asym, alen = ac[ci]
            eobrun = ac_block(blk, reader, asym, alen, band, Se, Al, eobrun)
            if eobrun and sequential:
                raise ValueError("EOB run in a sequential scan")
    return end


def _ac_first(blk, reader, asym, alen, Ss, Se, Al, eobrun) -> int:
    """Band Ss..Se of one block, first pass (G.1.2.2; the sequential
    AC of F.2.2.2 is Ss=1, Se=63, Al=0). Returns the EOB run left."""
    if eobrun:
        return eobrun - 1
    peek16, pos, k = reader.peek16, reader.pos, Ss
    while k <= Se:
        peek = peek16[pos]
        rs = int(asym[peek])
        ll = int(alen[peek])
        if ll == 0:
            raise ValueError("bad AC Huffman code")
        pos += ll
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1  # EOBr: this block and the run after
            if r:
                eobrun += int(peek16[pos]) >> (16 - r)
                pos += r
            break
        k += r
        if k > Se:
            raise ValueError("AC run overflows band")
        v = int(peek16[pos]) >> (16 - s)
        pos += s
        blk[k] = (v if v >= 1 << (s - 1) else v - (1 << s) + 1) << Al
        k += 1
    reader.pos = pos
    return eobrun


def _ac_refine(blk, reader, asym, alen, Ss, Se, Al, eobrun) -> int:
    """Figure G.7: insert newly-nonzero +-1<<Al coefficients, append a
    correction bit to every already-nonzero coefficient crossed."""
    p1 = 1 << Al
    m1 = -p1
    peek16, pos, k = reader.peek16, reader.pos, Ss
    if eobrun == 0:
        while k <= Se:
            peek = peek16[pos]
            rs = int(asym[peek])
            ll = int(alen[peek])
            if ll == 0:
                raise ValueError("bad AC Huffman code")
            pos += ll
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += int(peek16[pos]) >> (16 - r)
                        pos += r
                    break
                val = 0  # ZRL: advance over 16 zero-history positions
            else:
                # s must be 1 in a refinement scan
                val = p1 if int(peek16[pos]) >> 15 else m1
                pos += 1
            while k <= Se:
                cur = int(blk[k])
                if cur != 0:
                    bit = int(peek16[pos]) >> 15
                    pos += 1
                    if bit and (cur & p1) == 0:
                        blk[k] = cur + (p1 if cur >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if k <= Se and val:
                blk[k] = val
            k += 1
    if eobrun > 0:
        # EOB span covers this block: correction bits only, from k on
        while k <= Se:
            cur = int(blk[k])
            if cur != 0:
                bit = int(peek16[pos]) >> 15
                pos += 1
                if bit and (cur & p1) == 0:
                    blk[k] = cur + (p1 if cur >= 0 else m1)
            k += 1
        eobrun -= 1
    reader.pos = pos
    return eobrun


def _reconstruct(coefs: list[np.ndarray], frame: _Frame) -> np.ndarray:
    """Quantized zigzag coefficients (raster block order per component,
    full MCU-padded grid) -> pixels: dequantize + IDCT + reassemble +
    chroma upsample + color: the frame loop's last step, whichever
    scans delivered the coefficients."""
    comps, h, w = frame.comps, frame.h, frame.w
    hmax, vmax, mcux, mcuy = frame.grid()
    planes = []
    for ci, c in enumerate(comps):
        q = frame.qtabs[c["tq"]]
        dq = (coefs[ci] * q[None, :])[:, UNZIGZAG].reshape(-1, 8, 8).astype(
            np.float64
        )
        blocks = np.einsum("ji,njk,kl->nil", _C, dq, _C) + 128.0
        hi, vi = c["hi"], c["vi"]
        ch, cw = -(-(h * vi) // vmax), -(-(w * hi) // hmax)
        plane = _from_blocks(blocks, mcuy * vi, mcux * hi, ch, cw)
        if vi != vmax or hi != hmax:  # replication upsample to full res
            plane = np.repeat(
                np.repeat(plane, vmax // vi, axis=0), hmax // hi, axis=1
            )[:h, :w]
        planes.append(plane)
    if len(comps) == 1:
        return np.clip(planes[0].round(), 0, 255).astype(np.uint8)
    return ycbcr_to_rgb(np.stack(planes, axis=-1))


# -- header-only quality estimation ------------------------------------------
#
# The quantization tables ARE the quality knob in baseline JPEG: every
# re-encode leaves its fingerprint in the DQT segment, before any
# entropy-coded data. Estimating the IJG quality factor from them is a
# standard curation signal (ImageMagick's `identify` does the same
# inversion) and needs only the header prefix — never a decode.

def parse_dqt(data: bytes, start: int = 0) -> dict[int, np.ndarray]:
    """Header-only DQT walk: collect the 8-bit quantization tables
    (returned in NATURAL order, table-id -> 64 ints) from the marker
    stream up to SOS/EOI. Tolerant of truncated prefixes — returns
    whatever complete tables appeared before the bytes ran out; returns
    {} when `data` is not a JPEG at `start`."""
    tables: dict[int, np.ndarray] = {}
    for marker, payload, whole in _header_segments(data, start):
        if marker == _DQT and whole:
            try:
                for tq, stream in _dqt(payload):
                    tables[tq] = stream[UNZIGZAG]  # zigzag -> natural
            except ValueError:
                pass  # 16-bit tables out of scope (baseline is 8-bit)
    return tables


def table_qualities(tables: dict[int, np.ndarray]) -> dict[int, tuple[int, bool]]:
    """IJG inversion (estimate_quality) of the luma (0) and chroma (1)
    tables present: table id -> (q_est, exact)."""
    return {
        tid: estimate_quality(tables[tid], std)
        for tid, std in ((0, STD_LUMA_Q), (1, STD_CHROMA_Q))
        if tid in tables
    }


def header_quality(data: bytes, prefix: int = 65536) -> int | None:
    """One-call header-only quality estimate: the conservative min over
    the present DQT tables' IJG inversions, or None when `data` is not
    a JPEG (or carries no complete table in the prefix). The in-crawl
    form of operators/sniff.py jpeg_quality's quality_est column."""
    qs = table_qualities(parse_dqt(data[:prefix]))
    return min(q for q, _ in qs.values()) if qs else None


def sof_marker(data: bytes, start: int = 0) -> int | None:
    """Header-only walk to the frame marker: returns the SOFn marker
    byte (0xC0 baseline, 0xC2 progressive, ...) or None if the prefix
    is not a JPEG or was cut before the frame header."""
    for marker, _, _ in _header_segments(data, start):
        if marker in _SOF:
            return marker
    return None


@lru_cache(maxsize=8)
def _quality_scalings(std: bytes) -> np.ndarray:
    """(100, 64) table: row q-1 is `_quality_scale` of the int64 table
    `std` (given as bytes, so it can be a cache key) at quality q."""
    table = np.frombuffer(std, dtype=np.int64)
    scaled = np.stack([_quality_scale(table, q) for q in range(1, 101)])
    scaled.setflags(write=False)  # shared by every caller through the cache
    return scaled


def estimate_quality(table: np.ndarray, std: np.ndarray) -> tuple[int, bool]:
    """Invert the IJG quality scaling: argmin over q in 1..100 of the
    L1 distance between `_quality_scale(std, q)` and the observed
    table. Returns (q_est, exact) where exact means the table IS the
    libjpeg-convention scaling of `std` at q_est. The luma inversion is
    injective over 1..100 (verified in test_jpeg.py); chroma collides
    only at q<=3 where every entry clips to 255. Ties (non-standard
    tables equidistant from two scalings) resolve to the LOWER q —
    the conservative call for a keep/drop quality gate (argmin returns
    the first minimum)."""
    scaled = _quality_scalings(np.asarray(std, dtype=np.int64).tobytes())
    err = np.abs(scaled - np.asarray(table, dtype=np.int64).reshape(-1)).sum(axis=1)
    q = int(np.argmin(err))
    return q + 1, bool(err[q] == 0)
