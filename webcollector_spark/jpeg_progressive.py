"""Progressive JPEG (ITU-T T.81 SOF2, Huffman) — pure numpy/Python.

Roughly one in ten JPEGs on the real web is progressive (large CDNs
re-encode to it: the first scans paint a preview), so an image crawl
that hard-errors on SOF2 silently drops a meaningful slice of the
corpus. This module holds the progressive ENCODER and the preview
API; decoding is `webcollector_spark.jpeg`'s one frame loop and scan
decoder, which serve SOF0 and SOF2 alike (spectral selection,
successive approximation, EOB runs, AC refinement with inline
correction bits per T.81 G.1.2.3 / figure G.7, restarts per scan).
The encoder shares the sequential encoder's front half (`_quantize`:
colour, subsampling, padding, DCT, quantization), its DQT/SOF writer
(`_frame_head`), its scan order (`_scan_blocks`) and its Huffman
primitives:

* encode: libjpeg's standard 10-scan script for color (DC of all
  components at Al=1 -> luma low band -> chroma -> refinements), the
  4-scan reduction for grayscale, with PER-SCAN OPTIMAL Huffman
  tables built by the spec's Annex K.2 two-pass procedure — required,
  not a nicety: the fixed Annex K tables carry none of the EOB-run
  symbols (0x10..0xE0), so a progressive stream cannot reuse them;
* the transport is LOSSLESS over the quantized coefficients: once
  every refinement scan lands, decode(encode_progressive(px)) is
  bit-identical to decode(encode_baseline(px)) at the same quality
  and subsampling — tests/test_jpeg_progressive.py pins that on
  full-range noise, the adversarial input.

Everything here is public-spec material (T.81 Annexes A, G, K).
Reference parity: WebCollector fetches whatever bytes the web serves
(model/Page.java:323-330); this closes the second-most-common JPEG
wire format after baseline 4:2:0.
"""

from __future__ import annotations

import numpy as np

from webcollector_spark.jpeg import (
    _DHT,
    _SOS,
    _BitWriter,
    _decode_frame,
    _frame_head,
    _huff_codes,
    _magnitude,
    _quantize,
    _scan_blocks,
    _seg,
    sof_marker,
)

# ---------------------------------------------------------------------------
# optimal Huffman table construction (T.81 Annex K.2, figures K.1-K.4)


def gen_optimal_table(freq_in: np.ndarray) -> tuple[list[int], list[int]]:
    """Symbol frequencies (len 256) -> (bits[16], values[]): pair-merge
    code sizes, limit lengths to 16, reserve one slot so no real code
    is all ones. Ties select the highest symbol value, per the spec."""
    freq = np.zeros(257, dtype=np.int64)
    freq[:256] = freq_in
    freq[256] = 1  # reserved symbol: guarantees no real all-ones code
    codesize = np.zeros(257, dtype=np.int64)
    others = np.full(257, -1, dtype=np.int64)

    while True:
        c1 = c2 = -1
        v1 = v2 = 1 << 60
        for i in range(257):
            f = freq[i]
            if f and f <= v1:
                v1, c1 = f, i
        for i in range(257):
            f = freq[i]
            if f and f <= v2 and i != c1:
                v2, c2 = f, i
        if c2 < 0:
            break
        freq[c1] += freq[c2]
        freq[c2] = 0
        codesize[c1] += 1
        while others[c1] >= 0:
            c1 = others[c1]
            codesize[c1] += 1
        others[c1] = c2
        codesize[c2] += 1
        while others[c2] >= 0:
            c2 = others[c2]
            codesize[c2] += 1

    bits = np.zeros(33, dtype=np.int64)
    for i in range(257):
        if codesize[i]:
            bits[min(int(codesize[i]), 32)] += 1

    # limit code lengths to 16 (figure K.3)
    for length in range(32, 16, -1):
        while bits[length] > 0:
            j = length - 2
            while bits[j] == 0:
                j -= 1
            bits[length] -= 2
            bits[length - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
    # drop the reserved symbol from the longest used length
    for length in range(16, 0, -1):
        if bits[length] > 0:
            bits[length] -= 1
            break

    # values by original code size, then symbol (Annex K.2, figure K.4):
    # every counted symbol, including those whose size the limit moved
    used = np.flatnonzero(codesize[:256])
    values = used[np.argsort(codesize[used], kind="stable")].tolist()
    return [int(b) for b in bits[1:17]], values


# ---------------------------------------------------------------------------
# two-pass sinks: one counts symbol frequencies per table id, the
# other Huffman-codes into a single bit stream


class _FreqCounter:
    def __init__(self) -> None:
        self.freq: dict[int, np.ndarray] = {}

    def symbol(self, tid: int, sym: int) -> None:
        if tid not in self.freq:
            self.freq[tid] = np.zeros(256, dtype=np.int64)
        self.freq[tid][sym] += 1

    def bits(self, val: int, n: int) -> None:
        pass

    def flush(self) -> bytes:
        return b""


class _BitSink:
    def __init__(self, tables: dict[int, dict[int, tuple[int, int]]]) -> None:
        self.bw = _BitWriter()
        self.tables = tables

    def symbol(self, tid: int, sym: int) -> None:
        code, length = self.tables[tid][sym]
        self.bw.write(code, length)

    def bits(self, val: int, n: int) -> None:
        if n:
            self.bw.write(val & ((1 << n) - 1), n)

    def flush(self) -> bytes:
        return self.bw.flush()


# ---------------------------------------------------------------------------
# per-scan emitters (run twice: counting pass, then writing pass)


# Each takes the scan's blocks in scan order as (component, block) and
# codes component ci with table min(ci, 1).


def _emit_dc_first(sink, blocks, Al: int) -> None:
    """The DC point transform is an arithmetic shift of the SIGNED
    value (G.1.2.1), unlike AC's magnitude shift."""
    pred: dict[int, int] = {}
    for ci, blk in blocks:
        v = int(blk[0]) >> Al
        diff = v - pred.get(ci, 0)
        pred[ci] = v
        size, bits = _magnitude(diff)
        sink.symbol(min(ci, 1), size)
        sink.bits(bits, size)


def _emit_dc_refine(sink, blocks, Al: int) -> None:
    for _, blk in blocks:
        sink.bits((int(blk[0]) >> Al) & 1, 1)


def _emit_ac_first(sink, blocks, Ss: int, Se: int, Al: int) -> None:
    tid = min(blocks[0][0], 1)
    eobrun = 0

    def flush_eob() -> None:
        nonlocal eobrun
        if eobrun > 0:
            nbits = eobrun.bit_length() - 1
            sink.symbol(tid, nbits << 4)
            sink.bits(eobrun, nbits)
            eobrun = 0

    for _, blk in blocks:
        r = 0
        for k in range(Ss, Se + 1):
            v = int(blk[k])
            if v < 0:
                t = (-v) >> Al
                t2 = ~t
            else:
                t = v >> Al
                t2 = t
            if t == 0:
                r += 1
                continue
            flush_eob()
            while r > 15:
                sink.symbol(tid, 0xF0)
                r -= 16
            nbits = t.bit_length()
            sink.symbol(tid, (r << 4) | nbits)
            sink.bits(t2, nbits)
            r = 0
        if r > 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def _emit_ac_refine(sink, blocks, Ss: int, Se: int, Al: int) -> None:
    tid = min(blocks[0][0], 1)
    eobrun = 0
    pending: list[int] = []  # correction bits buffered across an EOB run

    def flush_eob() -> None:
        nonlocal eobrun
        if eobrun > 0:
            nbits = eobrun.bit_length() - 1
            sink.symbol(tid, nbits << 4)
            sink.bits(eobrun, nbits)
            eobrun = 0
        for b in pending:
            sink.bits(b, 1)
        pending.clear()

    for _, blk in blocks:
        absv = [0] * (Se + 1)
        eob = Ss - 1  # index AFTER which only zero-history zeros remain
        for k in range(Ss, Se + 1):
            t = int(blk[k])
            if t < 0:
                t = -t
            t >>= Al
            absv[k] = t
            if t == 1:
                eob = k
        r = 0
        br: list[int] = []  # this block's buffered correction bits
        for k in range(Ss, Se + 1):
            t = absv[k]
            if t == 0:
                r += 1
                continue
            # ZRLs only when a newly-nonzero coefficient still follows;
            # otherwise the zeros fold into the EOB run
            while r > 15 and k <= eob:
                flush_eob()
                sink.symbol(tid, 0xF0)
                r -= 16
                for b in br:
                    sink.bits(b, 1)
                br = []
            if t > 1:
                # previously nonzero: queue its next magnitude bit
                br.append(t & 1)
                continue
            flush_eob()
            sink.symbol(tid, (r << 4) | 1)
            sink.bits(0 if int(blk[k]) < 0 else 1, 1)
            for b in br:
                sink.bits(b, 1)
            br = []
            r = 0
        if r > 0 or br:
            eobrun += 1
            pending.extend(br)
            if eobrun == 0x7FFF or len(pending) > 937:  # libjpeg's bound
                flush_eob()
    flush_eob()


# ---------------------------------------------------------------------------
# encoder


def _scan_script(ncomp: int) -> list[dict]:
    """libjpeg's standard progressive scan script (jcparam.c — public):
    DC of everything first at Al=1, luma low band early, chroma next,
    refinements last. Grayscale gets the 4-scan reduction."""
    if ncomp == 1:
        return [
            {"comps": [0], "Ss": 0, "Se": 0, "Ah": 0, "Al": 1},
            {"comps": [0], "Ss": 1, "Se": 63, "Ah": 0, "Al": 1},
            {"comps": [0], "Ss": 0, "Se": 0, "Ah": 1, "Al": 0},
            {"comps": [0], "Ss": 1, "Se": 63, "Ah": 1, "Al": 0},
        ]
    return [
        {"comps": [0, 1, 2], "Ss": 0, "Se": 0, "Ah": 0, "Al": 1},
        {"comps": [0], "Ss": 1, "Se": 5, "Ah": 0, "Al": 2},
        {"comps": [2], "Ss": 1, "Se": 63, "Ah": 0, "Al": 1},
        {"comps": [1], "Ss": 1, "Se": 63, "Ah": 0, "Al": 1},
        {"comps": [0], "Ss": 6, "Se": 63, "Ah": 0, "Al": 2},
        {"comps": [0], "Ss": 1, "Se": 63, "Ah": 2, "Al": 1},
        {"comps": [0, 1, 2], "Ss": 0, "Se": 0, "Ah": 1, "Al": 0},
        {"comps": [2], "Ss": 1, "Se": 63, "Ah": 1, "Al": 0},
        {"comps": [1], "Ss": 1, "Se": 63, "Ah": 1, "Al": 0},
        {"comps": [0], "Ss": 1, "Se": 63, "Ah": 1, "Al": 0},
    ]


def encode_progressive(
    pixels: np.ndarray, quality: int = 90, subsampling: str = "444"
) -> bytes:
    """RGB8 HxWx3 (or HxW grayscale) -> progressive JPEG bytes.
    Quantized coefficients are IDENTICAL to encode_baseline at the
    same (quality, subsampling); only the transport differs."""
    comp_coefs, samps, qtabs = _quantize(pixels, quality, subsampling)
    h, w = pixels.shape[:2]
    out = _frame_head(0xC2, qtabs, h, w, samps)  # SOF2: progressive, Huffman
    for scan in _scan_script(len(samps)):
        sc, Ss, Se = scan["comps"], scan["Ss"], scan["Se"]
        Ah, Al = scan["Ah"], scan["Al"]
        blocks = [
            (ci, comp_coefs[ci][idx])
            for ci, idx in _scan_blocks(samps, h, w, sc)[2]
        ]
        if Ss == 0:
            emit = _emit_dc_refine if Ah else _emit_dc_first
            args = (blocks, Al)
        else:
            emit = _emit_ac_refine if Ah else _emit_ac_first
            args = (blocks, Ss, Se, Al)

        # pass 1: frequencies -> per-scan optimal tables -> pass 2: bits
        counter = _FreqCounter()
        emit(counter, *args)
        tables = {}
        tclass = 0 if Ss == 0 else 1
        for t in sorted(counter.freq):
            bits, values = gen_optimal_table(counter.freq[t])
            dht = bytes([(tclass << 4) | t]) + bytes(bits) + bytes(values)
            out += _seg(_DHT, dht)
            tables[t] = _huff_codes(bits, values)
        sink = _BitSink(tables)
        emit(sink, *args)

        sos = bytes([len(sc)])
        for ci in sc:
            t = min(ci, 1)
            sos += bytes([ci + 1, (t << 4) if Ss == 0 else t])
        out += _seg(_SOS, sos + bytes([Ss, Se, (Ah << 4) | Al])) + sink.flush()

    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder: the frame loop in webcollector_spark.jpeg, tolerant mode


def decode_progressive_prefix(
    data: bytes, start: int = 0
) -> tuple[np.ndarray, int, bool]:
    """Decode as much of a (possibly TRUNCATED) progressive JPEG as the
    bytes allow: scans that arrived render, the missing tail stays at
    whatever precision earlier scans established — exactly what a
    browser paints mid-download. Returns (pixels, scans_completed,
    complete). This is the scale payoff of SOF2 for a crawler: a
    byte-capped fetch (CrawlerConfig.max_receive_size) of a
    progressive image still yields a usable low-frequency preview — the
    content phash keys on — so dedup/triage can run BEFORE paying the
    full transfer. Raises ValueError if no SOF2 frame fits in the
    prefix."""
    if sof_marker(data, start) != 0xC2:
        raise ValueError("no progressive (SOF2) frame in the prefix")
    return _decode_frame(data, start, strict=False)[:3]
