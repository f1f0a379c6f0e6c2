"""Progressive JPEG (ITU-T T.81 SOF2, Huffman) — pure numpy/Python.

Roughly one in ten JPEGs on the real web is progressive (large CDNs
re-encode to it: the first scans paint a preview), so an image crawl
that hard-errors on SOF2 silently drops a meaningful slice of the
corpus. This module adds the progressive process on top of the
sequential codec in `webcollector_spark.jpeg`, sharing its front end
(the marker walk, the `_Frame` header parse with DHT/DRI segments
folded in between scans, the `_entropy` unstuffing), its DCT /
quantization / Huffman primitives and its `_reconstruct` back end:

* decode: spectral selection + successive approximation, both scan
  kinds (interleaved DC, single-component AC), EOB-run symbols, AC
  refinement with inline correction bits (T.81 G.1.2.3 / figure G.7),
  restart markers per scan;
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

import struct

import numpy as np

from webcollector_spark.jpeg import (
    STD_CHROMA_Q,
    STD_LUMA_Q,
    ZIGZAG,
    _BitReader,
    _BitWriter,
    _C,
    _EOI,
    _Frame,
    _SAMP_FACTORS,
    _SOS,
    _box_down,
    _decode_lut,
    _entropy,
    _extend,
    _huff_codes,
    _magnitude,
    _mcu_raster_order,
    _quality_scale,
    _reconstruct,
    _to_blocks,
    rgb_to_ycbcr,
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

    values = []
    for length in range(1, 17):
        for sym in range(256):
            if codesize[sym] == length:
                values.append(sym)
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


def _emit_dc_first(sink, units, Al: int) -> None:
    """`units` is the scan-ordered sequence of (ci, tid, block). The DC
    point transform is an arithmetic shift of the SIGNED value
    (G.1.2.1), unlike AC's magnitude shift."""
    pred: dict[int, int] = {}
    for ci, tid, blk in units:
        v = int(blk[0]) >> Al
        diff = v - pred.get(ci, 0)
        pred[ci] = v
        size, bits = _magnitude(diff)
        sink.symbol(tid, size)
        sink.bits(bits, size)


def _emit_dc_refine(sink, units, Al: int) -> None:
    for _, _, blk in units:
        sink.bits((int(blk[0]) >> Al) & 1, 1)


def _emit_ac_first(sink, blocks, tid: int, Ss: int, Se: int, Al: int) -> None:
    eobrun = 0

    def flush_eob() -> None:
        nonlocal eobrun
        if eobrun > 0:
            nbits = eobrun.bit_length() - 1
            sink.symbol(tid, nbits << 4)
            sink.bits(eobrun, nbits)
            eobrun = 0

    for blk in blocks:
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


def _emit_ac_refine(sink, blocks, tid: int, Ss: int, Se: int, Al: int) -> None:
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

    for blk in blocks:
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
    gray = pixels.ndim == 2
    h, w = pixels.shape[:2]
    if gray:
        planes = [pixels.astype(np.float64)]
        samps = ((1, 1),)
    else:
        ycc = rgb_to_ycbcr(pixels)
        planes = [ycc[..., i] for i in range(3)]
        samps = _SAMP_FACTORS[subsampling]
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    qluma = _quality_scale(STD_LUMA_Q, quality)
    qchroma = _quality_scale(STD_CHROMA_Q, quality)
    qtabs = [qluma] if gray else [qluma, qchroma]

    # quantized zigzag coefficients, RASTER block order per component
    # over the full MCU-padded grid (same math as the baseline encoder)
    comp_coefs, comp_nb = [], []
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
        ch, cw = -(-(h * vi) // vmax), -(-(w * hi) // hmax)
        comp_nb.append((-(-ch // 8), -(-cw // 8)))

    def noninterleaved_blocks(ci: int) -> list[np.ndarray]:
        # single-component scans cover only the component's OWN ceil
        # grid (A.2.2), not the MCU padding
        hi = samps[ci][0]
        nby, nbx = comp_nb[ci]
        gw_blocks = mcux * hi
        return [
            comp_coefs[ci][r * gw_blocks + col]
            for r in range(nby)
            for col in range(nbx)
        ]

    def dc_scan_units(sc: list[int]) -> list[tuple[int, int, np.ndarray]]:
        # scan-ordered (ci, tid, block): interleaved iff several comps
        if len(sc) == 1:
            ci = sc[0]
            return [(ci, min(ci, 1), b) for b in noninterleaved_blocks(ci)]
        units = []
        orders = {
            ci: _mcu_raster_order(mcuy, mcux, samps[ci][1], samps[ci][0])
            for ci in sc
        }
        for m in range(mcuy * mcux):
            for ci in sc:
                nb = samps[ci][0] * samps[ci][1]
                for b in range(nb):
                    units.append(
                        (ci, min(ci, 1), comp_coefs[ci][orders[ci][m * nb + b]])
                    )
        return units

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, payload: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(payload) + 2))
        out.extend(payload)

    for tid, q in enumerate(qtabs):
        seg(0xDB, bytes([tid]) + bytes(int(x) for x in q[ZIGZAG]))
    ncomp = len(planes)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        hi, vi = samps[ci]
        sof += bytes([ci + 1, (hi << 4) | vi, min(ci, 1)])
    seg(0xC2, sof)  # SOF2: progressive, Huffman

    for scan in _scan_script(ncomp):
        sc, Ss, Se = scan["comps"], scan["Ss"], scan["Se"]
        Ah, Al = scan["Ah"], scan["Al"]
        is_dc = Ss == 0

        if is_dc:
            units = dc_scan_units(sc)
            run = (
                (lambda s: _emit_dc_first(s, units, Al))
                if Ah == 0
                else (lambda s: _emit_dc_refine(s, units, Al))
            )
        else:
            blocks = noninterleaved_blocks(sc[0])
            tid = min(sc[0], 1)
            run = (
                (lambda s: _emit_ac_first(s, blocks, tid, Ss, Se, Al))
                if Ah == 0
                else (lambda s: _emit_ac_refine(s, blocks, tid, Ss, Se, Al))
            )

        # pass 1: frequencies -> per-scan optimal tables -> pass 2: bits
        counter = _FreqCounter()
        run(counter)
        tables = {}
        for t in sorted(counter.freq):
            bits, values = gen_optimal_table(counter.freq[t])
            tclass = 0 if is_dc else 1
            seg(0xC4, bytes([(tclass << 4) | t]) + bytes(bits) + bytes(values))
            tables[t] = _huff_codes(bits, values)
        sink = _BitSink(tables)
        run(sink)
        scan_bytes = sink.flush()

        sos = bytes([len(sc)])
        for ci in sc:
            t = min(ci, 1)
            sos += bytes([ci + 1, (t << 4) if is_dc else t])
        sos += bytes([Ss, Se, (Ah << 4) | Al])
        seg(0xDA, sos)
        out.extend(scan_bytes)

    out.extend(b"\xff\xd9")
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder


def decode_progressive_prefix(
    data: bytes, start: int = 0
) -> tuple[np.ndarray, int, bool]:
    """Decode as much of a (possibly TRUNCATED) progressive JPEG as the
    bytes allow: scans that arrived render, the missing tail stays at
    whatever precision earlier scans established — exactly what a
    browser paints mid-download. Returns (pixels, scans_completed,
    complete). This is the scale payoff of SOF2 for a crawler: a
    byte-capped fetch (operators/fetch.py's max_bytes) of a progressive
    image still yields a usable low-frequency preview — the content
    phash keys on — so dedup/triage can run BEFORE paying the full
    transfer. Raises ValueError if no SOF2 frame fits in the prefix."""
    return _decode_progressive(data, start, tolerate_truncation=True)[:3]


def decode_progressive_at(data: bytes, start: int) -> tuple[np.ndarray, int]:
    """Decode one progressive JPEG beginning at byte `start`; returns
    (pixels, offset one past its EOI). Dispatched to automatically by
    jpeg.decode_baseline_at on SOF2. A frame without a scan or cut
    before its EOI raises ValueError, as a cut baseline frame does:
    a truncated body is a failure here, and decode_progressive_prefix
    is the API that renders what arrived."""
    pixels, _, _, pos = _decode_progressive(
        data, start, tolerate_truncation=False
    )
    return pixels, pos


def _decode_progressive(
    data: bytes, start: int, tolerate_truncation: bool
) -> tuple[np.ndarray, int, bool, int]:
    """Shared scan loop. Returns (pixels, scans_completed, complete,
    pos-after-EOI)."""
    if data[start : start + 2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    frame = _Frame()
    pos = start + 2
    coefs: list[np.ndarray] | None = None
    scans_done = 0
    while True:
        marker, pos, sos = frame.read(data, pos, strict=not tolerate_truncation)
        if frame.sof == 0xC0:
            raise ValueError("expected a progressive (SOF2) frame")
        if coefs is None and frame.comps:
            _, _, mcux, mcuy = frame.grid()
            coefs = [
                np.zeros(
                    ((mcuy * c["vi"]) * (mcux * c["hi"]), 64), dtype=np.int64
                )
                for c in frame.comps
            ]
        if marker != _SOS:  # EOI, or the bytes ran out
            break
        if coefs is None:
            raise ValueError("SOS before SOF2")
        scan = frame.scan(sos)
        try:
            pos = _decode_scan(data, pos, coefs, frame, *scan)
        except (ValueError, IndexError):
            if not tolerate_truncation:
                raise
            # entropy data cut mid-scan: keep every unit that landed
            # before the cut, stop here
            pos = len(data)
            break
        scans_done += 1

    if coefs is None:
        raise ValueError("no frame found")
    if not tolerate_truncation and (marker != _EOI or not scans_done):
        raise ValueError("progressive frame without a scan or an EOI")
    return _reconstruct(coefs, frame), scans_done, marker == _EOI, pos


def _decode_scan(data, pos, coefs, frame, scomps, Ss, Se, Ah, Al) -> int:
    """Entropy-decode one scan in place; returns the offset where its
    entropy-coded segment ends — EOB runs never cross scans."""
    raw, restarts, p = _entropy(data, pos)
    reader = _BitReader(raw)
    comps, restart_interval = frame.comps, frame.restart_interval
    hmax, vmax, mcux, mcuy = frame.grid()
    is_dc = Ss == 0
    interleaved = len(scomps) > 1
    if not is_dc and interleaved:
        raise ValueError("AC scans must be single-component (A.2.2)")
    luts = {key: _decode_lut(spec) for key, spec in frame.huff.items()}
    eobrun = 0
    ri = 0
    pred = {ci: 0 for ci, _, _ in scomps}

    if interleaved:
        orders = {
            ci: _mcu_raster_order(mcuy, mcux, comps[ci]["vi"], comps[ci]["hi"])
            for ci, _, _ in scomps
        }
        n_units = mcuy * mcux
    else:
        ci0 = scomps[0][0]
        c = comps[ci0]
        ch, cw = -(-(frame.h * c["vi"]) // vmax), -(-(frame.w * c["hi"]) // hmax)
        nby, nbx = -(-ch // 8), -(-cw // 8)
        gw_blocks = mcux * c["hi"]
        n_units = nby * nbx

    for u in range(n_units):
        if restart_interval and u and u % restart_interval == 0:
            reader.pos = restarts[ri]
            ri += 1
            pred = {ci: 0 for ci, _, _ in scomps}
            eobrun = 0

        if is_dc:
            for ci, td, _ in scomps:
                if interleaved:
                    c = comps[ci]
                    nb = c["hi"] * c["vi"]
                    idxs = [orders[ci][u * nb + b] for b in range(nb)]
                else:
                    idxs = [(u // nbx) * gw_blocks + (u % nbx)]
                for idx in idxs:
                    blk = coefs[ci][idx]
                    if Ah == 0:
                        dsym, dlen = luts[(0, td)]
                        peek = reader.peek16[reader.pos]
                        size = int(dsym[peek])
                        ll = int(dlen[peek])
                        if ll == 0:
                            raise ValueError("bad DC Huffman code")
                        reader.pos += ll
                        diff = (
                            _extend(reader.receive(size), size) if size else 0
                        )
                        pred[ci] += diff
                        blk[0] = pred[ci] << Al
                    else:
                        blk[0] |= reader.receive(1) << Al
        else:
            _, _, ta = scomps[0]
            asym, alen = luts[(1, ta)]
            blk = coefs[ci0][(u // nbx) * gw_blocks + (u % nbx)]
            if Ah == 0:
                eobrun = _ac_first_block(
                    blk, reader, asym, alen, Ss, Se, Al, eobrun
                )
            else:
                eobrun = _ac_refine_block(
                    blk, reader, asym, alen, Ss, Se, Al, eobrun
                )
    return p


def _ac_decode_symbol(reader, asym, alen) -> int:
    peek = reader.peek16[reader.pos]
    rs = int(asym[peek])
    ll = int(alen[peek])
    if ll == 0:
        raise ValueError("bad AC Huffman code")
    reader.pos += ll
    return rs


def _ac_first_block(blk, reader, asym, alen, Ss, Se, Al, eobrun) -> int:
    if eobrun > 0:
        return eobrun - 1
    k = Ss
    while k <= Se:
        rs = _ac_decode_symbol(reader, asym, alen)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += reader.receive(r)
            break
        k += r
        if k > Se:
            raise ValueError("AC run overflows band")
        blk[k] = _extend(reader.receive(s), s) << Al
        k += 1
    return eobrun


def _ac_refine_block(blk, reader, asym, alen, Ss, Se, Al, eobrun) -> int:
    """Figure G.7: insert newly-nonzero +-1<<Al coefficients, append a
    correction bit to every already-nonzero coefficient crossed."""
    p1 = 1 << Al
    m1 = -p1
    k = Ss
    if eobrun == 0:
        while k <= Se:
            rs = _ac_decode_symbol(reader, asym, alen)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.receive(r)
                    break
                val = 0  # ZRL: advance over 16 zero-history positions
            else:
                # s must be 1 in a refinement scan
                val = p1 if reader.receive(1) else m1
            while k <= Se:
                cur = int(blk[k])
                if cur != 0:
                    if reader.receive(1) and (cur & p1) == 0:
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
                if reader.receive(1) and (cur & p1) == 0:
                    blk[k] = cur + (p1 if cur >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun
