"""WebP lossless (VP8L) codec (subset) — pure Python/numpy.

The modern web's lossless image bitstream (RFC 9649), built from real
entropy coding end to end:

* RIFF/WEBP container + VP8L chunk (0x2F signature, 14-bit dims),
  read and written through webcollector_spark.riff, the chunk walk
  and writer WAV and AVI share;
* LSB-first bit packing with canonical prefix codes in both spec
  forms — "simple" (1-2 symbols) and "normal" (code-length-coded,
  with 16/17/18 repeat symbols, the Deflate idea recoded);
* five prefix codes per image (green+length+cache, red, blue, alpha,
  distance) over ARGB scanline order;
* LZ77 backward references over PIXELS with the spec's length/distance
  extra-bit scheme;
* a color cache (the multiplicative-hash indexed recent-color table);
* the subtract-green transform.

Meta-prefix groups DECODE (r5): a sub-resolution entropy image —
itself an entropy-coded stream, recursion disallowed — selects one of
K 5-code groups per 2^bits-pixel block via (R<<8|G); the group is
re-resolved at every token start. The encoder stays single-group.

Not implemented, honestly (NotImplementedError on decode, never
emitted on encode): the predictor / cross-color / color-indexing
transforms and the 120-entry 2D neighborhood
distance map (codes 1..120 — the table is long and exact; risking a
wrong reconstruction would corrupt pixels silently, the worst codec
failure mode, so the encoder only emits linear distances and the
decoder refuses mapped ones).

Lossless invariant: decode(encode(px)) is bit-exact. Deterministic,
no RNG. Reference anchor: fetched payloads are opaque bytes + typed
metadata (model/Page.java:323-330).
"""

from __future__ import annotations

import heapq

import numpy as np

from webcollector_spark import riff

_CODE_LENGTH_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]
_HASH_MUL = 0x1E35A7BD
_NUM_LENGTH_CODES = 24
_MAX_MATCH = 4096


class _BitWriter:
    """LSB-first bit packer (VP8L byte order)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, width: int) -> None:
        self.acc |= (value & ((1 << width) - 1)) << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def write_code(self, code: int, length: int) -> None:
        """Prefix codes traverse the tree MSB-first."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc, self.nbits = 0, 0
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, width: int) -> int:
        while self.nbits < width:
            if self.pos >= len(self.data):
                raise ValueError("VP8L bitstream truncated")
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        v = self.acc & ((1 << width) - 1)
        self.acc >>= width
        self.nbits -= width
        return v


def _huffman_lengths(freqs: dict[int, int], max_len: int) -> dict[int, int]:
    """Code lengths for the nonzero symbols, depth-limited. Heap
    Huffman, then a clamp that restores the Kraft inequality — unused
    leaf space is legal (the decoder walks only emitted codes)."""
    syms = [s for s, f in freqs.items() if f > 0]
    if not syms:
        return {}
    if len(syms) == 1:
        return {syms[0]: 1}
    heap = [(freqs[s], i, (s,)) for i, s in enumerate(syms)]
    heapq.heapify(heap)
    tick = len(syms)
    depth: dict[int, int] = {s: 0 for s in syms}
    while len(heap) > 1:
        fa, _, a = heapq.heappop(heap)
        fb, _, b = heapq.heappop(heap)
        for s in a + b:
            depth[s] += 1
        heapq.heappush(heap, (fa + fb, tick, a + b))
        tick += 1
    for s in depth:
        if depth[s] > max_len:
            depth[s] = max_len
    while sum(2.0 ** -l for l in depth.values()) > 1.0:
        # clamping broke Kraft: push the deepest still-pushable,
        # least-frequent symbol one level down until the code is valid
        cands = [x for x in depth if depth[x] < max_len]
        if not cands:
            raise ValueError("cannot satisfy depth limit")
        s = max(cands, key=lambda x: (depth[x], -freqs[x]))
        depth[s] += 1
    return depth


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """{symbol: (code, length)} with spec canonical assignment: codes
    increase with (length, symbol)."""
    out = {}
    code = 0
    prev_len = 0
    for sym in sorted(lengths, key=lambda s: (lengths[s], s)):
        length = lengths[sym]
        code <<= length - prev_len
        out[sym] = (code, length)
        code += 1
        prev_len = length
    return out


class _Tree:
    """Prefix-code decoder: canonical (length, code) -> symbol walk."""

    def __init__(self, lengths: dict[int, int]) -> None:
        self.map = {
            (length, code): sym
            for sym, (code, length) in _canonical_codes(lengths).items()
        }
        self.single = None
        if len(lengths) == 1:
            self.single = next(iter(lengths))

    def read(self, br: _BitReader) -> int:
        if self.single is not None and self.map == {}:
            return self.single
        code, length = 0, 0
        while length <= 15:
            code = (code << 1) | br.read(1)
            length += 1
            sym = self.map.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid prefix code in VP8L stream")


_ZERO_TREE = object()  # sentinel: 0-bit code, single symbol


def _write_code_lengths(
    bw: _BitWriter, lengths: dict[int, int], alphabet: int
) -> None:
    """The 'normal' prefix-code serialization: code-length code over
    {0..15, 16(repeat prev), 17(short zero run), 18(long zero run)}."""
    seq: list[tuple[int, int]] = []  # (symbol, extra)
    i = 0
    while i < alphabet:
        length = lengths.get(i, 0)
        if length == 0:
            run = 1
            while i + run < alphabet and lengths.get(i + run, 0) == 0:
                run += 1
            left = run
            i += run
            # trailing zeros ARE coded: with the max_symbol flag off,
            # the reader consumes length symbols until the alphabet is
            # exhausted, so stopping early would desynchronize it
            while left >= 11:
                n = min(left, 138)
                seq.append((18, n - 11))
                left -= n
            while left >= 3:
                n = min(left, 10)
                seq.append((17, n - 3))
                left -= n
            seq.extend((0, -1) for _ in range(left))
        else:
            seq.append((length, -1))
            i += 1
    freqs: dict[int, int] = {}
    for s, _ in seq:
        freqs[s] = freqs.get(s, 0) + 1
    cl_lengths = _huffman_lengths(freqs, 7)
    if len(cl_lengths) == 1:
        # a lone code-length symbol still needs a nonzero-length slot
        cl_lengths[next(iter(cl_lengths))] = 1
    bw.write(0, 1)  # not simple
    bw.write(19 - 4, 4)  # write all 19 code-length-code lengths
    for sym in _CODE_LENGTH_ORDER:
        bw.write(cl_lengths.get(sym, 0), 3)
    bw.write(0, 1)  # no max_symbol trimming
    codes = _canonical_codes(cl_lengths)
    for s, extra in seq:
        c, l = codes[s]
        bw.write_code(c, l)
        if s == 16:
            bw.write(extra, 2)
        elif s == 17:
            bw.write(extra, 3)
        elif s == 18:
            bw.write(extra, 7)


def _write_prefix_code(
    bw: _BitWriter, freqs: dict[int, int], alphabet: int
) -> dict[int, tuple[int, int]]:
    """Emit one of the two spec forms; return {sym: (code, len)} with
    0-length codes when only one symbol exists."""
    present = sorted(s for s, f in freqs.items() if f > 0)
    if not present:
        present = [0]
    if len(present) <= 2 and max(present) < 256:
        bw.write(1, 1)  # simple
        bw.write(len(present) - 1, 1)
        first = present[0]
        if first < 2 and len(present) == 1:
            bw.write(0, 1)  # first symbol in one bit
            bw.write(first, 1)
        else:
            bw.write(1, 1)
            bw.write(first, 8)
        if len(present) == 2:
            bw.write(present[1], 8)
            return {present[0]: (0, 1), present[1]: (1, 1)}
        return {present[0]: (0, 0)}
    lengths = _huffman_lengths(freqs, 15)
    _write_code_lengths(bw, lengths, alphabet)
    return _canonical_codes(lengths)


def _read_prefix_code(br: _BitReader, alphabet: int) -> _Tree:
    if br.read(1):  # simple
        num = br.read(1) + 1
        if br.read(1):
            s0 = br.read(8)
        else:
            s0 = br.read(1)
        if num == 2:
            s1 = br.read(8)
            # Spec: codes are assigned in STREAM order — the first
            # written symbol gets code 0 — not canonically by symbol
            # value. A third-party stream with s0 > s1 must not swap
            # (the canonical _Tree ctor would sort by symbol).
            t = _Tree({s0: 1, s1: 1})
            t.map = {(1, 0): s0, (1, 1): s1}
            return t
        t = _Tree({s0: 1})
        t.map = {}  # 0-bit code: no bits consumed per symbol
        return t
    num_codes = 4 + br.read(4)
    cl_lengths: dict[int, int] = {}
    for i in range(num_codes):
        length = br.read(3)
        if length:
            cl_lengths[_CODE_LENGTH_ORDER[i]] = length
    cl_tree = _Tree(cl_lengths)
    if br.read(1):  # max_symbol trimming
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet
    lengths: dict[int, int] = {}
    prev = 8
    i = 0
    while i < alphabet and max_symbol > 0:
        max_symbol -= 1
        s = cl_tree.read(br)
        if s < 16:
            if s:
                lengths[i] = s
                prev = s
            i += 1
        elif s == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if i < alphabet:
                    lengths[i] = prev
                i += 1
        elif s == 17:
            i += 3 + br.read(3)
        else:
            i += 11 + br.read(7)
    return _Tree(lengths)


def _length_to_code(v: int) -> tuple[int, int, int]:
    """value (1-based) -> (prefix code, extra bits count, extra value).
    Inverse of the spec's shared length/distance scheme: code c < 4
    means v = c+1; else extra = (c-2)>>1 and v = ((2+(c&1))<<extra)+1+x."""
    if v <= 4:
        return v - 1, 0, 0
    u = v - 1
    k = u.bit_length() - 1
    top = (u >> (k - 1)) & 1
    code = 2 * k + top
    extra_bits = k - 1
    offset = (2 + top) << extra_bits
    return code, extra_bits, u - offset


def _code_to_length(br: _BitReader, code: int) -> int:
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + 1 + br.read(extra)


def _cache_index(argb, bits: int) -> int:
    # 32-bit multiplicative hash; wraparound is the point
    return ((int(argb) * _HASH_MUL) & 0xFFFFFFFF) >> (32 - bits)


def encode_webp_lossless(
    pixels: np.ndarray, cache_bits: int = 8, subtract_green: bool = True
) -> bytes:
    """RGB8 HxWx3 -> lossless WebP bytes (VP8L in a RIFF container).
    LZ77 matches are searched at distance 1 (runs) and distance w
    (vertical repetition) — the two that dominate natural images —
    always emitted as linear distance codes (> 120)."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    if w > 1 << 14 or h > 1 << 14:
        raise ValueError("VP8L dims are at most 16384")
    px = pixels.astype(np.uint32)
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    if subtract_green:
        r = (r - g) & 0xFF
        b = (b - g) & 0xFF
    argb = ((np.uint32(0xFF) << 24) | (r << 16) | (g << 8) | b).reshape(-1)
    n = len(argb)

    # --- tokenize: literals, cache hits, and LZ77 copies ------------
    cache = (
        np.zeros(1 << cache_bits, np.uint32) if cache_bits else None
    )
    cache_set = np.zeros(1 << cache_bits, bool) if cache_bits else None
    tokens = []  # ("lit", argb) | ("cache", idx) | ("copy", len, dist)
    i = 0
    while i < n:
        best_len, best_dist = 0, 0
        for dist in (1, w):
            if i >= dist:
                m = 0
                limit = min(n - i, _MAX_MATCH)
                while m < limit and argb[i + m] == argb[i + m - dist]:
                    m += 1
                if m > best_len:
                    best_len, best_dist = m, dist
        if best_len >= 3:
            tokens.append(("copy", best_len, best_dist))
            if cache_bits:
                for j in range(i, i + best_len):
                    idx = _cache_index(argb[j], cache_bits)
                    cache[idx] = argb[j]
                    cache_set[idx] = True
            i += best_len
            continue
        v = argb[i]
        if cache_bits:
            idx = _cache_index(v, cache_bits)
            if cache_set[idx] and cache[idx] == v:
                tokens.append(("cache", idx))
                i += 1
                continue
            cache[idx] = v
            cache_set[idx] = True
        tokens.append(("lit", int(v)))
        i += 1

    # --- histograms --------------------------------------------------
    green_alpha = 256 + _NUM_LENGTH_CODES + ((1 << cache_bits) if cache_bits else 0)
    fg: dict[int, int] = {}
    fr: dict[int, int] = {}
    fb: dict[int, int] = {}
    fa: dict[int, int] = {}
    fd: dict[int, int] = {}

    def bump(d, k):
        d[k] = d.get(k, 0) + 1

    for t in tokens:
        if t[0] == "lit":
            v = t[1]
            bump(fg, (v >> 8) & 0xFF)
            bump(fr, (v >> 16) & 0xFF)
            bump(fb, v & 0xFF)
            bump(fa, (v >> 24) & 0xFF)
        elif t[0] == "cache":
            bump(fg, 256 + _NUM_LENGTH_CODES + t[1])
        else:
            lcode, _, _ = _length_to_code(t[1])
            bump(fg, 256 + lcode)
            dcode, _, _ = _length_to_code(t[2] + 120)
            bump(fd, dcode)

    # --- serialize ----------------------------------------------------
    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version
    if subtract_green:
        bw.write(1, 1)  # transform present
        bw.write(2, 2)  # subtract-green
    bw.write(0, 1)  # end of transforms
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    bw.write(0, 1)  # no meta-prefix image
    cg = _write_prefix_code(bw, fg, green_alpha)
    cr = _write_prefix_code(bw, fr, 256)
    cb = _write_prefix_code(bw, fb, 256)
    ca = _write_prefix_code(bw, fa, 256)
    cd = _write_prefix_code(bw, fd, 40)

    def emit(codes, sym):
        code, length = codes[sym]
        bw.write_code(code, length)

    for t in tokens:
        if t[0] == "lit":
            v = t[1]
            emit(cg, (v >> 8) & 0xFF)
            emit(cr, (v >> 16) & 0xFF)
            emit(cb, v & 0xFF)
            emit(ca, (v >> 24) & 0xFF)
        elif t[0] == "cache":
            emit(cg, 256 + _NUM_LENGTH_CODES + t[1])
        else:
            _len, dist = t[1], t[2]
            lcode, lnbits, lextra = _length_to_code(_len)
            emit(cg, 256 + lcode)
            if lnbits:
                bw.write(lextra, lnbits)
            dcode, dnbits, dextra = _length_to_code(dist + 120)
            emit(cd, dcode)
            if dnbits:
                bw.write(dextra, dnbits)
    payload = b"\x2f" + bw.flush()
    return riff.chunk(b"RIFF", b"WEBP" + riff.chunk(b"VP8L", payload))


def _decode_argb_stream(
    br: _BitReader, w: int, h: int, allow_meta: bool
) -> np.ndarray:
    """One VP8L entropy-coded image stream (RFC 9649 §5): color-cache
    info, prefix codes — including META-PREFIX groups at level 0 (r5):
    a sub-resolution entropy image (itself an entropy-coded stream,
    recursion disallowed) whose pixels' (R<<8|G) select one of K
    5-code groups per 2^bits-pixel block — then the LZ77/cache token
    loop. Sub-streams (the entropy image) carry NO meta bit at all
    (libwebp reads it only when recursion is allowed)."""
    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits > 11:
        raise ValueError("invalid color-cache size")
    meta_idx = None
    prefix_bits = 0
    n_groups = 1
    if allow_meta and br.read(1):
        prefix_bits = br.read(3) + 2
        sw = (w + (1 << prefix_bits) - 1) >> prefix_bits
        sh = (h + (1 << prefix_bits) - 1) >> prefix_bits
        sub = _decode_argb_stream(br, sw, sh, allow_meta=False)
        meta_idx = ((sub >> np.uint32(8)) & np.uint32(0xFFFF)).astype(
            np.int64
        ).reshape(sh, sw)
        n_groups = int(meta_idx.max()) + 1
    green_alpha = 256 + _NUM_LENGTH_CODES + (
        (1 << cache_bits) if cache_bits else 0
    )
    groups = [
        (
            _read_prefix_code(br, green_alpha),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 40),
        )
        for _ in range(n_groups)
    ]
    cache = np.zeros(1 << cache_bits, np.uint32) if cache_bits else None
    n = w * h
    out = np.zeros(n, np.uint32)
    i = 0
    while i < n:
        if meta_idx is None:
            tg, tr, tb, ta, td = groups[0]
        else:  # group of the pixel the next token STARTS at
            tg, tr, tb, ta, td = groups[
                meta_idx[(i // w) >> prefix_bits, (i % w) >> prefix_bits]
            ]
        s = tg.read(br)
        if s < 256:
            g = s
            r = tr.read(br)
            b = tb.read(br)
            a = ta.read(br)
            v = np.uint32((a << 24) | (r << 16) | (g << 8) | b)
            out[i] = v
            if cache_bits:
                cache[_cache_index(v, cache_bits)] = v
            i += 1
        elif s < 256 + _NUM_LENGTH_CODES:
            length = _code_to_length(br, s - 256)
            dcode = td.read(br)
            d = _code_to_length(br, dcode)
            if d <= 120:
                raise NotImplementedError(
                    "VP8L 2D neighborhood distance codes not supported"
                )
            dist = d - 120
            if dist > i or i + length > n:
                raise ValueError("VP8L back-reference out of range")
            for j in range(length):  # overlapping copies are legal
                v = out[i + j - dist]
                out[i + j] = v
                if cache_bits:
                    cache[_cache_index(v, cache_bits)] = v
            i += length
        else:
            idx = s - 256 - _NUM_LENGTH_CODES
            out[i] = cache[idx]
            i += 1
    return out


def decode_webp_lossless(data: bytes) -> np.ndarray:
    """WebP bytes -> RGB8 HxWx3 (VP8L lossless only; lossy VP8 and
    transforms beyond subtract-green raise NotImplementedError)."""
    payload = None
    for tag, start, size in riff.chunks(data, b"WEBP", "WebP (RIFF)"):
        if tag == b"VP8L":
            payload = data[start : start + size]
            break
        if tag in (b"VP8 ", b"VP8X"):
            raise NotImplementedError(f"WebP {tag.decode().strip()} (lossy/extended) not supported")
    if payload is None:
        raise ValueError("no VP8L chunk")
    if payload[:1] != b"\x2f":
        raise ValueError("bad VP8L signature")
    br = _BitReader(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("unknown VP8L version")
    subtract_green = False
    while br.read(1):
        ttype = br.read(2)
        if ttype == 2:
            subtract_green = True
        else:
            raise NotImplementedError(
                f"VP8L transform {ttype} (predictor/color/indexing) not supported"
            )
    out = _decode_argb_stream(br, w, h, allow_meta=True)
    a = (out >> 24) & 0xFF
    r = (out >> 16) & 0xFF
    g = (out >> 8) & 0xFF
    b = out & 0xFF
    if subtract_green:
        r = (r + g) & 0xFF
        b = (b + g) & 0xFF
    del a  # RGB pixel model: alpha dropped
    return (
        np.stack([r, g, b], axis=-1).astype(np.uint8).reshape(h, w, 3)
    )
