"""WebP lossless (VP8L) codec in pure stdlib Python + numpy.

Extends the media tier (PNG / JPEG / GIF / TIFF / BMP / FLAC / WAV / AVI)
into the modern-web-format decade: WebP is the most common "modern
compressed format" in web corpora, and its LOSSLESS coding mode (VP8L)
is implementable honestly without native libraries. Everything here is
from the public WebP Lossless Bitstream Specification and RFC 9649
(container); the spec's own reference decoder (libwebp) fixes the
bit-level conventions restated below.

Coverage:

- ``decode``: RIFF/WEBP container walk (unknown chunks skipped), VP8L
  header, ALL FOUR transforms (predictor with the 14 modes + edge
  rules, color/cross-color, subtract-green, color-indexing with
  sub-byte pixel bundling), color cache, meta prefix codes (entropy
  image selecting per-tile code groups), simple and normal prefix
  codes (code-length codes with 16/17/18 repeats and the optional
  max-symbol early stop), and LZ77 backward references with the
  2D distance mapping. Returns ``(width, height, channels, bytes)``
  — the shared media contract — or ``None`` on malformed input.
- ``encode_gray8``: three independently coded lossless layouts over
  the same gray pixels (chosen per blob by the adapter so one corpus
  exercises three decode paths): ``lz77`` (subtract-green transform,
  color cache, distance-1 run backrefs), ``predictor`` (mode-2 tile
  grid, literal residuals), ``palette`` (color-indexing transform
  with bundling down to 1-bit pixels). All lossless, so the analytic
  PNG oracle applies verbatim to decoded statistics.

Bit-level conventions (spec + libwebp ``huffman_utils.c``):
- the byte stream is read LSB-first;
- prefix codes are canonical (DEFLATE convention: codes assigned in
  increasing (length, symbol) order) and their bits enter the stream
  MSB-of-code-first — i.e. the writer emits ``reverse(code, len)``
  into the LSB-first accumulator;
- LZ77 length/distance values use the spec's prefix-coding: values
  1..4 direct, then ``(2 + (c & 1)) << ((c - 2) >> 1) + extra + 1``.

Vectorized stages (numpy) keep bit-identical scalar twins selected by
``force_scalar=True`` — the codec-parity discipline
(``tests/test_codec_parity.py``): inverse subtract-green, the
all-mode-2 predictor fast path, palette cumsum + unbundling, and the
final channel split. The per-symbol entropy loop is sequentially
constrained (like JPEG Huffman) and stays scalar on both builds.

The 2D distance-map table and the exotic predictor modes (Select,
ClampAddSubtract*) follow the spec text; the in-repo encoder never
emits them (it uses unmapped distances and mode-2 tiles), so registry
correctness never rests on them — round-trip property tests pin the
subset the encoder emits, and the transform inverses carry unit tests.

Defined inside ``_build_webp_codec`` for by-value closure shipping
(cloudpickle ships the nested functions wholesale into ``mapInPandas``
workers; no module import on executors is assumed).
"""

from __future__ import annotations


def _build_webp_codec(force_scalar: bool = False):
    import struct
    from heapq import heapify, heappop, heappush

    import numpy as _np_mod

    np = None if force_scalar else _np_mod

    # kCodeLengthCodeOrder — the permutation in which the 3-bit lengths
    # of the code-length code are stored (spec "Decoding the code lengths")
    CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
    HASH_MUL = 0x1E35A7BD  # color-cache multiplier (spec)

    # 2D distance mapping: LZ77 distance values 1..120 address a pixel
    # neighborhood (dx, dy) instead of a linear offset (spec table).
    DIST_MAP = (
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
        (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
        (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
        (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
        (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
        (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
        (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
        (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
        (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
        (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
        (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
        (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
        (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
        (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
        (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
    )

    # ------------------------------------------------------------------ io
    class _WScalar:
        """LSB-first bit accumulator; ``code`` writes a canonical prefix
        code MSB-first (the DEFLATE packing VP8L shares)."""

        __slots__ = ("out", "acc", "n")

        def __init__(self):
            self.out = bytearray()
            self.acc = 0
            self.n = 0

        def bits(self, v, k):
            self.acc |= (v & ((1 << k) - 1)) << self.n
            self.n += k
            while self.n >= 8:
                self.out.append(self.acc & 0xFF)
                self.acc >>= 8
                self.n -= 8

        def code(self, c, k):
            r = 0
            for _ in range(k):
                r = (r << 1) | (c & 1)
                c >>= 1
            self.bits(r, k)

        def done(self):
            if self.n:
                self.out.append(self.acc & 0xFF)
                self.acc = 0
                self.n = 0
            return bytes(self.out)

    class _WBuffered:
        """``_WScalar`` with DEFERRED packing: ``bits`` buffers (value,
        width) pairs (two list appends instead of an integer-accumulator
        carry loop per call — the call profile's top cost, ~1.3s/1500
        docs at sf1) and ``done`` packs the whole stream in a few numpy
        passes: expand each value to its ``k`` LSB-first bits
        contiguously, one ``packbits(bitorder='little')``. The final
        partial byte zero-pads exactly like the scalar flush, so output
        bytes are identical (asserted against the force_scalar twin in
        tests/test_webp.py).

        ``bits_arrays`` is the bulk entry the vectorized token emitters
        use: whole (values, widths) numpy arrays append as ONE ordered
        segment, interleaving correctly with scalar ``bits`` calls."""

        __slots__ = ("segs", "vals", "ks")

        def __init__(self):
            self.segs = []
            self.vals = []
            self.ks = []

        def bits(self, v, k):
            if k:
                self.vals.append(v & ((1 << k) - 1))
                self.ks.append(k)

        def bits_arrays(self, va, ka):
            """Append int64 arrays of (values, widths); zero-width
            entries must already be filtered out by the caller."""
            if len(ka):
                self._flush()
                self.segs.append((va & ((np.int64(1) << ka) - 1), ka))

        def code(self, c, k):
            r = 0
            for _ in range(k):
                r = (r << 1) | (c & 1)
                c >>= 1
            self.bits(r, k)

        def _flush(self):
            if self.ks:
                self.segs.append(
                    (np.asarray(self.vals, np.int64), np.asarray(self.ks, np.int64))
                )
                self.vals = []
                self.ks = []

        def done(self):
            self._flush()
            if not self.segs:
                return b""
            if len(self.segs) == 1:
                vals, ks = self.segs[0]
            else:
                vals = np.concatenate([v for v, _ in self.segs])
                ks = np.concatenate([k for _, k in self.segs])
            self.segs = []
            ends = np.cumsum(ks)
            local = np.arange(int(ends[-1]), dtype=np.int64)
            local -= np.repeat(ends - ks, ks)
            dense = (
                (vals[np.repeat(np.arange(ks.size), ks)] >> local) & 1
            ).astype(np.uint8)
            return np.packbits(dense, bitorder="little").tobytes()

    _W = _WScalar if np is None else _WBuffered

    class _R:
        """LSB-first bit reader over one VP8L payload. Reads past the end
        yield zero bits (the spec permits the final byte's padding)."""

        __slots__ = ("b", "ln", "pos", "acc", "n")

        def __init__(self, b):
            self.b = b
            self.ln = len(b)
            self.pos = 0
            self.acc = 0
            self.n = 0

        def read(self, k):
            if k == 0:
                return 0
            while self.n < k:
                nxt = self.b[self.pos] if self.pos < self.ln else 0
                if self.pos >= self.ln + 8:  # runaway read = corrupt stream
                    raise ValueError("bitstream overrun")
                self.pos += 1
                self.acc |= nxt << self.n
                self.n += 8
            v = self.acc & ((1 << k) - 1)
            self.acc >>= k
            self.n -= k
            return v

        def sym(self, tbl):
            lookup, mb, only = tbl
            if mb == 0:
                return only
            while self.n < mb:
                nxt = self.b[self.pos] if self.pos < self.ln else 0
                if self.pos >= self.ln + 8:
                    raise ValueError("bitstream overrun")
                self.pos += 1
                self.acc |= nxt << self.n
                self.n += 8
            s, ln = lookup[self.acc & ((1 << mb) - 1)]
            if ln < 0:
                raise ValueError("invalid prefix code")
            self.acc >>= ln
            self.n -= ln
            return s

    # --------------------------------------------------- canonical codes
    def _table(lengths):
        """lengths (list sym->len) -> (lookup, maxbits, only): a flat
        2^maxbits table keyed by the next maxbits LSB-first stream bits
        (i.e. by the bit-reversed canonical code, zlib-style)."""
        nz = [(l, s) for s, l in enumerate(lengths) if l]
        if not nz:
            raise ValueError("empty prefix code")
        if len(nz) == 1:
            return (None, 0, nz[0][1])
        maxlen = max(l for l, _ in nz)
        bl = [0] * (maxlen + 1)
        for l, _ in nz:
            bl[l] += 1
        code = 0
        nxt = [0] * (maxlen + 1)
        for l in range(1, maxlen + 1):
            code = (code + bl[l - 1]) << 1
            nxt[l] = code
        lookup = [(0, -1)] * (1 << maxlen)
        for s, l in enumerate(lengths):
            if not l:
                continue
            c = nxt[l]
            nxt[l] += 1
            r = 0
            cc = c
            for _ in range(l):
                r = (r << 1) | (cc & 1)
                cc >>= 1
            for idx in range(r, 1 << maxlen, 1 << l):
                lookup[idx] = (s, l)
        return (lookup, maxlen, None)

    def _simple_table(syms):
        if len(syms) == 1:
            return (None, 0, syms[0])
        # simple 2-symbol code: first symbol read = code 0, second = 1
        return ([(syms[0], 1), (syms[1], 1)], 1, None)

    def _hlengths(freqs, limit):
        """Huffman code lengths (dict sym->len) capped at ``limit`` by
        count-damping (the zlib practice); deterministic tie-breaks via
        insertion serials over sorted symbols. len(freqs) >= 2."""
        cnts = dict(freqs)
        while True:
            heap = []
            serial = 0
            for s in sorted(cnts):
                heap.append((cnts[s], serial, (s,)))
                serial += 1
            heapify(heap)
            depth = dict.fromkeys(cnts, 0)
            while len(heap) > 1:
                c1, _, g1 = heappop(heap)
                c2, _, g2 = heappop(heap)
                for s in g1:
                    depth[s] += 1
                for s in g2:
                    depth[s] += 1
                heappush(heap, (c1 + c2, serial, g1 + g2))
                serial += 1
            if max(depth.values()) <= limit:
                return depth
            cnts = {s: max(1, (c + 1) >> 1) for s, c in cnts.items()}

    # ------------------------------------------------- code (de)scription
    # Description-parse memo: a parsed description is a pure function of
    # its bit span, so identical spans (every static_codes adapter blob
    # shares its 5 descriptions) skip the per-symbol parse AND the flat
    # table build. Keyed by (alphabet, start-bit phase); candidates
    # compare the masked byte span. Bounded against foreign-corpus
    # pollution.
    _desc_cache = {}

    def _desc_lookup(r, alphabet):
        start = r.pos * 8 - r.n
        cands = _desc_cache.get((alphabet, start & 7))
        if not cands:
            return start, None
        b = r.b
        sb = start >> 3
        for span, first_mask, last_mask, nbits, tbl in cands:
            eb = sb + len(span)
            if eb > r.ln:
                continue
            if len(span) == 1:  # both masks land on the same byte
                hit = (b[sb] & first_mask & last_mask) == span[0]
            else:
                hit = (
                    (b[sb] & first_mask) == span[0]
                    and (b[eb - 1] & last_mask) == span[-1]
                    and b[sb + 1: eb - 1] == span[1:-1]
                )
            if hit:
                end = start + nbits
                r.pos = end >> 3
                r.acc = 0
                r.n = 0
                if end & 7:
                    r.read(end & 7)  # re-consume the partial byte
                return start, tbl
        return start, None

    def _desc_store(r, alphabet, start, tbl):
        end = r.pos * 8 - r.n
        nbits = end - start
        sb = start >> 3
        eb = (end + 7) >> 3
        if eb > r.ln:  # span ran into zero-fed padding: not cacheable
            return
        first_mask = 0xFF & ~((1 << (start & 7)) - 1)
        last_mask = (1 << (end & 7)) - 1 if end & 7 else 0xFF
        span = bytearray(r.b[sb:eb])
        span[0] &= first_mask
        span[-1] &= last_mask
        key = (alphabet, start & 7)
        lst = _desc_cache.setdefault(key, [])
        if len(lst) >= 8 or len(_desc_cache) > 64:
            if len(_desc_cache) > 64:
                _desc_cache.clear()
                lst = _desc_cache.setdefault(key, [])
            else:
                return
        lst.append((bytes(span), first_mask, last_mask, nbits, tbl))

    def _read_code(r, alphabet):
        """Read one prefix-code description; returns a decode table."""
        start, hit = _desc_lookup(r, alphabet)
        if hit is not None:
            return hit
        if r.read(1):  # simple
            n = r.read(1) + 1
            s0 = r.read(8 if r.read(1) else 1)
            tbl = (
                _simple_table([s0, r.read(8)]) if n == 2 else _simple_table([s0])
            )
            _desc_store(r, alphabet, start, tbl)
            return tbl
        num_cl = 4 + r.read(4)
        cl_lengths = [0] * 19
        for i in range(num_cl):
            cl_lengths[CL_ORDER[i]] = r.read(3)
        cl_tbl = _table(cl_lengths)
        if r.read(1):  # optional token budget ("use max symbol")
            nbits = 2 + 2 * r.read(3)
            max_tokens = 2 + r.read(nbits)
        else:
            max_tokens = -1
        lengths = [0] * alphabet
        sym = 0
        prev = 8
        while sym < alphabet:
            if max_tokens == 0:
                break
            if max_tokens > 0:
                max_tokens -= 1
            cl = r.sym(cl_tbl)
            if cl < 16:
                lengths[sym] = cl
                sym += 1
                if cl:
                    prev = cl
            elif cl == 16:
                rep = 3 + r.read(2)
                for _ in range(rep):
                    if sym < alphabet:
                        lengths[sym] = prev
                        sym += 1
            elif cl == 17:
                sym += 3 + r.read(3)
            else:
                sym += 11 + r.read(7)
        tbl = _table(lengths)
        _desc_store(r, alphabet, start, tbl)
        return tbl

    def _write_code(w, lengths, alphabet):
        """Write a prefix-code description for ``lengths`` (dict sym->len
        produced by _hlengths, or {s: 1, t: 1} pairs)."""
        syms = sorted(lengths)
        if len(syms) <= 2 and all(s <= 255 for s in syms):
            w.bits(1, 1)
            w.bits(len(syms) - 1, 1)
            s0 = syms[0]
            if s0 <= 1:
                w.bits(0, 1)
                w.bits(s0, 1)
            else:
                w.bits(1, 1)
                w.bits(s0, 8)
            if len(syms) == 2:
                w.bits(syms[1], 8)
            return
        arr = [0] * alphabet
        for s, l in lengths.items():
            arr[s] = l
        # token stream: literals + 17/18 zero runs (covers ALL slots, so
        # the reader stops exactly at alphabet symbols; no max-symbol)
        tokens = []  # (cl_sym, extra_val, extra_bits)
        i = 0
        while i < alphabet:
            if arr[i] == 0:
                j = i
                while j < alphabet and arr[j] == 0:
                    j += 1
                run = j - i
                while run >= 11:
                    chunk = min(run, 138)
                    tokens.append((18, chunk - 11, 7))
                    run -= chunk
                while run >= 3:
                    chunk = min(run, 10)
                    tokens.append((17, chunk - 3, 3))
                    run -= chunk
                tokens.extend((0, 0, 0) for _ in range(run))
                i = j
            else:
                tokens.append((arr[i], 0, 0))
                i += 1
        hist = {}
        for t, _, _ in tokens:
            hist[t] = hist.get(t, 0) + 1
        if len(hist) == 1:
            # a single-symbol code-length code would be incomplete; pad
            # with an unused CL symbol so the canonical code is complete
            dummy = 0 if 0 not in hist else 1
            hist[dummy] = 1
        cl_len = _hlengths(hist, 7)
        codes = _canon(cl_len)
        num_cl = max(i for i, s in enumerate(CL_ORDER) if s in cl_len) + 1
        num_cl = max(num_cl, 4)
        w.bits(0, 1)  # not simple
        w.bits(num_cl - 4, 4)
        for i in range(num_cl):
            w.bits(cl_len.get(CL_ORDER[i], 0), 3)
        w.bits(0, 1)  # no max-symbol early stop
        for t, ev, eb in tokens:
            c, l = codes[t]
            w.code(c, l)
            if eb:
                w.bits(ev, eb)

    def _canon(lengths):
        """dict sym->len -> dict sym->(code, len), canonical order."""
        maxlen = max(lengths.values())
        bl = [0] * (maxlen + 1)
        for l in lengths.values():
            bl[l] += 1
        code = 0
        nxt = [0] * (maxlen + 1)
        for l in range(1, maxlen + 1):
            code = (code + bl[l - 1]) << 1
            nxt[l] = code
        out = {}
        for s in sorted(lengths):
            l = lengths[s]
            out[s] = (nxt[l], l)
            nxt[l] += 1
        return out

    def _canon_rev(lengths):
        """_canon with the code bits pre-reversed, so emission is one
        LSB-first ``bits()`` call per symbol instead of a per-bit loop
        (identical stream bytes — ``W.code`` reverses at write time)."""
        out = {}
        for s, (c, l) in _canon(lengths).items():
            r = 0
            for _ in range(l):
                r = (r << 1) | (c & 1)
                c >>= 1
            out[s] = (r, l)
        return out

    # --------------------------------------------------- LZ77 prefix vals
    def _lz_val(r, code):
        if code < 4:
            return code + 1
        extra = (code - 2) >> 1
        return ((2 + (code & 1)) << extra) + r.read(extra) + 1

    def _lz_sym(v):
        """value >= 1 -> (prefix_sym, extra_bits, extra_val)."""
        if v <= 4:
            return v - 1, 0, 0
        c = 4
        while True:
            extra = (c - 2) >> 1
            off = (2 + (c & 1)) << extra
            if off + 1 <= v <= off + (1 << extra):
                return c, extra, v - off - 1
            c += 1

    # ------------------------------------------------------ pixel helpers
    def _addpx(a, b):
        """Per-channel (mod 256) ARGB add — two-lane SWAR."""
        return ((((a & 0xFF00FF00) + (b & 0xFF00FF00)) & 0xFF00FF00)
                | (((a & 0x00FF00FF) + (b & 0x00FF00FF)) & 0x00FF00FF))

    def _avg2(a, b):
        """Per-channel floor((a+b)/2) — SWAR."""
        return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)

    def _clamp(v):
        return 0 if v < 0 else 255 if v > 255 else v

    def _cas_full(l, t, tl):
        out = 0
        for sh in (24, 16, 8, 0):
            out |= _clamp(((l >> sh) & 255) + ((t >> sh) & 255)
                          - ((tl >> sh) & 255)) << sh
        return out

    def _cas_half(l, t, tl):
        out = 0
        for sh in (24, 16, 8, 0):
            av = (((l >> sh) & 255) + ((t >> sh) & 255)) >> 1
            d = (av - ((tl >> sh) & 255)) >> 1 if av >= ((tl >> sh) & 255) else -((((tl >> sh) & 255) - av) >> 1)
            out |= _clamp(av + d) << sh
        return out

    def _select(l, t, tl):
        p_l = 0
        p_t = 0
        for sh in (24, 16, 8, 0):
            lc = (l >> sh) & 255
            tc = (t >> sh) & 255
            cc = (tl >> sh) & 255
            p = lc + tc - cc
            p_l += abs(p - lc)
            p_t += abs(p - tc)
        return l if p_l < p_t else t

    def _predict(mode, l, t, tl, tr):
        if mode == 0:
            return 0xFF000000
        if mode == 1:
            return l
        if mode == 2:
            return t
        if mode == 3:
            return tr
        if mode == 4:
            return tl
        if mode == 5:
            return _avg2(_avg2(l, tr), t)
        if mode == 6:
            return _avg2(l, tl)
        if mode == 7:
            return _avg2(l, t)
        if mode == 8:
            return _avg2(tl, t)
        if mode == 9:
            return _avg2(t, tr)
        if mode == 10:
            return _avg2(_avg2(l, tl), _avg2(t, tr))
        if mode == 11:
            return _select(l, t, tl)
        if mode == 12:
            return _cas_full(l, t, tl)
        return _cas_half(l, t, tl)

    # --------------------------------------------------- inverse transforms
    def _inv_subtract_green(px):
        if not force_scalar:
            import numpy as np

            a = np.asarray(px, dtype=np.uint32)
            g = (a >> 8) & 0xFF
            r = (((a >> 16) & 0xFF) + g) & 0xFF
            b = ((a & 0xFF) + g) & 0xFF
            return (a & 0xFF00FF00) | (r << 16) | b
        for i, p in enumerate(px):
            g = (p >> 8) & 0xFF
            r = (((p >> 16) & 0xFF) + g) & 0xFF
            b = ((p & 0xFF) + g) & 0xFF
            px[i] = (p & 0xFF00FF00) | (r << 16) | b
        return px

    def _inv_predictor(px, w, h, sb, timg, tw):
        modes = [(p >> 8) & 0xFF for p in timg]
        all2 = all(m == 2 for m in modes)
        if not isinstance(px, list) and (force_scalar or not all2):
            # the generic per-pixel walk below needs Python-int SWAR
            px = [int(v) for v in px]
        if not force_scalar and all2:
            # the in-repo encoder's layout: every tile mode 2 (T). Edge
            # rules still apply: (0,0) += BLACK, row 0 takes L, column
            # rule is subsumed by T. Vectorized as cumsums mod 256.
            import numpy as np

            a = np.asarray(px, dtype=np.uint32).reshape(h, w)
            ch = np.stack([(a >> s) & 0xFF for s in (24, 16, 8, 0)])
            ch[0, 0, 0] = (ch[0, 0, 0] + 0xFF) & 0xFF  # BLACK alpha at (0,0)
            ch[:, 0, :] = ch[:, 0, :].cumsum(axis=1) & 0xFF  # row 0: L chain
            ch = ch.cumsum(axis=1) & 0xFF  # rows: T chain seeded by row 0
            out = (ch[0] << 24) | (ch[1] << 16) | (ch[2] << 8) | ch[3]
            return out.reshape(-1).astype(np.uint32)
        for y in range(h):
            trow = (y >> sb) * tw
            for x in range(w):
                i = y * w + x
                if x == 0 and y == 0:
                    pred = 0xFF000000
                elif y == 0:
                    pred = px[i - 1]
                elif x == 0:
                    pred = px[i - w]
                else:
                    m = modes[trow + (x >> sb)]
                    # Spec rule for the rightmost column: the TR pixel wraps
                    # to the leftmost pixel of the SAME row (contiguous-buffer
                    # wrap, as libwebp implements). i - w + 1 == y*w at
                    # x == w-1, which is that already-decoded pixel.
                    tr = px[i - w + 1]
                    pred = _predict(m, px[i - 1], px[i - w], px[i - w - 1], tr)
                px[i] = _addpx(px[i], pred)
        return px

    def _ct_delta(t, c):
        if t > 127:
            t -= 256
        if c > 127:
            c -= 256
        return (t * c) >> 5

    def _inv_color(px, w, h, sb, timg, tw):
        if not isinstance(px, list):
            px = [int(v) for v in px]  # per-pixel walk needs Python ints
        for y in range(h):
            trow = (y >> sb) * tw
            for x in range(w):
                m = timg[trow + (x >> sb)]
                g2r = m & 0xFF
                g2b = (m >> 8) & 0xFF
                r2b = (m >> 16) & 0xFF
                p = px[y * w + x]
                g = (p >> 8) & 0xFF
                r = ((p >> 16) & 0xFF)
                b = p & 0xFF
                r = (r + _ct_delta(g2r, g)) & 0xFF
                b = (b + _ct_delta(g2b, g) + _ct_delta(r2b, r)) & 0xFF
                px[y * w + x] = (p & 0xFF00FF00) | (r << 16) | b
        return px

    def _inv_palette(px, w_orig, h, n, pal_img, xb):
        # palette entries are stored delta-coded per channel
        pal = list(pal_img)
        for i in range(1, n):
            pal[i] = _addpx(pal[i], pal[i - 1])
        if xb == 0:
            if not force_scalar:
                import numpy as np

                g = (np.asarray(px, dtype=np.uint32) >> 8) & 0xFF
                lut = np.zeros(256, dtype=np.uint32)
                lut[:n] = pal
                return lut[g]
            return [pal[(p >> 8) & 0xFF] if ((p >> 8) & 0xFF) < n else 0
                    for p in px]
        bpp = 8 >> xb
        mask = (1 << bpp) - 1
        pw = (w_orig + (1 << xb) - 1) >> xb
        if not force_scalar:
            import numpy as np

            g = ((np.asarray(px, dtype=np.uint32) >> 8) & 0xFF).reshape(h, pw)
            shifts = (np.arange(w_orig) & ((1 << xb) - 1)) * bpp
            idx = (g[:, np.arange(w_orig) >> xb] >> shifts[None, :]) & mask
            lut = np.zeros(256, dtype=np.uint32)
            lut[: len(pal)] = pal
            return lut[idx].reshape(-1)
        out = []
        for y in range(h):
            for x in range(w_orig):
                g = (px[y * pw + (x >> xb)] >> 8) & 0xFF
                idx = (g >> ((x & ((1 << xb) - 1)) * bpp)) & mask
                out.append(pal[idx] if idx < n else 0)
        return out

    # ------------------------------------------------------- image stream
    def _decode_stream(r, w, h, level0):
        transforms = []
        xsize = w
        if level0:
            while r.read(1):
                t = r.read(2)
                if t == 2:
                    transforms.append(("sg",))
                elif t in (0, 1):
                    sb = r.read(3) + 2
                    tw = (xsize + (1 << sb) - 1) >> sb
                    th = (h + (1 << sb) - 1) >> sb
                    timg = _decode_stream(r, tw, th, False)
                    # record the xsize in effect when this transform was
                    # read: a stream that lists COLOR_INDEXING first codes
                    # later transforms at the palette-reduced width, and the
                    # inverse must walk the buffer at that width.
                    transforms.append(
                        ("pred" if t == 0 else "color", sb, timg, tw, xsize)
                    )
                else:
                    n = r.read(8) + 1
                    pal = _decode_stream(r, n, 1, False)
                    xb = 3 if n <= 2 else 2 if n <= 4 else 1 if n <= 16 else 0
                    transforms.append(("pal", n, pal, xb, xsize))
                    xsize = (xsize + (1 << xb) - 1) >> xb
        cache_bits = r.read(4) if r.read(1) else 0
        cache_size = (1 << cache_bits) if cache_bits else 0
        meta = None
        meta_sb = 0
        meta_w = 0
        n_groups = 1
        if level0 and r.read(1):
            meta_sb = r.read(3) + 2
            meta_w = (xsize + (1 << meta_sb) - 1) >> meta_sb
            mh = (h + (1 << meta_sb) - 1) >> meta_sb
            meta = _decode_stream(r, meta_w, mh, False)
            n_groups = max(((p >> 8) & 0xFFFF) for p in meta) + 1
        galpha = 256 + 24 + cache_size
        groups = []
        for _ in range(n_groups):
            groups.append((
                _read_code(r, galpha), _read_code(r, 256),
                _read_code(r, 256), _read_code(r, 256), _read_code(r, 40),
            ))
        npx = xsize * h
        out = [0] * npx
        cache = [0] * cache_size
        pos = 0
        sym = _R.sym
        gc, rc, bc, ac, dc = groups[0]
        while pos < npx:
            if meta is not None:
                x = pos % xsize
                y = pos // xsize
                gi = (meta[(y >> meta_sb) * meta_w + (x >> meta_sb)] >> 8) & 0xFFFF
                gc, rc, bc, ac, dc = groups[gi]
            s = sym(r, gc)
            if s < 256:
                red = sym(r, rc)
                blue = sym(r, bc)
                alpha = sym(r, ac)
                p = (alpha << 24) | (red << 16) | (s << 8) | blue
                out[pos] = p
                pos += 1
                if cache_size:
                    cache[((HASH_MUL * p) & 0xFFFFFFFF) >> (32 - cache_bits)] = p
            elif s < 280:
                length = _lz_val(r, s - 256)
                dval = _lz_val(r, sym(r, dc))
                if dval > 120:
                    d = dval - 120
                else:
                    dx, dy = DIST_MAP[dval - 1]
                    d = dy * xsize + dx
                    if d < 1:
                        d = 1
                if d > pos or pos + length > npx:
                    raise ValueError("backref out of range")
                if cache_size:
                    for _ in range(length):
                        p = out[pos - d]
                        out[pos] = p
                        cache[((HASH_MUL * p) & 0xFFFFFFFF) >> (32 - cache_bits)] = p
                        pos += 1
                else:
                    for _ in range(length):
                        out[pos] = out[pos - d]
                        pos += 1
            else:
                out[pos] = cache[s - 280]
                pos += 1
        if level0:
            out = _apply_inv_transforms(out, transforms, h)
        return out

    def _apply_inv_transforms(out, transforms, h):
        for t in reversed(transforms):
            if t[0] == "sg":
                out = _inv_subtract_green(out)
            elif t[0] == "pred":
                out = _inv_predictor(out, t[4], h, t[1], t[2], t[3])
            elif t[0] == "color":
                out = _inv_color(out, t[4], h, t[1], t[2], t[3])
            else:
                out = _inv_palette(out, t[4], h, t[1], t[2], t[3])
        return out

    # -------------------------------------------------------------- decode
    def decode(b):
        try:
            return _decode(bytes(b))
        except Exception:
            return None

    def _decode(b):
        if len(b) < 20 or b[:4] != b"RIFF" or b[8:12] != b"WEBP":
            return None
        off = 12
        payload = None
        while off + 8 <= len(b):
            tag = b[off: off + 4]
            sz = struct.unpack_from("<I", b, off + 4)[0]
            if tag == b"VP8L":
                payload = b[off + 8: off + 8 + sz]
                break
            off += 8 + sz + (sz & 1)
        if payload is None or not payload:
            return None
        r = _R(payload)
        if r.read(8) != 0x2F:
            return None
        w = r.read(14) + 1
        h = r.read(14) + 1
        r.read(1)  # alpha-is-used hint
        if r.read(3) != 0:  # version
            return None
        px = _decode_stream(r, w, h, True)
        return _px_to_result(px, w, h)

    def _px_to_result(px, w, h):
        if not force_scalar:
            import numpy as np

            a = np.asarray(px, dtype=np.uint32)
            alpha = (a >> 24).astype(np.uint8)
            rgb = np.empty((len(px), 3), np.uint8)
            rgb[:, 0] = (a >> 16) & 0xFF
            rgb[:, 1] = (a >> 8) & 0xFF
            rgb[:, 2] = a & 0xFF
            if (alpha == 255).all():
                return (w, h, 3, rgb.tobytes())
            rgba = np.empty((len(px), 4), np.uint8)
            rgba[:, :3] = rgb
            rgba[:, 3] = alpha
            return (w, h, 4, rgba.tobytes())
        opaque = all((p >> 24) == 255 for p in px)
        out = bytearray()
        for p in px:
            out.append((p >> 16) & 0xFF)
            out.append((p >> 8) & 0xFF)
            out.append(p & 0xFF)
            if not opaque:
                out.append((p >> 24) & 0xFF)
        return (w, h, 3 if opaque else 4, bytes(out))

    # --------------------------------------- pooled lockstep lane decode
    # The JPEG lane discipline (jpeg.py:_lane_entropy_decode) applied to
    # the VP8L main token stream: blobs parse scalar through container /
    # header / transforms / code descriptions (the description memo makes
    # that near-free on static_codes corpora), then every blob becomes a
    # LANE and the per-symbol loop runs in lockstep — one peeked 32-bit
    # LSB-first window per lane per round, all lanes' prefix tables
    # stacked into one (T, 2^MB) matrix so symbol resolution is a single
    # gather. Lanes that would make the scalar reader feed zero bits
    # (truncated streams), hit an invalid code, or carry meta prefix
    # codes re-decode through the scalar walk, so per-blob results stay
    # byte-identical to ``decode`` (asserted in tests/test_webp.py).
    if np is not None:

        _np_tbl_cache = {}

        def _np_table(tbl):
            """Scalar flat table -> (sym int32[2^mb], len int32[2^mb],
            mb). Keyed by object identity; the entry keeps the table
            alive so ids cannot be reused while cached."""
            hit = _np_tbl_cache.get(id(tbl))
            if hit is not None:
                return hit[1]
            lookup, mb, only = tbl
            if mb == 0:
                out = (np.array([only], np.int32), np.zeros(1, np.int32), 0)
            else:
                sym = np.fromiter((e[0] for e in lookup), np.int32, len(lookup))
                ln = np.fromiter((e[1] for e in lookup), np.int32, len(lookup))
                out = (sym, ln, mb)
            if len(_np_tbl_cache) > 1024:
                _np_tbl_cache.clear()
            _np_tbl_cache[id(tbl)] = (tbl, out)
            return out

        def _init_state(bb):
            """Container + VP8L header -> resumable parse state, or
            None -> this blob takes the scalar walk."""
            if len(bb) < 20 or bb[:4] != b"RIFF" or bb[8:12] != b"WEBP":
                return None
            off = 12
            payload = None
            while off + 8 <= len(bb):
                tag = bb[off: off + 4]
                sz = struct.unpack_from("<I", bb, off + 4)[0]
                if tag == b"VP8L":
                    payload = bb[off + 8: off + 8 + sz]
                    break
                off += 8 + sz + (sz & 1)
            if payload is None or not payload:
                return None
            r = _R(payload)
            if r.read(8) != 0x2F:
                return None
            w = r.read(14) + 1
            h = r.read(14) + 1
            r.read(1)  # alpha-is-used hint
            if r.read(3) != 0:
                return None
            return {
                "payload": payload, "r": r, "w": w, "h": h, "xsize": w,
                "transforms": [], "stage": "transforms", "pend_t": None,
                "px": None,
            }

        def _read_stream_header(r):
            """cache bit(s) + the 5 prefix-code descriptions of one
            (sub)stream (``_decode_stream``'s shared front)."""
            cache_bits = r.read(4) if r.read(1) else 0
            galpha = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
            tables = tuple(
                _read_code(r, al) for al in (galpha, 256, 256, 256, 40)
            )
            return cache_bits, tables

        def _advance(st):
            """Parse forward to the next entropy-coded stream. Returns
            ("stream", spec) to pool-decode it, or ("scalar",). Specs
            share _lane_stream's chunk-item shape: (payload, w, h,
            xsize, cache_bits, tables, _, start_bit, npx)."""
            r = st["r"]
            try:
                while True:
                    if st["stage"] == "main":
                        cache_bits = r.read(4) if r.read(1) else 0
                        if r.read(1):  # meta prefix codes: scalar walk
                            return ("scalar",)
                        galpha = 256 + 24 + (
                            (1 << cache_bits) if cache_bits else 0
                        )
                        tables = tuple(
                            _read_code(r, al)
                            for al in (galpha, 256, 256, 256, 40)
                        )
                        npx = st["xsize"] * st["h"]
                        if npx <= 0 or npx > (1 << 20):
                            return ("scalar",)
                        start = r.pos * 8 - r.n
                        st["stage"] = "done"
                        return ("stream", (
                            st["payload"], st["w"], st["h"], st["xsize"],
                            cache_bits, tables, None, start, npx,
                        ))
                    if not r.read(1):
                        st["stage"] = "main"
                        continue
                    t = r.read(2)
                    if t == 2:
                        st["transforms"].append(("sg",))
                        continue
                    if t in (0, 1):
                        sb = r.read(3) + 2
                        tw = (st["xsize"] + (1 << sb) - 1) >> sb
                        th = (st["h"] + (1 << sb) - 1) >> sb
                        cb, tbls = _read_stream_header(r)
                        if tw * th > (1 << 20):
                            return ("scalar",)
                        st["pend_t"] = ("pc", t, sb, tw)
                        start = r.pos * 8 - r.n
                        return ("stream", (
                            st["payload"], tw, th, tw, cb, tbls, None,
                            start, tw * th,
                        ))
                    n = r.read(8) + 1
                    cb, tbls = _read_stream_header(r)
                    st["pend_t"] = ("pal", n)
                    start = r.pos * 8 - r.n
                    return ("stream", (
                        st["payload"], n, 1, n, cb, tbls, None, start, n,
                    ))
            except Exception:
                return ("scalar",)

        def _resume(st, px, end_cur):
            """Re-seat the scalar reader just past a pool-decoded stream
            and attach its pixels (a finished sub-image transform, or
            the main image)."""
            r = st["r"]
            r.pos = end_cur >> 3
            r.acc = 0
            r.n = 0
            if end_cur & 7:
                r.read(end_cur & 7)  # re-consume the partial byte
            pend = st["pend_t"]
            st["pend_t"] = None
            if pend is None:
                st["px"] = px  # the main stream
                return
            if pend[0] == "pc":
                _, t, sb, tw = pend
                timg = px.tolist()
                st["transforms"].append(
                    ("pred" if t == 0 else "color", sb, timg, tw,
                     st["xsize"])
                )
            else:
                n = pend[1]
                pal = px.tolist()
                xb = 3 if n <= 2 else 2 if n <= 4 else 1 if n <= 16 else 0
                st["transforms"].append(("pal", n, pal, xb, st["xsize"]))
                st["xsize"] = (st["xsize"] + (1 << xb) - 1) >> xb

        def _lane_stream(chunk):
            """Run one lockstep chunk; returns a list of pixel LISTS
            (pre-transform) or None per lane (None = scalar redo).

            Each round peeks a 7-byte little-endian window per lane
            (>= 49 usable bits at any phase) and chains up to five
            sub-steps through it, so a literal pixel (green, red, blue,
            alpha back-to-back) usually costs ONE round. Literal
            channels fold into a pixel accumulator via per-state shifts
            (green<<8 at classify, red<<16, blue<<0, alpha<<24 +
            write); only the green state branches."""
            L = len(chunk)
            lens_b = np.array([len(c[0]) for c in chunk], np.int64)
            row_w = int(lens_b.max()) + 8
            # dense-matrix budget BEFORE any allocation: `out` is
            # (L, maxpx) uint32 and `seg` is (L, row_w) uint8, both sized
            # by the LARGEST lane — one oversized blob (npx guard allows
            # up to 2^20 px) in a 4096-lane chunk would otherwise drive a
            # multi-GiB transient. Same bisect rule as the table matrix.
            # Round-10 (r9 advice #3): count the REAL transient peak —
            # `seg` (1x row_w) stays live while its int64 ravel `flat`
            # (8x) is built, and the (L, 2^maxcb) uint32 color-cache
            # matrix was uncounted; 1x row_w under-budgeted the peak ~9x
            # for long-stream chunks.
            maxcb_all = max(int(c[4]) for c in chunk)
            peak = L * (
                4 * max(int(c[8]) for c in chunk)
                + 9 * row_w
                + 4 * (1 << maxcb_all if maxcb_all else 1)
            )
            if L > 1 and peak > (64 << 20):
                half = L // 2
                return _lane_stream(chunk[:half]) + _lane_stream(chunk[half:])
            seg = np.zeros((L, row_w), np.uint8)
            for i, c in enumerate(chunk):
                seg[i, : lens_b[i]] = np.frombuffer(c[0], np.uint8)
            flat = seg.ravel().astype(np.int64)
            row_base = np.arange(L, dtype=np.int64) * row_w
            cur = np.array([c[7] for c in chunk], np.int64)
            lim = lens_b * 8
            xsz = np.array([c[3] for c in chunk], np.int64)
            npx = np.array([c[8] for c in chunk], np.int64)
            cbs = np.array([c[4] for c in chunk], np.int64)
            u32 = np.uint32
            cshift = np.where(cbs > 0, 32 - cbs, 32).astype(np.uint32)
            has_cache = cbs > 0
            maxpx = int(npx.max())
            out = np.zeros((L, maxpx), np.uint32)
            maxcb = int(cbs.max())
            cache = np.zeros((L, 1 << maxcb if maxcb else 1), np.uint32)

            # stack every distinct prefix table into one (T, 2^MB) pair
            tid = np.zeros((L, 5), np.int64)
            rows = []
            idmap = {}
            MB = 1
            for i, c in enumerate(chunk):
                for s_, tbl in enumerate(c[5]):
                    k = id(tbl)
                    e = idmap.get(k)
                    if e is None:
                        t3 = _np_table(tbl)
                        e = (len(rows), tbl)  # tbl ref keeps the id live
                        rows.append(t3)
                        idmap[k] = e
                        if t3[2] > MB:
                            MB = t3[2]
                    tid[i, s_] = e[0]

            # Ragged concatenated tables (round-9): the old (T, 2^MB)
            # tiled matrix repeated every table up to the WIDEST code's
            # size — on per-blob-adaptive corpora (hundreds of distinct
            # tables per pooled chunk) the tile/astype construction cost
            # exceeded the decode itself. Store each table at its native
            # 2^mb size in one flat pair; a gather is
            # flat_sym[t_off[t] + (bits & t_msk[t])] — table-local
            # masking is exactly what the tile replicated.
            t_sizes = np.array([r_[0].size for r_ in rows], np.int64)
            if int(t_sizes.sum()) > (1 << 22):
                if L > 8:  # table pool too large: bisect the chunk
                    half = L // 2
                    return _lane_stream(chunk[:half]) + _lane_stream(chunk[half:])
                return [None] * L
            t_off = np.zeros(len(rows) + 1, np.int64)
            np.cumsum(t_sizes, out=t_off[1:])
            flat_sym = np.concatenate([r_[0] for r_ in rows]).astype(np.int64)
            flat_len = np.concatenate([r_[1] for r_ in rows]).astype(np.int64)
            t_msk = t_sizes - 1

            # literal-only fast kernel: when every lane's GREEN table
            # contains no symbol >= 256, the stream cannot emit copies
            # or cache hits — every pixel is exactly (green, red, blue,
            # alpha), all lanes advance one pixel per round in perfect
            # sync, and the color cache is never read (inserts are
            # semantically dead, so they are skipped). Covers the
            # predictor/palette modes end-to-end.
            # The fast kernel chains FOUR prefix-code reads (g, r, b, a)
            # through ONE 7-byte window refill: 56 bits peeked, up to 7
            # consumed by alignment, so 49 usable — the 4*MB bits the
            # four gathers may consume must fit or the 4th gather reads
            # shifted-out zeros and decodes garbage WITHOUT tripping err.
            # Derive the MB cap from the window budget instead of
            # hard-coding it so the invariant survives edits to either.
            _WIN_BUDGET_BITS = 8 * 7 - 7  # 7-byte peek minus alignment
            lit_only = 4 * MB <= _WIN_BUDGET_BITS and all(
                int(t3[0].max()) < 256
                for t3 in (rows[int(t)] for t in np.unique(tid[:, 0]))
            )
            if lit_only:
                err = np.zeros(L, bool)
                g_row = tid[:, 0]
                r_row = tid[:, 1]
                b_row = tid[:, 2]
                a_row = tid[:, 3]
                # per-lane table offset + native mask, hoisted out of
                # the round loop (the ragged form of the old global
                # mask_i gather)
                g_off, g_msk = t_off[g_row], t_msk[g_row]
                r_off, r_msk = t_off[r_row], t_msk[r_row]
                b_off, b_msk = t_off[b_row], t_msk[b_row]
                a_off, a_msk = t_off[a_row], t_msk[a_row]
                # 0-bit channel codes (single-symbol r/b/a tables, the
                # lz77/palette layouts): the three channel gathers
                # collapse into one per-lane constant
                rba_zero = all(
                    rows[int(t)][2] == 0 for t in np.unique(tid[:, 1:4])
                )
                if rba_zero:
                    only = np.array(
                        [int(t3[0][0]) if t3[2] == 0 else 0 for t3 in rows],
                        np.int64,
                    )
                    cst = (
                        (only[a_row] << 24) | (only[r_row] << 16)
                        | only[b_row]
                    )
                k = 0
                while k < maxpx:
                    act = (npx > k) & ~err
                    if not act.any():
                        break
                    bi = np.minimum(cur >> 3, row_w - 7)
                    ix = row_base + bi
                    w56 = flat[ix]
                    for byi in range(1, 7):
                        w56 = w56 | (flat[ix + byi] << (8 * byi))
                    nxt = w56 >> (cur & 7)
                    idx0 = g_off + (nxt & g_msk)
                    g = flat_sym[idx0]
                    lg = flat_len[idx0]
                    if rba_zero:
                        bad = act & (lg < 0)
                        if bad.any():
                            err |= bad
                            act &= ~bad
                        ai = np.flatnonzero(act)
                        out[ai, k] = (cst[ai] | (g[ai] << 8)).astype(
                            np.uint32
                        )
                        cur = np.where(act, cur + lg, cur)
                        k += 1
                        continue
                    u = np.maximum(lg, 0)
                    sh = nxt >> u
                    ixr = r_off + (sh & r_msk)
                    r = flat_sym[ixr]
                    lr = flat_len[ixr]
                    u = u + np.maximum(lr, 0)
                    sh = nxt >> u
                    ixb = b_off + (sh & b_msk)
                    b = flat_sym[ixb]
                    lb = flat_len[ixb]
                    u = u + np.maximum(lb, 0)
                    sh = nxt >> u
                    ixa = a_off + (sh & a_msk)
                    a_ = flat_sym[ixa]
                    la = flat_len[ixa]
                    u = u + np.maximum(la, 0)
                    bad = act & ((lg < 0) | (lr < 0) | (lb < 0) | (la < 0))
                    if bad.any():
                        err |= bad
                        act &= ~bad
                    ai = np.flatnonzero(act)
                    p = (
                        (a_[ai].astype(np.uint32) << np.uint32(24))
                        | (r[ai].astype(np.uint32) << np.uint32(16))
                        | (g[ai].astype(np.uint32) << np.uint32(8))
                        | b[ai].astype(np.uint32)
                    )
                    out[ai, k] = p
                    cur = np.where(act, cur + u, cur)
                    k += 1
                redo = err | (cur > lim)
                return [
                    (None if redo[i] else out[i, : npx[i]], int(cur[i]))
                    for i in range(L)
                ]

            # 0-bit r/b/a channel codes (the lz77 layout): a literal
            # completes inside the green state — channels are per-lane
            # constants — collapsing 4 sub-steps to 1
            rba0 = all(
                rows[int(t)][2] == 0 for t in np.unique(tid[:, 1:4])
            )
            if rba0:
                only0 = np.array(
                    [int(t3[0][0]) if t3[2] == 0 else 0 for t3 in rows],
                    np.int64,
                )
                cst0 = (
                    (only0[tid[:, 3]] << 24) | (only0[tid[:, 1]] << 16)
                    | only0[tid[:, 2]]
                )

            # lane state machine: 0 green-sym, 1 red, 2 blue, 3 alpha,
            # 4 length-extra-bits, 5 dist-sym, 6 dist-extra-bits
            state = np.zeros(L, np.int64)
            active = np.ones(L, bool)
            err = np.zeros(L, bool)
            pos = np.zeros(L, np.int64)
            pixacc = np.zeros(L, np.int64)
            plen = np.zeros(L, np.int64)
            pbase = np.zeros(L, np.int64)
            pk = np.zeros(L, np.int64)
            SLOT = np.array([0, 1, 2, 3, 0, 4, 0], np.int64)
            SH = np.array([8, 16, 0, 24, 0, 0, 0], np.int64)
            uniform = bool((tid == tid[0]).all())
            tid0 = tid[0]
            lane_ids = np.arange(L)
            BUDGET = 49  # 7-byte window minus the worst 7-bit phase
            steps = 0
            max_steps = 3 * maxpx + 64  # >=1 px per round on live lanes

            def _copy(l, dval):
                length = int(plen[l])
                if dval > 120:
                    d = dval - 120
                else:
                    dx, dy = DIST_MAP[dval - 1]
                    d = dy * int(xsz[l]) + dx
                    if d < 1:
                        d = 1
                p0 = int(pos[l])
                if d > p0 or p0 + length > int(npx[l]):
                    err[l] = True
                    active[l] = False
                    return
                row = out[l]
                if d == 1:
                    row[p0: p0 + length] = row[p0 - 1]
                else:
                    done_ = 0
                    while done_ < length:  # chunk-of-d: overlap-safe
                        nn = min(d, length - done_)
                        row[p0 + done_: p0 + done_ + nn] = (
                            row[p0 + done_ - d: p0 + done_ - d + nn]
                        )
                        done_ += nn
                if has_cache[l]:
                    vals = row[p0: p0 + length]
                    slots = (
                        (u32(HASH_MUL) * vals) >> cshift[l]
                    ).astype(np.int64)
                    # deterministic last-write-wins (scalar insert order)
                    uq, first = np.unique(slots[::-1], return_index=True)
                    cache[l][uq] = vals[::-1][first]
                pos[l] = p0 + length
                state[l] = 0
                pk[l] = 0

            while active.any():
                steps += 1
                if steps > max_steps:  # structural bound: scalar redo
                    err |= active
                    break
                bi = np.minimum(cur >> 3, row_w - 7)
                ix = row_base + bi
                w56 = flat[ix]
                for byi in range(1, 7):
                    w56 = w56 | (flat[ix + byi] << (8 * byi))
                nxt = w56 >> (cur & 7)
                used = np.zeros(L, np.int64)
                for _sub in range(5):
                    st = state
                    is_symst = (st <= 3) | (st == 5)
                    need = np.where(is_symst, MB, pk)
                    can = active & (used + need <= BUDGET)
                    if not can.any():
                        break
                    shifted = nxt >> used
                    if uniform:
                        trow = tid0[SLOT[st]]
                    else:
                        trow = tid[lane_ids, SLOT[st]]
                    gix = t_off[trow] + (shifted & t_msk[trow])
                    sym = flat_sym[gix]
                    ln = flat_len[gix]
                    any_extra = bool((~is_symst & can).any())
                    ext = (
                        shifted & ((np.int64(1) << pk) - 1)
                        if any_extra else None
                    )
                    bad = can & is_symst & (ln < 0)
                    if bad.any():
                        err |= bad
                        active = active & ~bad
                        can &= ~bad
                    ok = can
                    if not ok.any():
                        break
                    used = used + np.where(
                        ok, np.where(is_symst, ln, pk), 0
                    )
                    # literal channels (red/blue/alpha): fold into the
                    # accumulator; alpha completes the pixel
                    ch = ok & (st >= 1) & (st <= 3)
                    if ch.any():
                        pixacc = np.where(ch, pixacc | (sym << SH[st]), pixacc)
                        state = np.where(ch, st + 1, state)
                        am = ch & (st == 3)
                        if am.any():
                            ai = np.flatnonzero(am)
                            p = pixacc[ai].astype(u32)
                            out[ai, pos[ai]] = p
                            hc = has_cache[ai]
                            if hc.any():
                                aj = ai[hc]
                                slots = (
                                    (u32(HASH_MUL) * p[hc]) >> cshift[aj]
                                ).astype(np.int64)
                                cache[aj, slots] = p[hc]
                            pos[ai] += 1
                            state[ai] = 0
                            pixacc[ai] = 0
                    # green symbol: classify lit / cache / copy-length
                    gm = ok & (st == 0)
                    if gm.any():
                        lit = gm & (sym < 256)
                        if lit.any() and rba0:
                            li_ = np.flatnonzero(lit)
                            p = (cst0[li_] | (sym[li_] << 8)).astype(u32)
                            out[li_, pos[li_]] = p
                            hc = has_cache[li_]
                            if hc.any():
                                lj = li_[hc]
                                slots = (
                                    (u32(HASH_MUL) * p[hc]) >> cshift[lj]
                                ).astype(np.int64)
                                cache[lj, slots] = p[hc]
                            pos[li_] += 1
                        elif lit.any():
                            pixacc = np.where(lit, sym << 8, pixacc)
                            state = np.where(lit, np.int64(1), state)
                        cach = gm & (sym >= 280)
                        if cach.any():
                            ci = np.flatnonzero(cach)
                            out[ci, pos[ci]] = cache[ci, sym[ci] - 280]
                            pos[ci] += 1
                        cpy = gm & (sym >= 256) & (sym < 280)
                        if cpy.any():
                            code = sym - 256
                            small = cpy & (code < 4)
                            if small.any():
                                plen = np.where(small, code + 1, plen)
                                state = np.where(small, np.int64(5), state)
                            bigc = cpy & (code >= 4)
                            if bigc.any():
                                eb = np.maximum((code - 2) >> 1, 0)
                                pbase = np.where(
                                    bigc, (2 + (code & 1)) << eb, pbase
                                )
                                pk = np.where(bigc, eb, pk)
                                state = np.where(bigc, np.int64(4), state)
                    # length extra bits
                    lm = ok & (st == 4) if any_extra else np.zeros(L, bool)
                    if any_extra and lm.any():
                        plen = np.where(lm, pbase + ext + 1, plen)
                        state = np.where(lm, np.int64(5), state)
                        pk = np.where(lm, 0, pk)
                    # distance symbol / extra bits -> per-lane copy
                    dm = ok & (st == 5)
                    if dm.any():
                        bigd = dm & (sym >= 4)
                        if bigd.any():
                            eb = np.maximum((sym - 2) >> 1, 0)
                            pbase = np.where(
                                bigd, (2 + (sym & 1)) << eb, pbase
                            )
                            pk = np.where(bigd, eb, pk)
                            state = np.where(bigd, np.int64(6), state)
                        for l in np.flatnonzero(dm & (sym < 4)):
                            _copy(int(l), int(sym[l]) + 1)
                    em = ok & (st == 6) if any_extra else np.zeros(L, bool)
                    if any_extra and em.any():
                        for l in np.flatnonzero(em):
                            _copy(int(l), int(pbase[l] + ext[l] + 1))
                    fin = active & (pos >= npx)
                    if fin.any():
                        active = active & ~fin
                cur = cur + used

            redo = err | (cur > lim)  # zero-fed reads: scalar semantics
            return [
                (None if redo[i] else out[i, : npx[i]], int(cur[i]))
                for i in range(L)
            ]

        def decode_batch(blobs):
            """Batch decode; per-blob results identical to ``decode``.

            Wave-based: each wave gathers every blob's NEXT pending
            entropy-coded stream (transform sub-images first, then the
            main image) and pool-decodes them in lockstep lanes, so no
            per-symbol Python loop runs per blob on the happy path."""
            results = [None] * len(blobs)
            live = []
            for i, b in enumerate(blobs):
                bb = bytes(b)
                try:
                    st = _init_state(bb)
                except Exception:
                    st = None
                if st is None:
                    results[i] = decode(bb)
                else:
                    live.append((i, bb, st))
            while live:
                waiting = []
                for e in live:
                    act = _advance(e[2])
                    if act[0] == "stream":
                        waiting.append((e, act[1]))
                    else:
                        results[e[0]] = decode(e[1])
                if not waiting:
                    break
                # group lanes whose 5 tables are the SAME OBJECTS (the
                # description memo dedups them): same-shape streams
                # advance in step, so rounds aren't held hostage by one
                # slow mode. Groups below the measured lane/scalar
                # crossover (~200 lanes) take the scalar walk — lane
                # round overhead loses on small groups, and per-blob
                # adaptive corpora (unique tables -> singleton groups)
                # skip the lane machinery entirely.
                waiting.sort(
                    key=lambda q: (tuple(map(id, q[1][5])), q[1][8])
                )
                MIN_LANES = 192
                grouped = []
                glo = 0
                for j in range(1, len(waiting) + 1):
                    if j == len(waiting) or (
                        tuple(map(id, waiting[j][1][5]))
                        != tuple(map(id, waiting[glo][1][5]))
                    ):
                        grouped.append(waiting[glo:j])
                        glo = j
                live = []
                runnable = []
                CH = 4096
                for grp in grouped:
                    if len(grp) < MIN_LANES:
                        # Round-9 measured (idle-box min-of-5 A/B, 512
                        # blobs): POOLING sub-crossover groups into
                        # mixed-table lane chunks — which the ragged
                        # table pool below fully supports — runs 1.6x
                        # SLOWER than this scalar walk on both per-blob
                        # adaptive corpora (unique tables) and mixed
                        # 3-mode static ones: a lockstep chunk spanning
                        # table groups pays every group's round count
                        # on every lane. The scalar fallback IS the
                        # fast path below MIN_LANES.
                        for e, _spec in grp:
                            results[e[0]] = decode(e[1])
                    else:
                        # chunk WITHIN the group: a lane chunk spanning
                        # two table groups pays both groups' round
                        # counts on every lane
                        for lo in range(0, len(grp), CH):
                            runnable.append(grp[lo: lo + CH])
                for subw in runnable:
                    outs = _lane_stream([q[1] for q in subw])
                    for (e, _spec), (px, endc) in zip(subw, outs):
                        i, bb, st = e
                        if px is None:
                            results[i] = decode(bb)
                            continue
                        try:
                            _resume(st, px, endc)
                        except Exception:
                            results[i] = decode(bb)
                            continue
                        if st["stage"] == "done":
                            try:
                                fx = _apply_inv_transforms(
                                    st["px"], st["transforms"], st["h"]
                                )
                                results[i] = _px_to_result(
                                    fx, st["w"], st["h"]
                                )
                            except Exception:
                                results[i] = decode(bb)
                        else:
                            live.append(e)
            return results

    else:

        def decode_batch(blobs):
            return [decode(bytes(b)) for b in blobs]

    # -------------------------------------------------------------- encode
    def _choose_lengths(hist):
        """Code lengths for one prefix code: simple pairs where the
        symbols fit 8 bits, a complete dummy-padded pair for a single
        wide symbol, Huffman (capped 15) otherwise."""
        syms = sorted(hist)
        if len(syms) <= 2 and all(s <= 255 for s in syms):
            return {s: 1 for s in syms}
        if len(syms) == 1:
            s = syms[0]
            return {s: 1, (0 if s else 1): 1}
        return _hlengths(hist, 15)

    # ------------------------------------------------- static code plans
    # The adapter's ``static_codes`` fast path: fixed COMPLETE prefix
    # codes over the full alphabet, chosen once per build from
    # deterministic generic frequency constants (ASCII-favoring literals,
    # peaked-at-zero residuals, flat palette bytes). Compression is a
    # little worse than per-image Huffman, but the per-image
    # histogram + Huffman + description cost — the measured per-blob
    # floor on ~300-px doc images — collapses to one array replay, and
    # every adapter blob shares the same decode tables (the decoder
    # memoizes table construction on the lengths key).
    def _mkplan(lens, alphabet):
        if np is None:
            return (lens, None, None)
        wtmp = _W()
        _write_code(wtmp, lens, alphabet)
        wtmp._flush()
        dv = np.concatenate([v for v, _ in wtmp.segs])
        dk = np.concatenate([k for _, k in wtmp.segs])
        return (lens, (dv, dk), _codes_np(lens, alphabet))

    def _build_plans():
        lzg = {}
        for s in range(256):
            lzg[s] = 40 if 32 <= s <= 126 else 2  # ASCII-heavy literals
        for s in range(256, 280):
            lzg[s] = 8  # LZ77 length prefixes
        for s in range(280, 344):
            lzg[s] = 30  # color-cache hits (frequent in text)
        res = {}
        for s in range(256):
            d = min(s, 256 - s)
            res[s] = max(1, 2048 >> min(d, 11))  # peaked at 0 mod 256
        res_lens = _hlengths(res, 11)
        pal_lens = {s: 8 for s in range(256)}
        # a plan's description is alphabet-specific (the green code's
        # alphabet is 280/344, the channel codes' is 256 — the trailing
        # zero-run tokens differ), so green-channel uses get their own
        # capture over the same lens dict
        return {
            "lzg": _mkplan(_hlengths(lzg, 11), 344),
            "res": _mkplan(res_lens, 256),
            "res_g": _mkplan(res_lens, 280),
            "pal_g": _mkplan(pal_lens, 280),
        }

    def _emit_tokens(w, tokens, cache_bits, dist_hist, plans=None):
        """Write the 5 prefix codes + token stream for one image.
        ``plans`` maps channel ('g'/'r'/'b'/'a') to a static-plan lens
        dict replacing that channel's adaptive code — the
        ``static_codes`` adapter path."""
        galpha = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
        ghist = {}
        rhist = {}
        bhist = {}
        ahist = {}
        for t in tokens:
            kind = t[0]
            if kind == "lit":
                _, red, green, blue, alpha = t
                ghist[green] = ghist.get(green, 0) + 1
                rhist[red] = rhist.get(red, 0) + 1
                bhist[blue] = bhist.get(blue, 0) + 1
                ahist[alpha] = ahist.get(alpha, 0) + 1
            elif kind == "copy":
                s, _, _ = _lz_sym(t[1])
                ghist[256 + s] = ghist.get(256 + s, 0) + 1
            else:  # cache
                ghist[280 + t[1]] = ghist.get(280 + t[1], 0) + 1
        if not rhist:
            # no literals (cannot actually happen: the first pixel is
            # always a literal) — keep the codes well-formed anyway
            rhist = bhist = ahist = {0: 1}

        plans = plans or {}
        glen = plans["g"][0] if "g" in plans else _choose_lengths(ghist)
        rlen = plans["r"][0] if "r" in plans else _choose_lengths(rhist)
        blen = plans["b"][0] if "b" in plans else _choose_lengths(bhist)
        alen = plans["a"][0] if "a" in plans else _choose_lengths(ahist)
        dlen = _choose_lengths(dist_hist or {0: 1})
        _write_code(w, glen, galpha)
        _write_code(w, rlen, 256)
        _write_code(w, blen, 256)
        _write_code(w, alen, 256)
        _write_code(w, dlen, 40)
        gcodes = _canon_rev(glen)
        rcodes = _canon_rev(rlen)
        bcodes = _canon_rev(blen)
        acodes = _canon_rev(alen)
        dcodes = _canon_rev(dlen)

        def _put(codes, s):
            r, l = codes[s]
            if len(codes) > 1:
                w.bits(r, l)

        for t in tokens:
            kind = t[0]
            if kind == "lit":
                _, red, green, blue, alpha = t
                _put(gcodes, green)
                _put(rcodes, red)
                _put(bcodes, blue)
                _put(acodes, alpha)
            elif kind == "copy":
                s, eb, ev = _lz_sym(t[1])
                _put(gcodes, 256 + s)
                if eb:
                    w.bits(ev, eb)
                ds, deb, dev = _lz_sym(t[2])
                _put(dcodes, ds)
                if deb:
                    w.bits(dev, deb)
            else:
                _put(gcodes, 280 + t[1])

    # ------------------------------------------ vectorized emission (np)
    # Array-token twins of the scalar emitters above. Tokens live as
    # struct-of-arrays; histograms are bincounts; the (value, width)
    # stream builds as one (n_tokens, 4) field matrix raveled in token
    # order into ``_WBuffered.bits_arrays``. Byte-identical output to the
    # scalar path (the force_scalar twin) is asserted in tests/test_webp.
    if np is not None:
        _POW2 = np.left_shift(np.int64(1), np.arange(63, dtype=np.int64))

        def _lz_syms_np(v):
            """Vectorized ``_lz_sym`` over an int64 array of values >= 1:
            returns (prefix_sym, extra_bits, extra_val) arrays."""
            u = v - 1
            big = v > 4
            # bit_length(u) = #powers-of-two <= u
            b = np.searchsorted(_POW2, u, side="right")
            extra = np.maximum(b - 2, 0)
            cbig = 2 * b - 2 + ((u >> extra) & 1)
            off = (2 + (cbig & 1)) << extra
            s = np.where(big, cbig, u)
            eb = np.where(big, extra, 0)
            ev = np.where(big, u - off, 0)
            return s, eb, ev

        def _codes_np(lengths, alphabet):
            """dict sym->len -> (reversed_code, len) int64 arrays. A
            1-entry code (single symbol <= 255, written as a 1-symbol
            simple description) emits ZERO bits per symbol — the scalar
            ``_put``'s ``len(codes) > 1`` guard."""
            crev = np.zeros(alphabet, np.int64)
            clen = np.zeros(alphabet, np.int64)
            if len(lengths) == 1:
                return crev, clen
            for s, (rv, l) in _canon_rev(lengths).items():
                crev[s] = rv
                clen[s] = l
            return crev, clen

        def _write_code_np(w, lengths, alphabet):
            """``_write_code`` with the per-SYMBOL walk replaced by a
            per-RUN walk (zero runs found via diff) and bulk emission."""
            syms = sorted(lengths)
            if len(syms) <= 2 and all(s <= 255 for s in syms):
                _write_code(w, lengths, alphabet)  # simple-code header path
                return
            arr = np.zeros(alphabet, np.int64)
            arr[np.fromiter(lengths.keys(), np.int64, len(lengths))] = (
                np.fromiter(lengths.values(), np.int64, len(lengths))
            )
            nz = arr != 0
            bounds = np.concatenate(
                ([0], np.flatnonzero(nz[1:] != nz[:-1]) + 1, [alphabet])
            )
            cl_chunks, ev_chunks, eb_chunks = [], [], []
            zeros_cache = np.zeros(alphabet, np.int64)
            for ri in range(bounds.size - 1):
                lo, hi = int(bounds[ri]), int(bounds[ri + 1])
                if nz[lo]:
                    seg = arr[lo:hi]
                    cl_chunks.append(seg)
                    ev_chunks.append(zeros_cache[: hi - lo])
                    eb_chunks.append(zeros_cache[: hi - lo])
                else:
                    run = hi - lo
                    cl, ev, eb = [], [], []
                    while run >= 11:
                        chunk = min(run, 138)
                        cl.append(18)
                        ev.append(chunk - 11)
                        eb.append(7)
                        run -= chunk
                    while run >= 3:
                        chunk = min(run, 10)
                        cl.append(17)
                        ev.append(chunk - 3)
                        eb.append(3)
                        run -= chunk
                    cl.extend([0] * run)
                    ev.extend([0] * run)
                    eb.extend([0] * run)
                    cl_chunks.append(np.asarray(cl, np.int64))
                    ev_chunks.append(np.asarray(ev, np.int64))
                    eb_chunks.append(np.asarray(eb, np.int64))
            cl = np.concatenate(cl_chunks)
            ev = np.concatenate(ev_chunks)
            eb = np.concatenate(eb_chunks)
            h19 = np.bincount(cl, minlength=19)
            nzs = np.flatnonzero(h19)
            hist = dict(zip(nzs.tolist(), h19[nzs].tolist()))
            if len(hist) == 1:
                dummy = 0 if 0 not in hist else 1
                hist[dummy] = 1
            cl_len = _hlengths(hist, 7)
            crev, clen = _codes_np(cl_len, 19)
            num_cl = max(i for i, s in enumerate(CL_ORDER) if s in cl_len) + 1
            num_cl = max(num_cl, 4)
            w.bits(0, 1)  # not simple
            w.bits(num_cl - 4, 4)
            for i in range(num_cl):
                w.bits(cl_len.get(CL_ORDER[i], 0), 3)
            w.bits(0, 1)  # no max-symbol early stop
            V = np.column_stack((crev[cl], ev))
            K = np.column_stack((clen[cl], eb))
            kf = K.ravel()
            m = kf > 0
            w.bits_arrays(V.ravel()[m], kf[m])

        def _emit_tokens_np(
            w, g, cache_bits, dist_hist,
            kind=None, r=None, b=None, a=None,
            lev=None, leb=None, ds=None, dev=None, deb=None,
            plans=None,
        ):
            """``_emit_tokens`` over struct-of-array tokens. ``kind`` is
            None for all-literal streams (r/b/a full arrays), else uint8
            0=lit 1=copy 2=cache with per-kind columns; ``g`` is the
            UNIFIED green-code symbol for every token (lit: green value,
            copy: 256+len_sym, cache: 280+slot). ``plans`` maps channel
            to a static plan (lens, (desc_v, desc_k), (crev, clen)):
            planned channels skip the histogram + Huffman + description
            construction entirely — the description bits replay as one
            array append and the code arrays are prebuilt."""
            plans = plans or {}
            galpha = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
            if kind is None:
                rv, bv, av = r, b, a
            else:
                li = np.flatnonzero(kind == 0)
                rv, bv, av = r[li], b[li], a[li]

            def _adaptive(sym_arr, alphabet):
                hh = np.bincount(sym_arr, minlength=alphabet)
                nzs = np.flatnonzero(hh)
                return dict(zip(nzs.tolist(), hh[nzs].tolist()))

            def _channel(ch, sym_arr, alphabet, empty_ok):
                """Write this channel's description; return code arrays."""
                if ch in plans:
                    lens, (dv, dk), arrays = plans[ch]
                    w.bits_arrays(dv, dk)
                    return arrays
                if empty_ok and not sym_arr.size:
                    lens = {0: 1}
                else:
                    lens = _choose_lengths(_adaptive(sym_arr, alphabet))
                _write_code_np(w, lens, alphabet)
                return _codes_np(lens, alphabet)

            gcl = _channel("g", g, galpha, False)
            rcl = _channel("r", rv, 256, True)
            bcl = _channel("b", bv, 256, True)
            acl = _channel("a", av, 256, True)
            dlen = _choose_lengths(dist_hist or {0: 1})
            _write_code_np(w, dlen, 40)
            gc, gl = gcl
            n = g.size
            V = np.zeros((n, 4), np.int64)
            K = np.zeros((n, 4), np.int64)
            V[:, 0] = gc[g]
            K[:, 0] = gl[g]
            if kind is None:
                (rc, rl), (bc, bl), (ac, al) = rcl, bcl, acl
                V[:, 1] = rc[r]
                K[:, 1] = rl[r]
                V[:, 2] = bc[b]
                K[:, 2] = bl[b]
                V[:, 3] = ac[a]
                K[:, 3] = al[a]
            else:
                if li.size:
                    (rc, rl), (bc, bl), (ac, al) = rcl, bcl, acl
                    V[li, 1] = rc[r[li]]
                    K[li, 1] = rl[r[li]]
                    V[li, 2] = bc[b[li]]
                    K[li, 2] = bl[b[li]]
                    V[li, 3] = ac[a[li]]
                    K[li, 3] = al[a[li]]
                ci = np.flatnonzero(kind == 1)
                if ci.size:
                    dc, dl = _codes_np(dlen, 40)
                    V[ci, 1] = lev[ci]
                    K[ci, 1] = leb[ci]
                    V[ci, 2] = dc[ds[ci]]
                    K[ci, 2] = dl[ds[ci]]
                    V[ci, 3] = dev[ci]
                    K[ci, 3] = deb[ci]
            kf = K.ravel()
            m = kf > 0
            w.bits_arrays(V.ravel()[m], kf[m])

        def _encode_lz77_np(w, vals, cache_bits, plans=None):
            """Vectorized lz77-mode token stream: maximal equal-value
            runs via diff (head pixel + 4096-capped copies + <3 tail
            singles — the scalar walk's exact decomposition), cache hits
            resolved in one stable argsort pass (every event writes its
            value to its slot; hit-writes are idempotent, so a hit is a
            latest-same-slot predecessor with the same value)."""
            va = np.frombuffer(bytes(vals), np.uint8).astype(np.int64)
            npx = va.size
            change = np.flatnonzero(va[1:] != va[:-1]) + 1
            starts = np.concatenate((np.zeros(1, np.int64), change))
            lens = np.diff(np.concatenate((starts, np.asarray([npx], np.int64))))
            vblk = va[starts]
            rem = lens - 1
            q = rem // 4096
            rr = rem - q * 4096
            ncopy = q + (rr >= 3)
            tail = np.where(rr < 3, rr, 0)
            evb = 1 + ncopy + tail
            total = int(evb.sum())
            nb = starts.size
            blk = np.repeat(np.arange(nb, dtype=np.int64), evb)
            offs = np.zeros(nb, np.int64)
            np.cumsum(evb[:-1], out=offs[1:])
            pos_in = np.arange(total, dtype=np.int64) - offs[blk]
            is_copy = (pos_in >= 1) & (pos_in <= ncopy[blk])
            ev_val = vblk[blk]
            copy_len = np.where(pos_in <= q[blk], 4096, rr[blk])
            pixv = np.uint32(0xFF000000) | (
                ev_val.astype(np.uint32) << np.uint32(8)
            )
            slot = (
                (np.uint32(HASH_MUL) * pixv) >> np.uint32(32 - cache_bits)
            ).astype(np.int64)
            order = np.argsort(slot, kind="stable")
            so = slot[order]
            vo = ev_val[order]
            hs = np.zeros(total, bool)
            hs[1:] = (so[1:] == so[:-1]) & (vo[1:] == vo[:-1])
            hit = np.zeros(total, bool)
            hit[order] = hs
            hit &= ~is_copy
            kind = np.where(
                is_copy, np.uint8(1), np.where(hit, np.uint8(2), np.uint8(0))
            )
            ls, leb, lev = _lz_syms_np(np.maximum(copy_len, 1))
            g = np.where(is_copy, 256 + ls, np.where(hit, 280 + slot, ev_val))
            ds0, deb0, dev0 = _lz_sym(121)  # distance 1, unmapped
            ncopies = int(is_copy.sum())
            dist_hist = {ds0: ncopies} if ncopies else {}
            z = np.zeros(total, np.int64)
            _emit_tokens_np(
                w, g, cache_bits, dist_hist, kind=kind,
                r=z, b=z, a=z + 255,
                lev=lev, leb=leb,
                ds=np.full(total, ds0, np.int64),
                dev=np.full(total, dev0, np.int64),
                deb=np.full(total, deb0, np.int64),
                plans=plans,
            )

    def _emit_grouped(w, tagged, dist_hists, n_groups):
        """Token stream under META prefix codes: ``tagged`` holds
        (group, token) in stream order; each group gets its own five
        prefix codes (descriptions written group-major, the order the
        decoder reads them), and every token emits through the codes of
        the group its START position's tile selects."""
        hists = [
            {"g": {}, "r": {}, "b": {}, "a": {}} for _ in range(n_groups)
        ]
        for g, t in tagged:
            hh = hists[g]
            if t[0] == "lit":
                _, red, green, blue, alpha = t
                hh["g"][green] = hh["g"].get(green, 0) + 1
                hh["r"][red] = hh["r"].get(red, 0) + 1
                hh["b"][blue] = hh["b"].get(blue, 0) + 1
                hh["a"][alpha] = hh["a"].get(alpha, 0) + 1
            elif t[0] == "copy":
                s, _, _ = _lz_sym(t[1])
                hh["g"][256 + s] = hh["g"].get(256 + s, 0) + 1
        group_codes = []
        for g in range(n_groups):
            hh = hists[g]
            for key in ("r", "b", "a"):
                if not hh[key]:
                    hh[key] = {0: 1}
            if not hh["g"]:
                hh["g"] = {0: 1}
            glen = _choose_lengths(hh["g"])
            rlen = _choose_lengths(hh["r"])
            blen = _choose_lengths(hh["b"])
            alen = _choose_lengths(hh["a"])
            dlen = _choose_lengths(dist_hists[g] or {0: 1})
            _write_code(w, glen, 280)
            _write_code(w, rlen, 256)
            _write_code(w, blen, 256)
            _write_code(w, alen, 256)
            _write_code(w, dlen, 40)
            group_codes.append(tuple(map(_canon_rev, (glen, rlen, blen, alen, dlen))))

        def _put(codes, s):
            r, l = codes[s]
            if len(codes) > 1:
                w.bits(r, l)

        for g, t in tagged:
            gc, rc, bc, ac, dc = group_codes[g]
            if t[0] == "lit":
                _, red, green, blue, alpha = t
                _put(gc, green)
                _put(rc, red)
                _put(bc, blue)
                _put(ac, alpha)
            else:
                s, eb, ev = _lz_sym(t[1])
                _put(gc, 256 + s)
                if eb:
                    w.bits(ev, eb)
                ds, deb, dev = _lz_sym(t[2])
                _put(dc, ds)
                if deb:
                    w.bits(dev, deb)

    def _encode_meta(w, vals, width, h):
        """TEST-ONLY layout (never emitted by the adapter): subtract-green
        + META prefix codes (two code groups on a 4-px tile checkerboard)
        + runs carried by the MAPPED distance value 2 (DIST_MAP[1] =
        (dx=1, dy=0) -> linear distance 1) — a full-bitstream round-trip
        through the decoder's entropy-image group selection and 2D
        distance mapping."""
        w.bits(1, 1)
        w.bits(2, 2)  # SUBTRACT_GREEN
        w.bits(0, 1)  # end of transforms
        w.bits(0, 1)  # no color cache
        w.bits(1, 1)  # meta prefix codes present
        sb = 2
        w.bits(sb - 2, 3)
        tw = (width + 3) >> 2
        th = (h + 3) >> 2
        meta_px = [((tx + ty) & 1) << 8 for ty in range(th) for tx in range(tw)]
        _emit_subimage(w, meta_px)
        pix = [0xFF000000 | (v << 8) for v in vals]
        npx = len(pix)
        tagged = []
        dist_hists = [{}, {}]
        i = 0
        while i < npx:
            g = (((i % width) >> sb) + ((i // width) >> sb)) & 1
            if i > 0:
                prev = pix[i - 1]
                run = 0
                while i + run < npx and pix[i + run] == prev and run < 4096:
                    run += 1
                if run >= 3:
                    tagged.append((g, ("copy", run, 2)))
                    ds, _, _ = _lz_sym(2)
                    dist_hists[g][ds] = dist_hists[g].get(ds, 0) + 1
                    i += run
                    continue
            tagged.append((g, ("lit", 0, (pix[i] >> 8) & 0xFF, 0, 255)))
            i += 1
        _emit_grouped(w, tagged, dist_hists, 2)

    def _encode_cross(w, vals, width, h):
        """TEST-ONLY layout: identity cross-color transform (zero
        multipliers on a 4-px tile grid) composed with subtract-green —
        a full-bitstream round-trip through ``_inv_color``'s tile walk.
        Stream order [color, sg] means the decoder inverts sg first,
        then color; with zero multipliers the color step is identity, so
        encoding applies only subtract-green."""
        w.bits(1, 1)
        w.bits(1, 2)  # COLOR_TRANSFORM
        sb = 2
        w.bits(sb - 2, 3)
        tw = (width + 3) >> 2
        th = (h + 3) >> 2
        _emit_subimage(w, [0] * (tw * th))
        w.bits(1, 1)
        w.bits(2, 2)  # SUBTRACT_GREEN
        w.bits(0, 1)  # end of transforms
        w.bits(0, 1)  # no color cache
        w.bits(0, 1)  # no meta prefix codes
        _emit_tokens(w, [("lit", 0, v, 0, 255) for v in vals], 0, None)

    def _emit_subimage(w, pixels, plans=None):
        """Literal-only subimage (palette / predictor tiles): cache off,
        one code group, every pixel a literal."""
        w.bits(0, 1)  # no color cache
        if np is not None:
            p = np.asarray(pixels, np.int64)
            _emit_tokens_np(
                w, (p >> 8) & 0xFF, 0, None,
                r=(p >> 16) & 0xFF, b=p & 0xFF, a=(p >> 24) & 0xFF,
                plans=plans,
            )
            return
        tokens = [
            ("lit", (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF, (p >> 24) & 0xFF)
            for p in pixels
        ]
        _emit_tokens(w, tokens, 0, None, plans)

    PLANS = _build_plans()

    def encode_gray8(data, width=32, mode="lz77", static_codes=False):
        """Encode gray bytes (one byte per pixel, zero-padded to whole
        ``width``-wide rows, min one row) as a lossless VP8L WebP. Modes
        pick independent bitstream layouts over identical pixels.
        ``static_codes=True`` swaps the per-image Huffman codes for the
        fixed build-time plans (the adapter fast path; slightly larger
        blobs, same pixels)."""
        data = bytes(data)
        n = len(data)
        h = max(1, -(-n // width))
        if width > 16384 or h > 16384:
            raise ValueError("VP8L dimensions are 14-bit (max 16384)")
        vals = data + b"\x00" * (width * h - n)
        w = _W()
        w.bits(0x2F, 8)
        w.bits(width - 1, 14)
        w.bits(h - 1, 14)
        w.bits(0, 1)  # fully opaque
        w.bits(0, 3)  # version 0
        if mode == "lz77":
            _encode_lz77(w, vals, width, h, static_codes)
        elif mode == "predictor":
            _encode_predictor(w, vals, width, h, static_codes)
        elif mode == "palette":
            _encode_palette(w, vals, width, h, static_codes)
        elif mode == "meta":
            _encode_meta(w, vals, width, h)
        elif mode == "cross":
            _encode_cross(w, vals, width, h)
        else:
            raise ValueError(f"unknown webp encode mode: {mode}")
        payload = w.done()
        chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
        if len(payload) & 1:
            chunk += b"\x00"
        return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk

    def _encode_lz77(w, vals, width, h, static=False):
        """Subtract-green + color cache + distance-1 run backrefs."""
        w.bits(1, 1)
        w.bits(2, 2)  # SUBTRACT_GREEN
        w.bits(0, 1)  # end of transforms
        cache_bits = 6
        w.bits(1, 1)
        w.bits(cache_bits, 4)
        w.bits(0, 1)  # no meta prefix codes
        plans = {"g": PLANS["lzg"]} if static else None
        if np is not None:
            _encode_lz77_np(w, vals, cache_bits, plans)
            return
        # post-subtract-green pixels: a=255, r=b=0, g=v
        pix = [0xFF000000 | (v << 8) for v in vals]
        npx = len(pix)
        cache = [0] * (1 << cache_bits)
        shift = 32 - cache_bits
        tokens = []
        dist_hist = {}
        i = 0
        while i < npx:
            if i > 0:
                prev = pix[i - 1]
                run = 0
                while i + run < npx and pix[i + run] == prev and run < 4096:
                    run += 1
                if run >= 3:
                    tokens.append(("copy", run, 121))  # distance 1, unmapped
                    ds, _, _ = _lz_sym(121)
                    dist_hist[ds] = dist_hist.get(ds, 0) + 1
                    k = ((HASH_MUL * prev) & 0xFFFFFFFF) >> shift
                    cache[k] = prev  # run of one value: one insert
                    i += run
                    continue
            p = pix[i]
            k = ((HASH_MUL * p) & 0xFFFFFFFF) >> shift
            if cache[k] == p:
                tokens.append(("cache", k))
            else:
                tokens.append(("lit", 0, (p >> 8) & 0xFF, 0, 255))
                cache[k] = p
            i += 1
        _emit_tokens(w, tokens, cache_bits, dist_hist, plans)

    def _encode_predictor(w, vals, width, h, static=False):
        """Predictor transform, every tile mode 2 (T), literal residuals."""
        sb = 9  # 512-pixel tiles: 1 tile across for any doc-shaped width
        w.bits(1, 1)
        w.bits(0, 2)  # PREDICTOR
        w.bits(sb - 2, 3)
        tw = (width + (1 << sb) - 1) >> sb
        th = (h + (1 << sb) - 1) >> sb
        _emit_subimage(w, [2 << 8] * (tw * th))  # green = mode 2
        w.bits(0, 1)  # end of transforms
        w.bits(0, 1)  # no color cache
        w.bits(0, 1)  # no meta prefix codes
        import numpy as _np

        g = _np.frombuffer(vals, _np.uint8).reshape(h, width).astype(_np.int16)
        res = _np.empty_like(g)
        res[0, 0] = g[0, 0]
        res[0, 1:] = g[0, 1:] - g[0, :-1]  # row 0: L
        res[1:, :] = g[1:, :] - g[:-1, :]  # rest: T
        res &= 0xFF
        rb = res.astype(_np.uint8).reshape(-1)
        # alpha residual is 0 everywhere: (0,0) predicts BLACK (a=255)
        p = PLANS["res"]
        plans = {"g": PLANS["res_g"], "r": p, "b": p} if static else None
        if np is not None:
            gs = rb.astype(np.int64)
            _emit_tokens_np(
                w, gs, 0, None, r=gs, b=gs, a=np.zeros(gs.size, np.int64),
                plans=plans,
            )
            return
        tokens = [("lit", int(v), int(v), int(v), 0) for v in rb]
        _emit_tokens(w, tokens, 0, None, plans)

    def _encode_palette(w, vals, width, h, static=False):
        """Color-indexing transform; indices bundle to sub-byte pixels
        when the palette is small."""
        distinct = sorted(set(vals))
        n = len(distinct)
        w.bits(1, 1)
        w.bits(3, 2)  # COLOR_INDEXING
        w.bits(n - 1, 8)
        pal = [0xFF000000 | (v << 16) | (v << 8) | v for v in distinct]
        diffs = [pal[0]]
        for i in range(1, n):
            d = 0
            for sh in (24, 16, 8, 0):
                d |= (((pal[i] >> sh) - (pal[i - 1] >> sh)) & 0xFF) << sh
            diffs.append(d)
        _emit_subimage(
            w, diffs,
            {"g": PLANS["res_g"], "r": PLANS["res"], "b": PLANS["res"]}
            if static else None,
        )
        w.bits(0, 1)  # end of transforms
        w.bits(0, 1)  # no color cache
        w.bits(0, 1)  # no meta prefix codes
        xb = 3 if n <= 2 else 2 if n <= 4 else 1 if n <= 16 else 0
        bpp = 8 >> xb
        pw = (width + (1 << xb) - 1) >> xb
        if np is not None:
            du = np.asarray(distinct, np.uint8)
            va = np.frombuffer(vals, np.uint8)
            idx = np.searchsorted(du, va).astype(np.int64).reshape(h, width)
            full = pw << xb
            if full > width:  # out-of-row sub-positions pack index 0
                idx = np.concatenate(
                    (idx, np.zeros((h, full - width), np.int64)), axis=1
                )
            grp = idx.reshape(h, pw, 1 << xb)
            shifts = np.arange(1 << xb, dtype=np.int64) * bpp
            packed = (grp << shifts).sum(axis=2).ravel()
            z = np.zeros(packed.size, np.int64)
            _emit_tokens_np(
                w, packed, 0, None, r=z, b=z, a=z + 255,
                plans={"g": PLANS["pal_g"]} if static else None,
            )
            return
        lut = {v: i for i, v in enumerate(distinct)}
        tokens = []
        for y in range(h):
            row = vals[y * width: (y + 1) * width]
            for bx in range(pw):
                packed = 0
                for sub in range(1 << xb):
                    x = (bx << xb) + sub
                    if x < width:
                        packed |= lut[row[x]] << (sub * bpp)
                tokens.append(("lit", 0, packed, 0, 255))
        _emit_tokens(w, tokens, 0, None, {"g": PLANS["pal_g"]} if static else None)

    return {
        "decode": decode,
        "decode_batch": decode_batch,
        "encode_gray8": encode_gray8,
        # exposed for unit tests of the transform inverses
        "_inv_color": _inv_color,
        "_inv_predictor": _inv_predictor,
        "_predict": _predict,
        # exposed for parity unit tests of the vectorized emitters
        "_W": _W,
        "_emit_tokens": _emit_tokens,
        "_write_code": _write_code,
        "_PLANS": PLANS,
        "_emit_tokens_np": None if np is None else _emit_tokens_np,
        "_write_code_np": None if np is None else _write_code_np,
    }


def _codec():
    global _C
    try:
        return _C
    except NameError:
        _C = _build_webp_codec()
        return _C


def webp_decode(b: bytes):
    """Decode a WebP-lossless blob to ``(w, h, channels, bytes)`` or ``None``."""
    return _codec()["decode"](b)


def webp_encode_gray8(pixels: bytes, width: int = 32, mode: str = "lz77") -> bytes:
    """Encode gray bytes as a lossless VP8L WebP (see ``encode_gray8``)."""
    return _codec()["encode_gray8"](pixels, width, mode)
