"""FLAC (Free Lossless Audio Codec) in pure stdlib Python — RFC 9639.

Completes the audio tier of the media surface (PCM/float WAV, G.711,
IMA ADPCM in ``wav.py``): FLAC is what archival/lossless audio corpora
actually ship, and it is fully decodable with stdlib bit twiddling —
no codec library required, like the image trio.

Decoder (``flac_decode``) covers the real-world core of the format:

- ``fLaC`` marker + metadata walk (STREAMINFO parsed, other blocks
  skipped via the last-block flag / 24-bit lengths).
- Frame headers: sync, blocking strategy, all block-size codes
  (192 / 576*2^n / 256*2^n / 8- and 16-bit explicit), the sample-rate
  code table + explicit forms, sample-size codes, UTF-8-coded frame
  number, CRC-8 (poly 0x07) verification.
- Subframes: CONSTANT, VERBATIM, FIXED orders 0-4, and LPC orders
  1-32 (quantized coefficients + right-shift prediction), each with
  the wasted-bits extension.
- Residuals: both Rice methods (4- and 5-bit parameters), all
  partition orders, escape partitions (raw n-bit residuals, n=0
  all-zero case included).
- Stereo decorrelation: left/side, right/side, mid/side
  reconstruction, plus up to 8 independent channels.
- Frame CRC-16 (poly 0x8005) verification, and STREAMINFO MD5
  verification of the decoded stream (hashlib) for byte-aligned bit
  depths.

Returns ``(sample_rate, n_channels, bits, samples)`` with interleaved
int samples — the same contract as ``wav.py`` — or ``None`` on any
malformed/corrupt stream (the never-raise-mid-batch contract).

Encoder (``flac_encode_pcm16``) is the fixture/adapter side: 16-bit
mono or interleaved stereo, fixed 4096-sample blocks, per-frame best
FIXED predictor (orders 0-2) or CONSTANT, single-partition Rice
residuals with per-frame parameter fit, correct CRCs and STREAMINFO
MD5. Lossless BY CONSTRUCTION — decode(encode(x)) == x — which is what
lets the registry query reuse the analytic PCM oracle while the Spark
side exercises the whole bitstream path for real.

Closures are built inside ``_build_flac_codec`` so ``mapInPandas``
workers capture them BY VALUE (the image-codec shipping discipline).
"""

from __future__ import annotations


def _build_flac_codec(force_scalar=False):
    import hashlib
    import struct

    import numpy as _np

    np = None if force_scalar else _np

    # ---- CRCs (RFC 9639: CRC-8 poly 0x07, CRC-16 poly 0x8005, init 0) ----
    CRC8_TAB = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        CRC8_TAB.append(c)
    CRC16_TAB = []
    for i in range(256):
        c = i << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
        CRC16_TAB.append(c)

    def crc8(data):
        c = 0
        for b in data:
            c = CRC8_TAB[c ^ b]
        return c

    def crc16(data):
        c = 0
        for b in data:
            c = CRC16_TAB[((c >> 8) ^ b) & 0xFF] ^ ((c << 8) & 0xFFFF)
        return c

    if np is not None:
        # two-bytes-per-step CRC-16: CRC is GF(2)-affine, so the state
        # after two bytes splits as M2[state] ^ T2[pair] with both 64K
        # tables built in a few vectorized passes. Same polynomial,
        # identical values (asserted against the byte loop in tests).
        _t16 = np.array(CRC16_TAB, np.uint32)
        _a16 = np.arange(65536, dtype=np.uint32)
        _c1 = _t16[_a16 >> 8]
        _T2 = (
            _t16[((_c1 >> 8) ^ (_a16 & 0xFF)) & 0xFF] ^ ((_c1 << 8) & 0xFFFF)
        ).tolist()
        _m1 = _t16[_a16 >> 8] ^ ((_a16 << 8) & 0xFFFF)
        _M2 = (
            _t16[(_m1 >> 8) & 0xFF] ^ ((_m1 << 8) & 0xFFFF)
        ).astype(np.uint32).tolist()

        def crc16(data):  # noqa: F811 — vectorized-table twin
            c = 0
            n2 = len(data) >> 1
            M2, T2 = _M2, _T2
            for p in np.frombuffer(data, ">u2", n2).tolist():
                c = M2[c] ^ T2[p]
            if len(data) & 1:
                b = data[-1]
                c = CRC16_TAB[((c >> 8) ^ b) & 0xFF] ^ ((c << 8) & 0xFFFF)
            return c

    # ---- bit I/O ---------------------------------------------------------
    class W:
        def __init__(self):
            self.buf = bytearray()
            self.acc = 0
            self.n = 0

        def w(self, val, bits):
            self.acc = (self.acc << bits) | (val & ((1 << bits) - 1))
            self.n += bits
            while self.n >= 8:
                self.n -= 8
                self.buf.append((self.acc >> self.n) & 0xFF)
            self.acc &= (1 << self.n) - 1

        def align(self):
            if self.n:
                self.w(0, 8 - self.n)

        def w_bits_np(self, bits_np):
            """Append an MSB-first 0/1 uint8 array in one packbits pass
            (bit-identical to per-code ``w`` calls; the partial
            accumulator is folded into the array head and the sub-byte
            tail folded back)."""
            if self.n:
                lead = np.array(
                    [(self.acc >> (self.n - 1 - i)) & 1 for i in range(self.n)],
                    np.uint8,
                )
                bits_np = np.concatenate([lead, bits_np])
                self.acc = 0
                self.n = 0
            nbytes = len(bits_np) >> 3
            if nbytes:
                self.buf.extend(np.packbits(bits_np[: nbytes * 8]).tobytes())
            for b in bits_np[nbytes * 8:].tolist():
                self.acc = (self.acc << 1) | int(b)
                self.n += 1

        def bytes(self):
            return bytes(self.buf)

    class R:
        def __init__(self, data, pos=0):
            self.d = data
            self.p = pos  # bit position

        def r(self, bits):
            v = 0
            p, d = self.p, self.d
            end = p + bits
            if end > 8 * len(d):
                raise EOFError
            while bits:
                byte = d[p >> 3]
                avail = 8 - (p & 7)
                take = min(avail, bits)
                v = (v << take) | ((byte >> (avail - take)) & ((1 << take) - 1))
                p += take
                bits -= take
            self.p = p
            return v

        def rs(self, bits):  # signed two's complement
            v = self.r(bits)
            return v - (1 << bits) if bits and v >> (bits - 1) else v

        def unary(self):  # RFC 9639: n zero bits terminated by a one bit
            n = 0
            while self.r(1) == 0:
                n += 1
                if n > 1 << 20:
                    raise EOFError
            return n

        def align(self):
            self.p = (self.p + 7) & ~7

    BLOCK = 4096

    # ---- encoder ---------------------------------------------------------
    FIXED_COEF = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}

    def _residuals(blk, order):
        if np is not None:
            # FIXED-predictor residuals ARE the order-th backward finite
            # difference; np.diff is the identical integer recurrence
            if order == 0:
                return list(blk)
            return np.diff(np.asarray(blk, np.int64), n=order).tolist()
        co = FIXED_COEF[order]
        return [
            blk[i] - sum(c * blk[i - 1 - j] for j, c in enumerate(co))
            for i in range(order, len(blk))
        ]

    def _write_subframe(w, blk, bps):
        if np is not None:
            # array twin of the scalar selection below: identical costs
            # (exact int64 sums), identical order choice and Rice param
            arr = np.asarray(blk, np.int64)
            if arr.size and (arr == arr[0]).all():
                w.w(0, 1)
                w.w(0b000000, 6)  # CONSTANT
                w.w(0, 1)
                w.w(int(arr[0]), bps)
                return
            best = 0
            best_res = arr
            best_cost = int(np.abs(arr).sum())
            for order in (1, 2):
                if arr.size <= order:
                    break
                res = np.diff(arr, n=order)
                cost = int(np.abs(res).sum())
                if cost < best_cost:
                    best, best_res, best_cost = order, res, cost
            w.w(0, 1)
            w.w(0b001000 | best, 6)  # FIXED order
            w.w(0, 1)  # no wasted bits
            for v in blk[:best]:  # warm-up
                w.w(int(v), bps)
            w.w(0b00, 2)
            w.w(0, 4)
            n = int(best_res.size)
            mean = int(np.abs(best_res).sum()) // max(1, n)
            param = 0
            while param < 14 and (1 << param) < mean + 1:
                param += 1
            w.w(param, 4)
            if n:
                rr = best_res
                u = (rr << 1) ^ (rr >> 63)
                q = u >> param
                if int(q.max(initial=0)) > 1 << 16:
                    raise OverflowError
                lens = q + 1 + param
                offs = np.zeros(n, np.int64)
                np.cumsum(lens[:-1], out=offs[1:])
                bits = np.zeros(int(lens.sum()), np.uint8)
                term = offs + q
                bits[term] = 1
                if param:
                    idx = (
                        term[:, None] + 1
                        + np.arange(param, dtype=np.int64)[None, :]
                    )
                    vals = (
                        u[:, None]
                        >> np.arange(param - 1, -1, -1, dtype=np.int64)[None, :]
                    ) & 1
                    bits[idx] = vals.astype(np.uint8)
                w.w_bits_np(bits)
            return
        if len(set(blk)) == 1:
            w.w(0, 1)
            w.w(0b000000, 6)  # CONSTANT
            w.w(0, 1)
            w.w(blk[0], bps)
            return
        best, best_res = 0, _residuals(blk, 0)
        best_cost = sum(abs(r) for r in best_res)
        for order in (1, 2):
            if len(blk) <= order:
                break
            res = _residuals(blk, order)
            cost = sum(abs(r) for r in res)
            if cost < best_cost:
                best, best_res, best_cost = order, res, cost
        w.w(0, 1)
        w.w(0b001000 | best, 6)  # FIXED order
        w.w(0, 1)  # no wasted bits
        for v in blk[:best]:  # warm-up
            w.w(v, bps)
        # residual: method 00 (4-bit rice), partition order 0
        w.w(0b00, 2)
        w.w(0, 4)
        n = len(best_res)
        mean = sum(r if r >= 0 else -r for r in best_res) // max(1, n)
        param = 0
        while param < 14 and (1 << param) < mean + 1:
            param += 1
        w.w(param, 4)
        if np is not None and n:
            # vectorized twin of the loop below: one bit array for the
            # whole partition (zigzag, terminators and fixed bits as
            # batched scatters), appended in a single packbits pass
            rr = np.asarray(best_res, np.int64)
            u = (rr << 1) ^ (rr >> 63)
            q = u >> param
            if int(q.max(initial=0)) > 1 << 16:
                raise OverflowError
            lens = q + 1 + param
            offs = np.zeros(n, np.int64)
            np.cumsum(lens[:-1], out=offs[1:])
            bits = np.zeros(int(lens.sum()), np.uint8)
            term = offs + q
            bits[term] = 1
            if param:
                idx = term[:, None] + 1 + np.arange(param, dtype=np.int64)[None, :]
                vals = (
                    u[:, None] >> np.arange(param - 1, -1, -1, dtype=np.int64)[None, :]
                ) & 1
                bits[idx] = vals.astype(np.uint8)
            w.w_bits_np(bits)
            return
        for r in best_res:
            u = (r << 1) ^ (r >> 63)  # zigzag (python ints: arithmetic >>)
            q = u >> param
            if q > 1 << 16:  # pathological: re-encode partition escaped
                raise OverflowError
            w.w(0, q) if q else None
            w.w(1, 1)
            w.w(u, param)

    def _splice(dst, src):
        """Append a (possibly unaligned) bit-writer's content to another.
        When the destination is byte-aligned (always true for the mono
        frame layout: header + one subframe) the buffers concatenate
        directly instead of re-feeding every byte through the carry
        loop."""
        if dst.n == 0:
            dst.buf += src.buf
            dst.acc = src.acc
            dst.n = src.n
            return
        for byte in src.buf:
            dst.w(byte, 8)
        if src.n:
            dst.w(src.acc, src.n)

    def _write_subframe_safe(w, blk, bps):
        """Write the best subframe for ``blk`` into ``w``. The candidate
        is built in a FRESH writer and spliced in only on success — an
        OverflowError raised mid-residual must not leave a partially
        written FIXED subframe in the frame (the fallback would otherwise
        produce a corrupt stream). Unreachable for int16 input (rice
        quotients are bounded by |residual| / 2^param with the fitted
        param), but the fallback has to be correct to exist."""
        cand = W()
        try:
            _write_subframe(cand, blk, bps)
        except OverflowError:
            cand = W()  # VERBATIM fallback in its own fresh writer
            cand.w(0, 1)
            cand.w(0b000001, 6)
            cand.w(0, 1)
            for v in blk:
                cand.w(v, bps)
        _splice(w, cand)

    def encode_pcm16(samples, sample_rate=16000, n_channels=1):
        """Mono/stereo 16-bit FLAC from interleaved int samples."""
        if np is not None:
            arr = np.asarray(list(samples))
            if arr.dtype.kind == "f":
                arr = arr.astype(np.int64)  # int() truncation
            samples = np.clip(arr, -32768, 32767).astype(np.int64).tolist()
        else:
            samples = [max(-32768, min(32767, int(s))) for s in samples]
        if n_channels not in (1, 2):
            raise ValueError("encoder supports 1 or 2 channels")
        nframes_total = len(samples) // n_channels
        samples = samples[: nframes_total * n_channels]
        if np is not None:
            md5 = hashlib.md5(
                np.asarray(samples, np.int64).astype("<i2").tobytes()
            ).digest()
        else:
            md5 = hashlib.md5(
                b"".join(struct.pack("<h", s) for s in samples)
            ).digest()
        si = W()
        si.w(BLOCK, 16)
        si.w(BLOCK, 16)
        si.w(0, 24)
        si.w(0, 24)
        si.w(sample_rate, 20)
        si.w(n_channels - 1, 3)
        si.w(15, 5)  # bps-1 = 15
        si.w(nframes_total, 36)
        out = bytearray(b"fLaC")
        out += bytes([0x80]) + (34).to_bytes(3, "big") + si.bytes() + md5
        chans = [samples[c::n_channels] for c in range(n_channels)]
        for fi in range((nframes_total + BLOCK - 1) // BLOCK):
            blks = [ch[fi * BLOCK : (fi + 1) * BLOCK] for ch in chans]
            bs = len(blks[0])
            w = W()
            w.w(0b11111111111110, 14)
            w.w(0, 1)  # reserved
            w.w(0, 1)  # fixed-blocksize stream
            w.w(0b0111, 4)  # 16-bit blocksize-1 follows
            w.w(0b0000, 4)  # rate from STREAMINFO
            w.w(n_channels - 1, 4)  # independent channels
            w.w(0b100, 3)  # 16-bit samples
            w.w(0, 1)  # reserved
            # UTF-8-coded frame number
            if fi < 0x80:
                w.w(fi, 8)
            elif fi < 0x800:
                w.w(0xC0 | (fi >> 6), 8)
                w.w(0x80 | (fi & 0x3F), 8)
            else:
                w.w(0xE0 | (fi >> 12), 8)
                w.w(0x80 | ((fi >> 6) & 0x3F), 8)
                w.w(0x80 | (fi & 0x3F), 8)
            w.w(bs - 1, 16)
            w.w(crc8(w.bytes()), 8)  # header bytes so far are aligned
            for blk in blks:
                _write_subframe_safe(w, blk, 16)
            w.align()
            frame = w.bytes()
            out += frame + struct.pack(">H", crc16(frame))
        return bytes(out)

    # ---- decoder ---------------------------------------------------------
    RATE_TAB = {
        1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
        7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
    }
    SIZE_TAB = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}

    def _utf8_num(r):
        b0 = r.r(8)
        if b0 < 0x80:
            return b0
        n = 0
        while b0 & (0x80 >> n):
            n += 1
        if n < 2 or n > 7:
            raise EOFError
        v = b0 & (0x7F >> n)
        for _ in range(n - 1):
            b = r.r(8)
            if b >> 6 != 0b10:
                raise EOFError
            v = (v << 6) | (b & 0x3F)
        return v

    def _rice_prep(r, param):
        """Lazy per-reader caches for the vectorized Rice path: the whole
        stream unpacked to a bit array, the positions of its one-bits,
        and a per-param JUMP array — ``jump[j] = index of the first one
        at-or-after ones[j] + 1 + param``, i.e. the next code's
        terminator given this code's. One searchsorted builds the whole
        chain's transition function, so decoding a partition is a
        3-op-per-sample pointer chase plus vectorized gathers."""
        if not hasattr(r, "_ones"):
            bits = np.unpackbits(np.frombuffer(r.d, np.uint8))
            r._bits = bits
            r._ones = np.flatnonzero(bits).astype(np.int64)
            r._jumps = {}
        if param not in r._jumps:
            r._jumps[param] = np.searchsorted(
                r._ones, r._ones + 1 + param
            ).tolist()
        return r._bits, r._ones, r._jumps[param]

    def _rice_fast(r, cnt, param):
        """Vectorized Rice partition decode, bit-identical to the scalar
        unary/fixed loop: terminators via the jump chain, quotients as
        ``terminator - cursor`` (the gap is all zero bits by
        construction), fixed bits as a batched gather, zigzag un-mapped
        in int64. Raises EOFError exactly where the scalar path would
        (no terminator, runaway quotient, fixed bits past stream end)."""
        bits, ones, jump = _rice_prep(r, param)
        j = int(np.searchsorted(ones, r.p))
        no = len(jump)
        chain = []
        for _ in range(cnt):
            if j >= no:
                raise EOFError
            chain.append(j)
            j = jump[j]
        t = ones[np.asarray(chain, dtype=np.int64)]
        cursors = np.empty(cnt, np.int64)
        cursors[0] = r.p
        if cnt > 1:
            cursors[1:] = t[:-1] + 1 + param
        q = t - cursors
        if q.min() < 0 or q.max() > (1 << 20):
            raise EOFError
        if param:
            idx = t[:, None] + 1 + np.arange(param, dtype=np.int64)[None, :]
            if int(idx[-1, -1]) >= bits.shape[0]:
                raise EOFError
            weights = 1 << np.arange(param - 1, -1, -1, dtype=np.int64)
            fixed = bits[idx].astype(np.int64) @ weights
            u = (q << param) | fixed
            r.p = int(t[-1]) + 1 + param
        else:
            u = q
            r.p = int(t[-1]) + 1
        return ((u >> 1) ^ -(u & 1)).tolist()

    def _read_residual(r, n, order, out):
        method = r.r(2)
        if method > 1:
            raise EOFError
        pbits = 4 + method
        escape = (1 << pbits) - 1
        porder = r.r(4)
        parts = 1 << porder
        if n % parts:  # partition sizes must divide the block exactly
            raise EOFError
        for p in range(parts):
            cnt = (n >> porder) - (order if p == 0 else 0)
            if cnt < 0:
                raise EOFError
            param = r.r(pbits)
            if param == escape:
                raw = r.r(5)
                for _ in range(cnt):
                    out.append(r.rs(raw) if raw else 0)
            elif np is not None and cnt and len(r.d) < (32 << 20):
                # vectorized path (bit-parity twin of the loop below);
                # the 32 MB cap bounds the unpacked-bit cache at 256 MB
                out.extend(_rice_fast(r, cnt, param))
            else:
                for _ in range(cnt):
                    q = r.unary()
                    u = (q << param) | r.r(param)
                    out.append((u >> 1) ^ -(u & 1))  # un-zigzag

    def _read_subframe(r, n, bps):
        if r.r(1):
            raise EOFError  # reserved bit must be 0
        t = r.r(6)
        wasted = 0
        if r.r(1):
            wasted = r.unary() + 1
        eff = bps - wasted
        if t == 0:  # CONSTANT
            v = r.rs(eff)
            out = [v] * n
        elif t == 1:  # VERBATIM
            out = [r.rs(eff) for _ in range(n)]
        elif 8 <= t <= 12:  # FIXED order 0-4
            order = t - 8
            out = [r.rs(eff) for _ in range(order)]
            res = []
            _read_residual(r, n, order, res)
            if np is not None and order and res:
                # the FIXED recurrence inverts the order-th backward
                # difference: integrate the residuals ``order`` times,
                # seeding each pass with the warmup's finite differences
                # — exact int64 (values never exceed the sample domain)
                warm = np.asarray(out, np.int64)
                cur = np.asarray(res, np.int64)
                for j in range(order, 0, -1):
                    seed = int(np.diff(warm, n=j - 1)[-1]) if j > 1 else int(warm[-1])
                    cur = seed + np.cumsum(cur)
                out.extend(cur.tolist())
            elif order == 0:
                out.extend(res)  # order-0 prediction is the residual itself
            else:
                co = FIXED_COEF[order]
                for i in range(order, n):
                    out.append(
                        res[i - order]
                        + sum(c * out[i - 1 - j] for j, c in enumerate(co))
                    )
        elif t >= 32:  # LPC order 1-32
            order = t - 31
            out = [r.rs(eff) for _ in range(order)]
            prec = r.r(4) + 1
            if prec == 16:
                raise EOFError  # 0b1111 is invalid
            shift = r.rs(5)
            if shift < 0:
                raise EOFError
            coefs = [r.rs(prec) for _ in range(order)]
            res = []
            _read_residual(r, n, order, res)
            for i in range(order, n):
                pred = sum(c * out[i - 1 - j] for j, c in enumerate(coefs))
                out.append(res[i - order] + (pred >> shift))
        else:
            raise EOFError  # reserved type
        if wasted:
            out = [v << wasted for v in out]
        return out

    def decode(b, verify_md5=True):
        try:
            return _decode(bytes(b), verify_md5)
        except Exception:
            return None

    def _decode(b, verify_md5):
        if b[:4] != b"fLaC":
            return None
        pos = 4
        rate = n_ch = bps = total = None
        md5 = None
        while True:
            if pos + 4 > len(b):
                return None
            hdr = b[pos]
            blen = int.from_bytes(b[pos + 1 : pos + 4], "big")
            body = b[pos + 4 : pos + 4 + blen]
            if hdr & 0x7F == 0:  # STREAMINFO
                if blen < 34:
                    return None
                r = R(body)
                r.r(16), r.r(16), r.r(24), r.r(24)
                rate = r.r(20)
                n_ch = r.r(3) + 1
                bps = r.r(5) + 1
                total = r.r(36)
                md5 = body[18:34]
            pos += 4 + blen
            if hdr & 0x80:
                break
        if rate is None or not rate:
            return None
        chans_acc = [[] for _ in range(n_ch)]
        # total == 0 is the legal 'unknown length' STREAMINFO value
        # (RFC 9639): decode frames to end-of-stream and skip the
        # length check/trim; a nonzero total bounds the loop as before
        while pos < len(b) and (not total or len(chans_acc[0]) < total):
            fstart = pos
            r = R(b, pos * 8)
            if r.r(14) != 0b11111111111110 or r.r(1):
                return None
            r.r(1)  # blocking strategy
            bs_code = r.r(4)
            rate_code = r.r(4)
            chan_code = r.r(4)
            size_code = r.r(3)
            if r.r(1):
                return None
            _utf8_num(r)
            if bs_code == 0:
                return None
            elif bs_code == 1:
                bs = 192
            elif bs_code <= 5:
                bs = 576 << (bs_code - 2)
            elif bs_code == 6:
                bs = r.r(8) + 1
            elif bs_code == 7:
                bs = r.r(16) + 1
            else:
                bs = 256 << (bs_code - 8)
            if rate_code == 0:
                frate = rate
            elif rate_code in RATE_TAB:
                frate = RATE_TAB[rate_code]
            elif rate_code == 12:
                frate = r.r(8) * 1000
            elif rate_code == 13:
                frate = r.r(16)
            elif rate_code == 14:
                frate = r.r(16) * 10
            else:
                return None
            fbps = bps if size_code == 0 else SIZE_TAB.get(size_code)
            if fbps is None:
                return None
            if crc8(b[fstart : r.p // 8]) != r.r(8):
                return None
            if chan_code < 8:  # independent
                if chan_code + 1 != n_ch:
                    return None
                chans = [_read_subframe(r, bs, fbps) for _ in range(n_ch)]
            elif chan_code in (8, 9, 10):
                if n_ch != 2:
                    return None
                # the side (difference) channel carries one extra bit
                if chan_code == 8:  # left/side
                    left = _read_subframe(r, bs, fbps)
                    side = _read_subframe(r, bs, fbps + 1)
                    chans = [left, [l - s for l, s in zip(left, side)]]
                elif chan_code == 9:  # right/side
                    side = _read_subframe(r, bs, fbps + 1)
                    right = _read_subframe(r, bs, fbps)
                    chans = [[rr + s for rr, s in zip(right, side)], right]
                else:  # mid/side
                    mid = _read_subframe(r, bs, fbps)
                    side = _read_subframe(r, bs, fbps + 1)
                    chans = [[], []]
                    for m, s in zip(mid, side):
                        m = (m << 1) | (s & 1)
                        chans[0].append((m + s) >> 1)
                        chans[1].append((m - s) >> 1)
            else:
                return None
            r.align()
            if crc16(b[fstart : r.p // 8]) != r.r(16):
                return None
            pos = r.p // 8
            for c in range(n_ch):
                chans_acc[c].extend(chans[c])
        if total:
            for c in range(n_ch):
                if len(chans_acc[c]) < total:
                    return None
                chans_acc[c] = chans_acc[c][:total]
        if np is not None and chans_acc[0]:
            out = (
                np.stack([np.asarray(c, np.int64) for c in chans_acc], axis=1)
                .reshape(-1)
                .tolist()
            )
        else:
            out = []
            for i in range(len(chans_acc[0])):
                for c in range(n_ch):
                    out.append(chans_acc[c][i])
        if verify_md5 and md5 and md5 != b"\x00" * 16 and bps % 8 == 0:
            nbytes = bps // 8
            if np is not None and bps == 16:
                arr = np.asarray(out, np.int64)
                if arr.size and (int(arr.min()) < -32768 or int(arr.max()) > 32767):
                    raise OverflowError  # scalar to_bytes raises the same
                raw = arr.astype("<i2").tobytes()
            else:
                raw = b"".join(
                    int(v).to_bytes(nbytes, "little", signed=True) for v in out
                )
            if hashlib.md5(raw).digest() != md5:
                return None
        return rate, n_ch, bps, out

    return {"encode_pcm16": encode_pcm16, "decode": decode, "_W": W, "_crc8": crc8, "_crc16": crc16}


_CODEC = None


def _codec():
    global _CODEC
    if _CODEC is None:
        _CODEC = _build_flac_codec()
    return _CODEC


def flac_decode(b: bytes):
    """Driver-side convenience wrapper; workers capture the closure from
    ``_build_flac_codec()`` directly for by-value shipping."""
    return _codec()["decode"](b)


def flac_encode_pcm16(samples, sample_rate: int = 16000, n_channels: int = 1) -> bytes:
    return _codec()["encode_pcm16"](samples, sample_rate, n_channels)
