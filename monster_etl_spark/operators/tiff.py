"""TIFF codec in pure stdlib Python (TIFF 6.0 baseline, gray8/RGB8).

Rounds out the image tier (PNG / baseline+progressive JPEG / GIF) with
the scan/scientific-corpus container. Everything here is from the
public TIFF 6.0 specification:

- ``tiff_decode``: both byte orders (``II``/``MM``), IFD walk with
  inline-or-offset values, strip assembly (``RowsPerStrip`` /
  ``StripOffsets`` / ``StripByteCounts``), compressions 1 (none),
  5 (LZW — the TIFF variant: MSB-first codes, early code-width change
  one step before the GIF rule, Clear/EOI), 32773 (PackBits), and the
  horizontal-differencing predictor (tag 317 = 2) undone per row per
  sample. 8-bit grayscale (PhotometricInterpretation 1) and RGB
  (2, chunky planar config). Returns ``(width, height, channels,
  pixel bytes)`` — the ``png_decode`` contract — or ``None`` on
  malformed/out-of-scope input (the never-raise media contract).
- ``tiff_encode_gray8``: little-endian gray8 writer with LZW +
  predictor-2 and configurable rows-per-strip (multi-strip files by
  default) for fixtures and the registry adapter. Lossless, so the
  registry query reuses the analytic PNG oracle verbatim while the
  decode path exercises IFDs, strips, TIFF-LZW and the predictor.

The LZW early-change rule is the documented TIFF deviation from GIF:
code width bumps when the NEXT entry would be 511/1023/2047 (one
earlier than the GIF table sizes) — both sides here implement it, and
the round-trip tests force table growth across all three boundaries.

Defined inside ``_build_tiff_codec`` for by-value closure shipping.
"""

from __future__ import annotations


def _build_tiff_codec(force_scalar=False):
    """Build the codec closures. Without
    ``force_scalar``, the batch stages vectorize with exact integer
    arithmetic: LZW code extraction (MSB-first bit unpack + per-batch
    integer matmul between the deterministic early-change width
    boundaries — the same horizon argument as the GIF decoder, shifted
    by the KwKwK table lag), and the horizontal-differencing predictor
    undo (per-lane modular prefix sums; uint8 accumulate wraps exactly
    like the scalar ``& 0xFF``). The dictionary-growth loop and the LZW
    *encoder* (true sequential data dependencies) stay scalar. Byte
    parity with the stdlib build is asserted in
    tests/test_codec_parity.py."""
    import struct

    import numpy as _np

    np = None if force_scalar else _np

    CLEAR, EOI, FIRST = 256, 257, 258

    # ---- TIFF-variant LZW ------------------------------------------------
    def lzw_encode(data):
        """Greedy longest-match TIFF LZW. The match dictionary is keyed
        by ``(prefix_code << 8) | byte`` ints — the classic trick that
        replaces the per-byte byte-string concatenation (whose hash cost
        grows with the match length) with O(1) int lookups; the greedy
        parse, and therefore the emitted stream, is identical. Packing
        is deferred: (code, width) pairs collect in a list and pack in
        one numpy MSB-first pass (scalar carry loop on force_scalar
        builds; byte parity asserted in tests/test_codec_parity.py)."""
        codes = []
        put = codes.append
        table = {}
        get = table.get
        nxt, width = FIRST, 9
        # the width schedule must follow the DECODER's table growth, not
        # the encoder's: the decoder adds one entry per data code after
        # the first (the KwKwK lag), INCLUDING the final flushed code,
        # which grows no encoder entry. Mid-stream the rules coincide
        # (dec_len == nxt - 1), but when the 9->10 boundary lands exactly
        # on a strip's final data code the encoder-count rule wrote EOI
        # one bit narrow and the stream died with "code out of range".
        seg_codes = 0  # data codes since the last CLEAR
        put((CLEAR, 9))
        w = -1
        for byte in data:
            if w < 0:
                w = byte
                continue
            key = (w << 8) | byte
            hit = get(key)
            if hit is not None:
                w = hit
                continue
            put((w, width))
            seg_codes += 1
            if seg_codes > 1 and 258 + seg_codes - 1 == (1 << width) - 2 \
                    and width < 12:
                width += 1
            table[key] = nxt
            nxt += 1
            if nxt >= 4094:
                put((CLEAR, width))
                table.clear()
                nxt, width = FIRST, 9
                seg_codes = 0
            w = byte
        if w >= 0:
            put((w, width))
            seg_codes += 1
            if seg_codes > 1 and 258 + seg_codes - 1 == (1 << width) - 2 \
                    and width < 12:
                width += 1
        put((EOI, width))
        if np is not None:
            cs = np.array([c for c, _ in codes], np.int64)
            ws = np.array([wd for _, wd in codes], np.int64)
            ends = np.cumsum(ws)
            local = np.arange(int(ends[-1]), dtype=np.int64)
            local -= np.repeat(ends - ws, ws)
            rep = np.repeat(np.arange(ws.size), ws)
            bits = ((cs[rep] >> (ws[rep] - 1 - local)) & 1).astype(np.uint8)
            return np.packbits(bits).tobytes()  # MSB-first, zero-padded
        out = bytearray()
        acc = nbits = 0
        for code, wd in codes:
            acc = (acc << wd) | code
            nbits += wd
            while nbits >= 8:
                nbits -= 8
                out.append((acc >> nbits) & 0xFF)
            acc &= (1 << nbits) - 1
        if nbits:
            out.append((acc << (8 - nbits)) & 0xFF)
        return bytes(out)

    def lzw_decode_scalar(data):
        pos = 0  # bit position
        total = 8 * len(data)

        def read(width):
            nonlocal pos
            if pos + width > total:
                raise ValueError("lzw truncated")
            v = 0
            p = pos
            for _ in range(width):
                v = (v << 1) | ((data[p >> 3] >> (7 - (p & 7))) & 1)
                p += 1
            pos = p
            return v

        out = bytearray()
        table: list = []
        width = 9
        prev = None
        while True:
            code = read(width)
            if code == EOI:
                break
            if code == CLEAR:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if prev is None:
                if code >= 256:
                    raise ValueError("lzw: first code after clear not literal")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("lzw: code out of range")
            out += entry
            # the decoder's table lags the encoder's by ONE entry (the
            # KwKwK lag), so the early-change bump lands at maxcode-2
            if len(table) == (1 << width) - 2 and width < 12:
                width += 1
            prev = entry
        return bytes(out)

    def lzw_decode_np(data):
        """``lzw_decode_scalar`` with VECTORIZED code extraction: between
        the deterministic width-change points (a CLEAR reset, or the
        table reaching ``(1 << width) - 2`` — each non-reset code grows
        the table by at most one entry, so at most that many codes fit
        before the geometry changes) codes are pulled in one MSB-first
        bit-unpack + integer matmul. The dictionary-growth loop keeps
        the scalar structure; the end-of-data rule matches (fewer than
        ``width`` bits left <=> the scalar reader's 'lzw truncated')."""
        bits = np.unpackbits(np.frombuffer(bytes(data), np.uint8))
        total = int(bits.size)
        bp = 0
        base_table = [bytes([i]) for i in range(256)] + [b"", b""]
        out = bytearray()
        table: list = []
        width = 9
        prev = None
        pending: list = []
        pi = 0
        while True:
            if pi >= len(pending):
                horizon = (
                    ((1 << width) - 2 - len(table)) if width < 12 else (1 << 30)
                )
                avail = (total - bp) // width
                n = min(max(horizon, 1), avail, 1 << 16)
                if n <= 0:
                    raise ValueError("lzw truncated")
                chunk = bits[bp : bp + n * width].reshape(n, width).astype(np.int32)
                weights = 1 << np.arange(width - 1, -1, -1, dtype=np.int32)
                pending = (chunk @ weights).tolist()
                pi = 0
            code = pending[pi]
            pi += 1
            bp += width
            if code == EOI:
                break
            if code == CLEAR:
                table = list(base_table)
                width = 9
                prev = None
                pending = []
                continue
            if prev is None:
                if code >= 256:
                    raise ValueError("lzw: first code after clear not literal")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("lzw: code out of range")
            out += entry
            if len(table) == (1 << width) - 2 and width < 12:
                width += 1
                pending = []
            prev = entry
        return bytes(out)

    lzw_decode = lzw_decode_scalar if np is None else lzw_decode_np

    def lzw_decode_lanes(chunks):
        """Lockstep-lane TIFF-LZW decode over MANY strips at once (the
        round-7 JPEG discipline applied to the 0.28 MB/s/core scalar
        floor): every lane advances ONE code per round — bit-window
        gather, classify, table append, width bump — as ~20 vector ops
        over (n_lanes,) arrays instead of a Python loop per code, and
        output bytes materialize afterwards in one vectorized backward
        chain walk over the (prefix, suffix) linked tables (total work =
        output bytes). Per-lane failures mirror ``lzw_decode_scalar``'s
        raises exactly (truncated read, first-code-not-literal /
        uninitialized table, code out of range) as ``None`` entries;
        byte parity with the scalar decoder is asserted per lane in
        tests/test_codec_parity.py. Mid-stream CLEAR (table overflow at
        4094 entries — rare at strip sizes) flushes pending emissions
        before the reset reuses table slots."""
        if np is None:
            out = []
            for c in chunks:
                try:
                    out.append(lzw_decode_scalar(c))
                except Exception:
                    out.append(None)
            return out
        nl = len(chunks)
        if nl == 0:
            return []
        sizes = np.fromiter(map(len, chunks), np.int64, nl)
        offs = np.concatenate(([0], np.cumsum(sizes)))
        pool = bytearray(int(offs[-1]) + 3)
        for c, o, s in zip(chunks, offs[:-1], sizes):
            pool[int(o) : int(o) + int(s)] = c
        pb = np.frombuffer(bytes(pool), np.uint8).astype(np.int32)
        pos = offs[:-1] * 8
        end = pos + sizes * 8
        width = np.full(nl, 9, np.int32)
        tsize = np.zeros(nl, np.int32)  # 0 = table not initialized
        prev = np.full(nl, -1, np.int32)
        done = np.zeros(nl, bool)
        fail = np.zeros(nl, bool)
        # per-lane linked tables; base entries shared by construction
        prefix = np.full((nl, 4096), -1, np.int16)
        suffix = np.zeros((nl, 4096), np.uint8)
        first = np.zeros((nl, 4096), np.uint8)
        length = np.zeros((nl, 4096), np.int32)
        base = np.arange(256, dtype=np.uint8)
        suffix[:, :256] = base
        first[:, :256] = base
        length[:, :256] = 1
        out_chunks: list = [[] for _ in range(nl)]
        emi_lanes: list = []
        emi_codes: list = []

        def flush():
            if not emi_lanes:
                return
            lanes = np.concatenate(emi_lanes)
            codes = np.concatenate(emi_codes).astype(np.int64)
            emi_lanes.clear()
            emi_codes.clear()
            order = np.argsort(lanes, kind="stable")
            lanes = lanes[order]
            codes = codes[order]
            lens = length[lanes, codes].astype(np.int64)
            ends = np.cumsum(lens)
            total = int(ends[-1]) if ends.size else 0
            if total == 0:
                return
            buf = np.zeros(total, np.uint8)
            ppos = ends - 1  # last byte of each emission
            cur = codes.astype(np.int32).copy()
            alive = cur >= 0
            while alive.any():
                li = lanes[alive]
                cc = cur[alive]
                buf[ppos[alive]] = suffix[li, cc]
                ppos[alive] -= 1
                cur[alive] = prefix[li, cc]
                alive = cur >= 0
            first_of = np.concatenate(([True], lanes[1:] != lanes[:-1]))
            gidx = np.nonzero(first_of)[0]
            starts = ends[gidx] - lens[gidx]
            bounds = np.concatenate((starts, [total]))
            for j, lid in enumerate(lanes[gidx]):
                out_chunks[int(lid)].append(
                    buf[int(bounds[j]) : int(bounds[j + 1])].tobytes()
                )

        while True:
            act = np.nonzero(~(done | fail))[0]
            if act.size == 0:
                break
            w = width[act]
            trunc = pos[act] + w > end[act]
            if trunc.any():
                fail[act[trunc]] = True
                act = act[~trunc]
                if act.size == 0:
                    continue
                w = width[act]
            p = pos[act]
            bp = p >> 3
            window = (pb[bp] << 16) | (pb[bp + 1] << 8) | pb[bp + 2]
            code = (window >> (24 - (p & 7) - w).astype(np.int32)) & ((1 << w) - 1)
            pos[act] = p + w
            eoi = code == EOI
            if eoi.any():
                done[act[eoi]] = True
            clr = code == CLEAR
            if clr.any():
                # table slots get reused after a reset: materialize every
                # pending emission first (their entries are still live)
                flush()
                lanes_c = act[clr]
                width[lanes_c] = 9
                tsize[lanes_c] = FIRST
                prev[lanes_c] = -1
            rest = act[~(eoi | clr)]
            if rest.size:
                c = code[~(eoi | clr)]
                uninit = tsize[rest] == 0
                if uninit.any():
                    fail[rest[uninit]] = True
                    rest = rest[~uninit]
                    c = c[~uninit]
            if rest.size:
                pv = prev[rest]
                fresh = pv < 0
                if fresh.any():
                    bad = fresh & (c >= 256)
                    if bad.any():
                        fail[rest[bad]] = True
                        keep = ~bad
                        rest, c, pv, fresh = rest[keep], c[keep], pv[keep], fresh[keep]
                if rest.size:
                    ts = tsize[rest]
                    over = (~fresh) & (c > ts)
                    if over.any():
                        fail[rest[over]] = True
                        keep = ~over
                        rest, c, pv, fresh, ts = (
                            rest[keep], c[keep], pv[keep], fresh[keep], ts[keep]
                        )
                if rest.size:
                    app = ~fresh
                    if app.any():
                        la = rest[app]
                        slot = tsize[la].astype(np.int64)
                        pva = pv[app].astype(np.int64)
                        ca = c[app].astype(np.int64)
                        pf = first[la, pva]
                        pl = length[la, pva]
                        normal = ca < tsize[la]
                        nsfx = np.where(
                            normal, first[la, np.minimum(ca, 4095)], pf
                        )
                        prefix[la, slot] = pv[app].astype(np.int16)
                        suffix[la, slot] = nsfx
                        first[la, slot] = pf
                        length[la, slot] = pl + 1
                        tsize[la] += 1
                    emit = np.where(
                        fresh, c,
                        np.where(c < ts, c, tsize[rest] - 1),
                    )
                    prev[rest] = emit
                    emi_lanes.append(rest.copy())
                    emi_codes.append(emit.astype(np.int32))
                    bump = (tsize[rest] == (1 << width[rest]) - 2) & (width[rest] < 12)
                    if bump.any():
                        width[rest[bump]] += 1
        flush()
        results: list = []
        for i in range(nl):
            if fail[i]:
                results.append(None)
            else:
                results.append(b"".join(out_chunks[i]))
        return results

    # ---- PackBits --------------------------------------------------------
    def packbits_encode(data):
        out = bytearray()
        i = 0
        n = len(data)
        while i < n:
            run = 1
            while i + run < n and run < 128 and data[i + run] == data[i]:
                run += 1
            if run >= 3:
                out.append(257 - run & 0xFF)
                out.append(data[i])
                i += run
                continue
            lit_start = i
            i += run
            while i < n and i - lit_start < 128:
                run = 1
                while i + run < n and run < 3 and data[i + run] == data[i]:
                    run += 1
                if run >= 3:
                    break
                i += 1
            out.append(i - lit_start - 1)
            out += data[lit_start:i]
        return bytes(out)

    def packbits_decode(data):
        out = bytearray()
        i = 0
        while i < len(data):
            n = data[i]
            i += 1
            if n < 128:
                out += data[i : i + n + 1]
                i += n + 1
            elif n > 128:
                out += bytes([data[i]]) * (257 - n)
                i += 1
            # n == 128: noop
        return bytes(out)

    # ---- container -------------------------------------------------------
    def encode_gray8(pixels, width, rows_per_strip=8, compression=5, predictor=2):
        """Little-endian gray8 TIFF; zero-pads to full rows. compression:
        1 none, 5 LZW, 32773 PackBits; predictor 2 only valid with LZW."""
        height = max(1, -(-len(pixels) // width))
        padded = bytes(pixels).ljust(width * height, b"\x00")
        strips = []
        for y0 in range(0, height, rows_per_strip):
            rows = padded[y0 * width : min(y0 + rows_per_strip, height) * width]
            if compression == 5 and predictor == 2:
                diffed = bytearray()
                for r0 in range(0, len(rows), width):
                    row = rows[r0 : r0 + width]
                    diffed.append(row[0])
                    for x in range(1, len(row)):
                        diffed.append((row[x] - row[x - 1]) & 0xFF)
                rows = bytes(diffed)
            if compression == 5:
                strips.append(lzw_encode(rows))
            elif compression == 32773:
                strips.append(packbits_encode(rows))
            else:
                strips.append(rows)
        n_strips = len(strips)

        def entry(tag, typ, cnt, val):
            return struct.pack("<HHI4s", tag, typ, cnt, val)

        def short(v):
            return struct.pack("<H", v) + b"\x00\x00"

        def long_(v):
            return struct.pack("<I", v)

        # layout: header(8) + IFD + [offsets arrays] + strip data
        tags = 10 if (compression == 5 and predictor == 2) else 9
        ifd_size = 2 + 12 * tags + 4
        arrays_at = 8 + ifd_size
        arr = b""
        if n_strips > 1:
            strip_off_at = arrays_at
            strip_cnt_at = arrays_at + 4 * n_strips
            data_at = strip_cnt_at + 4 * n_strips
        else:
            data_at = arrays_at
        offsets = []
        counts = []
        at = data_at
        for s in strips:
            offsets.append(at)
            counts.append(len(s))
            at += len(s)
        if n_strips > 1:
            arr = b"".join(struct.pack("<I", o) for o in offsets) + b"".join(
                struct.pack("<I", c) for c in counts
            )
            off_val, cnt_val = long_(strip_off_at), long_(strip_cnt_at)
        else:
            off_val, cnt_val = long_(offsets[0]), long_(counts[0])
        e = [
            entry(256, 4, 1, long_(width)),
            entry(257, 4, 1, long_(height)),
            entry(258, 3, 1, short(8)),
            entry(259, 3, 1, short(compression)),
            entry(262, 3, 1, short(1)),  # BlackIsZero
            entry(273, 4, n_strips, off_val),
            entry(277, 3, 1, short(1)),
            entry(278, 3, 1, short(rows_per_strip)),
            entry(279, 4, n_strips, cnt_val),
        ]
        if tags == 10:
            e.append(entry(317, 3, 1, short(2)))
        e.sort(key=lambda b: struct.unpack("<H", b[:2])[0])  # tags ascending
        ifd = struct.pack("<H", len(e)) + b"".join(e) + long_(0)
        return b"II*\x00" + long_(8) + ifd + arr + b"".join(strips)

    def decode(b):
        try:
            return _decode(bytes(b))
        except Exception:
            return None

    def _parse(b):
        """Header + IFD walk -> strip/layout metadata dict, or ``None``
        on every structural rejection ``_decode`` applies (shared by the
        per-blob and batch decoders — same accept/reject rules by
        construction)."""
        if len(b) < 8:
            return None
        if b[:2] == b"II":
            en = "<"
        elif b[:2] == b"MM":
            en = ">"
        else:
            return None
        if struct.unpack(en + "H", b[2:4])[0] != 42:
            return None
        ifd_off = struct.unpack(en + "I", b[4:8])[0]
        n = struct.unpack(en + "H", b[ifd_off : ifd_off + 2])[0]
        TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4}
        tags = {}
        for k in range(n):
            at = ifd_off + 2 + 12 * k
            tag, typ, cnt = struct.unpack(en + "HHI", b[at : at + 8])
            if typ not in TYPE_SIZE:
                continue
            size = TYPE_SIZE[typ] * cnt
            src = at + 8 if size <= 4 else struct.unpack(en + "I", b[at + 8 : at + 12])[0]
            raw = b[src : src + size]
            if typ == 3:
                vals = list(struct.unpack(en + f"{cnt}H", raw))
            elif typ == 4:
                vals = list(struct.unpack(en + f"{cnt}I", raw))
            else:
                vals = list(raw)
            tags[tag] = vals
        width = tags.get(256, [0])[0]
        height = tags.get(257, [0])[0]
        if not width or not height:
            return None
        spp = tags.get(277, [1])[0]
        bits = tags.get(258, [8] * spp)
        if any(v != 8 for v in bits) or spp not in (1, 3):
            return None
        photo = tags.get(262, [1])[0]
        if photo not in (1, 2):
            return None
        if tags.get(284, [1])[0] != 1:
            return None  # planar configs beyond chunky out of scope
        comp = tags.get(259, [1])[0]
        pred = tags.get(317, [1])[0]
        offsets = tags.get(273)
        if offsets is None:
            return None
        rps = tags.get(278, [height])[0]
        counts = tags.get(279)
        if counts is None or len(counts) != len(offsets):
            return None
        return {
            "width": width, "height": height, "spp": spp, "comp": comp,
            "pred": pred, "offsets": offsets, "counts": counts, "rps": rps,
        }

    def _undo_predictor(raw, row_bytes, spp):
        """Horizontal-differencing undo for one strip (pred == 2)."""
        if np is not None:
            nr = len(raw) // row_bytes
            a = np.frombuffer(raw[: nr * row_bytes], np.uint8).reshape(
                nr, row_bytes
            ).copy()
            for lane in range(min(spp, row_bytes)):
                np.add.accumulate(a[:, lane::spp], axis=1, out=a[:, lane::spp])
            und = bytearray(a.tobytes()) + bytearray(raw[nr * row_bytes :])
            r0 = nr * row_bytes
            for x in range(spp, min(row_bytes, len(und) - r0)):
                und[r0 + x] = (und[r0 + x] + und[r0 + x - spp]) & 0xFF
        else:
            und = bytearray(raw)
            for r0 in range(0, len(und), row_bytes):
                for x in range(spp, min(row_bytes, len(und) - r0)):
                    und[r0 + x] = (und[r0 + x] + und[r0 + x - spp]) & 0xFF
        return bytes(und)

    def _assemble(meta, strip_raws):
        """Truncate / predictor-undo / concat decoded strips; raises on
        short pixel data exactly like the inline ``_decode`` loop did."""
        width, height, spp = meta["width"], meta["height"], meta["spp"]
        rps, pred = meta["rps"], meta["pred"]
        row_bytes = width * spp
        out = bytearray()
        for si, raw in enumerate(strip_raws):
            rows_here = min(rps, height - si * rps)
            raw = raw[: rows_here * row_bytes]
            if pred == 2:
                raw = _undo_predictor(raw, row_bytes, spp)
            out += raw
        if len(out) < width * height * spp:
            raise ValueError("pixel data short")
        return width, height, spp, bytes(out[: width * height * spp])

    def decode_batch(blobs):
        """``decode`` over a batch with the LZW strips of EVERY blob
        decoded in one lockstep-lane pass (``lzw_decode_lanes``) —
        per-blob results identical to ``decode`` (asserted in
        tests/test_codec_parity.py); non-LZW compressions and the
        scalar twin delegate per blob."""
        if np is None:
            return [decode(b) for b in blobs]
        metas: list = []
        datas: list = []
        lane_chunks: list = []
        lane_home: list = []  # parallel: (blob_idx, strip_idx)
        for bi, b in enumerate(blobs):
            b = bytes(b)
            datas.append(b)
            try:
                meta = _parse(b)
            except Exception:
                meta = None
            if meta is not None and meta["comp"] == 5:
                try:
                    for si, (off, cnt) in enumerate(
                        zip(meta["offsets"], meta["counts"])
                    ):
                        chunk = b[off : off + cnt]
                        if len(chunk) < cnt:
                            raise ValueError("strip truncated")
                        lane_chunks.append(chunk)
                        lane_home.append((bi, si))
                except Exception:
                    meta = None
            metas.append(meta)
        lane_out = lzw_decode_lanes(lane_chunks)
        per_blob: dict = {}
        for (bi, si), r in zip(lane_home, lane_out):
            per_blob.setdefault(bi, {})[si] = r
        results: list = []
        for bi, (meta, b) in enumerate(zip(metas, datas)):
            if meta is None:
                results.append(None)
                continue
            if meta["comp"] != 5:
                results.append(decode(b))
                continue
            strips = per_blob.get(bi, {})
            raws = [strips.get(si) for si in range(len(meta["offsets"]))]
            if any(r is None for r in raws):
                results.append(None)  # a failed lane == the scalar raise
                continue
            try:
                results.append(_assemble(meta, raws))
            except Exception:
                results.append(None)
        return results

    def _decode(b):
        meta = _parse(b)
        if meta is None:
            return None
        comp = meta["comp"]
        raws = []
        for off, cnt in zip(meta["offsets"], meta["counts"]):
            chunk = b[off : off + cnt]
            if len(chunk) < cnt:
                raise ValueError("strip truncated")
            if comp == 1:
                raws.append(chunk)
            elif comp == 5:
                raws.append(lzw_decode(chunk))
            elif comp == 32773:
                raws.append(packbits_decode(chunk))
            else:
                return None
        return _assemble(meta, raws)

    return {
        "encode_gray8": encode_gray8,
        "decode": decode,
        "decode_batch": decode_batch,
        "_lzw_encode": lzw_encode,
        "_lzw_decode": lzw_decode,
        "_lzw_decode_lanes": lzw_decode_lanes,
        "_packbits_encode": packbits_encode,
        "_packbits_decode": packbits_decode,
    }


_CODEC = None


def _codec():
    global _CODEC
    if _CODEC is None:
        _CODEC = _build_tiff_codec()
    return _CODEC


def tiff_decode(b: bytes):
    """Driver-side convenience wrapper; workers capture the closure from
    ``_build_tiff_codec()`` directly for by-value shipping."""
    return _codec()["decode"](b)


def tiff_encode_gray8(pixels, width: int, rows_per_strip: int = 8,
                      compression: int = 5, predictor: int = 2) -> bytes:
    return _codec()["encode_gray8"](pixels, width, rows_per_strip, compression, predictor)
