"""PNG codec in Python and numpy — the full common-web subset.

Supersedes the first-round inline decoder (which handled 8-bit
non-interlaced gray/RGB/GA/RGBA only) with everything the PNG spec's
common web profile needs:

- ``png_decode``: bit depths 1/2/4/8 for grayscale (ctype 0) and
  palette (ctype 3, PLTE expanded to RGB like the GIF/BMP decoders),
  8-bit RGB / gray+alpha / RGBA (ctypes 2/4/6); all five scanline
  filters (None/Sub/Up/Average/Paeth) with the byte-level bpp offset
  the spec prescribes for sub-byte depths; and BOTH interlace methods —
  null and **Adam7** (seven sub-images, each independently filtered,
  scattered on the 8x8 grid). Sub-byte gray samples are scaled to
  8-bit (``v * 255 / maxv``). 16-bit depth stays out of scope
  (documented; returns ``None``). Returns ``(width, height, channels,
  pixel bytes)`` or ``None`` on malformed input — the never-raise
  media contract.
- ``png_encode_gray8``: 8-bit grayscale writer, null or Adam7
  interlace (each pass filter-0), for fixtures and the registry
  adapters. Lossless both ways, so the analytic PNG oracle applies
  verbatim to the interlaced query while the decode path exercises the
  pass geometry for real.

Defined inside ``_build_png_codec`` for by-value closure shipping
(cloudpickle ships the nested functions wholesale into ``mapInPandas``
workers).
"""

from __future__ import annotations


def _build_png_codec():
    """Build the codec closures. The batch-parallel stages run in numpy
    with EXACT integer arithmetic — scanline unfilter for types
    None/Sub/Up (uint8 adds wrap mod 256; Sub is a per-lane
    ``np.add.accumulate``), sub-byte sample unpacking (``np.unpackbits``
    + grouped weights), Adam7 pass scatter (strided assignment), palette
    expansion (fancy indexing) and gray scaling (``v * 255 // maxv``).
    Average/Paeth rows have a true left-neighbor data dependency and run
    a per-byte loop (this repo's encoder emits filter 0 only; hand-built
    streams in tests/test_multimodal.py cover all five filters)."""
    import struct
    import zlib

    import numpy as np

    # Adam7 pass geometry: (x0, y0, dx, dy)
    ADAM7 = (
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    )

    def decode(b):
        try:
            return _decode(bytes(b))
        except Exception:
            return None

    def _parse(b):
        """Header + chunk walk: (width, height, depth, ctype, channels,
        interlace, plte, raw) or None."""
        if len(b) < 33 or b[:8] != b"\x89PNG\r\n\x1a\n" or b[12:16] != b"IHDR":
            return None
        width = int.from_bytes(b[16:20], "big")
        height = int.from_bytes(b[20:24], "big")
        depth, ctype, _comp, _filt, interlace = b[24:29]
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
        if channels is None or interlace not in (0, 1) or not width or not height:
            return None
        if depth == 8:
            pass
        elif depth in (1, 2, 4) and ctype in (0, 3):
            pass
        else:
            return None  # 16-bit and invalid depth/ctype combos out of scope

        idat = bytearray()
        plte = None
        i = 8
        while i + 8 <= len(b):
            ln = int.from_bytes(b[i : i + 4], "big")
            tag = b[i + 4 : i + 8]
            if tag == b"IDAT":
                idat += b[i + 8 : i + 8 + ln]
            elif tag == b"PLTE":
                plte = b[i + 8 : i + 8 + ln]
            elif tag == b"IEND":
                break
            i += 12 + ln
        if ctype == 3 and (plte is None or len(plte) % 3):
            return None
        raw = zlib.decompress(bytes(idat))
        return width, height, depth, ctype, channels, interlace, plte, raw

    def _unfilter(raw, off, pw, ph, bpp, stride):
        """Reverse scanline filters for one (sub-)image of ``ph`` rows of
        ``stride`` bytes; ``bpp`` is the byte offset to the left
        neighbor (max(1, bits_per_pixel // 8)). Types 0/2 are whole-row
        uint8 adds (wrapping mod 256), type 1 is a per-lane modular
        prefix sum; types 3/4 (left-neighbor data dependency) run a
        per-byte loop on that row. Returns a (ph, stride) array or None."""
        rows_out = np.empty((ph, stride), np.uint8)
        prev = np.zeros(stride, np.uint8)
        for y in range(ph):
            rs = off + y * (stride + 1)
            if rs >= len(raw):
                return None
            ftype = raw[rs]
            line = np.frombuffer(raw[rs + 1 : rs + 1 + stride], np.uint8)
            if line.size != stride:
                return None
            if ftype == 0:
                cur = line.copy()
            elif ftype == 1:  # Sub: per-lane modular prefix sum
                cur = line.copy()
                for lane in range(min(bpp, stride)):
                    np.add.accumulate(cur[lane::bpp], out=cur[lane::bpp])
            elif ftype == 2:  # Up
                cur = line + prev
            elif ftype in (3, 4):  # Average/Paeth: sequential left dep
                sl = bytearray(line.tobytes())
                pv = prev.tobytes()
                if ftype == 3:
                    for x in range(stride):
                        a = sl[x - bpp] if x >= bpp else 0
                        sl[x] = (sl[x] + ((a + pv[x]) >> 1)) & 0xFF
                else:
                    for x in range(stride):
                        a = sl[x - bpp] if x >= bpp else 0
                        c = pv[x - bpp] if x >= bpp else 0
                        p = a + pv[x] - c
                        pa, pb, pc = abs(p - a), abs(p - pv[x]), abs(p - c)
                        pred = (
                            a
                            if (pa <= pb and pa <= pc)
                            else (pv[x] if pb <= pc else c)
                        )
                        sl[x] = (sl[x] + pred) & 0xFF
                cur = np.frombuffer(bytes(sl), np.uint8)
            else:
                return None
            rows_out[y] = cur
            prev = cur
        return rows_out

    def _decode(b):
        parsed = _parse(b)
        if parsed is None:
            return None
        width, height, depth, ctype, channels, interlace, plte, raw = parsed
        bits = depth * channels
        bpp = max(1, bits // 8)
        passes = ADAM7 if interlace else ((0, 0, 1, 1),)
        target = np.zeros((height, width, channels), np.uint8)
        covered = np.zeros((height, width), bool)
        off = 0
        for x0, y0, dx, dy in passes:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            stride = (pw * bits + 7) // 8
            rows = _unfilter(raw, off, pw, ph, bpp, stride)
            if rows is None:
                return None
            off += ph * (stride + 1)
            if depth == 8:
                samples = rows[:, : pw * channels].reshape(ph, pw, channels)
            else:
                # MSB-first sub-byte samples: unpack to bits, group per
                # sample, recombine with the same shift weights
                bitarr = np.unpackbits(rows, axis=1)[:, : pw * depth]
                weights = (1 << np.arange(depth - 1, -1, -1, dtype=np.uint8))
                samples = (
                    (bitarr.reshape(ph, pw, depth) * weights)
                    .sum(axis=2, dtype=np.uint8)
                    .reshape(ph, pw, 1)
                )
            target[y0::dy, x0::dx] = samples
            covered[y0::dy, x0::dx] = True
        if off != len(raw):
            return None
        if not covered.all():
            return None
        if ctype == 3:
            npal = len(plte) // 3
            idx = target[:, :, 0]
            if int(idx.max()) >= npal:
                return None
            pala = np.frombuffer(plte[: 3 * npal], np.uint8).reshape(npal, 3)
            return width, height, 3, pala[idx].tobytes()
        if depth < 8:  # single-channel gray, scale to 8-bit
            maxv = (1 << depth) - 1
            scaled = (target[:, :, 0].astype(np.uint16) * 255 // maxv).astype(
                np.uint8
            )
            return width, height, 1, scaled.tobytes()
        return width, height, channels, target.tobytes()

    def encode_gray8(pixels, width, interlace=False):
        pixels = bytes(pixels)
        h = max(1, -(-len(pixels) // width))
        padded = pixels.ljust(width * h, b"\x00")

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body))
                + tag
                + body
                + struct.pack(">I", zlib.crc32(tag + body))
            )

        if not interlace:
            raw = b"".join(
                b"\x00" + padded[y * width : (y + 1) * width] for y in range(h)
            )
        else:
            arr = np.frombuffer(padded, np.uint8).reshape(h, width)
            parts = []
            for x0, y0, dx, dy in ADAM7:
                pw = (width - x0 + dx - 1) // dx
                ph = (h - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                sub = arr[y0::dy, x0::dx]
                parts.extend(b"\x00" + sub[ry].tobytes() for ry in range(ph))
            raw = b"".join(parts)
        ihdr = struct.pack(">IIBBBBB", width, h, 8, 0, 0, 0, 1 if interlace else 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6))
            + chunk(b"IEND", b"")
        )

    return {
        "decode": decode,
        "encode_gray8": encode_gray8,
    }


def _codec():
    global _C
    try:
        return _C
    except NameError:
        _C = _build_png_codec()
        return _C


def png_full_decode(b: bytes):
    """Decode a PNG blob to ``(width, height, channels, pixel_bytes)``
    or ``None`` — including Adam7, palette and sub-byte depths."""
    return _codec()["decode"](b)


def png_encode_gray8_full(pixels: bytes, width: int, interlace: bool = False) -> bytes:
    """Encode gray bytes as an 8-bit grayscale PNG, optionally Adam7."""
    return _codec()["encode_gray8"](pixels, width, interlace)
