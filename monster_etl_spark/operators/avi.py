"""MJPEG-in-AVI video frame extraction in pure stdlib Python.

With RIFF walking (``operators/wav.py``) and a baseline JPEG decoder
(``operators/jpeg.py``) already in the repo, the classic
motion-JPEG-in-AVI container is decodable end to end with no codec
library — which upgrades the video path from "frame-sample ids over
metadata" to REAL frame decode:

- ``avi_mjpeg_frames``: parses the RIFF/AVI structure, walks the
  ``movi`` LIST (directly or via nested ``rec `` lists), and returns the
  compressed video chunks (``..dc``/``..db`` stream data) in order —
  each one a complete JPEG for an MJPEG file. Frame pixel decode is then
  ``operators/jpeg.jpeg_decode``. Returns ``None`` on malformed input
  (the media-codec contract); non-MJPEG codecs simply yield frames that
  ``jpeg_decode`` reports as undecodable rather than raising.
- ``avi_encode_mjpeg``: minimal writer (avih + one video strl, movi with
  ``00dc`` chunks, idx1) for fixtures and round-trip tests.

Inter-frame aspects (fps timing, audio interleave) are container
metadata, not pixels — fps is returned from ``avih`` when present.

Defined inside ``_build_avi_codec`` for by-value closure shipping.
"""

from __future__ import annotations


def _build_avi_codec():
    import struct

    def encode_mjpeg(frames, width, height, fps=10):
        """Single-video-stream AVI wrapping pre-encoded JPEG ``frames``."""
        movi_items = b""
        idx = b""
        offset = 4  # idx1 offsets are relative to the start of 'movi'
        for f in frames:
            pad = len(f) & 1
            movi_items += b"00dc" + struct.pack("<I", len(f)) + f + b"\x00" * pad
            idx += b"00dc" + struct.pack("<III", 0x10, offset, len(f))
            offset += 8 + len(f) + pad
        movi = b"LIST" + struct.pack("<I", 4 + len(movi_items)) + b"movi" + movi_items
        usec_per_frame = int(1_000_000 / max(1, fps))
        avih = b"avih" + struct.pack(
            "<I14I",
            56,
            usec_per_frame, 0, 0, 0x10, len(frames), 0, 1, 0,
            width, height, 0, 0, 0, 0,
        )
        strh = b"strh" + struct.pack(
            "<I4s4sIHHIIIIIIIIhhhh",
            56, b"vids", b"MJPG", 0, 0, 0, 0, 1, fps, 0, len(frames),
            0, 0xFFFFFFFF, 0, 0, 0, width, height,
        )
        strf = b"strf" + struct.pack(
            "<II2i2H6I", 40, 40, width, height, 1, 24, 0x47504A4D, 0, 0, 0, 0, 0
        )
        strl = b"LIST" + struct.pack("<I", 4 + len(strh) + len(strf)) + b"strl" + strh + strf
        hdrl = b"LIST" + struct.pack("<I", 4 + len(avih) + len(strl)) + b"hdrl" + avih + strl
        idx1 = b"idx1" + struct.pack("<I", len(idx)) + idx
        body = b"AVI " + hdrl + movi + idx1
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def encode_dib(frames, width, height, fps=10):
        """Single-video-stream AVI with UNCOMPRESSED frames: each entry
        of ``frames`` is ``width*height`` top-down grayscale bytes,
        stored as bottom-up 24-bit BGR DIB rows (4-byte stride padding)
        in ``00db`` chunks — the ``BI_RGB`` raw-video layout."""
        stride = (3 * width + 3) & ~3
        datas = []
        if frames:
            import numpy as np

            # pooled DIB build: flip + gray->BGR expand + stride pad for
            # ALL frames in four numpy ops. Over-length frames are
            # truncated to width*height (np.frombuffer(count=...)).
            fa = np.stack(
                [
                    np.frombuffer(bytes(f), np.uint8, count=height * width)
                    for f in frames
                ]
            ).reshape(len(frames), height, width)
            flip = fa[:, ::-1, :]
            padded = np.zeros((len(frames), height, stride), np.uint8)
            padded[:, :, : 3 * width] = np.repeat(
                flip[..., None], 3, axis=3
            ).reshape(len(frames), height, 3 * width)
            datas = [padded[i].tobytes() for i in range(len(frames))]
        movi_items = b""
        idx = b""
        offset = 4
        for data in datas:
            movi_items += b"00db" + struct.pack("<I", len(data)) + data
            idx += b"00db" + struct.pack("<III", 0x10, offset, len(data))
            offset += 8 + len(data)
        movi = b"LIST" + struct.pack("<I", 4 + len(movi_items)) + b"movi" + movi_items
        usec_per_frame = int(1_000_000 / max(1, fps))
        avih = b"avih" + struct.pack(
            "<I14I",
            56,
            usec_per_frame, 0, 0, 0x10, len(frames), 0, 1, 0,
            width, height, 0, 0, 0, 0,
        )
        strh = b"strh" + struct.pack(
            "<I4s4sIHHIIIIIIIIhhhh",
            56, b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0, len(frames),
            0, 0xFFFFFFFF, 0, 0, 0, width, height,
        )
        strf = b"strf" + struct.pack(
            "<II2i2H6I", 40, 40, width, height, 1, 24, 0, stride * height, 0, 0, 0, 0
        )
        strl = b"LIST" + struct.pack("<I", 4 + len(strh) + len(strf)) + b"strl" + strh + strf
        hdrl = b"LIST" + struct.pack("<I", 4 + len(avih) + len(strl)) + b"hdrl" + avih + strl
        idx1 = b"idx1" + struct.pack("<I", len(idx)) + idx
        body = b"AVI " + hdrl + movi + idx1
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def frames(b):
        """-> (fps_or_None, [compressed frame bytes]) or None."""
        ex = frames_ex(b)
        return None if ex is None else (ex[0], ex[2])

    def frames_ex(b):
        """-> (fps_or_None, fmt_or_None, [frame chunk bytes]) or None.
        ``fmt`` is the first ``vids`` stream's BITMAPINFOHEADER summary:
        ``{"compression": int, "width": int, "height": int, "bpp": int}``
        (compression 0 = BI_RGB raw DIB, else a fourcc like MJPG)."""
        try:
            return _frames_ex(bytes(b))
        except Exception:
            return None

    def _walk_movi(b, start, end, out):
        i = start
        while i + 8 <= end:
            tag = b[i : i + 4]
            ln = struct.unpack("<I", b[i + 4 : i + 8])[0]
            body_start = i + 8
            if tag == b"LIST" and b[body_start : body_start + 4] == b"rec ":
                _walk_movi(b, body_start + 4, body_start + ln - 4, out)
            elif tag[2:4] in (b"dc", b"db"):
                out.append(b[body_start : body_start + ln])
            i = body_start + ln + (ln & 1)

    def _walk_hdrl(b, start, end, state):
        i = start
        while i + 8 <= end:
            tag = b[i : i + 4]
            ln = struct.unpack("<I", b[i + 4 : i + 8])[0]
            body_start = i + 8
            if tag == b"avih":
                upf = struct.unpack("<I", b[body_start : body_start + 4])[0]
                if upf:
                    state["fps"] = round(1_000_000 / upf, 3)
            elif tag == b"LIST" and b[body_start : body_start + 4] == b"strl":
                j = body_start + 4
                is_vids = False
                while j + 8 <= body_start + ln - 4:
                    ctag = b[j : j + 4]
                    cln = struct.unpack("<I", b[j + 4 : j + 8])[0]
                    if ctag == b"strh":
                        is_vids = b[j + 8 : j + 12] == b"vids"
                    elif ctag == b"strf" and is_vids and state["fmt"] is None and cln >= 40:
                        (_sz, w, h, _planes, bpp, comp) = struct.unpack(
                            "<IiiHHI", b[j + 8 : j + 28]
                        )
                        state["fmt"] = {
                            "compression": comp,
                            "width": w,
                            "height": abs(h),
                            "bpp": bpp,
                        }
                    j += 8 + cln + (cln & 1)
            i = body_start + ln + (ln & 1)

    def _frames_ex(b):
        if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
            return None
        state = {"fps": None, "fmt": None}
        out = []
        i = 12
        while i + 8 <= len(b):
            tag = b[i : i + 4]
            ln = struct.unpack("<I", b[i + 4 : i + 8])[0]
            body_start = i + 8
            if tag == b"LIST":
                kind = b[body_start : body_start + 4]
                if kind == b"movi":
                    _walk_movi(b, body_start + 4, body_start + ln - 4, out)
                elif kind == b"hdrl":
                    _walk_hdrl(b, body_start + 4, body_start + ln - 4, state)
            i = body_start + ln + (ln & 1)
        if not out:
            return None
        return state["fps"], state["fmt"], out

    return {
        "encode_mjpeg": encode_mjpeg,
        "encode_dib": encode_dib,
        "frames": frames,
        "frames_ex": frames_ex,
    }


_CODEC = None


def _codec():
    global _CODEC
    if _CODEC is None:
        _CODEC = _build_avi_codec()
    return _CODEC


def avi_mjpeg_frames(b: bytes):
    """Driver-side convenience wrapper; workers capture the closure from
    ``_build_avi_codec()`` directly for by-value shipping."""
    return _codec()["frames"](b)


def avi_encode_mjpeg(frames, width: int, height: int, fps: int = 10) -> bytes:
    return _codec()["encode_mjpeg"](frames, width, height, fps)


def avi_frames_ex(b: bytes):
    """Like ``avi_mjpeg_frames`` but also returns the video stream's
    BITMAPINFOHEADER summary so raw-DIB chunks can be decoded."""
    return _codec()["frames_ex"](b)


def avi_encode_dib(frames, width: int, height: int, fps: int = 10) -> bytes:
    """Uncompressed (BI_RGB 24-bit DIB) single-stream AVI writer."""
    return _codec()["encode_dib"](frames, width, height, fps)
