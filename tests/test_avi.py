"""MJPEG-in-AVI: container round-trips, nested rec-lists, odd-length
chunk padding, fps metadata, junk immunity, and the per-frame stats pass."""

import struct

from monster_etl_spark.operators.avi import avi_encode_mjpeg, avi_mjpeg_frames
from monster_etl_spark.operators.jpeg import jpeg_decode, jpeg_encode_gray8


def test_roundtrip_frames_bit_identical():
    frames = [
        jpeg_encode_gray8(bytes([10] * 64), 8),
        jpeg_encode_gray8(bytes([200] * 64), 8),
        jpeg_encode_gray8(bytes(range(64)), 8),
    ]
    fps, got = avi_mjpeg_frames(avi_encode_mjpeg(frames, 8, 8, fps=5))
    assert fps == 5.0
    assert got == frames
    assert jpeg_decode(got[0])[3][0] == 10 and jpeg_decode(got[1])[3][0] == 200


def test_odd_length_frame_padding():
    # force an odd-length frame payload: JPEG bytes plus nothing — craft
    # a fake 3-byte "frame" to exercise word alignment in both directions
    frames = [b"abc", b"defg"]
    fps, got = avi_mjpeg_frames(avi_encode_mjpeg(frames, 8, 8))
    assert got == frames


def test_nested_rec_list_walked():
    """Some muxers wrap movi chunks in 'rec ' sub-lists; hand-build one."""
    f = b"frame-bytes"
    inner = b"00dc" + struct.pack("<I", len(f)) + f + b"\x00"  # odd + pad
    rec = b"LIST" + struct.pack("<I", 4 + len(inner)) + b"rec " + inner
    movi = b"LIST" + struct.pack("<I", 4 + len(rec)) + b"movi" + rec
    body = b"AVI " + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body
    fps, got = avi_mjpeg_frames(avi)
    assert fps is None and got == [f]


def test_junk_and_empty_return_none():
    assert avi_mjpeg_frames(b"") is None
    assert avi_mjpeg_frames(b"RIFF\x00\x00\x00\x00AVI ") is None
    assert avi_mjpeg_frames(b"RIFF\x00\x00\x00\x00WAVE") is None
    assert avi_mjpeg_frames(b"definitely not a container") is None


def test_extract_video_frame_stats_mixed(spark):
    from monster_etl_spark.operators.multimodal import extract_video_frame_stats

    frames = [jpeg_encode_gray8(bytes([50] * 64), 8), jpeg_encode_gray8(bytes([150] * 64), 8)]
    good = avi_encode_mjpeg(frames, 8, 8, fps=4)
    rows = [(1, bytearray(good)), (2, bytearray(b"junk"))]
    media = spark.createDataFrame(rows, "media_id: long, content: binary")
    got = sorted(
        extract_video_frame_stats(media).collect(),
        key=lambda r: (r.media_id, r.frame_id if r.frame_id is not None else -1),
    )
    assert [r.media_id for r in got] == [1, 1, 2]
    assert got[0].decoded and got[0].mean_intensity == 50.0 and got[0].fps == 4.0
    assert got[1].decoded and got[1].mean_intensity == 150.0 and got[1].frame_id == 1
    assert not got[2].decoded and got[2].frame_id is None


def test_dib_roundtrip_flip_and_stride():
    from monster_etl_spark.operators.avi import avi_encode_dib, avi_frames_ex

    # asymmetric 5x2 frame: flip and stride padding both observable
    top, bottom = bytes((1, 2, 3, 4, 5)), bytes((6, 7, 8, 9, 10))
    b = avi_encode_dib([top + bottom], 5, 2, 25)
    fps, fmt, chunks = avi_frames_ex(b)
    assert fps == 25.0
    assert fmt == {"compression": 0, "width": 5, "height": 2, "bpp": 24}
    stride = (3 * 5 + 3) & ~3  # 16, not 15 — padded
    (fr,) = chunks
    assert len(fr) == stride * 2
    # file stores bottom-up: stored row 0 is the visual BOTTOM row
    assert fr[0:3] == bytes((6, 6, 6)) and fr[stride : stride + 3] == bytes((1, 1, 1))
    assert fr[15] == 0  # stride pad byte


def test_dib_tolerates_overlength_frames():
    """Padded/oversized frames are truncated to width*height
    (np.frombuffer(count=...)) instead of raising on non-uniform lengths."""
    from monster_etl_spark.operators.avi import avi_encode_dib, avi_frames_ex

    exact = bytes(range(10))
    padded = exact + b"\xff" * 7  # over-length: trailing junk ignored
    b_exact = avi_encode_dib([exact, exact], 5, 2, 10)
    b_mixed = avi_encode_dib([exact, padded], 5, 2, 10)
    assert avi_frames_ex(b_exact) == avi_frames_ex(b_mixed)


def test_frames_ex_reports_mjpeg_fourcc():
    from monster_etl_spark.operators.avi import avi_encode_mjpeg, avi_frames_ex
    from monster_etl_spark.operators.jpeg import jpeg_encode_gray8

    j = jpeg_encode_gray8(b"\x40" * 8 * 8, 8, 1)
    _fps, fmt, chunks = avi_frames_ex(avi_encode_mjpeg([j], 8, 8, 10))
    assert fmt["compression"] == 0x47504A4D and len(chunks) == 1  # 'MJPG'


def test_extract_video_frame_stats_dib(spark):
    from monster_etl_spark.operators.multimodal import (
        documents_as_dib_avi_media,
        extract_video_frame_stats,
    )

    docs = spark.createDataFrame(
        [(1, "A" * 32 + "B" * 16), (2, "")], "doc_id long, text string"
    )
    got = sorted(
        extract_video_frame_stats(documents_as_dib_avi_media(docs, frame_bytes=16)).collect(),
        key=lambda r: (r.media_id, r.frame_id),
    )
    assert [(r.media_id, r.frame_id) for r in got] == [(1, 0), (1, 1), (2, 0)]
    assert got[0].decoded and (got[0].width, got[0].height) == (16, 2)
    assert got[0].mean_intensity == float(ord("A"))
    # frame 1: 16 'B's + 16 zero-pad bytes
    assert got[1].mean_intensity == ord("B") * 16 / 32
    assert got[2].decoded and got[2].mean_intensity == 0.0
