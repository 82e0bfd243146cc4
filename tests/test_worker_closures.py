"""Media workers ship by value.

Every ``mapInPandas`` worker the media adapters and extractors build must
reference no module-level name of this package, so cloudpickle serializes
it (and the codec closures it captures) by value and Python workers run
where ``monster_etl_spark`` is not importable: another host, or a driver
started outside the checkout without ``PYTHONPATH``. A single by-reference
global turns into ``ModuleNotFoundError`` inside the worker.

Two checks: every worker (the adapter wrapped by ``pyworkers.trimmed``,
as ``map_in_pandas`` ships it) round-trips through ``pyspark.cloudpickle``
into a child interpreter that cannot import the package and still
encodes, decodes and profiles a small batch there; and one fused query
per shared helper runs end to end from a driver whose working directory
is not the repo and whose environment has no ``PYTHONPATH``."""

import json
import os
import subprocess
import sys
import textwrap

from pyspark import cloudpickle

from monster_etl_spark.operators import multimodal as mm
from monster_etl_spark.pyworkers import trimmed

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _pairs():
    """(name, adapter worker, consumer worker, flag column) — every
    adapter paired with the extractor or profiler that reads its blobs."""
    pixel, video = mm._pixel_stats_worker, mm._video_frame_stats_worker
    audio = mm._audio_stats_worker
    return [
        ("png", mm._png_media_worker(), pixel(), "decoded"),
        ("png_interlaced", mm._png_media_worker(interlaced=True), pixel(), "decoded"),
        ("gif", mm._gif_media_worker(), pixel(), "decoded"),
        ("tiff", mm._tiff_media_worker(), pixel(), "decoded"),
        ("bmp", mm._bmp_media_worker(), pixel(), "decoded"),
        ("webp", mm._webp_media_worker(), pixel(), "decoded"),
        ("jpeg", mm._jpeg_media_worker(), pixel(), "decoded"),
        ("wav", mm._wav_media_worker(), audio(), "decoded"),
        ("g711", mm._g711_media_worker(), audio(), "decoded"),
        ("adpcm", mm._adpcm_media_worker(), audio(), "decoded"),
        ("flac", mm._flac_media_worker(), audio("flac"), "decoded"),
        ("dib_avi", mm._dib_avi_media_worker(), video(), "decoded"),
        ("mjpeg", mm._mjpeg_media_worker(), video(), "decoded"),
        ("animated_gif", mm._animated_gif_media_worker(16, 5),
         mm._gif_frame_stats_worker(), "decoded"),
        ("mixed_audio", mm._mixed_audio_media_worker(), mm._audio_profile_worker(), "profiled"),
        ("jpeg_quality", mm._jpeg_quality_media_worker(), mm._jpeg_profile_worker(), "profiled"),
        ("mp4", mm._mp4_media_worker(), mm._mp4_profile_worker(), "profiled"),
        ("mp3", mm._mp3_media_worker(), mm._mp3_profile_worker(), "profiled"),
        ("ogg", mm._ogg_media_worker(), mm._ogg_profile_worker(), "profiled"),
        ("webm", mm._webm_media_worker(), mm._webm_profile_worker(), "profiled"),
    ]


_CHILD = textwrap.dedent(
    """
    import json, sys
    sys.modules["monster_etl_spark"] = None  # any import attempt fails
    import pandas as pd
    from pyspark import cloudpickle

    batch = pd.DataFrame({"media_id": [1, 2, 3],
                          "text": ["hello world", "x" * 70, "abc"]})
    out = {}
    for name, blob in cloudpickle.loads(sys.stdin.buffer.read()):
        try:
            adapter, consumer, flag = cloudpickle.loads(blob)
            rows = pd.concat(list(consumer(adapter(iter([batch.copy()])))))
            out[name] = bool(len(rows)) and bool(rows[flag].all())
        except Exception as e:
            out[name] = f"{type(e).__name__}: {e}"
    print(json.dumps(out))
    """
)


def _child_env():
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    return env


def test_workers_unpickle_and_run_without_the_package(tmp_path):
    pairs = _pairs()
    # the adapter goes through the same wrapper map_in_pandas applies
    payload = cloudpickle.dumps(
        [(name, cloudpickle.dumps((trimmed(a), c, flag))) for name, a, c, flag in pairs]
    )
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD],
        input=payload,
        capture_output=True,
        cwd=tmp_path,
        env=_child_env(),
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    got = json.loads(proc.stdout.decode().strip().splitlines()[-1])
    bad = {k: v for k, v in got.items() if v is not True}
    assert not bad, bad
    assert len(got) == len(pairs)


_DRIVER = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[1])  # the driver side only
    from monster_etl_spark.queries.multimodal_queries import (
        multimodal_mp4_box_profile,
        multimodal_png_pixel_stats,
        multimodal_wav_sample_stats,
    )
    from monster_etl_spark.session import get_spark

    spark = get_spark(master="local[2]", shuffle_partitions=2)
    out = {}
    for fn, flag in ((multimodal_png_pixel_stats, "decoded"),
                     (multimodal_wav_sample_stats, "decoded"),
                     (multimodal_mp4_box_profile, "profiled")):
        try:
            rows = fn(spark, sys.argv[2]).collect()
            out[fn.__name__] = bool(rows) and all(r[flag] for r in rows)
        except Exception as e:
            msg = str(e)
            out[fn.__name__] = type(e).__name__ + (
                ": ModuleNotFoundError" if "ModuleNotFoundError" in msg else ""
            )
    spark.stop()
    print(json.dumps(out))
    """
)


def test_fused_queries_run_from_outside_the_repo(tmp_path, sf_dir):
    """One fused query per shared helper (adapter encode, pixel stats,
    audio stats, profile) from a driver in ``tmp_path`` with no
    ``PYTHONPATH``: its Python workers cannot import the package."""
    env = _child_env()
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER, REPO, sf_dir],
        capture_output=True,
        cwd=tmp_path,
        env=env,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    got = json.loads(proc.stdout.decode().strip().splitlines()[-1])
    assert got == {
        "multimodal_png_pixel_stats": True,
        "multimodal_wav_sample_stats": True,
        "multimodal_mp4_box_profile": True,
    }, got
