"""Media-codec scale soak (round-5 verdict item 3): time every codec
registry query at one or more scale factors with stage metrics and a
decode-throughput column (input MB/s/core — encoded blob bytes the
pipeline both produced and decoded, divided by wall time and cores).

Usage: python tools/soak_media.py [sf_dir ...]   (default sf0.1 + .scaledata/sf1)
Prints one JSON line per (sf, query).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from monster_etl_spark import get_spark  # noqa: E402
from monster_etl_spark import metrics as M  # noqa: E402
from monster_etl_spark.queries import all_queries  # noqa: E402

# query name -> adapter producing the SAME media table (to size the
# encoded-blob stream the query decodes)
MEDIA_QUERIES = [
    "multimodal_png_pixel_stats",
    "multimodal_png_interlaced_stats",
    "multimodal_gif_pixel_stats",
    "multimodal_jpeg_pixel_stats",
    "multimodal_jpeg_progressive_stats",
    "multimodal_gif_frame_stats",
    "multimodal_video_frame_stats",
    "multimodal_video_dib_frame_stats",
    "multimodal_tiff_pixel_stats",
    "multimodal_bmp_pixel_stats",
    "multimodal_webp_pixel_stats",
    "multimodal_wav_sample_stats",
    "multimodal_g711_ulaw_stats",
    "multimodal_g711_alaw_stats",
    "multimodal_adpcm_sample_stats",
    "multimodal_flac_sample_stats",
]


def _blob_bytes(spark, sf_dir: str, name: str) -> int:
    """Total encoded media bytes for the query's fixture adapter."""
    from monster_etl_spark.operators import multimodal as mm
    from monster_etl_spark.queries import load

    docs = load(spark, sf_dir, "documents")
    adapters = {
        "multimodal_png_pixel_stats": lambda: mm.documents_as_png_media(docs),
        "multimodal_png_interlaced_stats": lambda: mm.documents_as_png_media(
            docs, interlaced=True
        ),
        "multimodal_gif_pixel_stats": lambda: mm.documents_as_gif_media(docs),
        "multimodal_jpeg_pixel_stats": lambda: mm.documents_as_jpeg_media(docs),
        "multimodal_jpeg_progressive_stats": lambda: mm.documents_as_jpeg_media(
            docs, progressive=True
        ),
        "multimodal_gif_frame_stats": lambda: mm.documents_as_animated_gif_media(docs),
        "multimodal_video_frame_stats": lambda: mm.documents_as_mjpeg_media(docs),
        "multimodal_video_dib_frame_stats": lambda: mm.documents_as_dib_avi_media(docs),
        "multimodal_tiff_pixel_stats": lambda: mm.documents_as_tiff_media(docs),
        "multimodal_bmp_pixel_stats": lambda: mm.documents_as_bmp_media(docs),
        "multimodal_webp_pixel_stats": lambda: mm.documents_as_webp_media(docs),
        "multimodal_wav_sample_stats": lambda: mm.documents_as_wav_media(docs),
        "multimodal_g711_ulaw_stats": lambda: mm.documents_as_g711_media(docs, law="ulaw"),
        "multimodal_g711_alaw_stats": lambda: mm.documents_as_g711_media(docs, law="alaw"),
        "multimodal_adpcm_sample_stats": lambda: mm.documents_as_adpcm_media(docs),
        "multimodal_flac_sample_stats": lambda: mm.documents_as_flac_media(docs),
    }
    media = adapters[name]()
    row = media.agg(F.sum(F.octet_length("content"))).collect()[0][0]
    return int(row or 0)


def main() -> None:
    # optional comma-separated filter for the decade-up runs (cheap codecs
    # only — the Huffman-tier queries are measured at sf0.1/sf1)
    only = os.environ.get("SOAK_MEDIA_QUERIES")
    if only:
        keep = {q.strip() for q in only.split(",")}
        MEDIA_QUERIES[:] = [q for q in MEDIA_QUERIES if q in keep]
    dirs = sys.argv[1:] or [
        "/root/testdata/sf0.1",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     ".scaledata", "sf1"),
    ]
    registry = all_queries()
    spark = get_spark(app_name="media-soak")
    cores = spark.sparkContext.defaultParallelism
    registry["t3_extract_fields"].fn(spark, dirs[0]).write.format("noop").mode(
        "overwrite"
    ).save()
    for d in dirs:
        if not os.path.isdir(d):
            continue
        for name in MEDIA_QUERIES:
            nbytes = _blob_bytes(spark, d, name)
            best = float("inf")
            dm_best = None
            for _ in range(2):
                before = M.snapshot(spark)
                t0 = time.perf_counter()
                registry[name].fn(spark, d).write.format("noop").mode("overwrite").save()
                el = time.perf_counter() - t0
                if el < best:
                    best = el
                    dm_best = M.delta(before, M.snapshot(spark))
            print(
                json.dumps(
                    {
                        "sf_dir": d,
                        "query": name,
                        "sec": round(best, 2),
                        "blob_mb": round(nbytes / 1e6, 1),
                        "mb_s_core": round(nbytes / 1e6 / best / cores, 3),
                        "metrics": dm_best,
                    }
                ),
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
