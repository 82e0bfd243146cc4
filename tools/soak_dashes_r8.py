"""Round-8 focused sf10 soak: the three SCALE.md dash queries plus the
round-8-touched media queries, warm best-of-2 (one-off; results land in
SCALE.md's media decade table)."""
import sys, time, json
sys.path.insert(0, "/root/repo")
from monster_etl_spark import get_spark
from monster_etl_spark.queries import all_queries
import bench
spark = get_spark(app_name="sf10-dashes")
bench._warm_python_workers(spark)
reg = all_queries()
sf = "/root/repo/.scaledata/sf10"
for q in ["multimodal_png_interlaced_stats", "multimodal_g711_ulaw_stats",
          "multimodal_g711_alaw_stats", "multimodal_adpcm_sample_stats",
          "multimodal_gif_frame_stats", "multimodal_tiff_pixel_stats",
          "multimodal_webp_pixel_stats", "multimodal_jpeg_pixel_stats"]:
    fn = reg[q].fn
    times=[]
    for i in range(2):
        t0=time.perf_counter(); fn(spark, sf).write.format("noop").mode("overwrite").save()
        times.append(round(time.perf_counter()-t0,1))
    print(json.dumps({"q": q, "sf": 10, "runs": times, "best": min(times)}), flush=True)
spark.stop()
