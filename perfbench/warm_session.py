"""Warm-up run of pdf_cold_job, started with ``spark-submit`` and the
job's settings: one session, one Python task through ``mapInArrow``."""

from pyspark.sql import SparkSession

spark = SparkSession.builder.appName("perfbench-warmup").getOrCreate()
rows = spark.range(64).mapInArrow(lambda batches: batches, "id long").count()
spark.stop()
if rows != 64:
    raise SystemExit(f"warm-up counted {rows} rows, not 64")
