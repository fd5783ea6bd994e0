"""spark-submit entry point: the flagship pages-per-zone job with
lineage checkpointing (north rule shape:
  spark-submit --py-files geokit_spark.zip scripts/job_zone_counts.py \
      --input <pages parquet> --output <dir> --checkpoint <dir>).

On a cluster the same file runs unmodified — the session factory only
pins local[] when no master is configured."""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="/root/testdata/sf0.01/documents.parquet")
    ap.add_argument("--output", default="/tmp/geokit_spark_out")
    ap.add_argument("--checkpoint", default="/tmp/geokit_spark_ckpt")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    builder = SparkSession.builder.appName("geokit_spark_zone_counts")
    if not SparkSession.getActiveSession():
        builder = builder.config("spark.sql.adaptive.enabled", "true").config(
            "spark.sql.adaptive.skewJoin.enabled", "true"
        )
    spark = builder.getOrCreate()

    from geokit_spark.functions.geo import join_cell_id, with_geocode
    from geokit_spark.operators.spatial_join import docs_join_zones
    from geokit_spark.plans.lineage import CheckpointTable

    docs = spark.read.parquet(args.input)
    pairs = docs_join_zones(spark, docs)
    # stage boundary with lineage: cell-keyed, resumable
    ck = CheckpointTable(spark, args.checkpoint)
    cells, rows = ck.run_stage("zone_pairs", pairs, cell_col="cell_id")
    counts = (
        ck.data("zone_pairs")
        .groupBy("zone_id")
        .agg(F.count("*").alias("n_docs"))
    )
    counts.write.mode("overwrite").parquet(args.output)
    print(f"zone_pairs: {cells} new cells, {rows} rows; output -> {args.output}")
    spark.stop()


if __name__ == "__main__":
    main()
