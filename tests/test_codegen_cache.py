"""Repeat library calls reuse Spark's compiled generated classes."""

from pyspark.sql import functions as F

from geokit_spark.functions.geo import grid_cell_id, with_geocode
from geokit_spark.operators import extract_values as ev
from geokit_spark.operators import spatial_join, zonal
from geokit_spark.operators.knn import knn
from geokit_spark.operators.pipeline import corpus_funnel
from geokit_spark.operators.webgraph import pagerank
from geokit_spark.sources import tiles as tilesrc


def test_second_round_compiles_nothing(spark, docs, spark_jobs):
    """One round of these calls generates about 140 distinct classes,
    more than Spark's default class cache of 100 holds, so there every
    round recompiled about 120 of them. The session's cache fits them:
    the second round compiles none. (CheckpointTable.run_stage is left
    out: its completed_at literal makes 2 new classes per call.)"""
    elev = tilesrc.raster_table(spark, "elev").cache()
    clc = tilesrc.raster_table(spark, "clc").cache()
    pts = with_geocode(docs.select("doc_id"))
    cells = pts.withColumn("cell_id", grid_cell_id(F.col("lon"), F.col("lat")))
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 0), (4, 0)], ["src_id", "dst_id"]
    )
    nodes = spark.createDataFrame([(v,) for v in range(5)], ["doc_id"])
    crawl = docs.select("doc_id", "text", "lang", "source")

    def repertoire():
        spatial_join.docs_in_region(spark, docs).count()
        spatial_join.docs_join_zones(spark, docs).groupBy("zone_id").count().collect()
        knn(spark, cells, k=5).collect()
        zonal.zonal_stats(elev).collect()
        ev.extract_values(pts, clc, "v").agg(F.sum("v")).collect()
        ranks = pagerank(edges, nodes, iters=3)
        ranks.collect()
        ranks._edge_cache.unpersist()
        corpus_funnel(spark, crawl).collect()

    try:
        with spark_jobs() as cold:
            repertoire()
        with spark_jobs() as warm:
            repertoire()
    finally:
        elev.unpersist()
        clc.unpersist()
    assert cold.compiles is not None
    assert warm.compiles == 0
