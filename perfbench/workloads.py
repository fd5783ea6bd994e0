"""The four benchmark workloads.

A workload owns its sizes, its seeded inputs, its fixture build (the
set-up that ``setup_s`` times) and an ordered list of queries. A query
is a callable that runs one library call end to end and returns a
small value to check; a callable returned in its place is evaluated
after the clock stops, so read-backs that only serve the check are not
timed.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from geokit_spark.functions.geo import cell_cols
from geokit_spark.operators import extract_values as ev
from geokit_spark.operators import spatial_join, zonal
from geokit_spark.operators.knn import knn
from geokit_spark.sources import tiles as tilesrc

from . import expect, gen


def _zone_map(rows) -> dict:
    return {int(r[0]): int(r[1]) for r in rows}


class Workload:
    name = ""
    ops: tuple = ()  # query names, in the order queries() returns them

    def __init__(self, seed: int, scale: float, parts: int, workdir: str):
        self.parts = parts
        self.workdir = workdir
        self.n = max(int(self.base_n * scale), 1000)
        self.offset = gen.seed_offset(seed, self.n)

    @property
    def rows(self) -> int:
        """Input rows one pass consumes (the rows_per_s numerator)."""
        return self.n

    def expected(self) -> dict:
        raise NotImplementedError

    def setup(self, spark: SparkSession) -> None:
        """Fixture build, run once per session before any query."""

    def queries(self, spark: SparkSession) -> list:
        raise NotImplementedError

    def floor_frames(self, spark: SparkSession) -> list:
        """The generated input alone, for the noop-sink floor."""
        raise NotImplementedError

    def pass_files(self) -> dict:
        """{write_mb, files_written} of the files the pass just wrote."""
        return {"write_mb": 0.0, "files_written": 0}

    def after_pass(self, spark: SparkSession) -> None:
        """Release what one pass left behind (outside the pass clock)."""


class GeoJoin(Workload):
    """The paper's core queries over geocoded pages. JVM codegen, scan
    and broadcast bound; only the pip boundary band crosses into
    Python and shuffle volume is near zero."""

    name = "geo_join"
    base_n = 300_000
    ops = ("pip_region_semi_join", "pip_zones_join", "knn_ring", "tiling_cell_counts",
           "extract_values", "zonal_stats")

    def expected(self):
        return expect.geo_join(self.n, self.offset)

    def setup(self, spark):
        self.clc = tilesrc.raster_table(spark, "clc").cache()
        self.elev = tilesrc.raster_table(spark, "elev").cache()
        self.clc.count(), self.elev.count()

    def floor_frames(self, spark):
        return [gen.geo_pages(spark, self.n, self.offset, self.parts)]

    def queries(self, spark):
        pages = gen.geo_pages(spark, self.n, self.offset, self.parts)
        ids = pages.select("doc_id")
        cx, cy = cell_cols(F.col("lon"), F.col("lat"))
        return [
            ("pip_region_semi_join", lambda: spatial_join.docs_in_region(spark, ids).count()),
            ("pip_zones_join", lambda: _zone_map(
                spatial_join.docs_join_zones(spark, ids).groupBy("zone_id").count().collect())),
            ("knn_ring", lambda: sorted(
                (r["query_id"], r["rank"], r["doc_id"]) for r in knn(spark, pages, k=expect.KNN_K).collect())),
            ("tiling_cell_counts", lambda: tuple(
                pages.select(cx.alias("cx"), cy.alias("cy")).groupBy("cx", "cy")
                .agg(F.count("*").alias("n")).agg(F.sum("n"), F.count("*")).collect()[0])),
            ("extract_values", lambda: ev.extract_values(pages, self.clc, "v").agg(F.sum("v")).collect()[0][0]),
            ("zonal_stats", lambda: {
                r["zone_id"]: (r["n_pix"], r["sum_v"])
                for r in zonal.zonal_stats(self.elev).select("zone_id", "n_pix", "sum_v").collect()}),
        ]


class CrawlFunnel(Workload):
    """The input_hint page table: corpus funnel, html extraction and
    pagerank. The Arrow crossing, the Python extractor, the dedup
    exchange and the only persisted, iterated state."""

    name = "crawl_funnel"
    base_n = 15_000
    ops = ("corpus_pipeline", "html_extract", "pagerank")

    @property
    def rows(self):
        # the funnel reads 2n crawl pages, the extractor n pages and
        # pagerank n nodes
        return 4 * self.n

    def expected(self):
        return expect.crawl_funnel(self.n, self.offset)

    def floor_frames(self, spark):
        nodes, edges = gen.link_graph(spark, self.n, self.offset, self.parts)
        from geokit_spark.sources.pages import pages_from_docs

        return [
            gen.crawl(spark, self.n, self.offset, self.parts),
            pages_from_docs(gen.html_docs(spark, self.n, self.offset, self.parts)),
            edges,
        ]

    def queries(self, spark):
        from geokit_spark.operators.pipeline import corpus_funnel
        from geokit_spark.operators.webgraph import pagerank
        from geokit_spark.sources.pages import extract_text, pages_from_docs

        crawl = gen.crawl(spark, self.n, self.offset, self.parts)
        html = pages_from_docs(gen.html_docs(spark, self.n, self.offset, self.parts))
        nodes, edges = gen.link_graph(spark, self.n, self.offset, self.parts)
        return [
            ("corpus_pipeline", lambda: tuple(
                corpus_funnel(spark, crawl).agg(F.sum("n_docs"), F.sum("sum_words")).collect()[0])),
            ("html_extract", lambda: extract_text(html).select(
                F.sum(F.octet_length("text_extracted"))).collect()[0][0]),
            ("pagerank", lambda: pagerank(edges, nodes, iters=3).agg(F.sum("s")).collect()[0][0]),
        ]

    def after_pass(self, spark):
        # pagerank persists its edge set; release it by the public call
        spark.catalog.clearCache()


class AnnTopk(Workload):
    """Bucketed LSH top-k over packed embeddings with float32 and int8
    shipped cells: the largest shuffle and Arrow volume per row."""

    name = "ann_topk"
    base_n = 30_000
    ops = ("ann_topk_large", "ann_topk_large_q8")

    def expected(self):
        return expect.ann_topk(self.n)

    def floor_frames(self, spark):
        return [gen.embeddings(spark, self.n, self.offset, self.parts)]

    def queries(self, spark):
        from geokit_spark.operators.similarity import ann_topk_bucketed, suggest_n_planes

        n_planes = suggest_n_planes(self.n, target_bucket=64)

        def run(quantize):
            return ann_topk_bucketed(
                gen.embeddings(spark, self.n, self.offset, self.parts),
                k=expect.ANN_K, n_planes=n_planes, n_tables=2,
                n_partitions=self.parts, binary_dtype="float32", quantize=quantize,
            ).count()

        return [
            ("ann_topk_large", lambda: run(None)),
            ("ann_topk_large_q8", lambda: run("int8")),
        ]


class TileStore(Workload):
    """Writes beside reads: a Morton-sorted vector write, a cell-keyed
    lineage stage, its no-op resume, verification and a bbox scan of
    the written layer. The only workload with file I/O."""

    name = "tile_store"
    base_n = 30_000
    ops = ("zorder_write", "lineage_stage", "lineage_resume", "lineage_verify", "range_scan")
    stage = "cells"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_pass = 0

    def expected(self):
        return expect.tile_store(self.n, self.offset)

    def floor_frames(self, spark):
        return [gen.geo_pages(spark, self.n, self.offset, self.parts)]

    def _dir(self):
        return os.path.join(self.workdir, f"tile_store-{self.n_pass}")

    def queries(self, spark):
        from geokit_spark.plans.lineage import CheckpointTable
        from geokit_spark.sources.vector_io import create_vector_zordered, load_vector

        pages = gen.geo_pages(spark, self.n, self.offset, self.parts)
        x0, y0, x1, y1 = expect.range_box()
        ctx = {}

        def write():
            ctx["vec"] = os.path.join(self._dir(), "vec")
            ctx["ckpt"] = CheckpointTable(spark, os.path.join(self._dir(), "ckpt"))
            create_vector_zordered(pages, ctx["vec"], n_files=self.parts)
            return lambda: load_vector(spark, ctx["vec"]).count()

        def verify():
            v = ctx["ckpt"].verify_stage(self.stage).agg(
                F.count("*"), F.sum(F.col("ok").cast("long"))).collect()[0]
            rows = ctx["ckpt"].lineage().filter(F.col("stage") == self.stage).agg(
                F.sum("row_count")).collect()[0][0]
            return (v[0], v[1], rows)

        def scan():
            box = (F.col("lon") >= x0) & (F.col("lon") < x1) & (F.col("lat") >= y0) & (F.col("lat") < y1)
            return load_vector(spark, ctx["vec"]).filter(box).count()

        return [
            ("zorder_write", write),
            ("lineage_stage", lambda: ctx["ckpt"].run_stage(self.stage, load_vector(spark, ctx["vec"]))),
            ("lineage_resume", lambda: ctx["ckpt"].run_stage(self.stage, load_vector(spark, ctx["vec"]))),
            ("lineage_verify", verify),
            ("range_scan", scan),
        ]

    def pass_files(self):
        vec = os.path.join(self._dir(), "vec")
        files = [f for f in os.listdir(vec) if f.endswith(".parquet")]
        return {
            "write_mb": sum(os.path.getsize(os.path.join(vec, f)) for f in files) / float(1 << 20),
            "files_written": len(files),
        }

    def after_pass(self, spark):
        shutil.rmtree(self._dir(), ignore_errors=True)
        self.n_pass += 1


class Composite(Workload):
    """Several workloads run as one: one session, one set-up of each
    part, and each pass runs every part's queries in turn. Its name
    joins the part names with '-'."""

    def __init__(self, members: list):
        self.members = members
        self.name = "-".join(m.name for m in members)
        self.ops = tuple(q for m in members for q in m.ops)
        self.n = sum(m.n for m in members)
        self.offset = members[0].offset
        self.parts = members[0].parts

    @property
    def rows(self):
        return sum(m.rows for m in self.members)

    def expected(self):
        return {k: v for m in self.members for k, v in m.expected().items()}

    def setup(self, spark):
        for m in self.members:
            m.setup(spark)

    def queries(self, spark):
        return [q for m in self.members for q in m.queries(spark)]

    def floor_frames(self, spark):
        return [df for m in self.members for df in m.floor_frames(spark)]

    def pass_files(self):
        files = [m.pass_files() for m in self.members]
        return {k: sum(f[k] for f in files) for k in files[0]}

    def after_pass(self, spark):
        for m in self.members:
            m.after_pass(spark)


WORKLOADS = {w.name: w for w in (GeoJoin, CrawlFunnel, AnnTopk, TileStore)}
ALL_OPS = tuple(q for w in WORKLOADS.values() for q in w.ops)


def make_workload(name: str, seed: int, scale: float, parts: int, workdir: str) -> Workload:
    """A workload by name: one of WORKLOADS, or part names joined by
    '-' for a composite."""
    names = name.split("-")
    unknown = [n for n in names if n not in WORKLOADS]
    if unknown:
        raise KeyError(f"unknown workload {unknown[0]!r}; parts are {sorted(WORKLOADS)}")
    wls = [WORKLOADS[n](seed, scale, parts, workdir) for n in names]
    return wls[0] if len(wls) == 1 else Composite(wls)
