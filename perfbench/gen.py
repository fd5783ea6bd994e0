"""Seeded input generators owned by the benchmark.

Every generator is a pure function of (n, offset): the seed picks the
id offset, the ids pick every value, so the program under test only
ever sees generated rows and the same seed always gives the same
inputs. The Spark generators produce the rows lazily (``spark.range`` +
column expressions, or one ``mapInArrow`` pass for the packed
embeddings); the numpy twins rebuild the same values in-process for
the expected-value computations in ``expect.py``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geokit_spark.functions.geo import grid_cell_cols, grid_cell_id, with_geocode

# Destination multipliers of the crawl's link formula (one per
# out-link slot); a page has 1 + doc_id % 4 out-links.
LINK_MULTS = (7, 13, 31, 97)

# Tail every html_docs text carries, so the extractor decodes entities.
HTML_TAIL = " a&b <c> 'q'"
HTML_TEXT_BYTES = 4 * 32 + len(HTML_TAIL)

# Words per crawl text: "the" + 19 six-character md5 slices.
CRAWL_WORDS = 20

EMB_DIM = 64


def seed_offset(seed: int, n: int) -> int:
    """Id offset for a seed: disjoint id ranges for distinct seeds
    below 1000, and ids stay far below the geocoder's 2^32 exactness
    limit."""
    return (seed % 1000) * max(n, 1)


def geo_pages(spark: SparkSession, n: int, offset: int, parts: int) -> DataFrame:
    """(doc_id, lon, lat, cell_id, cell_x, cell_y) for docs
    offset .. offset + n - 1, geocoded by the library's closed-form
    geocoder."""
    p = spark.range(offset, offset + n, 1, parts).withColumnRenamed("id", "doc_id")
    p = with_geocode(p)
    cx, cy = grid_cell_cols(F.col("lon"), F.col("lat"))
    return p.select(
        "doc_id", "lon", "lat",
        grid_cell_id(F.col("lon"), F.col("lat")),
        cx.alias("cell_x"), cy.alias("cell_y"),
    )


def crawl(spark: SparkSession, n: int, offset: int, parts: int) -> DataFrame:
    """(doc_id, text, lang, source): n docs 0 .. n-1 plus one revisit
    copy each (doc_id + n, same text). Texts are "the" + 19 md5 slices
    of the offset id, so they pass the quality gate and differ per
    seed."""
    base = spark.range(offset, n + offset, 1, parts).select(
        (F.col("id") - offset).alias("doc_id"),
        F.concat(
            F.lit("the "),
            F.array_join(
                F.expr(
                    "transform(sequence(1, 19), j -> substring(md5("
                    "concat(cast(id as string), '-', cast(j as string))"
                    "), 1, 6))"
                ),
                " ",
            ),
        ).alias("text"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("src"), (F.col("id") % 10).cast("string")).alias("source"),
    )
    return base.unionAll(
        base.select(
            (F.col("doc_id") + n).alias("doc_id"), "text", "lang", "source"
        )
    )


def html_docs(spark: SparkSession, n: int, offset: int, parts: int) -> DataFrame:
    """(doc_id, text, lang, source) whose text is four md5 hex digests
    plus HTML_TAIL: HTML_TEXT_BYTES bytes of ASCII per doc, with the
    characters the page table escapes."""
    return spark.range(offset, n + offset, 1, parts).select(
        F.col("id").alias("doc_id"),
        F.concat(F.repeat(F.md5(F.col("id").cast("string")), 4), F.lit(HTML_TAIL)).alias("text"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("src"), (F.col("id") % 10).cast("string")).alias("source"),
    )


def link_graph(spark: SparkSession, n: int, offset: int, parts: int):
    """(nodes, edges) of the crawl's link formula over doc ids
    offset .. offset + n - 1; every destination stays in that range."""
    mults = ",".join(f"{m}L" for m in LINK_MULTS)
    nodes = spark.range(offset, n + offset, 1, parts).select(F.col("id").alias("doc_id"))
    edges = nodes.select(
        F.col("doc_id").alias("src_id"),
        F.explode(
            F.expr(
                "transform(sequence(0, cast(doc_id % 4 as int)), j -> "
                f"{offset}L + (doc_id * element_at(array({mults}), j + 1) "
                f"+ doc_id div 7 + j) % {n}L)"
            )
        ).alias("dst_id"),
    )
    return nodes, edges


def link_graph_np(n: int, offset: int):
    """(src, dst) int64 edge arrays of ``link_graph``."""
    d = np.arange(offset, offset + n, dtype=np.int64)
    src, dst = [], []
    for j, m in enumerate(LINK_MULTS):
        s = d[(d % 4) >= j]
        src.append(s)
        dst.append(offset + (s * m + s // 7 + j) % n)
    return np.concatenate(src), np.concatenate(dst)


def embeddings(spark: SparkSession, n: int, offset: int, parts: int) -> DataFrame:
    """(vec_id, embedding) with 64 float32 components per vector packed
    as one fixed-stride BINARY cell; splitmix64 of (vec_id, dim), so
    the values never exist as per-element array rows."""

    def gen(batches):
        import pyarrow as pa

        mask = (1 << 64) - 1
        for batch in batches:
            ids = np.asarray(batch.column(0), dtype=np.uint64)
            nb = len(ids)
            if nb == 0:
                continue
            base = ids[:, None] * np.uint64(EMB_DIM) + np.arange(
                EMB_DIM, dtype=np.uint64
            )[None, :]
            x = (base * np.uint64(0x9E3779B97F4A7C15) + np.uint64(0x94D049BB)) & np.uint64(mask)
            x ^= x >> np.uint64(30)
            x = (x * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(mask)
            x ^= x >> np.uint64(27)
            vals = (
                ((x >> np.uint64(33)).astype(np.float64) / float(1 << 30)) - 1.0
            ).astype(np.float32)
            stride = EMB_DIM * 4
            offs = pa.py_buffer(
                np.arange(0, (nb + 1) * stride, stride, dtype=np.int32).tobytes()
            )
            arr = pa.Array.from_buffers(
                pa.binary(), nb, [None, offs, pa.py_buffer(vals.tobytes())]
            )
            yield pa.RecordBatch.from_arrays([batch.column(0), arr], ["vec_id", "embedding"])

    return (
        spark.range(offset, n + offset, 1, parts)
        .withColumnRenamed("id", "vec_id")
        .mapInArrow(gen, schema="vec_id long, embedding binary")
    )
