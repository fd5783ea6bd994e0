"""Headline benchmark suite.

Times the engine's flagship stages at scale: the driver's sf tables
hold only O(10^3) documents, so the spatial stages run over
GEOKIT_BENCH_DOCS synthetic pages generated distributively with
spark.range + the same closed-form geocoder (deterministic, no
external data) — the pipeline under test is identical to the
driver-checked queries, just wider.

Prints ONE JSON line:
  {"metric": "headline_suite_wall_sec", "value": <total sec>,
   "unit": "sec", "queries": {name: sec}, "sf": <sf>, ...extras}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the CPUs this process may run on),
     GEOKIT_BENCH_DOCS (default 20_000_000; light all-JVM stages run
     at GEOKIT_LIGHT_MULT x that, default 4 -> 80M),
     GEOKIT_BENCH_REPS (default 2, min-of-reps steady state),
     GEOKIT_BENCH_RETRIES (default 3: extra reps granted to a stage
     whose rep ran under measured external load OR exceeded 1.3x its
     clean reference row — the round-5 driver runs were contaminated
     and the sentinel only RECORDED it; now the bench acts on it),
     GEOKIT_BENCH_CACHE (default 0: generation included — it is part
     of the pipeline and keeps memory flat at any scale).
The same settings produce BENCH/BASELINE.md via scripts/scaling_run.py,
so per-round BENCH_r{N}.json and the baseline are directly comparable.

Every stage also reports MEASURED bytes moved per run (shuffle r/w,
scan input, Arrow-IPC python-worker traffic — geokit_spark.metrics),
so data-motion claims in BENCH/BASELINE.md rest on counters, not
workload classification.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from geokit_spark import metrics  # noqa: E402
from geokit_spark.functions.geo import (  # noqa: E402
    cell_cols,
    grid_cell_id,
    with_geocode,
)
from geokit_spark.operators import spatial_join, zonal  # noqa: E402
from geokit_spark.operators.knn import knn  # noqa: E402
from geokit_spark.operators import extract_values as ev  # noqa: E402
from geokit_spark.session import get_spark  # noqa: E402
from geokit_spark.sources import tiles as tilesrc  # noqa: E402

# Stages measured for regression cover but reported OUTSIDE the
# headline suite (full record `latency_baselines` key), so the
# headline sum keeps the same stage set across rounds.
_LATENCY_BASELINES = ("ann_topk",)


class Calibrator:
    """Persistent-pool load probe: the machine's CURRENT pure-CPU
    throughput, re-measurable in ~1-2 s between stage reps (the pool
    is spawned and warmed once, unlike calibrate_quick's cold pool).
    Used to GATE reps: a rep timed while the shared VM carried
    external load is suspect and earns the stage a bounded retry."""

    def __init__(self, procs: int):
        import multiprocessing as mp

        self.procs = procs
        self._pool = mp.Pool(procs)
        self._pool.map(_burn_cpu, range(procs))  # warm

    def rate(self) -> float:
        t0 = time.perf_counter()
        n = 2 * self.procs
        self._pool.map(_burn_cpu, range(n))
        return n / (time.perf_counter() - t0)

    def close(self):
        self._pool.terminate()


def load_reference() -> dict:
    """Clean-run per-stage reference (BENCH/reference_20m.json):
    retry thresholds + idle calibration anchors. Missing file -> no
    reference gating (calibration gating still applies via defaults).
    """
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH",
        "reference_20m.json",
    )
    try:
        with open(path) as f:
            return json.load(f)
    except Exception:
        return {}


def idle_rate(ref: dict, procs: int) -> float | None:
    """Idle tasks/s at `procs`, interpolated between the stored
    anchors (throughput is sublinear in procs on this VM, so linear
    interpolation between measured anchors beats a single scale)."""
    anchors = sorted(
        (int(k), float(v))
        for k, v in ref.get("idle_tasks_per_sec", {}).items()
    )
    if not anchors:
        return None
    if procs <= anchors[0][0]:
        return anchors[0][1] * procs / anchors[0][0]
    for (p0, r0), (p1, r1) in zip(anchors, anchors[1:]):
        if procs <= p1:
            return r0 + (r1 - r0) * (procs - p0) / (p1 - p0)
    p1, r1 = anchors[-1]
    return r1 * procs / p1


def bench_queries(spark, sf_dir: str, n_docs: int, cpus: int):
    """Returns {name: {sec, rows, cal, retries, bytes}}.

    Stage order matters: the UDF-heavy joins run FIRST — the 80M-row
    bulk JVM stages leave GC debt that (measured) slows a following
    Arrow-UDF stage ~4x on this box."""
    reps = int(os.environ.get("GEOKIT_BENCH_REPS", "2"))
    max_retries = int(os.environ.get("GEOKIT_BENCH_RETRIES", "3"))
    use_cache = os.environ.get("GEOKIT_BENCH_CACHE", "0") != "0"
    light_mult = int(os.environ.get("GEOKIT_LIGHT_MULT", "4"))
    # optional comma-separated stage subset (default: all) — lets the
    # scaling runner / a reviewer re-measure one stage without paying
    # for the suite
    only = os.environ.get("GEOKIT_BENCH_STAGES", "")
    only_set = {s.strip() for s in only.split(",") if s.strip()} or None
    parts = max(2 * cpus, 16)

    ref = load_reference()
    ref_cfg = ref.get("config", {})
    ref_q = (
        ref.get("queries", {})
        if ref_cfg.get("bench_docs") == n_docs
        and ref_cfg.get("cpus") == cpus
        else {}
    )
    idle = idle_rate(ref, cpus)
    calib = Calibrator(cpus)
    counter = metrics.ByteCounter(spark)

    def make_pages(n):
        # numPartitions set at generation time: no repartition shuffle
        p = spark.range(0, n, 1, parts).withColumnRenamed("id", "doc_id")
        return with_geocode(p).withColumn(
            "cell_id", grid_cell_id(F.col("lon"), F.col("lat"))
        )

    pages = make_pages(n_docs)
    if use_cache:
        pages.cache().count()
    n_light = n_docs * light_mult
    pages_light = make_pages(n_light) if light_mult > 1 else pages
    clc = tilesrc.raster_table(spark, "clc").cache()
    elev = tilesrc.raster_table(spark, "elev").cache()
    clc.count(), elev.count()

    results = {}

    def timed(name, fn, rows):
        if only_set is not None and name not in only_set:
            return
        snap0 = counter.snapshot()
        fn()  # warm-up: python worker pool, broadcasts, code paths —
        # long-running executors amortize these; steady-state is the
        # cluster-honest number
        runs = 1
        best = float("inf")
        best_cal = None
        good = attempts = 0
        # a rep is SUSPECT if it ran under measured external load
        # (calibration probed IMMEDIATELY BEFORE EVERY rep — a stale
        # probe would miss load arriving mid-stage and wave the
        # contaminated rep through) or came out >1.3x the clean
        # reference row; suspects earn bounded extra reps — the
        # round-5 failure mode (driver-run contamination recorded but
        # not acted on) ends here.
        while good < reps and attempts < reps + max_retries:
            cal = calib.rate()
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            runs += 1
            attempts += 1
            if dt < best:
                best, best_cal = dt, cal
            loaded = idle is not None and cal < 0.9 * idle
            slow = name in ref_q and dt > 1.3 * ref_q[name]
            if not (loaded or slow):
                good += 1
        moved = metrics.per_run(
            metrics.delta(snap0, counter.snapshot()), runs
        )
        results[name] = {
            "sec": best,
            "rows": rows,
            "cal": round(best_cal, 2) if best_cal is not None else None,
            "retries": max(attempts - reps, 0),
            "bytes": moved,
        }

    cx, cy = cell_cols(F.col("lon"), F.col("lat"))
    # pip joins are all-JVM since round 2 (codegen crossing test) and
    # ~3x faster — they need the light multiplier to stay compute-bound
    # at 32 cores (the regime note below)
    timed(
        "pip_region_semi_join",
        lambda: spatial_join.docs_in_region(
            spark, pages_light.select("doc_id")
        ).count(),
        n_light,
    )
    timed(
        "pip_zones_join",
        lambda: spatial_join.docs_join_zones(spark, pages_light.select("doc_id"))
        .groupBy("zone_id")
        .count()
        .collect(),
        n_light,
    )
    timed(
        "knn_ring",
        lambda: knn(spark, pages_light, k=5).collect(),
        n_light,
    )
    timed(
        "tiling_cell_counts",
        lambda: pages_light.select(cx.alias("cx"), cy.alias("cy"))
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("n"))
        .agg(F.sum("n"), F.count("*"))
        .collect(),
        n_light,
    )
    timed(
        "extract_values",
        lambda: ev.extract_values(pages_light, clc, "v").agg(F.sum("v")).collect(),
        n_light,
    )
    timed(
        "zonal_stats",
        lambda: zonal.zonal_stats(elev).collect(),
        512 * 512,
    )

    # CPU-bound text stage (dedup pipeline): 256-char synthetic docs
    from geokit_spark.operators.dedup import minhash_signatures_fast

    n_text = max(n_docs // 50, 10000)
    texts = spark.range(0, n_text, 1, parts).select(
        F.col("id").alias("doc_id"),
        F.repeat(F.md5(F.col("id").cast("string")), 8).alias("text"),
    )
    timed(
        "minhash_signatures",
        lambda: minhash_signatures_fast(texts)
        .select(F.min(F.element_at("sig", 1)))
        .collect(),
        n_text,
    )

    # input_hint decode stage: build the page table (JVM concat/encode,
    # no shuffle) and run the byte-level html→text extractor over the
    # BINARY column — the north star's per-row-invariant operator at
    # corpus scale. Text carries entities so the decode path is hot.
    from geokit_spark.sources.pages import extract_text, pages_from_docs

    pdocs = spark.range(0, n_text, 1, parts).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.repeat(F.md5(F.col("id").cast("string")), 4),
            F.lit(" a&b <c> 'q'"),
        ).alias("text"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("src"), (F.col("id") % 10).cast("string")).alias(
            "source"
        ),
    )
    timed(
        "html_extract",
        lambda: extract_text(pages_from_docs(pdocs))
        .select(F.sum(F.octet_length("text_extracted")))
        .collect(),
        n_text,
    )

    # the all-JVM extractor variant (locate/regex codegen, zero
    # Python crossings) over the identical page table — the
    # throughput path for well-formed crawls; byte-identical output
    # is oracle-checked (pages_extract_sql) and pytest-pinned
    from geokit_spark.sources.pages import extract_text_sql

    timed(
        "html_extract_sql",
        lambda: extract_text_sql(pages_from_docs(pdocs))
        .select(F.sum(F.octet_length("text_extracted")))
        .collect(),
        n_text,
    )

    # simhash near-dup at the same corpus scale: 64-bit Arrow sketch +
    # the Hamming-ball (band, lang, len-bucket) equijoin — the round-4
    # parameter-width fix under measurement, not just planned
    from geokit_spark.operators.dedup import simhash_near_pairs

    # capped: candidate volume grows ~n^2/65536 on this uniform corpus
    # (lang/length constant by construction, so only the band key
    # blocks) — 500k keeps the stage measuring sketch + band join, not
    # an ever-growing pair explosion
    n_sn = min(n_text, 500_000)
    texts_sn = spark.range(0, n_sn, 1, parts).select(
        F.col("id").alias("doc_id"),
        F.repeat(F.md5(F.col("id").cast("string")), 8).alias("text"),
        F.lit("en").alias("lang"),
        F.lit(256).cast("long").alias("n_chars"),
    )
    timed(
        "simhash_near",
        lambda: simhash_near_pairs(texts_sn, max_hamming=3).count(),
        n_sn,
    )

    # ANN top-k over synthetic array<double> embeddings with the
    # scale-aware plane count (suggest_n_planes keeps expected bucket
    # size bounded) through ann_topk_bucketed, the one Arrow ANN engine
    # (pytest-verified equal in neighbor sets to the fold/oracle path)
    from geokit_spark.operators.similarity import (
        ann_topk_bucketed,
        suggest_n_planes,
    )

    # scales with the workload (a fixed-size stage cannot measure
    # scaling) up to 100k vectors; larger corpora are the
    # ann_topk_large rows below
    n_vec = min(max(n_docs // 400, 5000), 100_000)
    emb = spark.range(0, n_vec, 1, parts).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), d -> "
            "cast(pmod(hash(id * 64 + d), 1000) as float) / 1000.0 - 0.5)"
        ).alias("embedding"),
    )
    np_ = suggest_n_planes(n_vec, target_bucket=16)

    # LATENCY BASELINE, not a headline stage: a small corpus on the
    # default list-column input, measured so that path can't silently
    # regress. It stays out of the headline wall-time sum and the
    # scaling table so the headline trajectory stays comparable; the
    # scale rows are ann_topk_large below.
    timed(
        "ann_topk",
        lambda: ann_topk_bucketed(emb, k=5, n_planes=np_).count(),
        n_vec,
    )

    # ANN at scale: ann_topk_bucketed at 2M vectors — embeddings
    # cross the wire once per table as fixed-stride BINARY cells (the
    # layout a 100-TB embedding store uses). Partition count pinned
    # (128) so the 8- vs 32-core scaling runs compare the identical
    # job; 128 measured best for 8->32 scaling (4 waves at 32 average
    # out bucket-skew stragglers; 64's 2-wave schedule lost ~10% to
    # wave tails).
    n_large = int(os.environ.get("GEOKIT_BENCH_ANN_LARGE", "2000000"))
    npl = suggest_n_planes(n_large, target_bucket=64)
    seq = iter(range(100))  # vary the id offset so reps can't be
    # served by plan/result reuse (bench pitfall: identical plans may
    # short-circuit on re-collect)
    timed(
        "ann_topk_large",
        lambda: ann_topk_bucketed(
            _synth_emb_binary(spark, n_large, parts, offset=next(seq)),
            k=5, n_planes=npl, n_tables=2, n_partitions=128,
            binary_dtype="float32",
        ).count(),
        n_large,
    )

    # the same job with int8-quantized shipped cells (round-7 ask):
    # candidate buckets identical (bucketing reads the float input),
    # per-bucket gemm on EXACT integers (bit-reproducible at any
    # parallelism — no ULP dedup caveat), shipped cell 256 B -> 64 B
    # so the big bucket exchange quarters. Fidelity grade is
    # data-dependent and documented in ann_topk_bucketed's docstring
    # (int16 for near-random 64-dim gaps, int8 for clustered
    # real-corpus embeddings); the bench measures the int8 exchange
    # shape, the pytest pins set fidelity of both grades.
    timed(
        "ann_topk_large_q8",
        lambda: ann_topk_bucketed(
            _synth_emb_binary(spark, n_large, parts, offset=next(seq)),
            k=5, n_planes=npl, n_tables=2, n_partitions=128,
            binary_dtype="float32", quantize="int8",
        ).count(),
        n_large,
    )

    # iterative web-graph stage: exact integer PageRank, 3 iterations
    # over the same link formula the page generator burns into html
    # (edges synthesized JVM-side here — the byte-level link parser is
    # measured separately as html_extract; this stage isolates the
    # join/agg fixpoint machinery, ~2.5 edges/node). rows = node
    # count; each iteration moves ~2.5n edge contributions through a
    # src hash join + dst partial+final agg — the suite's only
    # shuffle-iterating stage.
    from geokit_spark.operators.webgraph import pagerank
    from geokit_spark.sources.pages import LINK_MULTS

    n_pr = max(n_docs // 8, 10_000)
    pr_mults = ",".join(f"{m}L" for m in LINK_MULTS)
    seq_pr = iter(range(100))  # rep-varying literal (result-reuse defense)

    def run_pagerank():
        off = next(seq_pr)
        nodes = spark.range(off, n_pr + off, 1, parts).select(
            (F.col("id") - off).alias("doc_id")
        )
        edges = nodes.select(
            F.col("doc_id").alias("src_id"),
            F.explode(
                F.expr(
                    "transform(sequence(0, cast(doc_id % 4 as int)), j -> "
                    f"(doc_id * element_at(array({pr_mults}), j + 1) "
                    f"+ doc_id div 7 + j) % {int(n_pr)}L)"
                )
            ).alias("dst_id"),
        )
        sc = pagerank(edges, nodes, iters=3)
        sc.agg(F.sum("s")).collect()
        sc._edge_cache.unpersist()

    timed("pagerank", run_pagerank, n_pr)

    # the FLAGSHIP end-to-end funnel (operators/pipeline.corpus_funnel
    # — the same function the oracle-verified corpus_pipeline query
    # runs): page build -> byte-level extract -> quality gate -> exact
    # dedup over revisit copies -> zones join -> rollup. rows = page
    # count (2x docs: every doc has one revisit copy the dedup stage
    # must collapse). Texts are built to PASS the gate (stopword +
    # 20 words, mean len 5.85) so every stage does real work.
    from geokit_spark.operators.pipeline import corpus_funnel

    n_cp = max(n_docs // 50, 10_000)
    seq_cp = iter(range(100))

    def run_corpus():
        off = next(seq_cp)
        base = spark.range(off, n_cp + off, 1, parts).select(
            (F.col("id") - off).alias("doc_id"),
            F.concat(
                F.lit("the "),
                F.array_join(
                    F.expr(
                        "transform(sequence(1, 19), j -> substring("
                        "md5(concat(cast(id as string), '-', "
                        "cast(j as string))), 1, 6))"
                    ),
                    " ",
                ),
            ).alias("text"),
            F.lit("en").alias("lang"),
            F.concat(
                F.lit("src"), (F.col("id") % 10).cast("string")
            ).alias("source"),
        )
        crawl = base.unionAll(
            base.select(
                (F.col("doc_id") + n_cp).alias("doc_id"),
                "text", "lang", "source",
            )
        )
        corpus_funnel(spark, crawl).agg(
            F.sum("n_docs"), F.sum("sum_words")
        ).collect()

    timed("corpus_pipeline", run_corpus, 2 * n_cp)

    # tokenize-and-pack stage: the concat-and-chunk pretraining
    # layout (operators/packing) — tokenize, one (lang, shard) hash
    # exchange with in-partition cumsum windows (256-doc shards, no
    # global sort), then the per-lang audit agg. All JVM; measures
    # the window machinery a 100-TB pack job is built on.
    from geokit_spark.operators.packing import (
        pack_sequences,
        packing_stats,
    )

    n_pk = max(n_docs // 8, 10_000)
    seq_pk = iter(range(100))

    def run_pack():
        off = next(seq_pk)
        d = spark.range(off, n_pk + off, 1, parts).select(
            (F.col("id") - off).alias("doc_id"),
        ).select(
            "doc_id",
            F.element_at(
                F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ).alias("lang"),
            F.expr(
                "repeat('tok ', cast(8 + doc_id % 41 as int))"
            ).alias("text"),
        )
        packing_stats(
            pack_sequences(d, context_len=512, shard_docs=256)
        ).collect()

    timed("seq_packing", run_pack, n_pk)
    calib.close()
    return results


def _synth_emb_binary(spark, n: int, parts: int, offset: int = 0):
    """Deterministic 64-dim float32 embeddings PACKED AS BINARY cells
    (splitmix64 per (vec, dim) counter): the generation path never
    materializes per-element array rows, mirroring a binary-column
    embedding store."""
    import numpy as np

    from geokit_spark.operators.similarity import EMB_DIM

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
            x = (
                base * np.uint64(0x9E3779B97F4A7C15) + np.uint64(0x94D049BB)
            ) & np.uint64(mask)
            x ^= x >> np.uint64(30)
            x = (x * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(mask)
            x ^= x >> np.uint64(27)
            vals = (
                ((x >> np.uint64(33)).astype(np.float64) / float(1 << 30))
                - 1.0
            ).astype(np.float32)
            stride = EMB_DIM * 4
            offs = pa.py_buffer(
                np.arange(0, (nb + 1) * stride, stride, dtype=np.int32)
                .tobytes()
            )
            arr = pa.Array.from_buffers(
                pa.binary(), nb, [None, offs, pa.py_buffer(vals.tobytes())]
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), arr], ["vec_id", "embedding"]
            )

    return (
        spark.range(offset, n + offset, 1, parts)
        .withColumnRenamed("id", "vec_id")
        .mapInArrow(gen, schema="vec_id long, embedding binary")
    )


def _burn_cpu(_):
    import numpy as np

    a = np.arange(200_000, dtype=np.int64)
    for _i in range(200):
        (1103515245 * a + 12345) % 2147483647
    return 0


def calibrate_quick(n_procs: int) -> dict:
    """Self-calibration sentinel emitted with every bench JSON: the
    machine's CURRENT pure-CPU throughput (tasks/s at the bench's own
    process count, same cache-resident burn as scripts/scaling_run).
    A load-contaminated run (another tenant on the shared VM) shows up
    as a LOW calibration value next to slow queries — distinguishing
    contamination from a real regression without re-running
    (BENCH_r04's uniform ~1.25x inflation was exactly this failure
    mode). Reference idle values on this VM: ~19 tasks/s at 8 procs,
    ~42 at 32."""
    import multiprocessing as mp
    import time as _t

    with mp.Pool(n_procs) as p:
        p.map(_burn_cpu, range(n_procs))  # warm the pool
        t0 = _t.perf_counter()
        p.map(_burn_cpu, range(64))
        rate = 64 / (_t.perf_counter() - t0)
    return {"procs": n_procs, "tasks_per_sec": round(rate, 2)}


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    )
    n_docs = int(os.environ.get("GEOKIT_BENCH_DOCS", "20000000"))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    cal = calibrate_quick(cpus)
    # UI on: the monitoring REST API is the byte-counter source
    # (geokit_spark.metrics); retained limits sized so a full suite
    # (O(100) executions) never evicts a stage mid-window.
    spark = get_spark(
        "bench",
        cores=cpus,
        shuffle_partitions=max(cpus, 8),
        extra={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "10000",
            "spark.sql.ui.retainedExecutions": "10000",
        },
    )

    results = bench_queries(spark, sf_dir, n_docs, cpus)
    # latency baselines: measured (so they can't silently regress) but
    # excluded from the headline wall-time sum, per-stage tables and
    # the scaling run (ann_topk = the small-corpus ANN row; the scale
    # ANN rows are ann_topk_large / ann_topk_large_q8)
    latency = {
        k: results.pop(k) for k in _LATENCY_BASELINES if k in results
    }
    queries = {k: round(v["sec"], 3) for k, v in results.items()}
    total = round(sum(v["sec"] for v in results.values()), 3)
    doc_stages = [
        "tiling_cell_counts", "pip_region_semi_join", "pip_zones_join",
        "extract_values", "knn_ring", "minhash_signatures",
        "html_extract", "html_extract_sql", "simhash_near",
        "ann_topk_large", "ann_topk_large_q8",
        "pagerank", "corpus_pipeline", "seq_packing",
    ]
    docs_per_sec = {
        k: int(results[k]["rows"] / results[k]["sec"])
        for k in doc_stages
        if k in results
    }
    bytes_per_run = {
        k: {f: v["bytes"][f] for f in (
            "shuffle_write", "shuffle_read", "input",
            "py_sent", "py_returned",
        )}
        for k, v in results.items()
        if v["bytes"]["available"]
    }
    mb_moved_per_sec = {
        k: round(metrics.moved_bytes(v["bytes"]) / v["sec"] / 2**20, 1)
        for k, v in results.items()
        if v["bytes"]["available"]
    }
    out = {
        "metric": "headline_suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "bench_docs": n_docs,
        "cpus": cpus,
        "docs_per_sec": docs_per_sec,
        "calibration": cal,
        "stage_calibration": {k: v["cal"] for k, v in results.items()},
        "stage_retries": {
            k: v["retries"] for k, v in results.items() if v["retries"]
        },
        "bytes_per_run": bytes_per_run,
        "mb_moved_per_sec": mb_moved_per_sec,
        "latency_baselines": {
            k: round(v["sec"], 3) for k, v in latency.items()
        },
    }
    if "zonal_stats" in results:
        out["tiles_per_sec"] = int(
            results["zonal_stats"]["rows"] / results["zonal_stats"]["sec"]
        )
    spark.stop()
    # The driver keeps only the last ~2000 chars of stdout, and the
    # round-6 single-line record (bytes_per_run + mb_moved_per_sec)
    # grew past that window -> BENCH_r06.json "parsed": null. The
    # FULL record now goes to a file; stdout gets ONE compact line
    # (headline + per-stage seconds) guaranteed under the window.
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH",
        "driver_run_latest.json",
    )
    try:
        with open(full_path, "w") as f:
            json.dump(out, f, indent=1)
    except OSError as e:  # never let bookkeeping kill the bench line
        print(f"WARN: full bench record not written: {e}", file=sys.stderr)
    print(json.dumps(compact_line(out)))


# Stdout budget for the final JSON line: the driver tails ~2000 chars,
# so the line must stay below this with margin (pinned by pytest).
_LINE_BUDGET = 1900


def compact_line(out: dict) -> dict:
    """Compact driver-facing bench record: headline wall time +
    per-stage seconds only; the byte counters / calibration detail
    live in BENCH/driver_run_latest.json. Degrades by dropping
    optional fields (never the headline) if the line ever outgrows
    the driver's stdout tail window."""
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": out["queries"],
        "sf": out["sf"],
        "bench_docs": out.get("bench_docs"),
        "cpus": out.get("cpus"),
        "calibration": out.get("calibration"),
        "stage_retries": out.get("stage_retries", {}),
        "full_record": "BENCH/driver_run_latest.json",
    }
    if "tiles_per_sec" in out:
        compact["tiles_per_sec"] = out["tiles_per_sec"]
    for drop in ("stage_retries", "full_record", "tiles_per_sec",
                 "calibration", "bench_docs"):
        if len(json.dumps(compact)) <= _LINE_BUDGET:
            break
        compact.pop(drop, None)
    while len(json.dumps(compact)) > _LINE_BUDGET and compact["queries"]:
        # last resort: keep only the slowest stages (headline `value`
        # is always intact; dropped stages live in the full record)
        keep = sorted(
            compact["queries"], key=compact["queries"].get, reverse=True
        )[: max(1, len(compact["queries"]) // 2)]
        if len(keep) == len(compact["queries"]):
            # single surviving entry still over budget (pathological
            # stage name / base-field growth): drop it rather than
            # spin — the headline value is the one field that matters
            compact["queries"] = {}
        else:
            compact["queries"] = {k: compact["queries"][k] for k in keep}
        compact["queries_truncated"] = True
    return compact


if __name__ == "__main__":
    main()
