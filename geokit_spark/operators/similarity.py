"""Similarity search over the embeddings table.

* brute-force cosine top-k — the exactness baseline; dot products via
  zip_with + aggregate (left fold, JVM) in float64 so the summation
  order is defined (and mirrored by the oracle's list_reduce).
* LSH-bucketed ANN — random-hyperplane signatures from the
  deterministic LCG; bucket equijoin + in-bucket top-k. The scale
  path: candidates per query are bounded by bucket size, the big
  side shuffles only (vec_id, bucket) pairs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

EMB_DIM = 64
# Defaults are the ORACLE-PINNED widths (the driver's ann_topk /
# embed_near_dup rows reproduce these buckets in SQL). At scale the
# widths are arguments: n_planes must grow ~log2(n / target bucket
# size) with corpus size or per-table candidate joins degenerate to
# ~n^2 / 2^n_planes — see suggest_n_planes.
N_PLANES = 4  # bits per table (16 buckets/table)
N_TABLES = 8  # independent hash tables; candidates = union over tables

# elements budget of one size-batched sim tensor in bucket scoring
# (B*g*g <= this): bounds each worker's transient to ~8 MB float64.
# Measured at 2M vecs / 32 workers: 1<<20 beats 1<<17 (per-chunk
# overhead) and 1<<23 (concurrent-worker allocator thrash, the
# round-2 'large per-batch temporaries' pitfall).
_ANN_CHUNK_ELEMS = 1 << 20


def suggest_n_planes(n_rows: int, target_bucket: int = 64) -> int:
    """Sizing rule for the random-hyperplane LSH bucket width: enough
    plane bits that the EXPECTED bucket size n / 2^planes is at most
    target_bucket — per-table candidate volume is then bounded by
    n * target_bucket instead of n^2 / 2^planes. Recall lost to the
    narrower buckets is recovered by more tables / probe bits (the
    standard multi-table LSH trade)."""
    import math

    if n_rows <= target_bucket:
        return N_PLANES
    return max(N_PLANES, math.ceil(math.log2(n_rows / target_bucket)))


def _lcg_plane(plane: int, dim: int) -> float:
    """Deterministic hyperplane component in [-1, 1) (shared with the
    SQL oracle, which re-calls this function for its literals).

    splitmix64-style avalanche of (plane, dim): the round-3 affine LCG
    mixed plane/dim only additively, which made distinct planes
    PERFECTLY correlated (measured |corr| = 1.0) — duplicate sign bits
    collapsed the effective bucket count and candidate volume blew up
    ~8x over the balanced expectation."""
    mask = (1 << 64) - 1
    x = (
        plane * 0x9E3779B97F4A7C15 + dim * 0xBF58476D1CE4E5B9 + 0x94D049BB
    ) & mask
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) & mask
    x ^= x >> 27
    x = (x * 0x94D049BB133111EB) & mask
    x ^= x >> 31
    return (x & 0x7FFFFFFF) / 1073741824.0 - 1.0


def dot_col(a: str, b: str) -> F.Column:
    """Left-fold float64 dot product of two array<float> columns."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a: str) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(F.col(a), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(
    emb: DataFrame, k: int = 5, max_rows: int | None = 100_000
) -> DataFrame:
    """Exact top-k cosine neighbors for every vector (excluding self).
    Returns (vec_id, rank, neighbor_id). O(n^2) crossJoin — the
    CORRECTNESS BASELINE, never a scale path (ann_topk_bucketed /
    ivf_topk_fixed are the verified scale paths). Guarded: refuses
    inputs larger than max_rows so the baseline cannot be run at scale
    by accident; pass max_rows=None to override deliberately."""
    if max_rows is not None:
        n = emb.count()
        if n > max_rows:
            raise ValueError(
                f"cosine_topk is the O(n^2) exactness baseline: input has "
                f"{n} rows > max_rows={max_rows}. Use ann_topk_bucketed or "
                f"ivf_topk_fixed at scale, or pass max_rows=None "
                f"deliberately."
            )
    a = emb.select(
        F.col("vec_id").alias("vec_id"), F.col("embedding").alias("ea")
    ).withColumn("na", norm_col("ea"))
    b = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("eb")
    ).withColumn("nb", norm_col("eb"))
    pairs = a.crossJoin(b).filter(F.col("vec_id") != F.col("neighbor_id"))
    sim = dot_col("ea", "eb") / (F.col("na") * F.col("nb"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "rank", "neighbor_id")
    )


def lsh_bucket_col(
    table: int, emb_col: str = "embedding", n_planes: int = N_PLANES
) -> F.Column:
    """Random-hyperplane signature for one table:
    bit p = (dot(v, plane_{table,p}) > 0), offset by table id so keys
    from different tables never collide."""
    bucket = F.lit(table * (1 << n_planes))
    for p in range(n_planes):
        plane = [_lcg_plane(table * n_planes + p, d) for d in range(EMB_DIM)]
        dot = F.aggregate(
            F.zip_with(
                F.col(emb_col),
                F.array(*[F.lit(v) for v in plane]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def lsh_candidate_pairs(
    emb: DataFrame, n_planes: int = N_PLANES, n_tables: int = N_TABLES
) -> DataFrame:
    """Ordered candidate pairs (id_a < id_b) sharing any table's LSH
    bucket — the bucketed-equijoin candidate generator shared by
    cosine_near_dup and ann_topk. Shuffles only (vec_id, bucket)
    pairs; candidate volume is bounded by per-table bucket sizes —
    size n_planes with suggest_n_planes so buckets stay bounded as the
    corpus grows."""
    e = emb.select("vec_id", "embedding")
    tabs = [
        e.withColumn("bucket", lsh_bucket_col(t, n_planes=n_planes))
        for t in range(n_tables)
    ]
    buckets = tabs[0]
    for m in tabs[1:]:
        buckets = buckets.unionByName(m)
    a = buckets.select(F.col("vec_id").alias("id_a"), "bucket")
    b = buckets.select(F.col("vec_id").alias("id_b"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def cosine_near_dup(
    emb: DataFrame,
    threshold: float = 0.2,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
) -> DataFrame:
    """Embedding near-duplicate pairs at scale: LSH-bucketed candidate
    generation + exact float64 cosine verification (>= threshold).
    Output = { LSH-candidate pairs with sim >= threshold } — the
    deterministic contract the DuckDB oracle reproduces by computing
    the same hyperplane buckets from the same LCG literals. The
    all-pairs crossJoin variant survives as cosine_near_dup_exact for
    small-sf recall cross-checks only."""
    cand = lsh_candidate_pairs(emb, n_planes=n_planes, n_tables=n_tables)
    av = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea")
    ).withColumn("na", norm_col("ea"))
    bv = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb")
    ).withColumn("nb", norm_col("eb"))
    scored = cand.join(av, "id_a").join(bv, "id_b")
    sim = dot_col("ea", "eb") / (F.col("na") * F.col("nb"))
    return (
        scored.withColumn("sim", sim)
        .filter(F.col("sim") >= F.lit(threshold))
        .select("id_a", "id_b", "sim")
    )


def cosine_near_dup_exact(emb: DataFrame, threshold: float = 0.2) -> DataFrame:
    """All-pairs exact near-dup (crossJoin): the small-sf recall
    baseline for cosine_near_dup; never the scale path."""
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    sim = dot_col("ea", "eb") / (norm_col("ea") * norm_col("eb"))
    return (
        pairs.withColumn("sim", sim)
        .filter(F.col("sim") >= F.lit(threshold))
        .select("id_a", "id_b", "sim")
    )


# ---------------------------------------------------------------------------
# IVF with a fixed deterministic coarse quantizer (oracle-verifiable)

IVF_N_LISTS = 16
IVF_N_PROBE = 4


def _lcg_centroid_component(j: int, dim: int) -> float:
    """Deterministic raw centroid component in [-1, 1) (distinct salt
    from the hyperplane stream)."""
    state = (j * 7477 + dim * 104729 + 987654321) % 2147483648
    state = (state * 1103515245 + 12345) % 2147483648
    return state / 1073741824.0 - 1.0


def ivf_centroids(n_lists: int = IVF_N_LISTS, dim: int = EMB_DIM):
    """Unit-norm fixed centroids. At 100 TB the coarse quantizer is
    trained OFFLINE and shipped as literals (exactly this shape), so
    list assignment is data-independent and oracle-reproducible."""
    cents = np.array(
        [[_lcg_centroid_component(j, d) for d in range(dim)] for j in range(n_lists)],
        dtype=np.float64,
    )
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    return cents


def _centroid_dot(emb_col: str, cent: np.ndarray) -> F.Column:
    return F.aggregate(
        F.zip_with(
            F.col(emb_col),
            F.array(*[F.lit(float(v)) for v in cent]),
            lambda x, y: x.cast("double") * y,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivf_topk_fixed(
    emb: DataFrame, k: int = 5, n_lists: int = IVF_N_LISTS,
    n_probe: int = IVF_N_PROBE,
) -> DataFrame:
    """IVF ANN with the fixed quantizer: every vector is assigned to
    its best list (max centroid dot) and each query probes its n_probe
    best lists; candidates come from an equijoin on list_id and are
    re-scored exactly. All arithmetic is JVM-side column expressions
    (sort of (-dot, list_id) structs), bit-reproducible by the SQL
    oracle's ROW_NUMBER over (dot DESC, list_id)."""
    cents = ivf_centroids(n_lists)
    e = emb.select("vec_id", "embedding")
    entries = F.array(
        *[
            F.struct(
                (-_centroid_dot("embedding", cents[j])).alias("nd"),
                F.lit(j).alias("list_id"),
            )
            for j in range(n_lists)
        ]
    )
    ranked = e.withColumn("order", F.sort_array(entries))
    assigned = ranked.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("eb"),
        F.element_at("order", 1).getField("list_id").alias("list_id"),
    )
    probes = ranked.select(
        "vec_id",
        F.col("embedding").alias("ea"),
        F.explode(
            F.transform(F.slice("order", 1, n_probe), lambda s: s.getField("list_id"))
        ).alias("list_id"),
    )
    cand = probes.join(assigned, "list_id").filter(
        F.col("vec_id") != F.col("neighbor_id")
    )
    cand = cand.withColumn("na", norm_col("ea")).withColumn("nb", norm_col("eb"))
    sim = dot_col("ea", "eb") / (F.col("na") * F.col("nb"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "rank", "neighbor_id")
    )


def _plane_matrix(n_planes: int, n_tables: int) -> np.ndarray:
    """All tables' hyperplanes as one (n_tables * n_planes, EMB_DIM)
    float64 matrix (same _lcg_plane stream as the fold path)."""
    return np.array(
        [
            [_lcg_plane(t * n_planes + p, d) for d in range(EMB_DIM)]
            for t in range(n_tables)
            for p in range(n_planes)
        ],
        dtype=np.float64,
    )


def ann_topk_bucketed(
    emb: DataFrame,
    k: int = 5,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    n_partitions: int | None = None,
    binary_dtype: str | None = None,
    quantize: str | None = None,
) -> DataFrame:
    """ANN top-k at scale: no driver-side matrix, no embedding-array
    joins — the shape that holds at any corpus size.
    Same multi-table random-hyperplane LSH candidate semantics as
    ann_topk(probe_bits=0).

    Physical plan (2 shuffles):
      1. one Arrow pass computes every table's bucket and ships each
         embedding to its buckets (n x n_tables rows — embeddings
         cross the wire ONCE per table, vs once per CANDIDATE in
         ann_topk's embedding joins);
      2. bucket-partitioned Arrow pass scores each bucket's all-pairs
         locally (one small gemm per bucket, memory = bucket contents,
         bounded by suggest_n_planes sizing) and emits only a PARTIAL
         top-k per member — the map-side combine for top-k: the global
         top-k neighbor of v shares some bucket with v and ranks <= k
         inside it, so the union of per-bucket top-ks contains the
         global answer;
      3. vec_id-partitioned Arrow pass dedupes multi-table collisions
         (keep max sim — gemm summation order can differ by an ULP
         across tables) and selects the global top-k.

    Exchange volume: n*n_tables embedding rows + n*n_tables partial
    rows each carrying ONE 16k-byte packed top-k cell (row-per-pair
    was measured as ~102 JVM-cpu-seconds of shuffle row framing at
    2M vectors / 32 cores); candidate pairs NEVER cross the wire.
    Skewed buckets cost compute (bucket_size^2 sims), not memory
    blowup — size n_planes with suggest_n_planes(n).

    Sims use numpy gemm (pairwise summation), not the fold path's
    left-assoc sum: neighbor-SET equality with the fold path is
    pytest-verified. probe_bits is not offered here (probe rows would
    ship embeddings again — recover recall with n_tables instead).

    quantize='int16' | 'int8' — scalar-quantize the SHIPPED embedding
    cells (buckets still come from the float input, so candidate sets
    are identical to the float path): per-vector max-abs scale (exact,
    order-independent), components rint-snapped to the signed grid.
    The per-bucket gemm then runs on EXACT integers (int8 dots <=
    127^2*64 < 2^24 fit f32; int16 dots < 2^53 fit f64), so bucket
    sims are BIT-REPRODUCIBLE at any parallelism / bucket shape — the
    quantized path has NO cross-table ULP caveat at all. Cell bytes:
    256 (f32) -> 128 (int16) -> 64 (int8) — int8 quarters the one
    big exchange. Fidelity is data-dependent, measured on the
    sf0.001 embeddings table (64-dim, near-random, top-5 boundary
    gaps ~3e-3): through the operator, int16 sets match the float
    path on 500/500 vecs (pytest-pinned) and int8 diverges on
    22/500 boundary picks (brute-force: 1/500 and 86/500) — int16
    is the recommended grade at this sim-gap profile; int8 fits
    clustered
    real-corpus embeddings and higher dims, where boundary gaps
    dwarf the ~4e-3 sim resolution. A per-pair float re-score join
    was REJECTED by byte math at 64 dims: survivors x (16+256) B
    per pair costs more than the quantization saves (it pays at
    >= 768-dim where a cell is 3 KB and pairs are cheap
    relatively)."""
    spark = emb.sparkSession
    if n_partitions is None:
        n_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    P = _plane_matrix(n_planes, n_tables)
    # ship embeddings at their SOURCE precision, packed as ONE BINARY
    # CELL per row (fixed stride): a 64-float list column costs Arrow
    # per-element offsets + UnsafeRow array headers at every exchange;
    # raw bytes shuffle ~2x cheaper and decode zero-copy via frombuffer.
    # A BinaryType embedding column (the storage layout a 100-TB corpus
    # would use anyway) is accepted directly: pass binary_dtype
    # 'float32'/'float64' and NO list materialization happens anywhere.
    in_dt = emb.schema["embedding"].dataType
    binary_in = isinstance(in_dt, T.BinaryType)
    if binary_in:
        if binary_dtype not in ("float32", "float64"):
            raise ValueError(
                "binary embedding column: pass binary_dtype='float32' "
                "or 'float64' (the packed element type)"
            )
        elem_f32 = binary_dtype == "float32"
    else:
        elem_f32 = isinstance(in_dt.elementType, T.FloatType)
    src_dtype = "<f4" if elem_f32 else "<f8"
    np_store = np.float32 if elem_f32 else np.float64
    if quantize is None:
        qmax, qtype, ship_dtype = 0, None, src_dtype
    elif quantize == "int16":
        # int16 dots < 2^53: EXACT in the f64 gemm
        qmax, qtype, ship_dtype = 32767, np.int16, "<i2"
    elif quantize == "int8":
        # int8 dots <= 127^2 * 64 < 2^24: EXACT in the f32 gemm
        qmax, qtype, ship_dtype = 127, np.int8, "<i1"
    else:
        raise ValueError("quantize must be None, 'int16' or 'int8'")

    def _pack_binary(mat_rows: np.ndarray):
        import pyarrow as pa

        rows, st = mat_rows.shape[0], mat_rows.shape[1] * mat_rows.itemsize
        if (rows + 1) * st >= 2**31:
            # pa.binary() offsets are int32: a partition whose packed
            # payload reaches 2 GiB would silently wrap the arange
            # into corrupt cells — fail loud with the remedies instead
            raise ValueError(
                f"packed cell payload {rows}x{st} B exceeds the 2 GiB "
                "int32 Arrow offset range; raise n_partitions or lower "
                "spark.sql.execution.arrow.maxRecordsPerBatch"
            )
        offs = pa.py_buffer(
            np.arange(0, (rows + 1) * st, st, dtype=np.int32).tobytes()
        )
        return pa.Array.from_buffers(
            pa.binary(), rows, [None, offs, pa.py_buffer(mat_rows.tobytes())]
        )

    def _unpack_binary(arr, dt=ship_dtype):
        """Zero-copy view of a fixed-stride binary array as an
        (n, EMB_DIM) matrix at STORED precision — big float64
        inflations here measured as 32-worker allocator thrash (the
        round-2 'large per-batch temporaries' pitfall); callers upcast
        per small group. dt is the element layout of THIS array: the
        shipped cells by default; pass src_dtype for source cells
        (they differ when quantize re-grids the shipped bytes)."""
        b = arr
        offs = np.frombuffer(b.buffers()[1], np.int32)[
            b.offset : b.offset + len(b) + 1
        ]
        data = np.frombuffer(b.buffers()[2], np.uint8)[offs[0] : offs[-1]]
        try:
            return data.view(dt).reshape(len(b), EMB_DIM)
        except ValueError:  # unaligned slice: fall back to one copy
            return np.frombuffer(data.tobytes(), dtype=dt).reshape(
                len(b), EMB_DIM
            )

    def bucket_ship_fn(batches):
        import pyarrow as pa

        for batch in batches:
            nb = batch.num_rows
            if nb == 0:
                continue
            earr = batch.column(1)
            if binary_in:
                flat = _unpack_binary(earr, src_dtype).astype(np.float64)
            else:
                flat = np.asarray(
                    earr.flatten().to_numpy(zero_copy_only=False),
                    dtype=np.float64,
                ).reshape(nb, EMB_DIM)
            dots = flat @ P.T
            bits = (dots > 0).astype(np.int64)
            weights = np.tile(
                1 << np.arange(n_planes, dtype=np.int64), n_tables
            )
            per = bits * weights
            tb = np.add.reduceat(
                per, np.arange(0, n_tables * n_planes, n_planes), axis=1
            )
            tb = tb + (np.arange(n_tables, dtype=np.int64) << n_planes)[None, :]
            if qmax:
                # per-vector max-abs scale: exact and order-independent
                # (cosine is scale-invariant, so the scale itself never
                # needs to ship); rint snaps to the signed integer grid
                sc = np.abs(flat).max(axis=1)
                sc[sc == 0.0] = 1.0
                packed = _pack_binary(
                    np.ascontiguousarray(
                        np.clip(
                            np.rint(flat * (float(qmax) / sc)[:, None]),
                            -qmax, qmax,
                        ).astype(qtype)
                    )
                )
            elif binary_in:
                packed = earr  # raw bytes pass through
            else:
                packed = _pack_binary(
                    np.ascontiguousarray(flat.astype(np_store))
                )
            # ONE batch per table, all reusing the SAME cell array and
            # vec_id column zero-copy — the r7 shape materialized an
            # n_tables-replicated copy via Array.take (a full 1 GB
            # binary gather per 2M-vector run) before the exchange;
            # per-table batches ship identical rows (order differs,
            # which the bucket repartition erases) without any gather.
            for t in range(n_tables):
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.ascontiguousarray(tb[:, t])),
                        batch.column(0),
                        packed,
                    ],
                    ["bucket", "vec_id", "emb"],
                )

    shipped = emb.select("vec_id", "embedding").mapInArrow(
        bucket_ship_fn,
        schema="bucket long, vec_id long, emb binary",
    )

    def bucket_score_fn(batches):
        import pyarrow as pa

        bks, vids, mats = [], [], []
        for batch in batches:
            nb = batch.num_rows
            if nb == 0:
                continue
            bks.append(np.asarray(batch.column(0), dtype=np.int64))
            vids.append(np.asarray(batch.column(1), dtype=np.int64))
            mats.append(_unpack_binary(batch.column(2)))
        if not bks:
            return
        PAD = 16  # argpartition tie-pad (see below)
        bk = np.concatenate(bks)
        vid = np.concatenate(vids)
        M = np.concatenate(mats)  # STORED precision; upcast per group
        # sort ONLY the key arrays by (bucket, vec_id); the matrix is
        # gathered per small group — reordering the full float64 matrix
        # was measured as 32-worker page-fault thrash, not compute.
        # Per-group columns come out neighbor-ascending, so a STABLE
        # argsort on -sim yields the (sim DESC, neighbor ASC) order of
        # the fold path.
        o = np.lexsort((vid, bk))
        bk = bk[o]
        vid = vid[o]
        starts = np.flatnonzero(np.r_[True, bk[1:] != bk[:-1]])
        ends = np.r_[starts[1:], len(bk)]
        sizes = ends - starts
        out_v, out_n, out_s = [], [], []
        # SIZE-BATCHED scoring: buckets of equal size g are stacked
        # into one (B, g, d) tensor and scored with batched gemm /
        # argpartition — bitwise-identical per slice to the former
        # per-bucket loop (numpy batches 3-D matmul as one dgemm per
        # slice; einsum 'bij,bij->bi' accumulates j linearly exactly
        # like 'ij,ij->i'; argpartition/lexsort act row-wise either
        # way — equality asserted in tests) but ~50x fewer numpy
        # calls: the former loop spent ~200us of call overhead per
        # ~64-row bucket (49k argpartition calls per run = 9.6 of the
        # score stage's 35 python-cpu-seconds; batching removes it).
        # Chunked so the (B, g, g) sim tensor stays under ~64 MB —
        # chunking only slices the batch dimension, never changes a
        # slice's math.
        for g in np.unique(sizes):
            if g < 2:
                continue
            sel = np.flatnonzero(sizes == g)
            max_b = max(1, _ANN_CHUNK_ELEMS // (int(g) * int(g)))
            for c0 in range(0, len(sel), max_b):
                chunk = sel[c0 : c0 + max_b]
                B = len(chunk)
                # sorted positions of the chunk's buckets; ix maps them
                # back to rows of the UNsorted matrix M (vid/bk were
                # reordered in place above, M deliberately was not)
                pos = starts[chunk][:, None] + np.arange(g)[None, :]
                ix = o[pos]
                if qmax:
                    # integer cells: the gemm is EXACT (int8 dots fit
                    # f32 mantissas, int16 dots fit f64), diag(D) =
                    # |q|^2 gives the norms for free, and the
                    # resulting sims are bit-identical across tables /
                    # bucket shapes — no ULP dedup caveat on this path
                    Qg = M[ix].astype(
                        np.float32 if qmax == 127 else np.float64
                    )
                    D = np.matmul(Qg, Qg.transpose(0, 2, 1)).astype(
                        np.float64
                    )
                    nd = np.sqrt(np.diagonal(D, axis1=1, axis2=2))
                    S = D / (nd[:, :, None] * nd[:, None, :])
                else:
                    # stored precision -> float64 math; norms from the
                    # same gathered tensor (num/den consistent)
                    Mg = M[ix].astype(np.float64)
                    nrm = np.sqrt(np.einsum("bij,bij->bi", Mg, Mg))
                    S = np.matmul(Mg, Mg.transpose(0, 2, 1)) / (
                        nrm[:, :, None] * nrm[:, None, :]
                    )
                ar = np.arange(g)
                S[:, ar, ar] = -np.inf
                kk = min(k, int(g) - 1)
                S2 = S.reshape(B * g, g)
                if g > kk + PAD:
                    # argpartition prefilter (full per-row argsort
                    # measured 10x the gemm cost at bucket~256): keep
                    # kk+PAD candidates unordered, then exact
                    # (sim DESC, neighbor ASC) ordering among them. A
                    # boundary tie deeper than PAD identical sims
                    # (> PAD exactly-equal embeddings in one bucket)
                    # could differ from the fold path's pick — beyond
                    # any real corpus's exact-duplicate multiplicity.
                    part = np.argpartition(-S2, kk + PAD - 1, axis=1)[
                        :, : kk + PAD
                    ]
                    sub = np.take_along_axis(-S2, part, axis=1)
                    # per-row lexsort (primary: -sim ascending = sim
                    # DESC, secondary: neighbor position ascending)
                    # restores the fold path's exact tie-break among
                    # the kept candidates
                    oo = np.lexsort((part, sub), axis=1)[:, :kk]
                    idx = np.take_along_axis(part, oo, axis=1)
                else:
                    idx = np.argsort(-S2, axis=1, kind="stable")[:, :kk]
                gi = vid[pos]  # (B, g) member ids, vec_id-ascending
                idx3 = idx.reshape(B, g, kk)
                out_v.append(gi.ravel())
                out_n.append(
                    gi[np.arange(B)[:, None, None], idx3].reshape(
                        B * g, kk
                    )
                )
                out_s.append(
                    np.take_along_axis(S, idx3, axis=2).reshape(
                        B * g, kk
                    )
                )
        if not out_v:
            return
        # pack each member's k partial pairs into ONE 16*k-byte binary
        # cell (int64 neighbor bits in lane 0, sim in lane 1,
        # interleaved [n1, s1, n2, s2, ...]): the merge exchange
        # carries n*n_tables ROWS instead of n*n_tables*k — measured
        # at 2M vectors/32 cores, the row-per-pair layout cost 102
        # JVM-cpu-seconds of shuffle row framing in the merge stage
        # alone (5x the rows, ~29% of the operator's wall).
        # Cells are emitted as ONE RecordBatch PER CELL WIDTH so every
        # width takes the zero-copy offsets-from-arange path — the r7
        # equal-width check degraded to a per-row bytes() builder
        # whenever any bucket had g <= k (4M Python tobytes calls per
        # run, ~2.5 of the score stage's python-cpu-seconds); the
        # downstream merge is width-agnostic (it re-derives pair
        # counts from the offsets). The int32-offset guard stays: a
        # width group whose payload would reach 2 GiB falls back to
        # the per-row builder rather than silently wrapping.
        by_width: dict[int, list[int]] = {}
        for i, nb in enumerate(out_n):
            by_width.setdefault(nb.shape[1], []).append(i)
        for kk, idxs in by_width.items():
            vcat = np.concatenate([out_v[i] for i in idxs])
            pairs = np.concatenate(
                [
                    np.stack(
                        (out_n[i].view(np.float64), out_s[i]), axis=2
                    ).reshape(len(out_v[i]), -1)
                    for i in idxs
                ]
            )
            width = 2 * kk * 8
            if (len(vcat) + 1) * width < 2**31:
                offs = pa.py_buffer(
                    np.arange(
                        0, (len(vcat) + 1) * width, width, dtype=np.int32
                    ).tobytes()
                )
                arr = pa.Array.from_buffers(
                    pa.binary(),
                    len(vcat),
                    [None, offs, pa.py_buffer(
                        np.ascontiguousarray(pairs).tobytes()
                    )],
                )
            else:  # 2 GiB int32-offset guard: per-row fallback
                arr = pa.array(
                    [row.tobytes() for row in pairs], type=pa.binary()
                )
            yield pa.RecordBatch.from_arrays(
                [pa.array(vcat), arr], ["vec_id", "topk"]
            )

    partial = shipped.repartition(n_partitions, "bucket").mapInArrow(
        bucket_score_fn, schema="vec_id long, topk binary"
    )

    def merge_fn(batches):
        import pyarrow as pa

        vas, vbs, sims = [], [], []
        for batch in batches:
            if batch.num_rows == 0:
                continue
            vid_in = np.asarray(batch.column(0), dtype=np.int64)
            cell = batch.column(1)
            offs = np.frombuffer(cell.buffers()[1], np.int32)[
                cell.offset : cell.offset + len(cell) + 1
            ]
            data = np.frombuffer(cell.buffers()[2], np.uint8)[
                offs[0] : offs[-1]
            ]
            counts = np.diff(offs) // 16
            flat = (
                data.view(np.float64)
                if data.ctypes.data % 8 == 0
                else np.frombuffer(data.tobytes(), np.float64)
            ).reshape(-1, 2)
            vas.append(np.repeat(vid_in, counts))
            vbs.append(np.ascontiguousarray(flat[:, 0]).view(np.int64))
            sims.append(np.ascontiguousarray(flat[:, 1]))
        if not vas:
            return
        va = np.concatenate(vas)
        vb = np.concatenate(vbs)
        sim = np.concatenate(sims)
        # dedup multi-table duplicates keeping the MAX sim (an ULP can
        # separate the same pair's gemm across bucket shapes; max is
        # order-independent, so the result is deterministic). One
        # 2-key lexsort groups (va, vb); maximum.reduceat folds each
        # group to its max — output-equivalent to the former 3-key
        # (-sim, vb, va) sort + keep-first (sim itself never leaves
        # this function, and final ranking breaks sim ties on vb, so
        # even a +-0.0 bit choice cannot change a row).
        o1 = np.lexsort((vb, va))
        va, vb, sim = va[o1], vb[o1], sim[o1]
        newg = np.r_[True, (va[1:] != va[:-1]) | (vb[1:] != vb[:-1])]
        gstart = np.flatnonzero(newg)
        va, vb = va[gstart], vb[gstart]
        sim = np.maximum.reduceat(sim, gstart)
        # top-k per vec WITHOUT another full-width lexsort: after the
        # dedup sort rows are already grouped by va (vb ascending) and
        # a group holds at most n_tables*k rows, so rank inside small
        # PADDED (n_groups, w) tables instead of a 3-key sort over
        # every surviving pair (the two wide lexsorts were ~19 of the
        # merge stage's 20 python-cpu-seconds). A filler flag is the
        # primary sort key so pad cells order strictly last (a NaN
        # sim would outsort a +inf pad sim in plain lexsort);
        # within real cells the (-sim, vb) order of the former
        # lexsort((vb, -sim, va)) is reproduced key for key.
        starts = np.flatnonzero(np.r_[True, va[1:] != va[:-1]])
        sizes = np.diff(np.r_[starts, len(va)])
        G, w = len(starts), int(sizes.max())
        pos = np.arange(len(va), dtype=np.int64) - np.repeat(starts, sizes)
        gidx = np.repeat(np.arange(G, dtype=np.int64), sizes)
        negsim = np.full((G, w), np.inf)
        vbpad = np.zeros((G, w), dtype=np.int64)
        filler = np.ones((G, w), dtype=np.int8)
        negsim[gidx, pos] = -sim
        vbpad[gidx, pos] = vb
        filler[gidx, pos] = 0
        oo = np.lexsort((vbpad, negsim, filler), axis=1)[:, :k]
        take = np.minimum(sizes, k)
        colmask = np.arange(oo.shape[1])[None, :] < take[:, None]
        neigh = np.take_along_axis(vbpad, oo, axis=1)[colmask]
        ranks = np.broadcast_to(
            np.arange(1, oo.shape[1] + 1, dtype=np.int32), oo.shape
        )[colmask]
        va_out = np.repeat(va[starts], take)
        yield pa.RecordBatch.from_arrays(
            [pa.array(va_out), pa.array(ranks), pa.array(neigh)],
            ["vec_id", "rank", "neighbor_id"],
        )

    return partial.repartition(n_partitions, "vec_id").mapInArrow(
        merge_fn, schema="vec_id long, rank int, neighbor_id long"
    )


def ann_topk(
    emb: DataFrame,
    k: int = 5,
    probe_bits: int = 0,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
) -> DataFrame:
    """Approximate top-k: candidates share any table's LSH bucket
    (multi-table random-hyperplane LSH). probe_bits adds 1-bit-flip
    probe buckets per table. Returns (vec_id, rank, neighbor_id).

    Scale shape: the per-table bucket join shuffles only
    (vec_id, bucket) pairs; exact re-scoring happens on the deduped
    candidate union, bounded by bucket sizes per table. The defaults
    are the oracle-pinned widths; at corpus scale pass
    n_planes=suggest_n_planes(n) so expected bucket size stays bounded
    (recall is recovered with n_tables / probe_bits)."""
    e = emb.select("vec_id", "embedding")
    unprobed, probed = [], []
    for t in range(n_tables):
        te = e.withColumn("bucket", lsh_bucket_col(t, n_planes=n_planes))
        unprobed.append(te)
        probed.append(te)
        for p in range(min(probe_bits, n_planes)):
            probed.append(
                te.withColumn(
                    "bucket", F.col("bucket").bitwiseXOR(F.lit(1 << p))
                )
            )
    probes = probed[0]
    for m in probed[1:]:
        probes = probes.unionByName(m)
    base_u = unprobed[0]
    for m in unprobed[1:]:
        base_u = base_u.unionByName(m)
    a = probes.select(F.col("vec_id"), "bucket")
    base = base_u.select(F.col("vec_id").alias("neighbor_id"), "bucket")
    # bucket ids are table-offset, so probe rows only meet their own table
    cand = (
        a.join(base, "bucket")
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id")
        .distinct()
    )
    av = e.select(F.col("vec_id"), F.col("embedding").alias("ea")).withColumn(
        "na", norm_col("ea")
    )
    bv = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("eb")
    ).withColumn("nb", norm_col("eb"))
    scored = cand.join(av, "vec_id").join(bv, "neighbor_id")
    sim = dot_col("ea", "eb") / (F.col("na") * F.col("nb"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "rank", "neighbor_id")
    )
