"""Web-graph operators over the input_hint page table: byte-level
out-link extraction from the html BINARY column, link-graph stats,
and an exact integer PageRank.

Scale shape:

- ``extract_links`` is ONE narrow mapInArrow pass (no shuffle): html
  bytes are scanned with ``bytes.find`` straight off the Arrow
  buffers; at cluster scale it pipelines with the parquet scan
  exactly like sources/pages.extract_text.
- ``pagerank`` is the classic two-shuffle-per-iteration plan: edges
  (pre-partitioned once on src and cached by the caller when
  iterating) hash-join the score vector on src, then aggregate
  contributions on dst. All arithmetic is int64 with truncating
  division, so partial aggregation is exact and order-independent —
  the result is BIT-IDENTICAL at any parallelism, which is what makes
  a distributed PageRank auditable against a sequential oracle.

Reference parity anchor: the reference's closest analogue is the
connected-components flood fill over rasters
(`/root/reference/geokit/core/util.py` polygonize path); PageRank is
the webtext-side iterative-graph workload with the same "fixpoint of
joins" shape as operators/components.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.url import url_path_id

DAMP_NUM, DAMP_DEN = 85, 100
PR_SCALE = 1_000_000
PR_BASE = 150_000  # (1 - d) * PR_SCALE with d = 85/100


def _links_from_html(b: bytes) -> list[int]:
    """All ``href="..."`` targets whose last path segment is an int —
    pure bytes.find scanning, C speed per row."""
    out = []
    i = 0
    while True:
        p = b.find(b'href="', i)
        if p == -1:
            break
        q = b.find(b'"', p + 6)
        if q == -1:
            break
        seg = b[p + 6 : q]
        seg = seg[seg.rfind(b"/") + 1 :]
        if seg.isdigit():
            out.append(int(seg))
        i = q + 1
    return out


def extract_links(pages: DataFrame, keep_url: bool = False) -> DataFrame:
    """(src_id, dst_id, lang) for every out-link on every page —
    src_id is parsed from the url JVM-side (functions/url.url_path_id)
    before the batch reaches Python; the Arrow kernel only scans html
    bytes. One narrow pass, no exchange. With keep_url the raw src
    url rides along as a fourth column (host-graph rollups parse the
    src domain from it without a join back)."""
    cols = [url_path_id(F.col("url")).alias("src_id"), "html", "lang"]
    if keep_url:
        cols.append(F.col("url").alias("src_url"))
    keyed = pages.select(*cols)

    def fn(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            src = batch.column(0)
            html = batch.column(1)
            lang = batch.column(2)
            url = batch.column(3) if keep_url else None
            srcs, dsts, langs, urls = [], [], [], []
            for k in range(batch.num_rows):
                h = html[k].as_py() if html[k].is_valid else b""
                s = src[k].as_py()
                lg = lang[k].as_py()
                for d in _links_from_html(h):
                    srcs.append(s)
                    dsts.append(d)
                    langs.append(lg)
                    if keep_url:
                        urls.append(url[k].as_py())
            arrays = [
                pa.array(srcs, type=pa.int64()),
                pa.array(dsts, type=pa.int64()),
                pa.array(langs, type=pa.string()),
            ]
            names = ["src_id", "dst_id", "lang"]
            if keep_url:
                arrays.append(pa.array(urls, type=pa.string()))
                names.append("src_url")
            yield pa.RecordBatch.from_arrays(arrays, names)

    schema = "src_id long, dst_id long, lang string"
    if keep_url:
        schema += ", src_url string"
    return keyed.mapInArrow(fn, schema=schema)


def _anchors_from_html(b: bytes) -> "list[tuple[int, bytes]]":
    """(dst_id, anchor_text) for every integer-target <a> element —
    the anchor is the raw byte span between the opening tag's '>' and
    '</a>' (entity decode is the extractor's job; nav anchors in the
    builders are plain ASCII)."""
    out = []
    i = 0
    while True:
        p = b.find(b'href="', i)
        if p == -1:
            break
        q = b.find(b'"', p + 6)
        if q == -1:
            break
        seg = b[p + 6 : q]
        seg = seg[seg.rfind(b"/") + 1 :]
        i = q + 1
        if not seg.isdigit():
            continue
        gt = b.find(b">", q)
        if gt == -1:
            break
        end = b.find(b"</a>", gt)
        if end == -1:
            continue
        out.append((int(seg), b[gt + 1 : end]))
        i = end + 4
    return out


def extract_anchors(pages: DataFrame) -> DataFrame:
    """(src_id, dst_id, anchor) for every out-link — same narrow
    no-shuffle shape as extract_links, but the kernel also captures
    the anchor text span (the classic target-page relevance signal:
    what OTHER pages call this page)."""
    keyed = pages.select(url_path_id(F.col("url")).alias("src_id"), "html")

    def fn(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            src = batch.column(0)
            html = batch.column(1)
            srcs, dsts, anchors = [], [], []
            for k in range(batch.num_rows):
                h = html[k].as_py() if html[k].is_valid else b""
                s = src[k].as_py()
                for d, a in _anchors_from_html(h):
                    srcs.append(s)
                    dsts.append(d)
                    anchors.append(a.decode("utf-8", "replace"))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(srcs, type=pa.int64()),
                    pa.array(dsts, type=pa.int64()),
                    pa.array(anchors, type=pa.string()),
                ],
                ["src_id", "dst_id", "anchor"],
            )

    return keyed.mapInArrow(
        fn, schema="src_id long, dst_id long, anchor string"
    )


def host_graph(edges: DataFrame, pages: DataFrame) -> DataFrame:
    """Collapse the page-level edge set to the DOMAIN level: each
    (src_id, dst_id) edge picks up its endpoint registrable domains
    and rolls up per src_domain — total out-links, cross-domain
    out-links, distinct target domains, and a dst doc_id sum pinning
    the exact edge multiset. The src domain comes free from the src
    url (JVM parse, no join); only the DST side needs the page table,
    one dst_id-keyed hash join — the exact shape a 100-TB host-graph
    build has (edges and pages co-partition on the id key, AQE
    handles the mega-host skew)."""
    from ..functions.url import registrable_domain

    key = pages.select(
        url_path_id(F.col("url")).alias("dst_id"),
        registrable_domain(F.col("url")).alias("dst_domain"),
    )
    e = edges.withColumn(
        "src_domain", registrable_domain(F.col("src_url"))
    ).select("src_domain", "dst_id")
    return (
        e.join(key, "dst_id")
        .groupBy("src_domain")
        .agg(
            F.count("*").cast("long").alias("n_links"),
            F.sum(
                (F.col("dst_domain") != F.col("src_domain")).cast("long")
            ).alias("n_cross"),
            F.countDistinct("dst_domain").alias("n_dst_domains"),
            F.sum("dst_id").cast("long").alias("dst_sum"),
        )
    )


def link_stats(edges: DataFrame) -> DataFrame:
    """Per-lang link-graph audit: edge count, distinct targets, and an
    order-independent integer checksum over (src, dst) pairs."""
    chk = (F.col("src_id") * 1009 + F.col("dst_id") * 31) % 999983
    return edges.groupBy("lang").agg(
        F.count("*").alias("n_edges"),
        F.countDistinct("dst_id").alias("n_dst"),
        F.sum(chk).alias("checksum"),
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 3,
) -> DataFrame:
    """Exact integer PageRank: scores start at PR_SCALE; each
    iteration every edge carries ``(85 * s) div (100 * outdeg)`` from
    src to dst and every node restarts from PR_BASE. Truncating int64
    division keeps every intermediate exact, so the distributed sum is
    independent of partitioning/order — bit-reproducible at any
    cluster size and against a sequential oracle.

    nodes: one-column (doc_id) frame enumerating the vertex set
    (dangling in-link-free nodes still score PR_BASE). Edges whose
    source is not in ``nodes`` carry nothing (such a source has no
    score, as in the oracle's NULL left join); a vertex's outdeg still
    counts its edges to non-vertices.

    Plan (r8 restructure — identical integer results, oracle-proved):
    the per-iteration ``nodes LEFT JOIN contrib`` of the r7 shape is
    algebraically folded away — every src in the edge set scores
    exactly ``PR_BASE + coalesce(inflow, 0)``, so the next round's
    contributions join the edge set STRAIGHT against the previous
    round's aggregated inflow; round 1 needs no join at all (s0 =
    PR_SCALE is a constant). The loop is one co-partitioned hash join
    (cached edges: hash(src_id); inflow agg: hash(p_dst) — zero
    exchange) + one dst-keyed partial+final aggregation per round; the
    vertex frame is joined ONCE at the end to restore dangling nodes.
    r7 shape: 6 joins + 3 nodes exchanges for iters=3; now 2 joins +
    1 final. SHUFFLE_HASH hint skips the per-round sort of the big
    edge operand (sums are exact int64 — order-independent)."""
    from pyspark import StorageLevel

    deg = edges.groupBy("src_id").agg(F.count("*").alias("outdeg"))
    # persist the degree-annotated edge set: every iteration's join
    # subtree reuses the cached partitions instead of re-running the
    # upstream extraction (measured: 3 Arrow re-extractions without
    # this). MEMORY_AND_DISK — at cluster scale the edge set is the
    # big operand and must spill, not OOM. The semi-join keeps only
    # edges whose source is a vertex, once, inside the cached frame.
    e = (
        edges.select("src_id", "dst_id")
        .join(
            nodes.select(F.col("doc_id").alias("src_id")), "src_id", "left_semi"
        )
        .join(deg.hint("shuffle_hash"), "src_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    contrib = None  # (p_dst, inflow) after each round
    for _ in range(iters):
        if contrib is None:
            j = e.select(
                "dst_id",
                F.lit(PR_SCALE).cast("long").alias("s"),
                "outdeg",
            )
        else:
            j = e.join(
                contrib.hint("shuffle_hash"),
                F.col("src_id") == F.col("p_dst"),
                "left",
            ).select(
                "dst_id",
                (
                    F.lit(PR_BASE)
                    + F.coalesce(F.col("inflow"), F.lit(0))
                ).cast("long").alias("s"),
                "outdeg",
            )
        contrib = (
            j.select(
                F.col("dst_id").alias("p_dst"),
                F.expr(
                    f"({DAMP_NUM} * s) div ({DAMP_DEN} * outdeg)"
                ).alias("c"),
            )
            .groupBy("p_dst")
            .agg(F.sum("c").alias("inflow"))
        )
    if contrib is None:  # iters=0: every node sits at the start score
        scores = nodes.select(
            F.col("doc_id"), F.lit(PR_SCALE).cast("long").alias("s")
        )
    else:
        scores = (
            nodes.select("doc_id")
            .join(
                contrib.hint("shuffle_hash"),
                F.col("doc_id") == F.col("p_dst"),
                "left",
            )
            .select(
                F.col("doc_id"),
                (F.lit(PR_BASE) + F.coalesce(F.col("inflow"), F.lit(0)))
                .cast("long")
                .alias("s"),
            )
        )
    # cleanup handle for long-lived sessions / repeated calls: the
    # caller can unpersist the cached edge set once the scores are
    # materialized (bench.py does; one-shot jobs can ignore it)
    scores._edge_cache = e
    return scores


def link_depth(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 4,
) -> DataFrame:
    """Crawl-frontier BFS: the minimum link distance (capped at
    ``max_depth``) from a seed set to every reachable page — the
    seed-distance signal crawl schedulers and quality pipelines rank
    by. Frontier-only expansion: round t joins ONLY the nodes first
    reached at t-1 against the edge set, anti-joins the already-seen
    set, and appends the survivors at depth t — each round is one
    src-keyed hash join plus one distinct/anti-join exchange, state
    grows by exactly the newly-reached nodes, and because every hop
    adds exactly 1 the frontier-only recursion IS the true min
    distance (no re-relaxation needed, unlike weighted graphs).

    The edge set is persisted once (MEMORY_AND_DISK — the big operand
    at cluster scale); each round's frontier is eagerly
    localCheckpoint-ed, the standard iterative-graph lineage cut —
    without it the union-of-rounds plan compounds (each round's repr
    embeds every earlier round) and the optimizer re-derives the whole
    history per round. All values are int64 set arithmetic —
    bit-identical at any parallelism. Returns (doc_id, depth).

    seeds: one-column (doc_id) frame. Unreached nodes are absent.
    """
    from pyspark import StorageLevel

    e = edges.select("src_id", "dst_id").persist(StorageLevel.MEMORY_AND_DISK)
    dist = seeds.select(
        F.col("doc_id"), F.lit(0).cast("int").alias("depth")
    ).localCheckpoint(eager=True)
    frontier = dist
    for t in range(1, max_depth + 1):
        new = (
            e.join(frontier, e.src_id == frontier.doc_id)
            .select(F.col("dst_id").alias("doc_id"))
            .distinct()
            .join(dist, "doc_id", "left_anti")
            .select(F.col("doc_id"), F.lit(t).cast("int").alias("depth"))
            .localCheckpoint(eager=True)
        )
        dist = dist.unionAll(new)
        frontier = new
    # hand the persisted edge set to the caller for unpersist once the
    # result is materialized (mirrors pagerank._edge_cache)
    dist._bfs_cache = [e]
    return dist


def filter_blocked_domains(
    pages: DataFrame, blocklist: "list[str]"
) -> DataFrame:
    """URL-level curation: drop every page whose REGISTRABLE DOMAIN is
    on the blocklist (the standard crawl hygiene stage — spam farms,
    opt-outs, license-flagged hosts). The domain is parsed from the
    url by the real parser (functions/url.registrable_domain — case,
    port, and www. variants must fold), and the filter is a BROADCAST
    ANTI join against the blocklist frame: at 100 TB the blocklist
    (10^5-10^6 rows) broadcasts once and the page table never
    shuffles. No boolean-column rescan, no collect."""
    from ..functions.url import registrable_domain

    spark = pages.sparkSession
    bl = F.broadcast(
        spark.createDataFrame(
            [(d,) for d in sorted(set(blocklist))], "domain string"
        )
    )
    keyed = pages.withColumn(
        "domain", registrable_domain(F.col("url"))
    )
    return keyed.join(bl, "domain", "left_anti").drop("domain")


def cap_per_domain(pages: DataFrame, k: int = 5) -> DataFrame:
    """Domain-diversity cap — keep only the k EARLIEST captures per
    registrable domain (deterministic total order: warc_ts, then url):
    the standard guard against a handful of giant hosts dominating a
    training corpus. One shuffle on the domain key, rank inside the
    partition. What makes the pathological mega-domain safe at 100 TB
    is Spark >= 3.5's rank-limit pushdown: because the filter is
    ``row_number() <= k`` directly over the window, the optimizer
    inserts a PARTIAL WindowGroupLimit BELOW the exchange (map-side
    top-k per domain), so the shuffle carries at most k rows per
    domain per map partition — NOT all of the mega-domain's pages.
    (AQE does not split Window partitions; it is not the mechanism.)
    tests/test_webgraph.py pins the Partial WindowGroupLimit node in
    the executed plan so a refactor that breaks pushdown eligibility
    (e.g. ranking over a computed column Spark can't push) fails
    loudly instead of silently re-becoming a scale-killer. k is a
    constant so the retained set is O(domains), not O(pages). Returns
    the kept pages plus their (domain, capture_rank)."""
    from pyspark.sql import Window

    from ..functions.url import registrable_domain

    w = (
        Window.partitionBy("domain")
        .orderBy(F.col("warc_ts").asc(), F.col("url").asc())
    )
    keyed = pages.withColumn(
        "domain", registrable_domain(F.col("url"))
    ).withColumn("capture_rank", F.row_number().over(w))
    return keyed.filter(F.col("capture_rank") <= k)
