"""URL canonicalization, link extraction, and integer PageRank.

Covers the edge cases the oracle rows can't reach: messy/degenerate
urls, malformed html, partitioning-invariance of the integer
PageRank, and the no-shuffle plan shape of the narrow passes.
"""

import pytest
from pyspark.sql import functions as F

from geokit_spark.functions.url import (
    canonical_url,
    registrable_domain,
    surt_key,
    url_path_id,
)
from geokit_spark.operators.webgraph import (
    PR_BASE,
    PR_SCALE,
    _links_from_html,
    extract_links,
    pagerank,
)
from geokit_spark.sources.pages import pages_with_links


def _eval_url(spark, urls, col_fn):
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    return [r[0] for r in df.select(col_fn(F.col("url"))).collect()]


CANON_CASES = [
    # (raw, canonical, surt)
    (
        "HTTPS://WWW.Example.COM:443/a/b?z=1&a=2#frag",
        "https://www.example.com/a/b?a=2&z=1",
        "com,example)/a/b?a=2&z=1",
    ),
    (
        # SURT keeps non-default ports: distinct origins stay distinct
        "http://example.com:8080/x",
        "http://example.com:8080/x",
        "com,example:8080)/x",
    ),
    ("https://example.com/x", "https://example.com/x", "com,example)/x"),
    # no scheme, no path, no query
    ("example.com", "://example.com", "com,example)"),
    # port kept when non-default for the scheme
    ("http://h.net:443/p", "http://h.net:443/p", "net,h:443)/p"),
    # empty query after '?' normalizes away the '?'
    ("https://h.net/p?", "https://h.net/p", "net,h)/p"),
]


def test_canonical_and_surt(spark):
    raws = [c[0] for c in CANON_CASES]
    got_c = _eval_url(spark, raws, canonical_url)
    got_s = _eval_url(spark, raws, surt_key)
    for (raw, want_c, want_s), gc, gs in zip(CANON_CASES, got_c, got_s):
        assert gc == want_c, raw
        assert gs == want_s, raw


DOMAIN_CASES = [
    ("https://www.shop.example.co.uk/x", "example.co.uk"),
    ("https://a.b.c.example.com/x", "example.com"),
    ("https://example.net/x", "example.net"),
    ("https://localhost/x", "localhost"),
    ("https://www.gov.uk/x", "gov.uk"),
]


def test_registrable_domain(spark):
    got = _eval_url(spark, [c[0] for c in DOMAIN_CASES], registrable_domain)
    for (raw, want), g in zip(DOMAIN_CASES, got):
        assert g == want, raw


def test_url_path_id_query_safe(spark):
    urls = [
        "https://h.net/p/42?b=2&a=1",
        "https://h.net/p/7#frag",
        "HTTP://H.NET:80/p/0",
    ]
    assert _eval_url(spark, urls, url_path_id) == [42, 7, 0]


def test_links_from_html_malformed():
    assert _links_from_html(b'<a href="/p/3"></a><a href="/p/9">') == [3, 9]
    # non-numeric, empty, truncated-quote targets are skipped
    assert _links_from_html(b'<a href="/about"></a>') == []
    assert _links_from_html(b'<a href="">x</a><a href="/p/5') == []
    assert _links_from_html(b"") == []
    # absolute url with numeric tail parses too
    assert _links_from_html(b'<a href="https://h.net/p/12">') == [12]


def test_extract_links_no_shuffle(spark, docs):
    pages = pages_with_links(docs, docs.count())
    plan = (
        extract_links(pages)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def _py_pagerank(edges, nodes, iters=3):
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    scores = {v: PR_SCALE for v in nodes}
    for _ in range(iters):
        nxt = {v: PR_BASE for v in nodes}
        for s, d in edges:
            if s in scores and d in nxt:  # non-vertex ends carry nothing
                nxt[d] += (85 * scores[s]) // (100 * outdeg[s])
        scores = nxt
    return scores


@pytest.mark.parametrize("parts", [1, 7])
def test_pagerank_matches_sequential(spark, parts):
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (2, 0), (4, 0)]
    nodes = list(range(5))  # node 3 is fully disconnected
    e = spark.createDataFrame(edges, ["src_id", "dst_id"]).repartition(parts)
    n = spark.createDataFrame([(v,) for v in nodes], ["doc_id"])
    got = {
        r["doc_id"]: r["s"] for r in pagerank(e, n, iters=3).collect()
    }
    want = _py_pagerank(edges, nodes)
    assert got == want
    assert got[3] == PR_BASE  # disconnected node: restart mass only


def test_pagerank_node_subset_drops_outside_sources(spark):
    """Sources outside the vertex set contribute nothing (the oracle's
    left join finds no score for them); a vertex's outdeg still counts
    its edge to a non-vertex."""
    edges = [(0, 1), (1, 2), (2, 0), (9, 1), (9, 2), (2, 9)]
    nodes = [0, 1, 2]  # 9 is a crawled-but-filtered page
    e = spark.createDataFrame(edges, ["src_id", "dst_id"])
    n = spark.createDataFrame([(v,) for v in nodes], ["doc_id"])
    got = {r["doc_id"]: r["s"] for r in pagerank(e, n, iters=3).collect()}
    assert got == _py_pagerank(edges, nodes)
    inner = [(s, d) for s, d in edges if s != 9]
    assert got == _py_pagerank(inner, nodes)


def test_pagerank_multiedge_self_loop(spark):
    edges = [(0, 0), (0, 1), (1, 0)]
    e = spark.createDataFrame(edges, ["src_id", "dst_id"])
    n = spark.createDataFrame([(0,), (1,)], ["doc_id"])
    got = {r["doc_id"]: r["s"] for r in pagerank(e, n, iters=2).collect()}
    assert got == _py_pagerank(edges, [0, 1], iters=2)


def test_pagerank_edge_cache_handle(spark):
    """The returned frame carries the persisted edge set so callers
    (bench.py, long-lived sessions) can release it after materializing;
    unpersisting must not change already-collected results."""
    edges = [(0, 1), (1, 0), (1, 2)]
    e = spark.createDataFrame(edges, ["src_id", "dst_id"])
    n = spark.createDataFrame([(v,) for v in range(3)], ["doc_id"])
    sc = pagerank(e, n, iters=2)
    got = {r["doc_id"]: r["s"] for r in sc.collect()}
    assert sc._edge_cache.storageLevel.useMemory
    sc._edge_cache.unpersist()
    assert not sc._edge_cache.storageLevel.useMemory
    assert got == _py_pagerank(edges, list(range(3)), iters=2)


def test_pagerank_round_join_reads_cached_edges_unshuffled(spark):
    """Plan pin: the persisted edge frame is hash(src_id)-partitioned,
    so each round's join with the inflow (hash(p_dst)) reads it with
    no Exchange in between."""
    edges = [(i % 50, (i * 7 + 3) % 50) for i in range(400)]
    e = spark.createDataFrame(edges, ["src_id", "dst_id"])
    n = spark.createDataFrame([(v,) for v in range(50)], ["doc_id"])
    sc = pagerank(e, n, iters=3)
    sc.collect()
    # the final adaptive plan: the initial one plans an Exchange before
    # the cache exists to report its partitioning
    final = sc._jdf.queryExecution().executedPlan().executedPlan()
    lines = final.toString().splitlines()

    def col(line):  # column where the node's text starts
        return len(line) - len(line.lstrip(" :+-"))

    joins = [
        i for i, line in enumerate(lines)
        if "ShuffledHashJoin [src_id" in line and "[p_dst" in line
    ]
    assert joins  # iters=3: rounds 2 and 3 join
    for i in joins:
        c = col(lines[i])
        streamed = [lines[i + 1]]  # the join's first child: the edges
        for line in lines[i + 2:]:
            if col(line) <= c or (col(line) == c + 3 and line[c] == "+"):
                break
            streamed.append(line)
        # the cached frame's own plan below InMemoryRelation is not the
        # path from the cache to the join
        cut = next(
            k for k, line in enumerate(streamed) if "InMemoryRelation" in line
        )
        path = streamed[:cut]
        assert any("InMemoryTableScan" in line for line in path), path
        assert not any("Exchange" in line for line in path), path


def test_filter_blocked_domains_broadcast_anti(spark):
    """Blocked domains vanish (across case/port/www url variants) and
    the plan is a broadcast anti join — the page side never shuffles."""
    from geokit_spark.operators.webgraph import filter_blocked_domains

    rows = [
        ("https://bad.example/p/1",),
        ("HTTPS://BAD.EXAMPLE:443/p/2#f",),
        ("http://www.bad.example:80/p/3",),
        ("https://good.example/p/4",),
    ]
    pages = spark.createDataFrame(rows, "url string")
    kept = filter_blocked_domains(pages, ["bad.example"])
    assert [r.url for r in kept.collect()] == ["https://good.example/p/4"]
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def _py_bfs(edges, seeds, max_depth):
    """Sequential BFS golden: true min distance capped at max_depth."""
    from collections import defaultdict

    adj = defaultdict(list)
    for s, d in edges:
        adj[s].append(d)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for t in range(1, max_depth + 1):
        nxt = set()
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = t
                    nxt.add(v)
        frontier = nxt
    return dist


@pytest.mark.parametrize("parts", [1, 7])
def test_link_depth_matches_sequential(spark, parts):
    from geokit_spark.operators.webgraph import link_depth

    # diamond + chain + a cycle back into the seed, plus an island
    edges = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (4, 0), (5, 6)]
    e = spark.createDataFrame(edges, ["src_id", "dst_id"]).repartition(parts)
    seeds = spark.createDataFrame([(0,)], ["doc_id"])
    dist = link_depth(e, seeds, max_depth=3)
    got = {r["doc_id"]: r["depth"] for r in dist.collect()}
    for df in dist._bfs_cache:
        df.unpersist()
    assert got == _py_bfs(edges, [0], 3)
    assert 4 not in got or got[4] == 3  # capped at max_depth
    assert 5 not in got and 6 not in got  # island unreached


def test_link_depth_min_not_last_wins(spark):
    """A node reachable by both a short and a long path must keep the
    SHORT distance — the anti-join must drop the depth-2 rediscovery
    of a depth-1 node."""
    from geokit_spark.operators.webgraph import link_depth

    edges = [(0, 1), (0, 2), (2, 1), (1, 9), (2, 9)]
    e = spark.createDataFrame(edges, ["src_id", "dst_id"])
    seeds = spark.createDataFrame([(0,)], ["doc_id"])
    dist = link_depth(e, seeds, max_depth=4)
    got = {r["doc_id"]: r["depth"] for r in dist.collect()}
    for df in dist._bfs_cache:
        df.unpersist()
    assert got == {0: 0, 1: 1, 2: 1, 9: 2}


def test_cap_per_domain_earliest_k(spark):
    """Keep the k earliest captures per registrable domain; ties on
    warc_ts break on url, and the url variants of one domain fold."""
    from datetime import datetime, timezone

    from geokit_spark.operators.webgraph import cap_per_domain

    def ts(s):
        return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)

    rows = [
        ("https://a.example/p/1", ts(100)),
        ("HTTPS://A.EXAMPLE:443/p/2", ts(50)),   # same domain, earlier
        ("http://www.a.example/p/3", ts(200)),
        ("https://b.example/p/4", ts(10)),
        ("https://b.example/p/5", ts(10)),       # tie -> url order
    ]
    pages = spark.createDataFrame(rows, "url string, warc_ts timestamp")
    kept = cap_per_domain(pages, k=2)
    got = sorted((r.domain, r.capture_rank, r.url) for r in kept.collect())
    assert got == [
        ("a.example", 1, "HTTPS://A.EXAMPLE:443/p/2"),
        ("a.example", 2, "https://a.example/p/1"),
        ("b.example", 1, "https://b.example/p/4"),
        ("b.example", 2, "https://b.example/p/5"),
    ]


def test_cap_per_domain_mapside_window_group_limit(spark):
    """Pin the 100-TB scale guarantee of cap_per_domain: Spark >= 3.5
    pushes the ``row_number() <= k`` filter down as a PARTIAL
    WindowGroupLimit BELOW the domain exchange (map-side top-k per
    domain), so a mega-domain contributes at most k rows per map
    partition to the shuffle. If a refactor breaks rank-pushdown
    eligibility this assertion fails instead of silently shipping the
    whole mega-domain through one task."""
    from datetime import datetime, timezone

    from geokit_spark.operators.webgraph import cap_per_domain

    ts = datetime.fromtimestamp(100, tz=timezone.utc).replace(tzinfo=None)
    pages = spark.createDataFrame(
        [(f"https://a.example/p/{i}", ts) for i in range(50)],
        "url string, warc_ts timestamp",
    )
    kept = cap_per_domain(pages, k=2)
    kept.collect()  # force the executed (AQE-final) plan
    plan = kept._jdf.queryExecution().executedPlan().toString()
    limits = [
        ln for ln in plan.splitlines() if "WindowGroupLimit" in ln
    ]
    assert any("Partial" in ln for ln in limits), plan
    # the Partial node must sit BELOW the exchange: in the plan string
    # (top-down) the exchange line appears before the Partial limit
    ex_at = plan.index("Exchange hashpartitioning(domain")
    partial_at = plan.index(
        [ln for ln in limits if "Partial" in ln][0].strip()
    )
    assert partial_at > ex_at, plan


def test_anchors_from_html_malformed():
    from geokit_spark.operators.webgraph import _anchors_from_html

    h = (
        b'<a href="/p/7">seven</a>'
        b'<a href="/about">skip-nondigit</a>'
        b'<a href="/p/9">no close'          # missing </a>: dropped
    )
    assert _anchors_from_html(h) == [(7, b"seven")]
    # anchor span may contain nested inline bytes — kept raw
    h2 = b'<a href="/p/3"><b>bold</b></a><a href="/p/4"></a>'
    assert _anchors_from_html(h2) == [(3, b"<b>bold</b>"), (4, b"")]
    assert _anchors_from_html(b"") == []


def test_host_graph_hand_case(spark):
    """Cross vs intra domain counting over a 2-domain hand graph."""
    from datetime import datetime

    from geokit_spark.operators.webgraph import extract_links, host_graph

    def page(host, pid, hrefs):
        html = "".join(f'<a href="/p/{d}">x</a>' for d in hrefs)
        return (
            f"https://{host}/p/{pid}",
            datetime(2020, 1, 1),
            html.encode(),
            "",
            "en",
        )

    rows = [
        page("a.example", 0, [1, 2]),   # 0->1 intra, 0->2 cross
        page("a.example", 1, [0]),      # intra
        page("b.example", 2, [0, 0]),   # two cross edges
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string,"
        " lang string"
    )
    edges = extract_links(pages, keep_url=True)
    got = {
        r.src_domain: (r.n_links, r.n_cross, r.n_dst_domains, r.dst_sum)
        for r in host_graph(edges, pages).collect()
    }
    assert got == {
        "a.example": (3, 1, 2, 3),
        "b.example": (2, 2, 1, 0),
    }
