"""Input-hint page table (url, warc_ts, html binary, text, lang):
builder determinism, byte-level extraction contract, and the per-row
byte-identity invariant (BASELINE.json input_hint)."""

import pytest
from pyspark.sql import functions as F

from geokit_spark.sources import pages as P


@pytest.fixture(scope="module")
def spark():
    from geokit_spark.session import get_spark

    return get_spark("test-pages", cores=4, shuffle_partitions=4)


# ---------------------------------------------------------------------------
# pure-kernel extraction contract


def test_extract_basic():
    h = b"<html><body><p>hello world</p></body></html>"
    assert P.extract_main_text(h) == b"hello world"


def test_extract_skips_non_p_content():
    h = (b"<html><head><title>t</title></head><body><h1>head</h1>"
         b"<p>keep</p><footer>drop</footer></body></html>")
    assert P.extract_main_text(h) == b"keep"


def test_extract_multiple_p_joined_by_newline():
    h = b"<body><p>one</p><div>x</div><p>two</p></body>"
    assert P.extract_main_text(h) == b"one\ntwo"


def test_extract_p_with_attributes_and_inline_tags():
    h = (b'<body><p class="main">a <b>bold</b> and '
         b'<a href="http://x/">link</a> end</p></body>')
    assert P.extract_main_text(h) == b"a bold and link end"


def test_extract_pre_is_not_p():
    h = b"<body><pre>code</pre><p>real</p></body>"
    assert P.extract_main_text(h) == b"real"


def test_extract_br_becomes_newline():
    h = b"<body><p>l1<br>l2<br/>l3</p></body>"
    assert P.extract_main_text(h) == b"l1\nl2\nl3"


def test_extract_entities_single_level():
    # "&amp;lt;" is the LITERAL text "&lt;" — must decode exactly once
    h = b"<body><p>a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39; &amp;lt;</p></body>"
    assert P.extract_main_text(h) == b'a & b <tag> "q" \'s\' &lt;'


def test_extract_no_body_scans_whole_doc():
    assert P.extract_main_text(b"<p>x</p>") == b"x"


def test_extract_malformed_never_raises():
    for h in (b"", b"<body>", b"<p>", b"<body><p>unclosed",
              b"<p attr", b"a < b", b"<body><p>t</p"):
        P.extract_main_text(h)  # total function
    assert P.extract_main_text(b"<body><p>unclosed") == b"unclosed"
    # dangling '<' inside a block is literal text
    assert P.extract_main_text(b"<body><p>a < b</p></body>") == b"a < b"


# ---------------------------------------------------------------------------
# Spark surface


def test_invariant_byte_identical_sf0001(spark):
    """Every page at sf0.001: real extractor output == text column,
    BYTE compare — the north-rule per-row invariant."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = P.pages_from_docs(docs)
    rep = P.extraction_report(pages).toPandas()
    assert (rep.n_byte_exact == rep.n_pages).all()
    assert rep.n_pages.sum() == docs.count()


def test_schema_matches_input_hint(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = P.pages_from_docs(docs)
    assert [(f.name, f.dataType.simpleString()) for f in pages.schema] == [
        ("url", "string"), ("warc_ts", "timestamp"), ("html", "binary"),
        ("text", "string"), ("lang", "string"),
    ]


def test_url_roundtrip_and_builder_is_narrow(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = P.pages_from_docs(docs)
    back = pages.select(P.url_doc_id().alias("doc_id"))
    ids = {r.doc_id for r in back.collect()}
    assert ids == {r.doc_id for r in docs.select("doc_id").collect()}
    # builder + extractor pipeline is shuffle-free
    plan = (
        P.extract_text(pages)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_escape_roundtrips_special_chars(spark):
    """Docs whose text contains markup characters survive the
    build->extract roundtrip byte-exactly."""
    tricky = spark.createDataFrame(
        [
            (1, "a < b & c > d", "en", "srcx", 13),
            (2, 'plain "quoted" text', "en", "srcx", 19),
            (3, "&amp; already escaped", "en", "srcx", 21),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rep = P.extraction_report(P.pages_from_docs(tricky)).toPandas()
    assert int(rep.n_byte_exact.sum()) == 3


def test_extract_text_passthrough(spark):
    """Passthrough columns are echoed from the same Arrow batch —
    same rows, correct per-row pairing, still shuffle-free."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = P.pages_from_docs(docs)
    ext = P.extract_text(pages, passthrough=("lang", "warc_ts"))
    assert ext.columns == ["url", "text_extracted", "lang", "warc_ts"]
    got = {r.url: (r.lang, r.warc_ts) for r in ext.collect()}
    want = {r.url: (r.lang, r.warc_ts) for r in pages.collect()}
    assert got == want
    plan = ext._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_invalid_utf8_page_degrades_one_row(spark):
    """A page with invalid UTF-8 yields one row with U+FFFD in place of
    the bad byte on every extraction path, never a failed job."""
    pages = spark.createDataFrame(
        [("u1", b"<p>good page</p>"), ("u2", b"<p>caf\xe9 ok</p>")],
        "url string, html binary",
    ).coalesce(1)
    as_str = P.extract_text(pages, as_string=True)
    jvm = P.extract_text(pages).select(
        "url", F.decode("text_extracted", "UTF-8").alias("text_extracted")
    )
    sql = P.extract_text_sql(pages).select(
        "url", F.decode("text_extracted", "UTF-8").alias("text_extracted")
    )
    for df in (as_str, jvm, sql):
        got = {r.url: r.text_extracted for r in df.collect()}
        assert got == {"u1": "good page", "u2": "caf� ok"}


def test_mirror_clusters_domains_vs_revisits(spark):
    """n_domains separates a cross-host mirror (2 domains) from a
    same-site revisit pair (1 domain); singletons are dropped."""
    from geokit_spark.operators.dedup import mirror_clusters

    rows = [
        # cross-host mirror pair (same bytes, different domain)
        ("https://a.example/p/1", b"<p>same</p>", "x"),
        ("https://a-mirror.org/p/1", b"<p>same</p>", "x"),
        # same-site revisit pair (same bytes, same domain, two urls)
        ("https://b.example/p/2", b"<p>rev</p>", "x"),
        ("https://b.example/p/2?v=2", b"<p>rev</p>", "x"),
        # singleton
        ("https://c.example/p/3", b"<p>solo</p>", "x"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, html binary, text string"
    )
    out = {r.canonical_url: r for r in mirror_clusters(pages).collect()}
    assert set(out) == {"https://a-mirror.org/p/1", "https://b.example/p/2"}
    assert out["https://a-mirror.org/p/1"].n_domains == 2
    assert out["https://b.example/p/2"].n_domains == 1
    assert all(r.n_copies == 2 for r in out.values())


# ---------------------------------------------------------------------------
# all-JVM extractor variant: byte-identical to the byte kernel on
# well-formed html (the extract_text_sql contract)


# handcrafted WELL-FORMED cases covering every branch the SQL variant
# mirrors: body slicing, missing body, <p> attrs, inline tags, all
# three br spellings (any case / outer whitespace), single-level
# entity decode with &amp; last, no-p docs, multi-block joining
_WELLFORMED = [
    b"<html><body><p>hello world</p></body></html>",
    b"<p>no body tags at all</p>",
    b"<html><body><h1>x</h1>no p blocks</body></html>",
    b"<html><body><p>a</p><p>b</p><p>c</p></body></html>",
    b"<body><p class='x' id=\"y\">attrs <b>bold</b> ok</p></body>",
    b"<body><p>l1<br>l2<br/>l3<br />l4<BR>l5< br >l6</p></body>",
    b"<body><p>&amp;lt; stays, &lt;real&gt; &quot;q&quot; &#39;s&#39;</p></body>",
    b"<body><p>tail without closer",
    b"<body><p>first</p><p>unterminated</body>trail</html>",
    b"<body attr='v'><p>body with attrs</p></body>",
    b"<html><body><pre>not a p</pre><p>yes</p><param x></body></html>",
    b"<body><p >space opener</p></body>",
    b"<body><p>a&amp;b and &gt;&gt; twice &lt;&lt;</p></body>",
    b"",
]


def test_extract_sql_matches_kernel_handcrafted(spark):
    rows = [
        (f"https://t.example/p/{i}", h)
        for i, h in enumerate(_WELLFORMED)
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = {
        r.url: r.text_extracted
        for r in P.extract_text_sql(pages).collect()
    }
    for i, h in enumerate(_WELLFORMED):
        url = f"https://t.example/p/{i}"
        assert got[url] == P.extract_main_text(h), (i, h)


def test_extract_sql_matches_kernel_all_generators(spark):
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    corpora = [
        P.pages_from_docs(docs),
        P.pages_multicrawl(docs),
        P.pages_with_meta(docs),
        P.pages_with_links(docs, 500),
        P.pages_mirrored(docs),
    ]
    for pg in corpora:
        a = P.extract_text(pg).withColumnRenamed("text_extracted", "ta")
        b = P.extract_text_sql(pg).withColumnRenamed("text_extracted", "tb")
        j = a.join(b, "url")
        assert j.filter(F.col("ta") != F.col("tb")).count() == 0
        assert j.filter(F.col("ta").isNull()).count() == 0


def test_extract_sql_is_all_jvm(spark):
    """The throughput variant must stay a pure codegen plan: no
    Arrow/python evals anywhere (the whole point vs the byte
    kernel), no exchange."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = P.extract_text_sql(
        P.pages_from_docs(docs)
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "mapInArrow" not in plan and "Exchange" not in plan
