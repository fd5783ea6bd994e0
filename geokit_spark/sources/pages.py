"""Common-Crawl-style web-page table — the driver-specified input
shape (`BASELINE.json` `input_hint`):

    (url string, warc_ts timestamp, html binary, text string,
     lang string)

`pages_from_docs` derives that table deterministically from the
`documents` fixture entirely in JVM expressions (url and warc_ts are
pure functions of doc_id; html is a deterministic markup wrapping
whose ``<p>`` blocks carry the escaped text), so the same rows are
reproducible at any scale on any engine — no external data.

`extract_text` is the real operator the north star names: a byte-level
main-content extractor over the BINARY html column (block ``<p>``
scan between ``<body>``/``</body>``, inline-tag strip, ``<br>`` →
newline, HTML-entity decode) run as one narrow mapInArrow pass — no
shuffle, no per-element Arrow lists, bytes stay bytes. The per-row
invariant (reference contract, `BASELINE.json` input_hint: byte-
identical extracted text per url) is verified corpus-wide by
`q_pages_extract` against the DuckDB oracle and per-byte in
tests/test_pages.py.

Reference parity anchor: the reference loads whole vector layers and
trusts OGR's decode (`/root/reference/geokit/core/vector.py:30-53`);
here the "decode" is the html→text extraction and the invariant makes
it auditable row-by-row at 100-TB scale (a count of byte-exact rows
per source partition is a one-pass map-side-combinable aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# epoch base for warc_ts: 2020-09-13T12:26:40Z; each doc_id offsets by
# one second, so timestamps are distinct, sorted by doc_id, and the
# epoch arithmetic stays exact integer math on both engines
WARC_EPOCH = 1_600_000_000

_PRE = "<!doctype html><html><head><title>"
_MID1 = "</title></head><body><h1>"
_MID2 = "</h1><p>"
_POST = "</p><footer>crawl</footer></body></html>"


def _escape_expr(col):
    """HTML-escape a text column: ``&`` first (so later entities are
    not double-escaped), then ``<``/``>``. Mirrored literally in the
    oracle SQL (oracle/pagesql.py)."""
    e = F.replace(col, F.lit("&"), F.lit("&amp;"))
    e = F.replace(e, F.lit("<"), F.lit("&lt;"))
    return F.replace(e, F.lit(">"), F.lit("&gt;"))


def pages_from_docs(docs: DataFrame) -> DataFrame:
    """Derive the input_hint page table from the documents table —
    pure whole-stage-codegen expressions (concat/replace/encode), one
    narrow projection, no UDF, no shuffle."""
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example/p/"),
        F.col("doc_id").cast("string"),
    )
    html_str = F.concat(
        F.lit(_PRE),
        F.col("source"),
        F.lit(" #"),
        F.col("doc_id").cast("string"),
        F.lit(_MID1),
        F.col("source"),
        F.lit(_MID2),
        _escape_expr(F.col("text")),
        F.lit(_POST),
    )
    return docs.select(
        url.alias("url"),
        F.timestamp_seconds(F.lit(WARC_EPOCH) + F.col("doc_id")).alias(
            "warc_ts"
        ),
        F.encode(html_str, "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def url_doc_id(col=None):
    """Parse the doc_id back out of a page url (the deterministic
    inverse of pages_from_docs' url template) — JVM split, no UDF."""
    if col is None:
        col = F.col("url")
    return F.element_at(F.split(col, "/"), -1).cast("long")


# host0 = source || sfx((doc_id%9) div 3) — the suffix index cycles
# 0,0,0,1,1,1,2,2,2 so it is NOT correlated with the doc_id%2 / %3
# crawl-inclusion rules (every suffix sees every revision pattern,
# including the www. variant)
_SUFFIXES = (".example", ".co.uk", ".net")


def _host0():
    sfx = F.element_at(
        F.array(*[F.lit(s) for s in _SUFFIXES]),
        (F.expr("(doc_id % 9) div 3") + 1).cast("int"),
    )
    return F.concat(F.col("source"), sfx)


def _html_expr(text_col):
    """The pages_from_docs html template over an arbitrary text column
    (kept in sync with pages_from_docs — the oracle mirrors both)."""
    return F.concat(
        F.lit(_PRE),
        F.col("source"),
        F.lit(" #"),
        F.col("doc_id").cast("string"),
        F.lit(_MID1),
        F.col("source"),
        F.lit(_MID2),
        _escape_expr(text_col),
        F.lit(_POST),
    )


# per-crawl epoch stride: revisions of one url are 10^7 s apart, so
# (epoch - WARC_EPOCH - doc_id) div STRIDE recovers the crawl index
CRAWL_STRIDE = 10_000_000


def pages_multicrawl(docs: DataFrame) -> DataFrame:
    """Three deterministic crawls of the corpus in the input_hint
    shape — the revisit workload url dedup needs. Crawl c covers doc
    iff c == 0 or doc_id % (c+1) == 0; revisions carry a ' (rev c)'
    text suffix and COSMETICALLY different urls:

      c=0  https://<host>/p/<id>[?b=2&a=1]            (base)
      c=1  HTTPS://<HOST>:443/p/<id>[?a=1&b=2]#top    (case/port/frag)
      c=2  http://www.<host>:80/p/<id>[?b=2&a=1]      (scheme/www)

    so canonical_url collapses c1 into c0 (scheme+host case, default
    port, fragment, query order) while surt_key collapses ALL three
    (scheme + www dropped). Hosts rotate real suffix shapes
    (.example / .co.uk / .net) to exercise registrable-domain rollup.
    One generate + filter, all whole-stage codegen, no shuffle."""
    qbase = F.when(F.col("doc_id") % 5 == 0, F.lit("?b=2&a=1")).otherwise(F.lit(""))
    qsorted = F.when(F.col("doc_id") % 5 == 0, F.lit("?a=1&b=2")).otherwise(F.lit(""))
    host = _host0()
    pid = F.concat(F.lit("/p/"), F.col("doc_id").cast("string"))
    c = F.col("crawl")
    url = (
        F.when(c == 0, F.concat(F.lit("https://"), host, pid, qbase))
        .when(
            c == 1,
            F.concat(
                F.lit("HTTPS://"), F.upper(host), F.lit(":443"), pid, qsorted,
                F.lit("#top"),
            ),
        )
        .otherwise(
            F.concat(F.lit("http://www."), host, F.lit(":80"), pid, qbase)
        )
    )
    text_c = F.when(c == 0, F.col("text")).otherwise(
        F.concat(F.col("text"), F.lit(" (rev "), c.cast("string"), F.lit(")"))
    )
    return (
        docs.select(
            "doc_id", "text", "lang", "source",
            F.explode(F.sequence(F.lit(0), F.lit(2))).alias("crawl"),
        )
        .filter((c == 0) | (F.col("doc_id") % (c + 1) == 0))
        .select(
            url.alias("url"),
            F.timestamp_seconds(
                F.lit(WARC_EPOCH) + F.col("doc_id") + c * CRAWL_STRIDE
            ).alias("warc_ts"),
            F.encode(_html_expr(text_c), "UTF-8").alias("html"),
            text_c.alias("text"),
            F.col("lang"),
        )
    )


# meta-robots variants injected into <head>: the UPPERCASE branch
# outranks the others so a doc matching both %11 and %7 rules carries
# exactly one tag; noindex holds iff doc_id%11==7 OR doc_id%7==3
_META_UPPER = '<META NAME="ROBOTS" CONTENT="NOFOLLOW, NOINDEX">'
_META_NOIDX = '<meta name="robots" content="noindex,nofollow">'
_META_INDEX = '<meta name="robots" content="index, follow">'


def pages_with_meta(docs: DataFrame) -> DataFrame:
    """input_hint pages whose <head> carries a deterministic
    meta-robots tag mix — the noindex-curation workload. Three shapes
    rotate by doc_id arithmetic: a lowercase ``noindex,nofollow``, an
    UPPERCASE spaced ``NOFOLLOW, NOINDEX`` (directive order flipped —
    the parser must case-fold AND token-split, not substring-match),
    and a benign ``index, follow`` that must NOT be dropped. The tag
    sits between </title> and </head>, so the main-text extraction
    contract is untouched. Pure codegen expressions, no UDF."""
    d = F.col("doc_id")
    meta = (
        F.when(d % 11 == 7, F.lit(_META_UPPER))
        .when(d % 7 == 3, F.lit(_META_NOIDX))
        .when(d % 7 == 5, F.lit(_META_INDEX))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example/p/"),
        d.cast("string"),
    )
    html_str = F.concat(
        F.lit("<!doctype html><html><head><title>"),
        F.col("source"),
        F.lit(" #"),
        d.cast("string"),
        F.lit("</title>"),
        meta,
        F.lit("</head><body><h1>"),
        F.col("source"),
        F.lit(_MID2),
        _escape_expr(F.col("text")),
        F.lit(_POST),
    )
    return docs.select(
        url.alias("url"),
        F.timestamp_seconds(F.lit(WARC_EPOCH) + d).alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def pages_mirrored(docs: DataFrame) -> DataFrame:
    """input_hint pages where every doc appears at its primary host
    and docs with ``doc_id % 3 == 0`` ALSO appear — byte-identical
    html — under an unrelated mirror domain
    (``<source>-mirror.org``): the cross-host mirror-farm workload
    for operators.dedup.mirror_clusters. One union of two narrow
    projections, no shuffle."""
    base = pages_from_docs(docs)
    murl = F.concat(
        F.lit("https://"), F.col("source"), F.lit("-mirror.org/p/"),
        F.col("doc_id").cast("string"),
    )
    mirrors = docs.filter(F.col("doc_id") % 3 == 0).select(
        murl.alias("url"),
        F.timestamp_seconds(
            F.lit(WARC_EPOCH) + F.col("doc_id") + 2 * CRAWL_STRIDE
        ).alias("warc_ts"),
        F.encode(_html_expr(F.col("text")), "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    return base.unionAll(mirrors)


# out-link multipliers: outdeg(d) = 1 + d%4 targets (d*P[j] + j) % n
LINK_MULTS = (7, 13, 31, 97)


def pages_with_links(docs: DataFrame, n_docs: int) -> DataFrame:
    """Single-crawl page table whose html carries a deterministic
    ``<nav>`` of out-links — the web-graph workload (link extraction,
    PageRank). Page d links to (d * P[j] + d div 7 + j) % n_docs for
    j < 1 + d%4, P = (7, 13, 31, 97); the ``d div 7`` term makes the
    map non-affine mod small residues, so in-degrees (and PageRank
    scores) genuinely vary across nodes instead of collapsing into
    residue-class constants. Hrefs are site-relative ``/p/<id>``
    anchors, outside the ``<p>`` block so the main-text extraction
    contract is untouched."""
    mults = ",".join(f"{m}L" for m in LINK_MULTS)
    # anchor text 'a<(src+dst)%7>' depends on BOTH endpoints, so an
    # anchor-level rollup can't be faked from either side alone
    dst = (
        f"(doc_id * element_at(array({mults}), j + 1)"
        f" + doc_id div 7 + j) % {int(n_docs)}L"
    )
    nav = F.expr(
        "array_join(transform(sequence(0, cast(doc_id % 4 as int)), j -> "
        f"concat('<a href=\"/p/', cast({dst} as string), '\">a', "
        f"cast((doc_id + {dst}) % 7 as string), '</a>')), '')"
    )
    html = F.concat(
        F.lit(_PRE),
        F.col("source"),
        F.lit(" #"),
        F.col("doc_id").cast("string"),
        F.lit(_MID1),
        F.col("source"),
        F.lit(_MID2),
        _escape_expr(F.col("text")),
        F.lit("</p><nav>"),
        nav,
        F.lit("</nav><footer>crawl</footer></body></html>"),
    )
    url = F.concat(
        F.lit("https://"), _host0(), F.lit("/p/"), F.col("doc_id").cast("string")
    )
    return docs.select(
        url.alias("url"),
        F.timestamp_seconds(F.lit(WARC_EPOCH) + F.col("doc_id")).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


# --------------------------------------------------------------------------
# byte-level main-content extraction (the decode operator)

# decode order matters: every non-amp entity first, ``&amp;`` LAST, so
# the literal text "&amp;lt;" decodes to "&lt;" (one level), never "<"
_ENTITIES = (
    (b"&lt;", b"<"),
    (b"&gt;", b">"),
    (b"&quot;", b'"'),
    (b"&#39;", b"'"),
    (b"&amp;", b"&"),
)


def _decode_entities(x: bytes) -> bytes:
    if b"&" not in x:
        return x
    for ent, ch in _ENTITIES:
        x = x.replace(ent, ch)
    return x


def _strip_inline(seg: bytes) -> bytes:
    """Drop inline tags inside a <p> block (``<b>``, ``<a href=..>``,
    …), turning ``<br>``/``<br/>`` into a newline, then decode
    entities. All scanning is bytes.find — C speed per row."""
    if b"<" not in seg:
        return _decode_entities(seg)
    parts = []
    i, n = 0, len(seg)
    while i < n:
        lt = seg.find(b"<", i)
        if lt == -1:
            parts.append(seg[i:])
            break
        parts.append(seg[i:lt])
        gt = seg.find(b">", lt)
        if gt == -1:  # dangling '<': literal text
            parts.append(seg[lt:])
            break
        tag = seg[lt + 1 : gt].strip().lower()
        if tag in (b"br", b"br/", b"br /"):
            parts.append(b"\n")
        i = gt + 1
    return _decode_entities(b"".join(parts))


def extract_main_text(b: bytes) -> bytes:
    """Main-content contract: the concatenation of all ``<p>`` block
    contents between <body> and </body> (whole document if no body
    tag), blocks joined by a newline; inline markup stripped, entities
    decoded. Deterministic and total — malformed html degrades to
    best-effort, never raises."""
    lo = b.find(b"<body")
    if lo == -1:
        start = 0
    else:
        gt = b.find(b">", lo)
        start = gt + 1 if gt != -1 else lo + 5
    hi = b.find(b"</body>", start)
    if hi == -1:
        hi = len(b)
    out = []
    i = start
    while True:
        p = b.find(b"<p", i)
        if p == -1 or p >= hi:
            break
        nxt = b[p + 2 : p + 3]
        if nxt not in (b">", b" "):  # <pre>, <param>, ...
            i = p + 2
            continue
        cs = b.find(b">", p)
        if cs == -1:
            break
        cs += 1
        ce = b.find(b"</p>", cs)
        if ce == -1 or ce > hi:
            ce = hi
        out.append(_strip_inline(b[cs:ce]))
        i = ce + 4
    return b"\n".join(out)


def extract_text(
    pages: DataFrame,
    passthrough: tuple[str, ...] = (),
    as_string: bool = False,
) -> DataFrame:
    """(url, text_extracted[, *passthrough]) for every page — ONE
    narrow mapInArrow pass over (url, html, *passthrough); html bytes
    are read straight from the Arrow binary buffers and never
    converted to Python strings until the per-row scan. At cluster
    scale this pipelines with the parquet scan: no exchange, no
    driver state. `passthrough` columns (e.g. lang) are echoed from
    the same batch, so downstream stages never pay a join-back
    against the page table to recover them.

    as_string=True emits text_extracted as a STRING column (same
    bytes, Arrow utf8): consumers that would otherwise wrap the
    column in decode(, 'UTF-8') skip that expression entirely —
    CollapseProject inlines a decode into EVERY downstream reference
    (the corpus funnel carried 11 copies). The byte scanner only
    slices at ASCII delimiters, so it never splits a multi-byte
    character; a batch holding invalid UTF-8 is rebuilt with each bad
    sequence replaced by U+FFFD — the same text a JVM decode(,
    'UTF-8') of the binary output gives — so one malformed page
    degrades one row, never the job. Default stays binary: the
    byte-exact audit contract."""
    extra = list(passthrough)
    out_type = "string" if as_string else "binary"

    def fn(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            html = batch.column(1)
            texts = [
                extract_main_text(v.as_py() if v.is_valid else b"")
                for v in html
            ]
            if not as_string:
                out = pa.array(texts, type=pa.binary())
            else:
                try:
                    out = pa.array(texts, type=pa.string())
                except pa.ArrowInvalid:  # invalid UTF-8 in this batch
                    out = pa.array(
                        [t.decode("utf-8", "replace") for t in texts],
                        type=pa.string(),
                    )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), out]
                + [batch.column(2 + i) for i in range(len(extra))],
                ["url", "text_extracted"] + extra,
            )

    ddl = ", ".join(
        f"{c} {pages.schema[c].dataType.simpleString()}" for c in extra
    )
    return pages.select("url", "html", *extra).mapInArrow(
        fn,
        schema=f"url string, text_extracted {out_type}"
        + (", " + ddl if ddl else ""),
    )


def extract_text_sql(
    pages: DataFrame, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """All-JVM variant of extract_text: the same main-content
    contract expressed as whole-stage-codegen string expressions
    (locate/substring for the <body> slice, one lazy regex for the
    <p> blocks, per-block regexp_replace + entity-replace chain) —
    zero Python crossings, so it scales like the engine's other JVM
    stages instead of paying the Arrow-worker concurrency inflation
    the byte kernel measures (BENCH/BASELINE.md html_extract row).

    Contract vs the byte kernel: byte-identical on every page corpus
    this module generates and on any WELL-FORMED html (every ``<p``
    opener completed by '>', no dangling '<' inside block content —
    entity-escaped text is fine since entities decode after tag
    strip); pinned by tests/test_pages.py on all five generators +
    handcrafted entity/br/no-body/no-p cases. On malformed html the
    two paths may diverge (the byte kernel is the total,
    never-raises general path; this one is the throughput path for
    crawls you trust) — divergences are auditable corpus-wide via
    extraction_report on both engines.

    Mirrored find semantics, token for token:
      lo = find('<body'); start = after its '>' (lo+5 if none);
      hi = find('</body>', start) else EOF          -> _start/_region
      blocks: find('<p') with next char in {'>', ' '}, content to
      first '</p>' else region end                  -> lazy regex
      inline: <br>/<br/>/<br /> (any case, outer ws) -> newline,
      other complete tags dropped, dangling '<' literal
      entities LAST, '&amp;' last of all."""
    df = pages.select(
        "url", F.decode(F.col("html"), "UTF-8").alias("_h"), *passthrough
    )
    df = (
        df.withColumn("_lo", F.expr("locate('<body', _h)"))
        .withColumn("_gt", F.expr("if(_lo = 0, 0, locate('>', _h, _lo))"))
        .withColumn(
            "_start", F.expr("if(_lo = 0, 1, if(_gt = 0, _lo + 5, _gt + 1))")
        )
        .withColumn("_hi", F.expr("locate('</body>', _h, _start)"))
        .withColumn(
            "_region",
            F.expr(
                "substring(_h, _start,"
                " if(_hi = 0, length(_h) + 1, _hi) - _start)"
            ),
        )
    )
    blocks = F.regexp_extract_all(
        F.col("_region"),
        # opener '<p' + next char '>' or ' ' (then to the tag's first
        # '>'), content lazy to the first '</p>' or region end — the
        # exact bytes.find order of extract_main_text
        F.lit(r"(?s)<p(?:>| [^>]*>)(.*?)(?:</p>|\z)"),
        F.lit(1),
    )

    def _clean(b):
        b = F.regexp_replace(b, F.lit(r"(?i)<\s*br( ?/)?\s*>"), F.lit("\n"))
        b = F.regexp_replace(b, F.lit("<[^>]*>"), F.lit(""))
        for ent, ch in _ENTITIES:
            b = F.replace(b, F.lit(ent.decode()), F.lit(ch.decode()))
        return b

    txt = F.array_join(F.transform(blocks, _clean), "\n")
    return df.select(
        "url", F.encode(txt, "UTF-8").alias("text_extracted"), *passthrough
    )


def extraction_report(pages: DataFrame, engine: str = "arrow") -> DataFrame:
    """Per-source audit of the byte-identity invariant: n_pages,
    n_byte_exact (extracted == text, BYTE compare), total html bytes,
    and the warc_ts epoch range. The join back to the page row is on
    url within the same narrow pipeline (extract_text preserves
    partitioning, so AQE plans a single exchange for the join + one
    for the final agg). engine='arrow' audits the byte kernel,
    engine='sql' the all-JVM variant — running both corpus-wide is
    the cross-implementation divergence check."""
    if engine not in ("arrow", "sql"):
        # a typo here would silently audit the byte kernel against
        # itself and report trivial byte-identity
        raise ValueError(f"engine must be 'arrow' or 'sql', got {engine!r}")
    ext = (extract_text_sql if engine == "sql" else extract_text)(pages)
    src = F.element_at(
        F.split(F.element_at(F.split(F.col("url"), "/"), 3), "\\."), 1
    ).alias("source")
    joined = pages.join(ext, "url")
    return (
        joined.select(
            src,
            (
                F.col("text_extracted") == F.encode(F.col("text"), "UTF-8")
            ).cast("long").alias("exact"),
            F.octet_length("html").cast("long").alias("html_bytes"),
            F.unix_timestamp("warc_ts").alias("epoch"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum("exact").alias("n_byte_exact"),
            F.sum("html_bytes").alias("html_bytes"),
            F.min("epoch").alias("min_epoch"),
            F.max("epoch").alias("max_epoch"),
        )
    )
