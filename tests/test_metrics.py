"""geokit_spark.metrics pure-function tests (no Spark session —
the REST-backed snapshot path is exercised by bench.py itself)."""

from geokit_spark import metrics


def _snap(**kw):
    d = {f: 0 for f in ("shuffle_write", "shuffle_read", "input",
                        "output", "py_sent", "py_returned")}
    d["available"] = True
    d.update(kw)
    return d


def test_parse_total_formats():
    f = "total (min, med, max (stageId: taskId))\n807.1 KiB (100.9 KiB, 100.9 KiB, 100.9 KiB (stage 3.0: task 15))"
    assert metrics._parse_total(f) == int(807.1 * 1024)
    assert metrics._parse_total("header\n2.0 GiB (...)") == 2 * 1024**3
    assert metrics._parse_total("header\n17 B (...)") == 17
    assert metrics._parse_total("no sizes here") == 0
    # the size must come from a later line, not the header
    assert metrics._parse_total("64.0 MiB header-only") == 0


def test_delta_clamps_and_propagates_availability():
    a = _snap(shuffle_write=100, py_sent=50)
    b = _snap(shuffle_write=300, py_sent=40)  # py_sent regressed (evict)
    d = metrics.delta(a, b)
    assert d["shuffle_write"] == 200
    assert d["py_sent"] == 0  # clamped, never negative
    assert d["available"]
    b2 = dict(b, available=False)
    assert not metrics.delta(a, b2)["available"]


def test_per_run_and_moved_bytes():
    d = _snap(shuffle_write=90, shuffle_read=90, input=30,
              py_sent=60, py_returned=30)
    p = metrics.per_run(d, 3)
    assert p["shuffle_write"] == 30 and p["py_sent"] == 20
    assert metrics.per_run(d, 0)["input"] == 30  # guard: n_runs >= 1
    # moved = shuffle both directions + input + Arrow both directions
    assert metrics.moved_bytes(d) == 90 + 90 + 30 + 60 + 30


def test_bytecounter_unavailable_without_ui():
    class FakeSC:
        uiWebUrl = None
        applicationId = "app"

    class FakeSpark:
        sparkContext = FakeSC()

    c = metrics.ByteCounter(FakeSpark())
    s = c.snapshot()
    assert not s["available"] and s["shuffle_write"] == 0


def test_codegen_compiles_unavailable_without_jvm():
    class FakeSC:
        _jvm = None

    class FakeSpark:
        sparkContext = FakeSC()

    assert metrics.codegen_compiles(FakeSpark()) is None


def test_aspect_octant_case_boundaries():
    """Octant conventions pinned on hand vectors via DuckDB (the CASE
    text is shared verbatim between Spark and the oracle, so one
    dialect-neutral evaluation pins both)."""
    import duckdb

    from geokit_spark.operators.kernel import aspect_octant_case

    cases = [
        (0.0, 0.0, -1),   # flat
        (1.0, 0.0, 0),    # due north
        (1.0, 1.0, 0),    # 45-degree tie -> N octant (CASE order)
        (0.5, 1.0, 1),    # NE..E
        (0.0, 1.0, 2),    # due east
        (-1.0, 1.0, 2),   # 135-degree tie -> E..SE octant
        (-1.0, 0.5, 3),   # SE..S
        (-1.0, 0.0, 4),   # due south
        (-1.0, -1.0, 4),  # 225-degree tie
        (-0.5, -1.0, 5),  # SW..W
        (0.0, -1.0, 6),   # due west
        (1.0, -1.0, 6),   # 315-degree tie
        (1.0, -0.5, 7),   # NW..N
    ]
    rows = ", ".join(f"({ns}, {ew})" for ns, ew, _ in cases)
    got = duckdb.sql(
        f"SELECT {aspect_octant_case()} FROM (VALUES {rows}) t(ns, ew)"
    ).fetchall()
    assert [g[0] for g in got] == [o for _, _, o in cases]
    # NULL gradient components -> NULL octant, never the ELSE (NW) arm
    got = duckdb.sql(
        f"SELECT {aspect_octant_case()} FROM (VALUES"
        " (NULL, 1.0), (1.0, NULL), (CAST(NULL AS DOUBLE), NULL)"
        ") t(ns, ew)"
    ).fetchall()
    assert [g[0] for g in got] == [None, None, None]


def test_bench_compact_line_fits_driver_window():
    """The driver tails ~2000 chars of bench stdout; round 6's full
    record (~4.6 KB) outgrew it and came back `parsed: null`. Pin
    that the compact final line stays under budget on a payload
    sized like the real suite (20 stages, retries, calibration)."""
    import json

    import bench

    stages = [f"stage_{i:02d}_some_longish_name" for i in range(20)]
    out = {
        "metric": "headline_suite_wall_sec",
        "value": 12345.678,
        "unit": "sec",
        "queries": {s: 123.456 for s in stages},
        "sf": 0.1,
        "bench_docs": 20000000,
        "cpus": 32,
        "calibration": 36.94,
        "stage_retries": {s: 3 for s in stages[:5]},
        "tiles_per_sec": 1234567,
        # full-record-only fields must NOT leak into the line
        "bytes_per_run": {s: {"shuffle_write": 10**9} for s in stages},
        "mb_moved_per_sec": {s: 999.9 for s in stages},
        "stage_calibration": {s: 36.9 for s in stages},
        "docs_per_sec": {s: 10**7 for s in stages},
    }
    line = json.dumps(bench.compact_line(out))
    assert len(line) <= bench._LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["value"] == 12345.678
    assert len(parsed["queries"]) == 20
    assert "bytes_per_run" not in parsed
    assert "mb_moved_per_sec" not in parsed
    # degradation path: an absurdly wide payload still yields a
    # parseable line with the headline intact
    out["queries"] = {f"q{i}": 1.0 for i in range(400)}
    line2 = json.dumps(bench.compact_line(out))
    assert len(line2) <= bench._LINE_BUDGET
    parsed2 = json.loads(line2)
    assert parsed2["metric"] == "headline_suite_wall_sec"
    assert parsed2["value"] == 12345.678
    assert parsed2.get("queries_truncated") is True
