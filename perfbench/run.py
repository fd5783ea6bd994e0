"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload geo_join --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout, in one Python process on
``local[nproc]``. The untraced run (``--trace 0``) sets the session up
at least three times (``setup_s`` is the median), runs one cold pass over the
workload's queries (``first_pass_s``), then repeats warm passes for
``--seconds`` (``rows_per_s`` uses the median pass). Every query result
is checked against values computed in-process before any clock
starts. The traced run (``--trace 1``) repeats the warm passes with
tracing off and then on, in a second session with the Spark UI up, and
reports per-layer figures from the monitoring REST API, the executed
plans and timings of single layers' public functions.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. The line before it is the full record of the run (host
configuration, per-pass and per-query figures, failed_frac).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

# at least MIN_SETUPS set-ups, and more until those after the first
# (which also launches the JVM) took SETUP_SECONDS
MIN_SETUPS = 3
SETUP_SECONDS = 3.0
MIN_WARM = 1
PIP_BATCH = 500_000
EXTRACT_BATCH = 20_000


def host_config() -> dict:
    """Session sizing from the host: one task slot per usable core, a
    JVM heap of 1.5 GiB per slot capped at a quarter of MemTotal."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_gb = max(1, min((3 * cpus + 1) // 2, mem_kb // (4 << 20)))
    return {
        "nproc": cpus,
        "mem_total_mb": mem_kb // 1024,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap_gb}g",
    }


def cpu_times() -> list[int]:
    """The aggregate CPU line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _dirs() -> dict:
    d = {k: os.path.join(WORK, k) for k in ("tmp", "local", "data", "warehouse")}
    for p in d.values():
        os.makedirs(p, exist_ok=True)
    return d


def start_session(host: dict, dirs: dict, traced: bool):
    from geokit_spark.session import get_spark

    extra = {
        "spark.ui.enabled": "true" if traced else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    }
    if traced:
        extra.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            # the plan text the REST API serves is executedPlan's tree
            # string, the form the plan counts parse
            "spark.sql.ui.explainMode": "simple",
        })
    spark = get_spark("perfbench", cores=int(host["SPARK_GRAFT_CPUS"]), extra=extra)
    spark.range(1).collect()  # the scheduler is up once a job ran
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_processes(grace: float = 30.0) -> None:
    """End the Spark JVM and wait until every process this one started
    (the JVM, the Python worker daemon and its workers) has ended,
    killing what outlives the grace period."""
    from perfbench import trace

    pids = set(trace.descendants(os.getpid()))
    context = sys.modules.get("pyspark.core.context")
    gateway = context.SparkContext._gateway if context else None
    if gateway is not None:
        active = context.SparkContext._active_spark_context
        if active is not None:
            active.stop()
        context.SparkContext._gateway = context.SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin ends
            try:
                proc.wait(grace)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # a zombie has ended; give init a moment to reap it all the same
    reaped_by = time.monotonic() + 5.0
    deadline = time.monotonic() + grace
    while True:
        gone = [p for p in pids if not os.path.exists(f"/proc/{p}")]
        left = [p for p in pids if _alive(p)]
        if len(gone) == len(pids) or (not left and time.monotonic() > reaped_by):
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.1)


class Runner:
    """Runs passes of one workload and keeps their timings and spans."""

    def __init__(self, wl, expected: dict):
        self.wl = wl
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spans: list[dict] = []
        self.t0 = time.perf_counter()

    def _span(self, name, start, end, parent=None):
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                           "start": round(start - self.t0, 6), "end": round(end - self.t0, 6)})
        return len(self.spans) - 1

    def run_pass(self, spark, queries, tag: str) -> tuple[float, dict]:
        """One pass over the queries: (wall seconds, {query: seconds}).
        With a tag, each query runs under the job group "<query>#<tag>"."""
        sc = spark.sparkContext
        ops, op_spans = {}, []
        start = time.perf_counter()
        for name, fn in queries:
            if tag:
                sc.setJobGroup(f"{name}#{tag}", name)
            t = time.perf_counter()
            got, err = None, None
            try:
                got = fn()
            except Exception:  # one failed query must not end the run
                err = traceback.format_exc()
            ops[name] = time.perf_counter() - t
            op_spans.append((name, t, t + ops[name]))
            if err is None:
                try:
                    if callable(got):
                        got = got()
                    if got != self.expected[name]:
                        err = f"{name}: got {got!r:.300}, want {self.expected[name]!r:.300}"
                except Exception:
                    err = traceback.format_exc()
            self.attempted += 1
            if err is not None:
                self.failed += 1
                self.errors.append(err)
                print(f"perfbench: query {name} failed\n{err}", file=sys.stderr)
        wall = sum(ops.values())
        if tag:
            sc.setJobGroup("", "")
        pid = self._span(f"pass#{tag or '-'}", start, start + wall)
        for name, a, b in op_spans:
            self._span(name, a, b, pid)
        return wall, ops

    def warm(self, spark, queries, seconds: float, tag=None, on_pass=None, min_passes=MIN_WARM) -> list:
        passes = []
        end = time.perf_counter() + seconds
        while len(passes) < min_passes or time.perf_counter() < end:
            t = f"{tag}{len(passes) + 1}" if tag is not None else ""
            passes.append(self.run_pass(spark, queries, t))
            if on_pass is not None:
                on_pass()
            self.wl.after_pass(spark)
        return passes


def _median_ops(passes) -> dict:
    return {q: statistics.median(p[1][q] for p in passes) for q in passes[0][1]}


def run_untraced(wl, runner, host, dirs, seconds) -> tuple[dict, dict]:
    setups, spark = [], None
    try:
        while len(setups) < MIN_SETUPS or sum(setups[1:]) < SETUP_SECONDS:
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            spark = start_session(host, dirs, traced=False)
            wl.setup(spark)
            setups.append(time.perf_counter() - t)
        queries = wl.queries(spark)
        first, first_ops = runner.run_pass(spark, queries, "")
        wl.after_pass(spark)
        passes = runner.warm(spark, queries, seconds)
    finally:
        if spark is not None:
            spark.stop()
    walls = [p[0] for p in passes]
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "first_pass_s": (first, "s"),
        "rows_per_s": (wl.rows / statistics.median(walls), "1/s"),
    }
    record = {"setups_s": setups, "first_pass_s": first, "first_pass_ops_s": first_ops,
              "warm_passes_s": walls, "ops_median_s": _median_ops(passes)}
    return metrics, record


def kernel_rates(spark, wl) -> dict:
    """Rates of two single-layer kernels called in-process."""
    import numpy as np

    from geokit_spark import fixtures
    from geokit_spark.kernels.geocode import geocode
    from geokit_spark.kernels.pip import points_in_poly
    from geokit_spark.sources.pages import extract_main_text, pages_from_docs

    from perfbench import gen

    lon, lat = geocode(np.arange(wl.offset, wl.offset + PIP_BATCH, dtype=np.int64))
    html = [r[0] for r in pages_from_docs(gen.html_docs(spark, EXTRACT_BATCH, wl.offset, wl.parts))
            .select("html").collect()]

    def rate(n, fn):
        times = []
        for _ in range(3):
            t = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t)
        return n / statistics.median(times)

    return {
        "kernels.pip_rows_per_s": rate(PIP_BATCH, lambda: points_in_poly(lon, lat, fixtures.REGION_VERTS)),
        "kernels.extract_docs_per_s": rate(len(html), lambda: [extract_main_text(b) for b in html]),
    }


def run_traced(wl, runner, host, dirs, seconds) -> tuple[dict, dict]:
    from perfbench import trace
    from perfbench.workloads import ALL_OPS

    half = seconds / 2.0
    # untraced reference: UI off, job groups off, no REST reads
    t = time.perf_counter()
    spark = start_session(host, dirs, traced=False)
    session_start = time.perf_counter() - t
    try:
        wl.setup(spark)
        queries = wl.queries(spark)
        runner.run_pass(spark, queries, "")
        wl.after_pass(spark)
        # the traced pass runs after three passes in this JVM; the
        # untraced reference is the last of two warm passes here, so
        # both have the same JIT and codegen warm-up behind them
        plain = runner.warm(spark, queries, half, min_passes=2)
    finally:
        spark.stop()

    spark = start_session(host, dirs, traced=True)
    try:
        rest = trace.Rest(spark)
        wl.setup(spark)
        queries = wl.queries(spark)
        runner.run_pass(spark, queries, "first")
        wl.after_pass(spark)
        spark.sparkContext.setJobGroup("gen", "noop floor")
        t = time.perf_counter()
        for df in wl.floor_frames(spark):
            df.write.format("noop").mode("overwrite").save()
        gen_s = time.perf_counter() - t
        spark.sparkContext.setJobGroup("", "")
        persisted, files = [], []

        def on_pass():
            persisted.append(rest.persisted_rdds())
            files.append(wl.pass_files())

        traced = runner.warm(spark, queries, half, tag="t", on_pass=on_pass)
        rates = kernel_rates(spark, wl)
        groups = rest.by_group()
    finally:
        spark.stop()

    k = len(traced)
    ops = _median_ops(traced)
    tags = [f"t{i + 1}" for i in range(k)]

    def per_pass(key, names=tuple(ops)):
        return sum(groups.get(f"{q}#{t}", {}).get(key, 0) for q in names for t in tags) / k

    per_query = {}
    for q in ops:
        g = groups.get(f"{q}#t1", {})
        counts = [trace.plan_counts(p) for p in g.get("plans", [])]
        per_query[q] = {c: sum(x[c] for x in counts) for c in
                        ("shuffle_stages", "broadcast_stages", "smj", "python_nodes", "codegen_spans")}
        per_query[q].update({key: per_pass(key, (q,)) for key in (
            "run_s", "cpu_s", "gc_s", "tasks", "shuffle_write_mb", "shuffle_read_mb",
            "py_sent_mb", "py_returned_mb", "py_rows", "scan_rows")})
    scan_rows = per_pass("scan_rows")
    is_tile = "range_scan" in ops
    m = {
        "session.start_s": (session_start, "s"),
        "sources.gen_s": (gen_s, "s"),
        "sources.write_s": (ops["zorder_write"] if is_tile else 0.0, "s"),
        "sources.write_mb": (statistics.median(f["write_mb"] for f in files), "MB"),
        "sources.files_written": (statistics.median(f["files_written"] for f in files), "count"),
        "sources.scan_s": (ops["range_scan"] if is_tile else 0.0, "s"),
        "sources.scan_rows": (per_pass("input_rows", ("range_scan",)) if is_tile else 0, "count"),
        "kernels.pip_rows_per_s": (rates["kernels.pip_rows_per_s"], "1/s"),
        "kernels.extract_docs_per_s": (rates["kernels.extract_docs_per_s"], "1/s"),
    }
    for q in ALL_OPS:
        m[f"op.{q}_s"] = (ops.get(q, 0.0), "s")
    m.update({
        "spark.executor_run_s": (per_pass("run_s"), "s"),
        "spark.executor_cpu_s": (per_pass("cpu_s"), "s"),
        "spark.tasks": (per_pass("tasks"), "count"),
        "spark.failed_tasks": (per_pass("failed_tasks"), "count"),
        "spark.gc_s": (per_pass("gc_s"), "s"),
        "spark.spill_mb": (per_pass("spill_mb"), "MB"),
        "spark.shuffle_write_mb": (per_pass("shuffle_write_mb"), "MB"),
        "spark.shuffle_read_mb": (per_pass("shuffle_read_mb"), "MB"),
        "spark.shuffle_fetch_wait_s": (per_pass("fetch_wait_s"), "s"),
        "spark.py_sent_mb": (per_pass("py_sent_mb"), "MB"),
        "spark.py_returned_mb": (per_pass("py_returned_mb"), "MB"),
        "spark.persisted_rdds_after": (max(persisted), "count"),
        "ratio.py_rows_frac": (per_pass("py_rows") / scan_rows if scan_rows else 0.0, "frac"),
    })
    for c in ("shuffle_stages", "broadcast_stages", "smj", "python_nodes", "codegen_spans"):
        m[f"plan.{c}"] = (sum(pq[c] for pq in per_query.values()), "count")
    traced_wall = statistics.median(p[0] for p in traced)
    m["trace_overhead_frac"] = (traced_wall / plain[-1][0] - 1.0, "frac")
    record = {"untraced_passes_s": [p[0] for p in plain], "traced_passes_s": [p[0] for p in traced],
              "ops_median_s": ops, "per_query": per_query, "persisted_rdds_after": persisted}
    return m, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies every input size (the self-tests use a tiny one)")
    args = ap.parse_args(argv)

    host = host_config()
    dirs = _dirs()
    os.environ.update({"SPARK_GRAFT_CPUS": host["SPARK_GRAFT_CPUS"],
                       "SPARK_DRIVER_MEM": host["SPARK_DRIVER_MEM"],
                       "SPARK_LOCAL_DIRS": dirs["local"], "TMPDIR": dirs["tmp"],
                       # Python workers import the library from the checkout
                       "PYTHONPATH": os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))})
    sys.path.insert(0, ROOT)
    try:
        return _run(args, host, dirs)
    finally:
        stop_processes()


def _run(args, host: dict, dirs: dict) -> int:
    try:
        import geokit_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the library is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import trace
    from perfbench.workloads import make_workload

    try:
        wl = make_workload(args.workload, args.seed, args.scale,
                           int(host["SPARK_GRAFT_CPUS"]), dirs["data"])
    except KeyError as e:
        print(f"perfbench: {e.args[0]}", file=sys.stderr)
        return 2
    expected = wl.expected()
    runner = Runner(wl, expected)
    cpu0 = cpu_times()
    try:
        with trace.RssSampler() as rss:
            if args.trace:
                metrics, record = run_traced(wl, runner, host, dirs, args.seconds)
            else:
                metrics, record = run_untraced(wl, runner, host, dirs, args.seconds)
        if not args.trace:
            metrics["peak_rss_mb"] = (rss.peak / trace.MIB, "MB")
            record["peak_rss_split_mb"] = {k: v / trace.MIB for k, v in rss.peak_split.items()}
    finally:
        shutil.rmtree(dirs["data"], ignore_errors=True)
    failed_frac = runner.failed / runner.attempted
    cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    # share of the host's CPU time the hypervisor gave to other guests
    # while this run ran: metadata for reading noisy runs, not a gate
    record["host_steal_frac"] = cpu[7] / max(sum(cpu), 1)
    record.update({"workload": wl.name, "seed": args.seed, "trace": args.trace, "host": host,
                   "n": wl.n, "rows": wl.rows, "attempted": runner.attempted, "failed": runner.failed,
                   "failed_frac": {"value": failed_frac, "unit": "frac"},
                   "errors": [e[-500:] for e in runner.errors]})
    if args.trace:
        path = os.path.join(WORK, f"trace-{wl.name}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"record": record, "spans": runner.spans}, f)
    print(json.dumps(record, default=float))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
