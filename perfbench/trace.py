"""Measurement helpers: process-tree RSS sampling, Spark monitoring
REST reads attributed by job group, and executed-plan counts.

The REST reads need ``spark.ui.enabled=true``; only the traced run
turns it on. Each query runs under ``setJobGroup("<query>#<pass>")``,
so stage, SQL-node and plan figures are attributed to the query whose
jobs produced them, not to a time window.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request

MIB = float(1 << 20)


class RssSampler:
    """Peak summed resident memory of every process descended from this
    one (the Spark JVM and its Python workers), read from /proc by
    tree_mem, and each process name's share at that peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.peak_split = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        while not self._stop.is_set():
            split = tree_mem(os.getpid())
            total = sum(split.values())
            if total > self.peak:
                self.peak, self.peak_split = total, split
            self._stop.wait(self.interval)


def descendants(root: int) -> dict:
    """{pid: (command name, parent pid)} of root's descendants (root
    excluded)."""
    parent, comm = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except (OSError, ValueError):
            continue  # the process ended between listdir and open
        # the command name may hold spaces; fields resume after ')'
        parent[int(d)] = int(tail.split()[1])
        comm[int(d)] = head.split("(", 1)[1]
    out = {}
    for pid in parent:
        p = parent[pid]
        while p not in (root, 0, 1) and p in parent:
            p = parent[p]
        if p == root:
            out[pid] = (comm[pid], parent[pid])
    return out


def _proc_kb(pid: int, file: str, field: str) -> int:
    with open(f"/proc/{pid}/{file}") as f:
        return next(int(line.split()[1]) for line in f if line.startswith(field))


def tree_mem(root: int) -> dict:
    """{command name: summed bytes} over root's descendants. A direct
    child of root (the Spark JVM) counts its resident set, read in
    constant time; deeper processes (the Python worker daemon and the
    workers it forks, which share pages) count their PSS, so a shared
    page counts once. Reading PSS walks a process's page tables, which
    for a JVM of several GiB takes tens of milliseconds, hence the RSS.
    A 'java' below the JVM is the JVM between fork and exec of a child,
    whose pages are the JVM's own; it is skipped."""
    out: dict = {}
    for pid, (name, parent) in descendants(root).items():
        direct = parent == root
        if name == "java" and not direct:
            continue
        try:
            kb = _proc_kb(pid, "status", "VmRSS:") if direct else _proc_kb(pid, "smaps_rollup", "Pss:")
        except (OSError, StopIteration):
            continue  # ended, or a kernel thread without mappings
        out[name] = out.get(name, 0) + kb * 1024
    return out


# -- executed-plan counts (the counting rules of scripts/plan_audit.py) --

PYTHON_NODES = ("ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas", "PythonMapInArrow", "MapInArrow")


def plan_counts(p: str) -> dict:
    """Scale levers of one executed plan string (AQE final plans repeat
    child nodes, so query stages are counted by distinct id)."""
    shuffles = len(set(re.findall(r"ShuffleQueryStage (\d+)", p))) or len(
        re.findall(r"(?<!Broadcast)Exchange (?:hash|range|Single)", p)
    )
    return {
        "shuffle_stages": shuffles,
        "broadcast_stages": len(set(re.findall(r"BroadcastQueryStage (\d+)", p))),
        "smj": p.count("SortMergeJoin"),
        "python_nodes": sum(p.count(n) for n in PYTHON_NODES),
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", p))),
    }


# -- monitoring REST API ---------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RET = "data returned from Python workers"
_ROWS = "number of output rows"
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _size_total(v: str) -> int:
    """Total of a formatted size metric: '807.1 KiB' or
    'total (min, med, max ...)\\n807.1 KiB (...)'."""
    m = re.search(r"(?:^|\n)\s*([\d.]+)\s*(B|KiB|MiB|GiB|TiB)", v)
    return int(float(m.group(1)) * _UNIT[m.group(2)]) if m else 0


def _count(v: str) -> int:
    m = re.match(r"\s*([\d,]+)", v)
    return int(m.group(1).replace(",", "")) if m else 0


def _is_scan(name: str) -> bool:
    return name == "Range" or name.startswith("Scan ") or name in ("InMemoryTableScan", "BatchScan")


class Rest:
    def __init__(self, spark):
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the traced run needs spark.ui.enabled=true")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def persisted_rdds(self) -> int:
        return len(self.get("/storage/rdd"))

    def settle(self, polls: int = 20):
        """Wait until the listener has recorded every job (the status
        store is fed asynchronously)."""
        prev = None
        for _ in range(polls):
            cur = [(j["jobId"], j["status"]) for j in self.get("/jobs")]
            if cur == prev and all(s != "RUNNING" for _, s in cur):
                return
            prev = cur
            time.sleep(0.2)

    def by_group(self) -> dict:
        """{job group: counters} over every finished stage and SQL
        execution of the application."""
        self.settle()
        jobs = self.get("/jobs")
        job_group = {j["jobId"]: j.get("jobGroup") for j in jobs}
        stage_group = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for s in j["stageIds"]:
                stage_group.setdefault(s, j.get("jobGroup"))
        out: dict = {}

        def acc(g):
            return out.setdefault(g, {
                "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "tasks": 0, "failed_tasks": 0,
                "spill_mb": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
                "fetch_wait_s": 0.0, "input_rows": 0, "py_sent_mb": 0.0, "py_returned_mb": 0.0,
                "py_rows": 0, "scan_rows": 0, "plans": [],
            })

        for s in self.get("/stages"):
            if s["status"] not in ("COMPLETE", "FAILED"):
                continue
            a = acc(stage_group.get(s["stageId"]))
            a["run_s"] += s["executorRunTime"] / 1e3
            a["cpu_s"] += s["executorCpuTime"] / 1e9
            a["gc_s"] += s["jvmGcTime"] / 1e3
            a["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
            a["failed_tasks"] += s["numFailedTasks"]
            a["spill_mb"] += s["diskBytesSpilled"] / MIB
            a["shuffle_write_mb"] += s["shuffleWriteBytes"] / MIB
            a["shuffle_read_mb"] += s["shuffleReadBytes"] / MIB
            a["fetch_wait_s"] += s["shuffleFetchWaitTime"] / 1e3
            a["input_rows"] += s["inputRecords"]
        for e in self.get("/sql?details=true&planDescription=true&offset=0&length=1000000"):
            jids = e.get("successJobIds", []) + e.get("failedJobIds", []) + e.get("runningJobIds", [])
            groups = {job_group.get(j) for j in jids}
            if len(groups) != 1:
                continue  # an execution that ran no job
            a = acc(groups.pop())
            a["plans"].append(e.get("planDescription", ""))
            nodes = {n["nodeId"]: n for n in e.get("nodes", [])}
            children: dict = {}
            for ed in e.get("edges", []):
                children.setdefault(ed["toId"], []).append(ed["fromId"])
            for nid, n in nodes.items():
                m = {x["name"]: x["value"] for x in n.get("metrics", [])}
                a["py_sent_mb"] += _size_total(m.get(_PY_SENT, "")) / MIB
                a["py_returned_mb"] += _size_total(m.get(_PY_RET, "")) / MIB
                if _is_scan(n["nodeName"]) and _ROWS in m:
                    a["scan_rows"] += _count(m[_ROWS])
                if n["nodeName"] in PYTHON_NODES:
                    a["py_rows"] += _rows_into(nid, nodes, children)
        return out


def _rows_into(nid: int, nodes: dict, children: dict) -> int:
    """Rows entering a node: the output rows of its children, walking
    down through operators that keep no row metric (Project)."""
    total = 0
    for c in children.get(nid, []):
        cur = c
        while True:
            m = {x["name"]: x["value"] for x in nodes[cur].get("metrics", [])}
            if _ROWS in m:
                total += _count(m[_ROWS])
                break
            kids = children.get(cur, [])
            if len(kids) != 1:
                break
            cur = kids[0]
    return total
