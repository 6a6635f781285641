"""Spans around the benchmark's calls into each engine layer.

A span records (name, start, end, parent) and the CPU time of the
engine's processes (JVM and Python workers) in memory, and runs its Spark
jobs under a job group of its own, so Spark's task and SQL metrics,
and the executed plans with their row counts, can be attached to it
afterwards from Spark's UI REST endpoint on localhost.  Spans are
recorded only here, in the benchmark's files; the engine itself is not
instrumented.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import urllib.request

from sandbox import tree_cpu_s

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30,
               "TiB": 2**40}
_SIZE_RE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
# SQL metrics of the Arrow exchange with Python workers
_PYTHON_METRICS = ("data sent to Python workers",
                   "data returned from Python workers")


class Tracer:
    def __init__(self, spark, run_tag: str):
        self.sc = spark.sparkContext
        self.run_tag = run_tag
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "group": f"{self.run_tag}-{len(self.spans)}",
               "start": time.perf_counter(), "end": None,
               "cpu0": tree_cpu_s(os.getpid()), "cpu_s": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu_s"] = tree_cpu_s(os.getpid()) - rec.pop("cpu0")
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # ---- derived values -------------------------------------------
    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def subtree(self, rec: dict) -> list[dict]:
        out, todo = [], [rec]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    @staticmethod
    def wall(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its (sequential) children
        cover."""
        return self.wall(rec) - sum(self.wall(c) for c in self.children(rec))

    def total(self, name: str) -> float:
        """Summed wall time of every span called *name*."""
        return sum(self.wall(s) for s in self.spans if s["name"] == name)

    # ---- Spark metrics --------------------------------------------
    def attach_spark_metrics(self) -> None:
        """Sum task and SQL-node metrics of each span's job group (own
        jobs only) into ``rec["spark"]`` and keep its executed plans in
        ``rec["plans"]``; call after the traced work."""
        self._drain_listener_bus()
        ui = self.sc.uiWebUrl
        app = self.sc.applicationId
        base = f"{ui}/api/v1/applications/{app}"
        jobs = _get(f"{base}/jobs")
        stages = {(s["stageId"], s["attemptId"]): s
                  for s in _get(f"{base}/stages")}
        sqls = _get(f"{base}/sql?details=true&planDescription=false"
                    "&offset=0&length=100000")
        for rec in self.spans:
            mine = [j for j in jobs if j.get("jobGroup") == rec["group"]]
            job_ids = {j["jobId"] for j in mine}
            stage_ids = {sid for j in mine for sid in j["stageIds"]}
            agg = dict.fromkeys(
                ("jobs", "tasks", "failed_tasks", "cpu_s", "run_s", "gc_s",
                 "shuffle_write_mb", "shuffle_read_mb", "fetch_wait_s",
                 "spill_mb", "python_mb"), 0.0)
            agg["jobs"] = float(len(mine))
            for (sid, _att), st in stages.items():
                if sid not in stage_ids or st["status"] == "SKIPPED":
                    continue
                agg["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                agg["failed_tasks"] += st["numFailedTasks"]
                agg["cpu_s"] += st["executorCpuTime"] / 1e9
                agg["run_s"] += st["executorRunTime"] / 1e3
                agg["gc_s"] += st["jvmGcTime"] / 1e3
                agg["shuffle_write_mb"] += st["shuffleWriteBytes"] / 2**20
                agg["shuffle_read_mb"] += st["shuffleReadBytes"] / 2**20
                agg["fetch_wait_s"] += st["shuffleFetchWaitTime"] / 1e3
                agg["spill_mb"] += (st["memoryBytesSpilled"]
                                    + st["diskBytesSpilled"]) / 2**20
            rec["plans"] = []
            for ex in sqls:
                ran = set(ex.get("successJobIds", [])) \
                    | set(ex.get("failedJobIds", []))
                if not ran or not ran <= job_ids:
                    continue
                for node in ex.get("nodes", []):
                    for m in node.get("metrics", []):
                        if m["name"] in _PYTHON_METRICS:
                            agg["python_mb"] += _size_bytes(m["value"]) / 2**20
                rec["plans"].append(SqlPlan(ex))
            rec["spark"] = agg

    def spark_total(self, rec: dict, key: str) -> float:
        """A Spark metric summed over a span and its descendants."""
        return sum(s.get("spark", {}).get(key, 0.0)
                   for s in self.subtree(rec))

    def _drain_listener_bus(self) -> None:
        # the UI store is filled asynchronously by the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def dump(self, path: str) -> None:
        out = []
        for s in self.spans:
            out.append({k: s[k] for k in ("id", "name", "parent", "group",
                                          "start", "end", "cpu_s")}
                       | {"self_s": self.self_time(s),
                          "spark": s.get("spark", {})})
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)


class SqlPlan:
    """The executed physical plan of one SQL execution: node names, the
    rows each node output, and which node feeds which."""

    def __init__(self, ex: dict):
        self.names = {n["nodeId"]: n["nodeName"] for n in ex.get("nodes", [])}
        self.rows: dict[int, int] = {}
        for n in ex.get("nodes", []):
            for m in n.get("metrics", []):
                if m["name"] == "number of output rows":
                    self.rows[n["nodeId"]] = int(m["value"].replace(",", ""))
        self.inputs: dict[int, list[int]] = {}
        for e in ex.get("edges", []):
            self.inputs.setdefault(e["toId"], []).append(e["fromId"])
        fed = {e["fromId"] for e in ex.get("edges", [])}
        self.roots = [i for i in self.inputs if i not in fed]

    def find(self, name: str) -> list[int]:
        return [i for i, n in self.names.items() if n == name]

    def rows_out(self, node: int) -> int:
        """Rows *node* output; a node without a row count (a Project, a
        Union) passes on the rows of its inputs."""
        if node in self.rows:
            return self.rows[node]
        return self.rows_in(node)

    def rows_in(self, node: int) -> int:
        return sum(self.rows_out(i) for i in self.inputs.get(node, ()))


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode())


def _size_bytes(value: str) -> float:
    """First size in a Spark SQL metric string: either '2.3 MiB' or
    'total (min, med, max ...)\\n2.3 MiB (...)'."""
    text = value.split("\n", 1)[-1]
    m = _SIZE_RE.search(text)
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0
