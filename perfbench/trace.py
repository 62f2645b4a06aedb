"""Traced-run harvest from Spark's monitoring REST API.

After each operation, outside its timed interval, the harness reads
``/jobs``, ``/stages``, ``/sql`` and ``/storage/rdd`` from the
session's UI and turns what ran under the operation's job groups into
spans and per-layer numbers. The k-th harness call of operation ``n``
runs under job group ``op<n>.<k>.<call>``, so the jobs of each call
are found exactly, with no timing heuristics.
"""

from __future__ import annotations

import datetime as dt
import json
import re
import time
import urllib.request

from perfbench.stats import union_length

MB = 1024.0 * 1024.0

# Counts that repeat exactly when an operation runs again on equal
# input: the trace marks, per op name, whether they did.
EXACT_COUNTS = ("sched.jobs", "sched.stages", "sched.tasks", "exchange.partitions")

PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow", "AggregateInPandas",
    "ArrowAggregatePython", "WindowInPandas", "ArrowWindowPython",
)

_TIME_MS = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_SIZE_B = {"B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024, "TiB": MB * MB}


def rest_time(s: str | None) -> float | None:
    """Epoch seconds of a REST timestamp such as ``2026-01-02T03:04:05.678GMT``."""
    if not s:
        return None
    t = dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def metric_value(text: str) -> float:
    """A SQL metric's total as a number: counts as is, times in ms,
    sizes in bytes. Accumulator strings look like ``26,136``,
    ``12.3 MiB`` or ``total (min, med, max ...)\\n8.3 s (2.0 s, ...)``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    text = text.split(" (", 1)[0].strip()
    m = re.fullmatch(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _TIME_MS.get(unit, _SIZE_B.get(unit, 1.0))


class Rest:
    """Minimal client for one application's ``/api/v1`` endpoints."""

    def __init__(self, ui_url: str, app_id: str):
        self.base = f"{ui_url.rstrip('/')}/api/v1/applications/{app_id}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)


class Tracer:
    """Harvests each operation's jobs, stages and SQL plans into spans
    and per-op metrics. Spans stay in memory until the run ends."""

    def __init__(self, spark, cores: int):
        sc = spark.sparkContext
        self.sc = sc
        self.rest = Rest(sc.uiWebUrl, sc.applicationId)
        self.cores = cores
        self.spans: list[dict] = []
        self._sql_seen = max((e["id"] for e in self._sql_list()), default=-1)

    def _sql_list(self):
        return self.rest.get("/sql?details=false&planDescription=false&offset=0&length=100000")

    def group(self, op_id: int, call: int, name: str) -> None:
        """Jobs fired from here on belong to call ``call`` of op ``op_id``."""
        self.sc.setJobGroup(f"op{op_id}.{call}.{name}", name)

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def _settled_jobs(self, prefix: str) -> list[dict]:
        """Jobs of the op's groups once the status store has caught up:
        none running and the same set on two polls in a row."""
        last = None
        deadline = time.time() + 30
        while True:
            jobs = [j for j in self.rest.get("/jobs") if (j.get("jobGroup") or "").startswith(prefix)]
            key = sorted((j["jobId"], j["status"]) for j in jobs)
            if key == last and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            if time.time() > deadline:
                return jobs
            last = key
            time.sleep(0.05)

    def _settled_sql(self, job_ids: set[int]) -> list[dict]:
        deadline = time.time() + 30
        while True:
            new = [e for e in self._sql_list() if e["id"] > self._sql_seen]
            mine = [
                e for e in new
                if job_ids & set(e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"])
            ]
            if all(e["status"] != "RUNNING" for e in mine) or time.time() > deadline:
                break
            time.sleep(0.05)
        if new:
            self._sql_seen = max(e["id"] for e in new)
        return [
            self.rest.get(f"/sql/{e['id']}?details=true&planDescription=false") for e in mine
        ]

    def harvest(self, op_id: int, name: str, t0: float, t1: float, calls: list[tuple[str, float, float]]) -> dict:
        """Spans and metrics of operation ``op_id`` that ran over wall
        interval ``[t0, t1]`` with harness call spans ``calls``."""
        prefix = f"op{op_id}."
        jobs = self._settled_jobs(prefix)
        root = str(op_id)
        self.spans.append({"trace": op_id, "id": root, "parent": None, "name": name, "start": t0, "end": t1})
        for k, (call, a, b) in enumerate(calls):
            self.spans.append({"trace": op_id, "id": f"{root}.{k}", "parent": root, "name": call, "start": a, "end": b})

        stages: dict[tuple[int, int], dict] = {}
        written: dict[str, int] = {}  # rows written by each call name's jobs
        intervals = []
        jobs_by_call: dict[str, int] = {}
        for j in jobs:
            k, call = j["jobGroup"][len(prefix):].split(".", 1)
            jobs_by_call[call] = jobs_by_call.get(call, 0) + 1
            js, je = rest_time(j.get("submissionTime")), rest_time(j.get("completionTime"))
            if js is not None:
                intervals.append((js, je if je is not None else t1))
            jid = f"{root}.j{j['jobId']}"
            self.spans.append({"trace": op_id, "id": jid, "parent": f"{root}.{k}", "name": f"job {j['jobId']}", "start": js, "end": je})
            for sid in j["stageIds"]:
                for att in self.rest.get(f"/stages/{sid}?details=false"):
                    if att["status"] in ("SKIPPED", "PENDING") or (sid, att["attemptId"]) in stages:
                        continue
                    stages[(sid, att["attemptId"])] = att
                    written[call] = written.get(call, 0) + att["outputRecords"]
                    self.spans.append({
                        "trace": op_id, "id": f"{jid}.s{sid}.{att['attemptId']}", "parent": jid,
                        "name": f"stage {sid}", "start": rest_time(att.get("submissionTime")),
                        "end": rest_time(att.get("completionTime")),
                    })

        st = list(stages.values())
        wall = t1 - t0
        job_wall = union_length(intervals, t0, t1)
        run_s = sum(s["executorRunTime"] for s in st) / 1e3
        m = {
            "sched.jobs": len(jobs),
            "sched.stages": len(st),
            "sched.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] + s["numKilledTasks"] for s in st),
            "sched.job_wall_s": job_wall,
            "sched.driver_gap_s": max(wall - job_wall, 0.0),
            "exec.run_s": run_s,
            "exec.cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
            "exec.gc_s": sum(s["jvmGcTime"] for s in st) / 1e3,
            "exec.core_util": run_s / (job_wall * self.cores) if job_wall > 0 else 0.0,
            "exec.task_skew": self._skew(st),
            "exec.failed_tasks": sum(s["numFailedTasks"] for s in st),
            "exchange.write_mb": sum(s["shuffleWriteBytes"] for s in st) / MB,
            "exchange.read_mb": sum(s["shuffleReadBytes"] for s in st) / MB,
            "exchange.fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in st) / 1e3,
            "exchange.spill_mb": sum(s["diskBytesSpilled"] for s in st) / MB,
        }
        for call, n in jobs_by_call.items():
            m[f"jobs.{call}"] = n
        for call, n in written.items():
            m[f"rows_written.{call}"] = n
        m.update(plan_metrics(self._settled_sql({j["jobId"] for j in jobs})))
        rdds = self.rest.get("/storage/rdd")
        m["storage.cached_rdds"] = len(rdds)
        m["storage.cached_mb"] = sum(r["memoryUsed"] + r["diskUsed"] for r in rdds) / MB
        return m

    def _skew(self, stages: list[dict]) -> float:
        """max / median task run time in the op's longest stage."""
        if not stages:
            return 0.0
        s = max(stages, key=lambda x: x["executorRunTime"])
        q = self.rest.get(f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0")
        med, top = q["executorRunTime"]
        return top / max(med, 1.0)


def plan_metrics(executions: list[dict]) -> dict:
    """Physical-operator, exchange, Python-boundary and scan numbers
    summed over the SQL executions of one operation."""
    m = dict.fromkeys((
        "join.out_rows", "join.fanout", "join.build_ms", "agg.build_ms", "sort.ms",
        "codegen.ms", "exchange.partitions", "python.run_s", "python.start_s",
        "python.sent_mb", "python.returned_mb", "scan.files", "scan.mb",
        "scan.rows", "scan.ms",
    ), 0.0)
    biggest_join = (-1.0, 0.0)
    seen: set = set()
    for e in executions:
        # A persisted relation's plan shows again, with the same
        # accumulators, in every later execution that reads it: count
        # each node's metrics once per operation.
        nodes = {}
        for n in e["nodes"]:
            key = (n["nodeName"], tuple((x["name"], x["value"]) for x in n.get("metrics", [])))
            if not n.get("metrics") or key not in seen:
                seen.add(key)
                nodes[n["nodeId"]] = n
        vals = {
            nid: {x["name"]: metric_value(x["value"]) for x in n.get("metrics", [])}
            for nid, n in nodes.items()
        }
        children: dict[int, list[int]] = {}
        for edge in e.get("edges", []):
            children.setdefault(edge["toId"], []).append(edge["fromId"])

        def rows(nid: int, depth: int = 0) -> float:
            v = vals.get(nid, {})
            for key in ("number of output rows", "records read"):
                if key in v:
                    return v[key]
            if depth > 50:
                return 0.0
            return sum(rows(c, depth + 1) for c in children.get(nid, []))

        aqe_parts = sum(v.get("number of partitions", 0.0) for nid, v in vals.items() if nodes[nid]["nodeName"] == "AQEShuffleRead")
        ex_parts = sum(v.get("number of partitions", 0.0) for nid, v in vals.items() if nodes[nid]["nodeName"] == "Exchange")
        m["exchange.partitions"] += aqe_parts or ex_parts
        for nid, n in nodes.items():
            name, v = n["nodeName"], vals[nid]
            kind = name.split(" ")[0]
            if "Join" in kind or kind == "CartesianProduct":
                out = v.get("number of output rows", 0.0)
                m["join.out_rows"] += out
                m["join.build_ms"] += v.get("time to build hash map", 0.0)
                if out > biggest_join[0]:
                    inp = sum(rows(c) for c in children.get(nid, []))
                    biggest_join = (out, out / inp if inp else 0.0)
            m["join.build_ms"] += v.get("time to build", 0.0) if kind == "BroadcastExchange" else 0.0
            m["agg.build_ms"] += v.get("time in aggregation build", 0.0)
            m["sort.ms"] += v.get("sort time", 0.0)
            if kind == "WholeStageCodegen":
                m["codegen.ms"] += v.get("duration", 0.0)
            if kind in PYTHON_NODES:
                m["python.run_s"] += v.get("time to run Python workers", 0.0) / 1e3
                m["python.start_s"] += (
                    v.get("time to start Python workers", 0.0)
                    + v.get("time to initialize Python workers", 0.0)
                ) / 1e3
                m["python.sent_mb"] += v.get("data sent to Python workers", 0.0) / MB
                m["python.returned_mb"] += v.get("data returned from Python workers", 0.0) / MB
            if kind in ("Scan", "InMemoryTableScan"):
                m["scan.rows"] += v.get("number of output rows", 0.0)
            if kind == "Scan":
                m["scan.files"] += v.get("number of files read", 0.0)
                m["scan.mb"] += v.get("size of files read", 0.0) / MB
                m["scan.ms"] += v.get("scan time", 0.0)
    m["join.fanout"] = biggest_join[1]
    return m
