"""Tracing for the benchmark's traced run, entirely from outside the package.

* ``Tracer`` keeps spans (name, start, end, parent, workload) in memory.
  Entering a span sets the Spark job group to the span id, so every job,
  stage and task in the event log belongs to the innermost open span.
* ``EventLog`` reads the Spark event log once the session has stopped.
  Stage wall and executor-run seconds come from the repository's existing
  parser (``bench_scaling._parse_stage_decomposition``); the same file
  gives job groups, per-task metrics, and the final adaptive physical
  plan of every SQL execution (the ``executedPlan()`` tree as Spark logs
  it, which also covers the writes the package runs internally).
* ``StreamProgress`` is a ``StreamingQueryListener`` that keeps every
  progress event of the streaming queries.
* ``RssSampler`` samples the resident memory of every process the
  benchmark started (the driver JVM and its Python workers) from /proc.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

from bench_scaling import _parse_stage_decomposition

# executed-plan node names whose stage runs Python workers
_PYTHON_NODES = ("Pandas", "Python", "MapInArrow")


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.sc = None  # set once the session exists
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"span-{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "workload": self.workload,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setJobGroup("untraced", "untraced")
        else:
            self.sc.setJobGroup(rec["id"], rec["name"])

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, span: dict) -> set[str]:
        ids = {span["id"]}
        for s in self.spans:  # spans are appended parent-first
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _plan_counts(info: dict) -> dict:
    counts = {"exchanges": 0, "cached_scans": 0, "raw_scans": 0,
              "smj": 0, "shj": 0, "bhj": 0}
    stack = [info]
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        if name == "Exchange":
            counts["exchanges"] += 1
        elif name == "InMemoryTableScan":
            counts["cached_scans"] += 1
        elif name.startswith("Scan parquet"):
            counts["raw_scans"] += 1
        elif name == "SortMergeJoin":
            counts["smj"] += 1
        elif name == "ShuffledHashJoin":
            counts["shj"] += 1
        elif name == "BroadcastHashJoin":
            counts["bhj"] += 1
        stack.extend(node.get("children", []))
    return counts


class EventLog:
    """Jobs, stages, tasks and final plans of one application's event log,
    each job assigned to the span that was open when it was submitted."""

    def __init__(self, log_dir: str, tracer: Tracer):
        # Hadoop's local filesystem leaves .crc side files next to the log;
        # the shared parser reads every file that is not appstatus
        for root, _dirs, files in os.walk(log_dir):
            for fn in files:
                if fn.endswith(".crc"):
                    os.remove(os.path.join(root, fn))
        self.stage_decomp = {
            s["stage_id"]: s for s in _parse_stage_decomposition(log_dir, 0, 1e15)
        }
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        self.plans: dict[int, dict] = {}
        span_ids = {s["id"] for s in tracer.spans}
        for ev in self._events(log_dir):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                exec_id = props.get("spark.sql.execution.id")
                job = {
                    "submit_ms": ev["Submission Time"],
                    "span": group if group in span_ids else None,
                    "exec_id": int(exec_id) if exec_id is not None else None,
                    "stages": ev["Stage IDs"],
                }
                if job["span"] is None:  # e.g. streaming micro-batches
                    job["span"] = _innermost(tracer, ev["Submission Time"] / 1000)
                self.jobs[ev["Job ID"]] = job
                for sid in ev["Stage IDs"]:
                    self.stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                scopes = [
                    json.loads(r["Scope"]).get("name", "")
                    for r in info.get("RDD Info", []) if r.get("Scope")
                ]
                st = self.stages.setdefault(info["Stage ID"], _new_stage())
                st["submit_ms"] = info.get("Submission Time")
                st["complete_ms"] = info.get("Completion Time")
                st["python"] = any(k in s for s in scopes for k in _PYTHON_NODES)
            elif kind == "SparkListenerTaskEnd":
                st = self.stages.setdefault(ev["Stage ID"], _new_stage())
                tinfo = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                st["task_ms"].append(tinfo["Finish Time"] - tinfo["Launch Time"])
                st["failed"] += int(bool(tinfo.get("Failed")))
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                st["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                st["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                st["records_written"] += (m.get("Output Metrics") or {}).get(
                    "Records Written", 0
                )
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                # the last update of an execution is its final plan
                self.plans[ev["executionId"]] = ev["sparkPlanInfo"]

    @staticmethod
    def _events(log_dir: str):
        for root, _dirs, files in os.walk(log_dir):
            for fn in sorted(files):
                if fn.startswith("appstatus"):
                    continue
                with open(os.path.join(root, fn)) as f:
                    for line in f:
                        try:
                            yield json.loads(line)
                        except json.JSONDecodeError:
                            continue

    def summary(self, span_ids: set[str], wall_s: float) -> dict:
        """Spark-side totals for the jobs that ran under `span_ids`."""
        jobs = [j for j in self.jobs.values() if j["span"] in span_ids]
        stage_ids = {sid for j in jobs for sid in j["stages"] if sid in self.stages
                     and self.stages[sid]["complete_ms"] is not None}
        stages = [self.stages[s] for s in stage_ids]
        plans = [
            _plan_counts(self.plans[e])
            for e in {j["exec_id"] for j in jobs if j["exec_id"] is not None}
            if e in self.plans
        ]
        py_tasks = [t for s in stages if s["python"] for t in s["task_ms"]]
        intervals = sorted((s["submit_ms"], s["complete_ms"]) for s in stages)
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "failed_tasks": sum(s["failed"] for s in stages),
            "python_stage_s": sum(
                self.stage_decomp.get(s, {}).get("wall_sec", 0)
                for s in stage_ids if self.stages[s]["python"]
            ),
            "jvm_stage_s": sum(
                self.stage_decomp.get(s, {}).get("wall_sec", 0)
                for s in stage_ids if not self.stages[s]["python"]
            ),
            "python_task_s": sum(
                self.stage_decomp.get(s, {}).get("executor_run_sec", 0)
                for s in stage_ids if self.stages[s]["python"]
            ),
            "task_skew": (
                max(py_tasks) / statistics.median(py_tasks)
                if py_tasks and statistics.median(py_tasks) > 0 else 0.0
            ),
            "gc_s": sum(s["gc_ms"] for s in stages) / 1000,
            "fetch_wait_s": sum(s["fetch_wait_ms"] for s in stages) / 1000,
            "shuffle_bytes": sum(s["shuffle_bytes"] for s in stages),
            "spill_bytes": sum(s["spill_bytes"] for s in stages),
            "records_read": sum(s["records_read"] for s in stages),
            "records_written": sum(s["records_written"] for s in stages),
            "stage_busy_s": _union_s(intervals),
            "wall_s": wall_s,
            **{k: sum(p[k] for p in plans) for k in
               ("exchanges", "cached_scans", "raw_scans", "smj", "shj", "bhj")},
        }


def _new_stage() -> dict:
    return {
        "submit_ms": None, "complete_ms": None, "python": False, "task_ms": [],
        "failed": 0, "run_ms": 0, "gc_ms": 0, "fetch_wait_ms": 0,
        "shuffle_bytes": 0, "spill_bytes": 0, "records_read": 0,
        "records_written": 0,
    }


def _innermost(tracer: Tracer, t: float) -> str | None:
    best = None
    for s in tracer.spans:  # later spans nest inside earlier open ones
        if s["start"] <= t and (s["end"] is None or t <= s["end"]):
            best = s["id"]
    return best


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in intervals:
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1000


def span_union_s(spans: list[dict]) -> float:
    return _union_s(sorted((s["start"] * 1000, s["end"] * 1000) for s in spans))


class StreamProgress(StreamingQueryListener):
    def __init__(self):
        self.progress: list[dict] = []
        self.terminated = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1

    def wait_terminated(self, n: int, timeout_s: float = 10.0) -> None:
        """Listener events arrive asynchronously; wait for the n-th
        termination so every progress event of that query is in."""
        deadline = time.time() + timeout_s
        while self.terminated < n and time.time() < deadline:
            time.sleep(0.05)


class RssSampler:
    """Peak summed RSS of this process's descendants (JVM, Python workers)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak_bytes = max(self.peak_bytes, self.sample())

    def sample(self) -> int:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total


def descendants() -> set[int]:
    """Live processes started, directly or not, by this process."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        if fields[0] != "Z":
            parent[int(entry)] = int(fields[1])
    mine = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    return mine - {os.getpid()}
