"""The benchmark's three trace sources.

- ``Spans``: wall-clock spans the benchmark records around its own calls
  into the program (``session.get_spark``, the ``plans`` builders, the
  noop-sink action, ``streaming.topology.build_warehouse_layers``).
  Kept in memory and written out with the run's record.
- ``EventLog``: Spark's own event log (``spark.eventLog.enabled``), read
  after the session stops, aggregated per job group / description.
- ``StreamProgress``: a ``StreamingQueryListener`` collecting every
  per-trigger progress record.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import threading
import time
from datetime import datetime

MB = 1 << 20

# Python-worker SQL metrics (PythonSQLMetrics) -> per-layer name. The
# timing ones are milliseconds: on a mapInArrow task that sleeps 0.5 s,
# "run" read 2123 against 2473 ms of executor run time and equalled
# start (1316) + initialize (306) + the sleep. "initialize" is counted
# from the worker's boot, so a reused worker's idle time lands in it and
# it can exceed the task's run time. The size ones are bytes.
PYTHON_TIMES = {
    "time to run Python workers": "operators.python_run_s",
    "time to initialize Python workers": "operators.python_init_s",
    "time to start Python workers": "operators.python_start_s",
}
PYTHON_SIZES = {
    "data sent to Python workers": "operators.python_sent_mb",
    "data returned from Python workers": "operators.python_returned_mb",
}
# FileSourceScanExec metrics: "scan time" is a task metric in
# milliseconds; "size of files read" is a driver-side metric in bytes,
# reported in SparkListenerDriverAccumUpdates and named only in the plan.
SCAN_TIME = "scan time"
FILES_READ = "size of files read"

SPARK_METRICS = (
    "catalog.input_mb", "catalog.input_rows", "catalog.scan_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_s",
    "spark.stage_s", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.gc_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
    "spark.fetch_wait_s", "spark.spill_mb", "spark.core_util",
    *PYTHON_TIMES.values(), *PYTHON_SIZES.values(),
)


@dataclasses.dataclass
class Span:
    layer: str
    query: str
    phase: str
    start: float  # epoch seconds
    seconds: float

    @property
    def end(self) -> float:
        return self.start + self.seconds


class Spans:
    def __init__(self) -> None:
        self.records: list[Span] = []

    @contextlib.contextmanager
    def span(self, layer: str, query: str = "", phase: str = ""):
        start, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            self.records.append(
                Span(layer, query, phase, start, time.perf_counter() - t0))

    def find(self, layer: str, query: str, phase: str) -> Span:
        for s in self.records:
            if (s.layer, s.query, s.phase) == (layer, query, phase):
                return s
        raise KeyError((layer, query, phase))

    def to_json(self) -> list[dict]:
        return [dataclasses.asdict(s) for s in self.records]


# ---------------------------------------------------------------- event log


def union_seconds(intervals) -> float:
    """Length of the union of (start_ms, end_ms) intervals, in seconds."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def _num(v) -> float:
    return float(v) if v is not None and v != "" else 0.0


def _plan_accums(node: dict, name: str):
    """Accumulator ids of every metric called ``name`` in a plan tree."""
    for m in node.get("metrics") or ():
        if m.get("name") == name:
            yield m["accumulatorId"]
    for child in node.get("children") or ():
        yield from _plan_accums(child, name)


@dataclasses.dataclass
class Stage:
    group: str
    desc: str
    submit_ms: float
    end_ms: float = 0.0
    tasks: int = 0
    m: dict = dataclasses.field(default_factory=dict)

    def add(self, key: str, value: float) -> None:
        self.m[key] = self.m.get(key, 0.0) + value


class EventLog:
    """Jobs, stages (with task metrics summed) and SQL executions of one
    Spark event log, tagged by the job group and description that were
    set when each job was submitted."""

    def __init__(self, events) -> None:
        self.jobs: dict[int, tuple[str, str, int | None]] = {}
        self.stages: dict[tuple[int, int], Stage] = {}
        self.executions: dict[int, list[float]] = {}
        files_read_ids: set[int] = set()
        driver_updates: list[tuple[int, int, float]] = []
        for ev in events:
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                p = ev.get("Properties") or {}
                ex = p.get("spark.sql.execution.id")
                self.jobs[ev["Job ID"]] = (
                    p.get("spark.jobGroup.id") or "",
                    p.get("spark.job.description") or "",
                    int(ex) if ex not in (None, "") else None,
                )
            elif kind == "SparkListenerStageSubmitted":
                info, p = ev["Stage Info"], ev.get("Properties") or {}
                key = (info["Stage ID"], info["Stage Attempt ID"])
                self.stages[key] = Stage(
                    p.get("spark.jobGroup.id") or "",
                    p.get("spark.job.description") or "",
                    _num(info.get("Submission Time")),
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = self.stages.get((info["Stage ID"], info["Stage Attempt ID"]))
                if st is not None:
                    st.end_ms = _num(info.get("Completion Time"))
            elif kind == "SparkListenerTaskEnd":
                st = self.stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                if st is not None:
                    self._add_task(st, ev)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                self.executions[ev["executionId"]] = [_num(ev["time"]), 0.0]
                files_read_ids.update(_plan_accums(ev["sparkPlanInfo"], FILES_READ))
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                files_read_ids.update(_plan_accums(ev["sparkPlanInfo"], FILES_READ))
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                driver_updates += [(ev["executionId"], int(i), _num(v))
                                   for i, v in ev["accumUpdates"]]
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                if ev["executionId"] in self.executions:
                    self.executions[ev["executionId"]][1] = _num(ev["time"])
        self.files_read: dict[int, float] = {}
        for ex, acc_id, v in driver_updates:
            if acc_id in files_read_ids:
                self.files_read[ex] = self.files_read.get(ex, 0.0) + v

    @staticmethod
    def _add_task(st: Stage, ev: dict) -> None:
        st.tasks += 1
        tm = ev.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        im = tm.get("Input Metrics") or {}
        st.add("run_ms", _num(tm.get("Executor Run Time")))
        st.add("cpu_ns", _num(tm.get("Executor CPU Time")))
        st.add("gc_ms", _num(tm.get("JVM GC Time")))
        st.add("spill_b", _num(tm.get("Disk Bytes Spilled")))
        st.add("shuffle_write_b", _num(sw.get("Shuffle Bytes Written")))
        st.add("shuffle_read_b", _num(sr.get("Remote Bytes Read"))
               + _num(sr.get("Local Bytes Read")))
        st.add("fetch_wait_ms", _num(sr.get("Fetch Wait Time")))
        st.add("input_rows", _num(im.get("Records Read")))
        for acc in (ev.get("Task Info") or {}).get("Accumulables") or ():
            name = acc.get("Name")
            if name in PYTHON_TIMES or name in PYTHON_SIZES or name == SCAN_TIME:
                st.add(name, _num(acc.get("Update")))

    @classmethod
    def read(cls, path: str) -> "EventLog":
        """Parse every event file under ``path``: a file, or a directory
        holding plain or rolling ``eventlog_v2_*/events_*`` logs."""
        files = [path]
        if os.path.isdir(path):  # skip Hadoop's hidden .crc checksum files
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                           for f in fs if not f.startswith("."))

        def events():
            for fn in files:
                with open(fn) as f:
                    for line in f:
                        if line.strip():
                            yield json.loads(line)

        return cls(events())

    def job_ids(self, group: str, desc: str) -> list[int]:
        return [j for j, (g, d, _) in self.jobs.items() if (g, d) == (group, desc)]

    def metrics(self, stages: list[Stage], job_ids, cores: int) -> dict:
        """Per-layer totals over ``stages`` and ``job_ids``.

        ``spark.driver_s`` is the wall of the jobs' SQL executions minus
        the union of stage intervals: planning, AQE re-planning and
        scheduling gaps as Spark itself records them.
        """
        job_ids = list(job_ids)
        tot: dict[str, float] = {}
        for st in stages:
            for k, v in st.m.items():
                tot[k] = tot.get(k, 0.0) + v
        stage_s = union_seconds((st.submit_ms, st.end_ms) for st in stages)
        ex_ids = {self.jobs[j][2] for j in job_ids} - {None}
        sql_s = union_seconds(
            tuple(self.executions[e]) for e in ex_ids if e in self.executions)
        run_s = tot.get("run_ms", 0.0) / 1e3
        out = {
            "catalog.input_mb": sum(self.files_read.get(e, 0.0) for e in ex_ids) / MB,
            "catalog.input_rows": tot.get("input_rows", 0.0),
            "catalog.scan_s": tot.get(SCAN_TIME, 0.0) / 1e3,
            "spark.jobs": float(len(job_ids)),
            "spark.stages": float(len(stages)),
            "spark.tasks": float(sum(st.tasks for st in stages)),
            "spark.driver_s": max(0.0, sql_s - stage_s),
            "spark.stage_s": stage_s,
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": tot.get("cpu_ns", 0.0) / 1e9,
            "spark.gc_s": tot.get("gc_ms", 0.0) / 1e3,
            "spark.shuffle_write_mb": tot.get("shuffle_write_b", 0.0) / MB,
            "spark.shuffle_read_mb": tot.get("shuffle_read_b", 0.0) / MB,
            "spark.fetch_wait_s": tot.get("fetch_wait_ms", 0.0) / 1e3,
            "spark.spill_mb": tot.get("spill_b", 0.0) / MB,
            "spark.core_util": run_s / (stage_s * cores) if stage_s else 0.0,
        }
        for raw, name in PYTHON_TIMES.items():
            out[name] = tot.get(raw, 0.0) / 1e3
        for raw, name in PYTHON_SIZES.items():
            out[name] = tot.get(raw, 0.0) / MB
        return out

    def tagged(self, group: str, desc: str, cores: int) -> dict:
        """Metrics of the jobs submitted under one (group, description)."""
        stages = [s for s in self.stages.values() if (s.group, s.desc) == (group, desc)]
        return self.metrics(stages, self.job_ids(group, desc), cores)

    def window(self, start_ms: float, end_ms: float, cores: int) -> dict:
        """Metrics of every stage and job that started inside a window."""
        stages = [s for s in self.stages.values()
                  if start_ms <= s.submit_ms <= end_ms]
        ex_in = {e for e, (s, _) in self.executions.items()
                 if start_ms <= s <= end_ms}
        jobs = [j for j, (_, _, e) in self.jobs.items() if e in ex_in]
        out = self.metrics(stages, jobs, cores)
        out["spark.driver_s"] = max(
            0.0, (end_ms - start_ms) / 1e3 - out["spark.stage_s"])
        return out


# ---------------------------------------------------------- streaming


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


class StreamProgress:
    """Every streaming query's start time and per-trigger progress.

    Listener delivery is asynchronous, so ``wait_terminated`` blocks
    until the expected number of queries have reported termination.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._listener = None
        self.started: dict[str, float] = {}
        self.triggers: list[dict] = []
        self.terminated = 0

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                with outer._lock:
                    outer.started[event.name] = _epoch_ms(event.timestamp)

            def onQueryProgress(self, event) -> None:
                outer._progress(event.progress)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                with outer._lock:
                    outer.terminated += 1

        self._listener = Listener()
        spark.streams.addListener(self._listener)

    def detach(self, spark) -> None:
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None

    def _progress(self, p) -> None:
        dur = p.durationMs or {}
        ops = p.stateOperators or []
        rec = {
            "job": p.name,
            "start_ms": _epoch_ms(p.timestamp),
            "batch_ms": float(p.batchDuration),
            "trigger_ms": float(dur.get("triggerExecution", 0)),
            "add_batch_ms": float(dur.get("addBatch", 0)),
            "rows_in": float(p.numInputRows),
            "state_rows": float(sum(o.numRowsTotal for o in ops)),
            "state_bytes": float(sum(o.memoryUsedBytes for o in ops)),
            "late_dropped": float(sum(o.numRowsDroppedByWatermark for o in ops)),
        }
        with self._lock:
            self.triggers.append(rec)

    def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if self.terminated >= n:
                    return
            time.sleep(0.05)
        raise TimeoutError(
            f"{self.terminated} of {n} streaming queries reported termination")


def job_metrics(started: dict, triggers: list[dict], jobs) -> dict:
    """Per-job ``streaming.<job>.*`` metrics of one replay.

    wall_s runs from the query's start to the end of its last trigger;
    state rows and bytes are those after the last trigger.
    """
    out: dict[str, float] = {}
    for job in jobs:
        ts = sorted((t for t in triggers if t["job"] == job),
                    key=lambda t: t["start_ms"])
        if job not in started or not ts:
            raise ValueError(f"no progress recorded for streaming job {job!r}")
        last = ts[-1]
        out.update({
            f"streaming.{job}.wall_s":
                (last["start_ms"] + last["batch_ms"] - started[job]) / 1e3,
            f"streaming.{job}.add_batch_ms": sum(t["add_batch_ms"] for t in ts),
            f"streaming.{job}.triggers": float(len(ts)),
            f"streaming.{job}.fixed_ms":
                sum(t["trigger_ms"] - t["add_batch_ms"] for t in ts),
            f"streaming.{job}.rows_in": sum(t["rows_in"] for t in ts),
            f"streaming.{job}.state_rows": last["state_rows"],
            f"streaming.{job}.state_mb": last["state_bytes"] / MB,
            f"streaming.{job}.late_dropped": sum(t["late_dropped"] for t in ts),
        })
    return out
