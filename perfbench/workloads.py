"""The benchmark's workloads.

Each workload function takes a ``Run`` and returns a ``Result``. The
end-to-end metrics come from the same code whether tracing is on or
off; a traced run adds Spark's event log and reports per-layer metrics.
"""

from __future__ import annotations

import dataclasses
import os
import sys
import time
import traceback

from perfbench import stats
from perfbench.trace import MB, SPARK_METRICS, EventLog, Spans, StreamProgress, job_metrics

# The 10 jobs of streaming.topology.build_warehouse_layers, by query name.
STREAM_JOBS = (
    "base_log_app", "base_db_app", "dwm_unique_visit", "dwm_user_jump",
    "dwm_order_wide", "dwm_payment_wide", "dws_visitor_stats",
    "dws_product_stats", "dws_province_stats", "dws_keyword_stats",
)
STREAM_METRICS = ("wall_s", "add_batch_ms", "triggers", "fixed_ms", "rows_in",
                  "state_rows", "state_mb", "late_dropped")
CHAINED = ("chained_visitor_stats", "chained_product_stats",
           "chained_province_stats", "chained_keyword_stats")
# Production entries (bench.py::_production()) the batch workload runs
# besides the headline ones: the cheapest with an oracle whose plan runs
# Python workers through mapInPandas, so the operators.python_* layer,
# "data sent to Python workers" included, is measured on a batch workload.
PRODUCTION = ("multimodal_audio_flac",)
# Measured batch passes, at the least. The first warm pass is often the
# slowest, so a pass count that followed the machine's speed around
# --seconds (one pass or two) made result_s bimodal.
MIN_PASSES = 2
# Largest relative error allowed between a traced query's wall and
# plans.build_s + spark.driver_s + spark.stage_s.
RECONCILE_TOL = 0.10


@dataclasses.dataclass
class Run:
    scratch: str  # this run's scratch root, deleted at exit
    seconds: float
    trace: bool
    cores: int
    corpus: object  # (sf) -> directory of the generated corpus


@dataclasses.dataclass
class Result:
    end_to_end: dict[str, float]
    per_layer: dict[str, float]
    attempted: int
    failed: int
    detail: dict


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Checks:
    """Counts executions and failed ones; keeps a line per failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def attempt(self) -> None:
        self.attempted += 1

    def fail(self, what: str) -> None:
        log(f"FAILED {what}")
        self.failures.append(what)


def _start(run: Run, spans: Spans):
    from gmall_realtime_flink_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run.scratch, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run.scratch, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if run.trace:
        os.makedirs(os.path.join(run.scratch, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run.scratch, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    with spans.span("session.start"):
        spark = get_spark(app_name="perfbench", extra_conf=conf)
    return spark


def _stop(spark) -> tuple[float, float]:
    """Stop the session and its JVM. Returns the JVM's peak RSS and the
    heap it still holds after a full GC at the end of the run, in MiB.

    Peak RSS follows G1's adaptive heap sizing and moved from 2.9 to
    4.8 GiB between runs of identical work, so it is reported per layer;
    the retained heap repeats and is the end-to-end memory metric.
    """
    import gc

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
    # Release Python-side handles, then collect twice: the first GC hands
    # unreachable RDDs and broadcasts to Spark's ContextCleaner, which
    # drops their blocks asynchronously; the second frees those blocks.
    gc.collect()
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    retained = heap.getHeapMemoryUsage().getUsed()
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    return hwm_kb / 1024.0, retained / MB


class _Collected:
    """A result already collected, shaped for ``oracle.compare_query``."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def _median_dicts(dicts: list[dict]) -> dict:
    return {k: stats.median(d[k] for d in dicts) for k in dicts[0]}


def _zero_streaming() -> dict:
    return {f"streaming.{j}.{m}": 0.0 for j in STREAM_JOBS for m in STREAM_METRICS}


# ---------------------------------------------------------------- batch


def batch(run: Run, sf: float) -> Result:
    """The 11 ``headline=True`` registry entries and the ``PRODUCTION``
    ones, each built and written to a ``noop`` sink.

    Set-up is the session plus a first pass that collects every result
    and checks it against the DuckDB oracle (the check is not timed).
    Measured passes then repeat until ``run.seconds`` have gone by, and
    at least ``MIN_PASSES`` times; each entry's sample is builder call
    plus noop write.
    """
    from gmall_realtime_flink_spark.oracle import compare_query
    from gmall_realtime_flink_spark.plans import REGISTRY

    sf_dir = run.corpus(sf)
    entries = [s for s in REGISTRY.values() if s.headline]
    entries += [REGISTRY[n] for n in PRODUCTION]
    spans, checks = Spans(), Checks()
    spark = _start(run, spans)
    sc = spark.sparkContext
    setup_s = spans.find("session.start", "", "").seconds
    try:
        for spec in entries:
            checks.attempt()
            sc.setJobGroup(spec.name, "setup")
            try:
                t0 = time.perf_counter()
                pdf = spec.builder(spark, sf_dir).toPandas()
                setup_s += time.perf_counter() - t0
            except Exception:
                checks.fail(f"{spec.name}: {traceback.format_exc()}")
                continue
            t0 = time.perf_counter()
            res = compare_query(
                spark, dataclasses.replace(spec, builder=lambda *_: _Collected(pdf)),
                sf_dir)
            log(f"{spec.name}: {len(pdf)} rows, checked in {time.perf_counter() - t0:.2f}s")
            if not res.ok:
                checks.fail(f"{spec.name}: {res.detail}")
        log(f"setup {setup_s:.2f}s")

        samples: dict[str, list[float]] = {s.name: [] for s in entries}
        began, rep = time.perf_counter(), 0
        while rep < MIN_PASSES or time.perf_counter() - began < run.seconds:
            for spec in entries:
                name = spec.name
                checks.attempt()
                try:
                    sc.setJobGroup(name, f"build:{rep}")
                    with spans.span("plans.build", name, f"build:{rep}"):
                        df = spec.builder(spark, sf_dir)
                    sc.setJobGroup(name, f"execute:{rep}")
                    with spans.span("noop.write", name, f"execute:{rep}"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception:
                    checks.fail(f"{name} pass {rep}: {traceback.format_exc()}")
                    continue
                samples[name].append(
                    spans.records[-2].seconds + spans.records[-1].seconds)
                del df
            log(f"pass {rep}: {sum(s[-1] for s in samples.values() if s):.2f}s")
            rep += 1
    finally:
        rss_mb, heap_mb = _stop(spark)

    medians = {n: stats.median(s) for n, s in samples.items() if s}
    e2e = {
        "setup_s": setup_s,
        "result_s": sum(medians.values()),
        "step_p50_ms": stats.median(medians.values()) * 1e3,
        "retained_heap_mb": heap_mb,
    }
    detail = {"passes": rep, "peak_rss_mb": rss_mb,
              "query_s": {n: stats.quartiles(s) for n, s in samples.items() if s}}
    per_layer: dict[str, float] = {}
    if run.trace:
        per_layer, detail["reconcile"] = _batch_layers(run, spans, samples, rep, checks)
        per_layer["session.peak_rss_mb"] = rss_mb
        detail["spans"] = spans.to_json()
    return Result(e2e, per_layer, checks.attempted, len(checks.failures), detail)


def _batch_layers(run: Run, spans: Spans, samples: dict, reps: int, checks: Checks):
    """Per-layer sums over entries of per-entry medians over passes, and
    the per-query reconciliation of build + driver + stage time with the
    traced wall (worst relative error over passes). An entry that is off
    by more than ``RECONCILE_TOL`` in any pass fails the run."""
    elog = EventLog.read(os.path.join(run.scratch, "eventlog"))
    keys = ("plans.build_s", "plans.build_jobs", *SPARK_METRICS)
    totals = dict.fromkeys(keys, 0.0)
    reconcile = {}
    for name in samples:
        per_rep = []
        for r in range(reps):
            try:
                build = spans.find("plans.build", name, f"build:{r}")
                write = spans.find("noop.write", name, f"execute:{r}")
            except KeyError:
                continue
            m = elog.tagged(name, f"execute:{r}", run.cores)
            m["plans.build_s"] = build.seconds
            m["plans.build_jobs"] = float(len(elog.job_ids(name, f"build:{r}")))
            wall = build.seconds + write.seconds
            parts = build.seconds + m["spark.driver_s"] + m["spark.stage_s"]
            m["error"] = abs(parts - wall) / wall
            per_rep.append(m)
        if not per_rep:  # failed in every pass; the run reports it
            continue
        med = _median_dicts(per_rep)
        reconcile[name] = max(m["error"] for m in per_rep)
        if reconcile[name] > RECONCILE_TOL:
            checks.fail(f"{name}: build + driver + stage time is "
                        f"{reconcile[name]:.0%} off the traced wall")
        for k in keys:
            totals[k] += med[k]
    stage_s = totals["spark.stage_s"]
    totals["spark.core_util"] = (
        totals["spark.executor_run_s"] / (stage_s * run.cores) if stage_s else 0.0)
    totals["session.start_s"] = spans.find("session.start", "", "").seconds
    totals.update(_zero_streaming())
    return totals, reconcile


# ---------------------------------------------------------------- warehouse


def warehouse(run: Run, sf: float) -> Result:
    """One full 10-job ODS->DWD->DWM->DWS replay into a fresh base dir, in
    the topology's default bulk mode.

    Set-up is the session start; ``result_s`` is the wall of that one
    replay, which is the first in the JVM and so also loads the JVM's
    code paths and the Python workers. One replay takes longer than the
    measuring budget, and a warm-up replay would double the run, so
    ``run.seconds`` does not change what is measured. The replay's four
    chained DWS outputs are checked against the oracle, outside the
    timed region.
    """
    from gmall_realtime_flink_spark.oracle import compare_query
    from gmall_realtime_flink_spark.plans import REGISTRY
    from gmall_realtime_flink_spark.streaming import topology

    sf_dir = run.corpus(sf)
    spans, checks, progress = Spans(), Checks(), StreamProgress()
    spark = _start(run, spans)
    progress.attach(spark)
    checks.attempt()
    base = os.path.join(run.scratch, "topology")
    os.makedirs(base)
    try:
        with spans.span("streaming.replay", "warehouse", "replay"):
            layers = topology.build_warehouse_layers(spark, sf_dir, base)
        progress.wait_terminated(len(STREAM_JOBS))
        progress.detach(spark)
        log(f"replay: {spans.records[-1].seconds:.2f}s")
        key = os.path.abspath(sf_dir)
        topology._LAYER_CACHE[key] = layers  # the chained entries read these
        try:
            bad = [f"{q}: {r.detail}" for q in CHAINED
                   if not (r := compare_query(spark, REGISTRY[q], sf_dir)).ok]
        finally:
            topology._LAYER_CACHE.pop(key, None)
        if bad:
            checks.fail(f"replay: {bad}")
    finally:  # a replay that raises leaves nothing to report: the run fails
        rss_mb, heap_mb = _stop(spark)

    replay = spans.find("streaming.replay", "warehouse", "replay")
    trig = [t["trigger_ms"] for t in progress.triggers]
    e2e = {
        "setup_s": spans.find("session.start", "", "").seconds,
        "result_s": replay.seconds,
        "step_p50_ms": stats.median(trig),
        "retained_heap_mb": heap_mb,
    }
    ods_rows = sum(t["rows_in"] for t in progress.triggers
                   if t["job"] in ("base_log_app", "base_db_app"))
    detail = {"triggers": len(trig), "peak_rss_mb": rss_mb, "ods_rows": ods_rows,
              "ods_rows_per_s": ods_rows / replay.seconds}
    per_layer: dict[str, float] = {}
    if run.trace:
        elog = EventLog.read(os.path.join(run.scratch, "eventlog"))
        per_layer = elog.window(replay.start * 1e3, replay.end * 1e3, run.cores)
        per_layer.update(job_metrics(progress.started, progress.triggers, STREAM_JOBS))
        per_layer.update({
            "session.start_s": spans.find("session.start", "", "").seconds,
            "plans.build_s": 0.0,
            "plans.build_jobs": 0.0,
            "session.peak_rss_mb": rss_mb,
        })
        detail["spans"] = spans.to_json()
    return Result(e2e, per_layer, checks.attempted, len(checks.failures), detail)


WORKLOADS = {
    "batch_sf0.01": lambda run: batch(run, sf=0.01),
    "warehouse_sf0.01": lambda run: warehouse(run, sf=0.01),
}
