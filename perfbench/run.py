"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch_sf0.01 --seed 42 --seconds 10 --trace 0

Run from the root of a checkout. The corpus is generated from the seed
by ``tools/gen_testdata.py`` (not timed) and cached under
``.perfbench_cache/``. Everything else the run writes (Spark local dirs,
warehouse dir, topology bases, checkpoints, event log, temp files) goes
to one scratch root under ``.perfbench_tmp/`` that is deleted at exit.

stdout ends with two JSON lines: the run's full record (deployment,
samples; spans when traced), which ``compare.py`` reads, then the result
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics
(``--trace 1``). The exit code is non-zero when any output fails its
correctness check.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "gmall_realtime_flink_spark"


def deployment(cores: int) -> dict:
    """What a result depends on besides the code; results whose
    deployments differ are not compared."""
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return {
        "nproc": cores,
        "mem_total_kb": mem_kb,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "env": {k: v for k, v in sorted(os.environ.items())
                if k.startswith("SPARK_GRAFT_")},
    }


def corpus(sf: float, seed: int) -> str:
    """Directory of the (sf, seed) corpus, generated on first use."""
    out = os.path.join(ROOT, ".perfbench_cache", f"sf{sf:g}_seed{seed}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "gen_testdata.py"),
             "--sf", str(sf), "--seed", str(seed), "--out", tmp],
            check=True, stdout=sys.stderr)
        os.rename(tmp, out)
    return out


def du_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not os.path.islink(os.path.join(d, f)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"no {PACKAGE} package in {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import stats
    from perfbench.workloads import WORKLOADS, Run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    stats.check_spec(spec)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    # Pin the deployment: one executor thread per core, and every file
    # the program or its Python workers write under the scratch root.
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # see workloads._start
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    run = Run(scratch, args.seconds, bool(args.trace), cores,
              lambda sf: corpus(sf, args.seed))
    try:
        result = WORKLOADS[args.workload](run)
    finally:
        left_mb = du_bytes(scratch) / (1 << 20)
        shutil.rmtree(scratch, ignore_errors=True)

    metrics = dict(result.end_to_end)
    metrics["ok_frac"] = 1.0 - result.failed / result.attempted
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    e2e = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    stats.check_metrics(spec["end_to_end"], e2e)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "deployment": deployment(cores),
        "end_to_end": metrics, "left_mb": left_mb, **result.detail,
    }
    out = e2e
    if args.trace:
        layers = dict(result.per_layer, **{"run.left_mb": left_mb})
        out = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
        stats.check_metrics(spec["per_layer"], out)
        record["per_layer"] = layers
    print(json.dumps({"record": record}))
    correct = result.failed == 0
    print(json.dumps({"correct": correct, "attempted": result.attempted,
                      "failed": result.failed, "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
