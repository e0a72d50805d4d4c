"""Comparing records: refusal across deployments, and the bound check."""

import json

from perfbench.compare import compare, load, summary

METRICS = [{"name": "result_s", "unit": "s", "better": "lower", "bound": 0.1},
           {"name": "ok_frac", "unit": "ratio", "better": "higher", "bound": 0.01}]
SETUP = {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25}


def _rec(result_s, cores=4, ok=1.0, setup_s=1.0):
    return {"workload": "w", "seed": 1, "trace": 0,
            "deployment": {"nproc": cores, "env": {"SPARK_GRAFT_CPUS": str(cores)}},
            "end_to_end": {"result_s": result_s, "ok_frac": ok, "setup_s": setup_s}}


def test_load_reads_the_record_lines_of_saved_stdout(tmp_path):
    result = {"correct": True, "attempted": 1, "failed": 0, "metrics": {}}
    out = tmp_path / "run.out"
    out.write_text("generated corpus\n" + json.dumps({"record": _rec(1.0)})
                   + "\n" + json.dumps(result) + "\n")
    assert load(str(out)) == [_rec(1.0)]


def test_summary_judges_setup_s_like_every_other_metric():
    steady = [_rec(1.0, setup_s=s) for s in (1.0, 1.01, 0.99, 1.0)]
    assert summary(steady, METRICS + [SETUP])
    unsteady = [_rec(1.0, setup_s=s) for s in (1.0, 1.5, 0.6, 1.0)]
    assert not summary(unsteady, METRICS + [SETUP])


def test_different_deployments_are_refused():
    assert compare([_rec(1.0)], [_rec(1.0, cores=8)], METRICS) == 2


def test_within_bound_passes_and_beyond_fails():
    parent = [_rec(1.0), _rec(1.1), _rec(0.9)]
    assert compare(parent, [_rec(1.05)], METRICS) == 0
    assert compare(parent, [_rec(1.2)], METRICS) == 1
    assert compare(parent, [_rec(0.5)], METRICS) == 0


def test_higher_is_better_metrics_fail_when_they_drop():
    assert compare([_rec(1.0)], [_rec(1.0, ok=0.9)], METRICS) == 1
