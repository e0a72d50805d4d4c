"""Chained 10-job topology verifier at a given SF under the engine
session (RocksDB state), recording per-layer seconds, per-batch
trigger-latency percentiles, and state/checkpoint sizes.

The replay shape is the third argument, passed to
`build_warehouse_layers` as `ordered_slices`: 0 (the default) is the
bulk replay, N>0 the ordered replay over N time-sorted fact slices
(the per-key-ordered Kafka contract). It is recorded in the
artifact's `staging` block, so runs are self-describing.

Usage: python tools/verify_chained_sf10.py [sf_dir] [json_out] [ordered_slices]
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from tools.verify_head import TABLES, vhash  # noqa: E402

NAMES = [
    "chained_visitor_stats",
    "chained_product_stats",
    "chained_province_stats",
    "chained_keyword_stats",
]


def main() -> int:
    from gmall_realtime_flink_spark.session import get_spark
    from gmall_realtime_flink_spark.streaming import topology

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.local/sf10"
    # neutral default (ADVICE r11): an argless run must never clobber
    # a committed per-round artifact — name the round explicitly
    json_out = sys.argv[2] if len(sys.argv) > 2 else "VERIFY_SF10_CHAINED.json"
    ordered_slices = int(sys.argv[3]) if len(sys.argv) > 3 else 0
    spark = get_spark("verify_chained_sf10")
    spark.sparkContext.setLogLevel("ERROR")

    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )
    bad, results = [], {}
    t_all = time.time()
    # the chained entries read the layers from this cache
    topology._LAYER_CACHE[os.path.abspath(sf_dir)] = (
        topology.build_warehouse_layers(
            spark, sf_dir, ordered_slices=ordered_slices
        )
    )
    for q in NAMES:
        t0 = time.time()
        try:
            got = qs[q](spark, sf_dir).toPandas()
            want = con.execute(osql[q]).fetchdf()
            ok = len(got) == len(want) and vhash(got) == vhash(want)
        except Exception as ex:  # noqa: BLE001
            ok = False
            print(f"{q} EXC {str(ex)[:300]}", file=sys.stderr, flush=True)
        if not ok:
            bad.append(q)
        results[q] = {"ok": ok, "sec": round(time.time() - t0, 1)}
        print(f"{q} {'OK' if ok else 'BAD'} {time.time() - t0:.1f}s", flush=True)
        _dump(json_out, sf_dir, ordered_slices, bad, results, topology, t_all)
    # drop the warehouse base + ODS staging: a sf10 run leaves ~16 GB
    # under /tmp otherwise (two leaked runs nearly filled the disk in
    # r12 — the same hygiene failure that ENOSPC'd the r11 sf100 tier)
    import shutil

    for key, layers in list(topology._LAYER_CACHE.items()):
        if key == os.path.abspath(sf_dir):
            b = os.path.dirname(next(iter(layers.values())))
            manifest = os.path.join(b, "ods.json")
            if os.path.exists(manifest):
                for p in json.load(open(manifest)).values():
                    if os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
                    elif os.path.isfile(p):
                        os.remove(p)
            shutil.rmtree(b, ignore_errors=True)
            del topology._LAYER_CACHE[key]
    return 1 if bad else 0


def _dump(json_out, sf_dir, ordered_slices, bad, results, topology, t_all):
    base = None
    for key, layers in topology._LAYER_CACHE.items():
        if key == os.path.abspath(sf_dir):
            base = os.path.dirname(next(iter(layers.values())))
    state = {}
    if base is not None:
        ckpt = os.path.join(base, "ckpt")
        if os.path.isdir(ckpt):
            for job in sorted(os.listdir(ckpt)):
                out = subprocess.run(
                    ["du", "-sb", os.path.join(ckpt, job)],
                    capture_output=True, text=True,
                )
                if out.returncode == 0:
                    state[job] = int(out.stdout.split()[0])
    with open(json_out, "w") as f:
        json.dump(
            {
                "sf_dir": sf_dir,
                "session": "engine (RocksDB state store)",
                "staging": {"ordered_slices": ordered_slices},
                "bad": bad,
                "results": results,
                "layer_seconds": topology.LAYER_SECONDS,
                # per-batch trigger latency percentiles per job (r8):
                # what a layer consumer WAITS, vs what the layer costs
                "layer_batch_ms": topology.LAYER_BATCH_MS,
                "checkpoint_bytes": state,
                "total_sec": round(time.time() - t_all, 1),
            },
            f,
            indent=1,
        )


if __name__ == "__main__":
    sys.exit(main())
