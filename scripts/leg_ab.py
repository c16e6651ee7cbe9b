#!/usr/bin/env python
"""Same-window per-leg timer for A/B sandwiches on this noisy host:
2 warm-ups + median-of-3 noop-sink runs per named leg, with a 3-sample
job-latency probe before and after (calm floor 0.03-0.08 s/job — read
the probes before trusting any delta). Each timed run also reports the
CPU seconds its process tree spent (this driver, the Spark JVM, the
Python workers): scheduler stalls inflate wall time but barely move CPU
time, so CPU-s decides a noisy call. Building the leg's DataFrame is
timed apart (``build_wall``, ``build_cpu_s``), since some operators
compute when called. Pair with `git stash` to measure old-vs-new
back-to-back in one window:

    python scripts/leg_ab.py s32_binlog_txn_payload x6_lsh_candidates
"""
from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

from spans import tree_cpu_s  # noqa: E402  (the benchmark's /proc reader)


def probe(spark, n=3):
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1).count()
        out.append(round(time.perf_counter() - t0, 3))
    return out


def main():
    from debezium_spark.session import get_spark
    from debezium_spark.suite import load_all

    legs = sys.argv[1:]
    spark = get_spark()
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    qs = load_all()
    # a discarded first job: the probe then reads host health, not the
    # session's JVM and first-job start-up
    spark.range(1).count()
    print("probe_pre", probe(spark), flush=True)
    res, me = {}, os.getpid()
    for name in legs:
        ts, cpu, bts, bcpu = [], [], [], []
        for _ in range(5):
            # built again per run and timed apart: an operator that
            # computes when called (near_dup_pairs under its inline
            # bound) does its work here, not in the write
            c0, t0 = tree_cpu_s(me), time.perf_counter()
            df = qs[name].fn(spark, sf_dir)
            df.schema  # the listing/analysis
            bts.append(round(time.perf_counter() - t0, 3))
            bcpu.append(round(tree_cpu_s(me) - c0, 2))
            c0, t0 = tree_cpu_s(me), time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            ts.append(round(time.perf_counter() - t0, 3))
            cpu.append(round(tree_cpu_s(me) - c0, 2))
        # [0:2] = warm-ups
        res[name] = {"wall": ts, "cpu_s": cpu, "build_wall": bts,
                     "build_cpu_s": bcpu}
        print(name, "wall", ts, "median", sorted(ts[2:])[1],
              "cpu_s", cpu, "median", sorted(cpu[2:])[1],
              "build_wall", bts, "median", sorted(bts[2:])[1],
              "build_cpu_s", bcpu, "median", sorted(bcpu[2:])[1], flush=True)
    print("probe_post", probe(spark), flush=True)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
