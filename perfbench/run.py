"""CDC engine benchmark: one workload per invocation, one JSON line out.

    python3 perfbench/run.py --workload oltp_pg_cow --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. This process starts the engine side
(``workloads.py``) in a child process of its own, so a crash there is
counted as that workload's failed operations, and while the child starts
Spark it generates the workload's inputs and reference results from
``--seed`` (three times, so set-up time is a median). The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer ones. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ("oltp_pg_cow", "backfill_binlog_cow", "mor_read_write",
             "corpus_dedup")
CHILD_TIMEOUT_S = 170
# A fixed 1 GB driver heap (initial = maximum): the JVM's resident set
# then tracks the heap's size, not when the collector chose to grow it.
DRIVER_MEMORY = "1g"
GEN_REPEATS = 3
NEAR_DUP_THRESHOLD = 0.5

# Work per run: warm-up batches (or passes), unmeasured, then measured
# ones. ``seconds`` buys measured batches at each workload's nominal batch
# time on a 4-core host, above a floor, so every run with the same
# ``seconds`` processes the same input. Warm-up batches are small: what
# they warm (JIT, Python workers, lazy engine state) is per code path, not
# per row, but they must take the measured batches' code path.
NOMINAL_BATCH_S = {"oltp_pg_cow": 2.5, "backfill_binlog_cow": 3.5,
                   "mor_read_write": 2.0, "corpus_dedup": 2.5}
MIN_BATCHES = {"oltp_pg_cow": 4, "backfill_binlog_cow": 3,
               "mor_read_write": 5, "corpus_dedup": 4}


def sizes(name: str, seconds: int, tiny: bool) -> dict:
    """Per workload: table rows, events (documents) per warm-up batch
    (pass) and per measured batch, and sink options. ``tiny`` is the
    smoke test's size."""
    if tiny:
        return {
            "oltp_pg_cow": dict(table_rows=1000, warmup=[200], batches=[200]),
            "backfill_binlog_cow": dict(table_rows=1000, warmup=[300],
                                        batches=[300], inline_max_rows=4096),
            "mor_read_write": dict(table_rows=500, warmup=[100], batches=[100],
                                   compact_every=1),
            "corpus_dedup": dict(warmup=[], batches=[150]),
        }[name]
    n = max(MIN_BATCHES[name], round(seconds / NOMINAL_BATCH_S[name]))
    return {
        # 2048 events per batch (Debezium's max.batch.size); the table
        # stays far under the COW sink's 2^18-row inline-merge bound.
        "oltp_pg_cow": dict(table_rows=10_000, warmup=[256],
                            batches=[2048] * n),
        # batches above the sink's inline bound, so every batch takes the
        # distributed merge and rewrites every bucket
        "backfill_binlog_cow": dict(table_rows=30_000, warmup=[4500],
                                    batches=[8192] * n, inline_max_rows=4096),
        # compact_every=3: the snapshot's delta and the warm-up batch's
        # make two, so compactions fall on measured epochs 1 and 4
        "mor_read_write": dict(table_rows=20_000, warmup=[512],
                               batches=[1024] * n, compact_every=3),
        "corpus_dedup": dict(warmup=[300], batches=[900] * n),
    }[name]


def _keys_changed(log: gen.ChangeLog) -> list[int]:
    return [len({k for tx in b for _, k, _ in tx}) for b in log.batches]


def _mor_reads(log: gen.ChangeLog) -> dict:
    """Reference result of the read set after each batch."""
    state = dict(log.snapshot)
    out = {}
    for bi, batch in enumerate(log.batches):
        state = gen.fold(state, gen.events_of([batch]))
        out[(bi, "point")] = sorted(
            (k, *state[k]) for k in log.hot_keys if k in state)
        agg: dict[str, list] = {}
        for bal, st, _ in state.values():
            a = agg.setdefault(st, [0, 0])
            a[0] += 1
            a[1] += bal
        out[(bi, "agg")] = sorted((st, n, s) for st, (n, s) in agg.items())
    return out


def prepare(name: str, seed: int, size: dict, d: str) -> dict:
    """Write ``name``'s inputs under ``d``; return its spec and reference."""
    os.makedirs(d, exist_ok=True)
    if name == "corpus_dedup":
        shards = []
        for i, docs in enumerate(size["warmup"] + size["batches"]):
            c = gen.make_corpus(seed * 1000 + i, docs,
                                threshold=NEAR_DUP_THRESHOLD)
            path = os.path.join(d, f"corpus_{i:03d}.parquet")
            gen.write_corpus(c, path)
            shards.append({"index": i, "path": path, "texts": dict(c.docs),
                           "survivors": c.exact_survivors,
                           "planted": c.planted_pairs,
                           "recall_floor": c.recall_floor})
        return {"shards": shards, "threshold": NEAR_DUP_THRESHOLD,
                "warmup_batches": len(size["warmup"]), "n_ops": 2 * len(shards)}
    kind, sink, zipf_s = {
        "oltp_pg_cow": ("pgoutput", "cow", 1.1),
        "backfill_binlog_cow": ("binlog", "cow", None),
        "mor_read_write": ("envelope", "mor", 1.1),
    }[name]
    warm = len(size["warmup"])
    log = gen.make_change_log(seed, table_rows=size["table_rows"],
                              batch_events=size["warmup"] + size["batches"],
                              zipf_s=zipf_s)
    snap, feed = os.path.join(d, "snapshot.parquet"), os.path.join(d, "feed")
    gen.write_snapshot(log.snapshot, snap)
    {"pgoutput": gen.write_pgoutput_log, "binlog": gen.write_binlog,
     "envelope": gen.write_envelope_log}[kind](log, feed)
    ref = gen.fold(log.snapshot, gen.events_of(log.batches),
                   mask_note=kind == "pgoutput")
    spec = {"kind": kind, "sink": sink, "feed": feed, "snapshot": snap,
            "n_batches": len(log.batches), "n_events": log.n_events,
            "snapshot_rows": len(log.snapshot),
            "warmup_batches": warm,
            "warmup_events": sum(len(tx) for b in log.batches[:warm]
                                 for tx in b),
            "expected": gen.table_rows(ref),
            "keys_changed": _keys_changed(log),
            "n_ops": 1 + len(log.batches)}
    if "inline_max_rows" in size:
        spec["sink_options"] = {"inline_max_rows": size["inline_max_rows"]}
    if sink == "mor":
        spec.update(compact_every=size["compact_every"],
                    hot_keys=log.hot_keys, expected_reads=_mor_reads(log))
        spec["n_ops"] += len(spec["expected_reads"])
    return spec


def _group_alive(pgid: int) -> bool:
    for e in os.listdir("/proc"):
        if e.isdigit():
            try:
                with open(f"/proc/{e}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _stop_group(pgid: int) -> None:
    """Stop every process of the engine's process group (the child, its
    JVM and Python workers) and wait until none is left."""
    deadline = time.monotonic() + 20
    sig = signal.SIGTERM
    while _group_alive(pgid):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline - 10:
            sig = signal.SIGKILL
        if time.monotonic() > deadline:
            raise RuntimeError(f"process group {pgid} did not stop")
        time.sleep(0.2)


def start_engine(work: str, names, passes) -> subprocess.Popen:
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            [ROOT, HERE, *filter(None, [os.environ.get("PYTHONPATH")])]),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=local,
        # no hsperfdata file in the system temp directory
        JAVA_TOOL_OPTIONS=" ".join(filter(None, [
            os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])),
    )
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"), "--work", work,
           "--workloads", ",".join(names), "--passes", ",".join(passes),
           "--out", os.path.join(work, "result.json")]
    return subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr,
                            start_new_session=True)


def _dump(obj, path: str) -> None:
    """Write atomically: the engine polls for the file to appear."""
    with open(path + ".tmp", "wb") as f:
        pickle.dump(obj, f)
    os.replace(path + ".tmp", path)


def _summary(res: dict, spec: dict) -> tuple[int, int]:
    """(attempted, failed) over every pass a workload ran; a crash fails
    every operation the workload was to attempt."""
    if "error" in res:
        return spec["n_ops"], spec["n_ops"]
    return (sum(p["attempted"] for p in res.values()),
            sum(p["failed"] for p in res.values()))


def _write_detail(name, seed, trace, payload) -> str:
    d = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{name}-seed{seed}-trace{trace}.json")
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, default=str)
    return path


def run(names, seed: int, seconds: int, trace: int, smoke: bool) -> dict:
    """Generate inputs while the engine process starts, then wait for its
    results. Removes every file it wrote and stops every process it
    started, also on failure."""
    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    deadline = time.monotonic() + CHILD_TIMEOUT_S
    specs, gen_s, results = {}, {}, {}
    proc = None
    try:
        # --trace 1 adds a traced pass (first) to the untraced one; the
        # smoke test runs the traced pass alone.
        passes = (("traced",) if smoke else
                  ("traced", "untraced") if trace else ("untraced",))
        proc = start_engine(work, names, passes)
        for name in names:
            size = sizes(name, seconds, tiny=smoke)
            times = []
            for _ in range(1 if smoke else GEN_REPEATS):
                d = os.path.join(work, name)
                shutil.rmtree(d, ignore_errors=True)
                t = time.perf_counter()
                specs[name] = prepare(name, seed, size, d)
                times.append(time.perf_counter() - t)
            gen_s[name] = statistics.median(times)
        _dump(specs, os.path.join(work, "inputs.pkl"))
        try:
            proc.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            print(f"engine run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        result = os.path.join(work, "result.json")
        if os.path.exists(result):
            with open(result) as f:
                results = json.load(f)
    finally:
        if proc is not None:
            _stop_group(proc.pid)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    out = {}
    for name in names:
        res = results.get(name, {"error": "the engine process produced no "
                                          f"result (exit {proc.returncode})"})
        attempted, failed = _summary(res, specs[name])
        entry = {"attempted": attempted, "failed": failed,
                 "generate_s": gen_s[name],
                 "session_start_s": results.get("session.start_s")}
        entry.update(res)
        out[name] = entry
    return out


def metrics_of(entry: dict, trace: int) -> dict:
    # the first pass's warm-up: with --trace 1 that is the traced pass
    first = entry["traced" if trace else "untraced"]
    start, warm = entry["session_start_s"], first["warmup_s"]
    if not trace:
        # Wall-clock throughput and latency are printed with the detail but
        # not gated: on a host whose CPU is stolen for minutes at a time
        # they spread by 30-50% between runs, CPU seconds by about 12%.
        e2e = entry["untraced"]["e2e"]
        m = {"setup_s": (start + warm + entry["generate_s"], "s"),
             "cpu_s": (e2e["cpu_s"], "s"),
             "peak_rss_mb": (e2e["peak_rss_mb"], "MB")}
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    base, traced = entry["untraced"]["e2e"], entry["traced"]["e2e"]
    layers = {"session.start_s": start, "setup.warmup_s": warm,
              "setup.generate_s": entry["generate_s"],
              **entry["traced"]["layers"],
              "trace.overhead_frac": base["items_per_s"] / traced["items_per_s"] - 1,
              "trace.latency_overhead_frac":
                  traced["op_latency_p50_s"] / base["op_latency_p50_s"] - 1}
    return {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("_frac", "precision", "per_key_changed")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="all four workloads at a tiny size in one engine "
                         "process, traced, checks only")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "debezium_spark")):
        print("perfbench: run from a checkout holding the debezium_spark "
              "package", file=sys.stderr)
        return 2
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke is given")
    # SIGTERM unwinds like an exception, so the engine's process group is
    # stopped and the work directory removed on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    names = WORKLOADS if args.smoke else (args.workload,)
    trace = 1 if args.smoke else args.trace
    out = run(names, args.seed, args.seconds, trace, args.smoke)
    ok = True
    for name, entry in out.items():
        path = _write_detail(name, args.seed, trace, entry)
        good = "error" not in entry and entry["failed"] == 0
        ok = ok and good
        detail = {k: v for k, v in entry.items() if k not in ("untraced", "traced")}
        for p in ("untraced", "traced"):
            if p in entry:
                detail[p] = {**entry[p]["e2e"], **entry[p]["detail"]}
        print(f"{name}: {'ok' if good else 'FAILED'} "
              f"{json.dumps(detail, default=str)} (detail: {path})")
    if args.smoke:
        return 0 if ok else 1
    entry = out[args.workload]
    if "error" in entry:
        print(entry["error"], file=sys.stderr)
        return 1
    print(json.dumps({"correct": ok, "attempted": entry["attempted"],
                      "failed": entry["failed"],
                      "metrics": metrics_of(entry, args.trace)}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
