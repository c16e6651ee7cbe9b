"""The benchmark's engine side: runs workloads against the engine's public
API in one process and writes their results as JSON.

Started by ``run.py`` with the inputs and references it generated under
``--work``. Each workload runs in a ``try`` of its own, so one crash is
reported as that workload's failure and the others still run.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import sys
import threading
import time
import traceback

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

import gen
from spans import (NullTracer, Tracer, median, tree_cpu_s, tree_hwm_mb,
                   tree_hwm_split)

from debezium_spark.analytics import text
from debezium_spark.envelope import make_envelope, wrap_snapshot
from debezium_spark.operators.chain import chain_from_config
from debezium_spark.session import get_spark
from debezium_spark.sinks.merge import ParquetMergeSink
from debezium_spark.sinks.mor import LogMergeSink
from debezium_spark.sources.binlog import BinlogStreamDecoder
from debezium_spark.sources.pgoutput import PgOutputStreamDecoder
from debezium_spark.streaming.pipeline import ChangeDataPipeline

ROW_TYPE = T.StructType([
    T.StructField("id", T.LongType()), T.StructField("balance", T.LongType()),
    T.StructField("status", T.StringType()), T.StructField("note", T.StringType()),
])
WIRE_SCHEMA = {
    "pgoutput": T.StructType([T.StructField("lsn", T.LongType()),
                              T.StructField("msg", T.BinaryType())]),
    "binlog": T.StructType([T.StructField("pos", T.LongType()),
                            T.StructField("msg", T.BinaryType())]),
}
# skip-ops keeps Debezium's default (truncates); mask hides the note column.
CHAIN_CONFIG = {
    "transforms": "skip,mask",
    "transforms.skip.type": "skip-ops",
    "transforms.skip.skipped.operations": "t",
    "transforms.mask.type": "mask",
    "transforms.mask.columns": "note",
    "transforms.mask.mask": gen.MASK,
}


class ProgressListener(StreamingQueryListener):
    """Keeps every ``durationMs`` breakdown of the running query."""

    def __init__(self):
        self.events: list[tuple[int, dict, int]] = []
        self.done = threading.Event()

    def reset(self):
        self.events = []
        self.done.clear()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.events.append((p.batchId, dict(p.durationMs), p.numInputRows))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.done.set()

    def batches(self, timeout: float = 60.0) -> dict[int, dict]:
        """Per-batch durations once the query has terminated."""
        if not self.done.wait(timeout):
            raise TimeoutError("no query-terminated event")
        return {b: d for b, d, n in self.events if n > 0}


def tail(values: list[float]) -> dict:
    """The highest of p50/p75/p90/p95/p99 with at least 10 samples beyond
    it (nearest rank), with the sample count; None when there is none."""
    xs, n = sorted(values), len(values)
    best = None
    for p in (50, 75, 90, 95, 99):
        if n * (100 - p) / 100 >= 10:
            best = p
    if best is None:
        return {"value": None, "percentile": None, "samples": n}
    rank = max(1, -(-best * n // 100))
    return {"value": xs[rank - 1], "percentile": best, "samples": n}


def _files(root: str) -> dict[str, tuple]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                st = os.stat(p)
                out[p] = (st.st_mtime_ns, st.st_size)
    return out


def _parquet_rows(paths) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


# ---------------------------------------------------------------------------
# CDC workloads
# ---------------------------------------------------------------------------
def _to_envelope(flat, tracer):
    with tracer.span("sources.envelope.make_envelope"):
        row = F.struct(*[F.col(f.name) for f in ROW_TYPE.fields])
        return make_envelope(
            flat,
            key=F.struct(F.col("id")),
            before=F.when(F.col("op") == "d", row),
            after=F.when(F.col("op") != "d", row),
            op=F.col("op"),
            db=gen.DB,
            table=gen.TABLE,
            pos=F.col("pos"),
            tx_id=F.col("tx").cast("string"),
            ts_us=F.col("ts_us"),
            ts_ns=F.col("ts_us") * 1000,
            ts_ms=F.floor(F.col("ts_us") / 1000),
        )


def _decode_step(tracer, layer: str, decode, batch):
    with tracer.span(f"sources.{layer}.decode") as s:
        out = tracer.materialize(decode(batch))
    if s is not None:
        s.attrs["rows"] = tracer.count(out)
    return out


def pgoutput_transform(spark, tracer, chain):
    dec = PgOutputStreamDecoder(spark)

    def to_env(batch):
        decoded = _decode_step(tracer, "pgoutput", dec.decode_batch, batch)
        a, b = F.col("after"), F.col("before")
        flat = decoded.select(
            F.col("lsn").alias("pos"), "op", F.col("xid").alias("tx"),
            F.col("commit_ts_us").alias("ts_us"),
            F.coalesce(a["id"], b["id"]).cast("long").alias("id"),
            a["balance"].cast("long").alias("balance"),
            a["status"].alias("status"), a["note"].alias("note"),
        )
        # The chain runs on the flat rows: mask replaces top-level columns,
        # so on an envelope it would miss the row fields the sink writes.
        with tracer.span("operators.chain") as s:
            for t in chain:
                flat = t(flat)
            flat = tracer.materialize(flat)
        if s is not None:
            s.attrs["rows_out"] = tracer.count(flat)
            s.attrs["rows_in"] = tracer.count(decoded)
        return _to_envelope(flat, tracer)

    return to_env


def binlog_transform(spark, tracer):
    dec = BinlogStreamDecoder(spark)

    def to_env(batch):
        decoded = _decode_step(tracer, "binlog", dec.decode_batch, batch)
        a, b = F.col("after"), F.col("before")
        flat = decoded.filter(F.col("kind").isin("c", "u", "d")).select(
            F.col("log_pos").alias("pos"), F.col("kind").alias("op"),
            F.lit(None).cast("long").alias("tx"),
            F.lit(0).cast("long").alias("ts_us"),
            F.coalesce(F.element_at(a, 1), F.element_at(b, 1))
            .cast("long").alias("id"),
            F.element_at(a, 2).cast("long").alias("balance"),
            F.element_at(a, 3).alias("status"),
            F.element_at(a, 4).alias("note"),
        )
        return _to_envelope(flat, tracer)

    return to_env


class BatchHooks:
    """The pipeline's per-batch hooks: ``poll`` (the signals hook, which
    receives the epoch id) opens the batch span, ``write_batch`` (the
    sink) writes through the engine sink, runs the read set for MOR and
    closes the batch span."""

    def __init__(self, sink, tracer, layer, table_dir, reads=None):
        self.sink, self.tracer, self.layer = sink, tracer, layer
        self.table_dir, self.reads = table_dir, reads
        self.batch_span = None
        self.read_s: dict[int, float] = {}

    def poll(self, pipeline, batch_df, epoch_id):
        self.batch_span = self.tracer.begin("streaming.batch", int(epoch_id))

    def write_batch(self, df, epoch_id=None):
        tr = self.tracer
        before = _files(self.table_dir) if tr.enabled else None
        with tr.span(f"sinks.{self.layer}.write_batch") as s:
            self.sink.write_batch(df, epoch_id)
        if s is not None:
            after = _files(self.table_dir)
            new = [p for p, v in after.items() if before.get(p) != v]
            s.attrs["files_written"] = len(new)
            s.attrs["bytes_written"] = sum(after[p][1] for p in new)
            s.attrs["rows_written"] = _parquet_rows(new)
        if epoch_id is not None and epoch_id >= 0:
            if self.reads is not None:
                t = time.perf_counter()
                self.reads(int(epoch_id))
                self.read_s[int(epoch_id)] = time.perf_counter() - t
            if self.batch_span is not None:
                tr.end(self.batch_span)
                self.batch_span = None


class MorReads:
    """The fixed read set run after every committed MOR batch: a point
    lookup of the hot keys and a grouped aggregate."""

    def __init__(self, sink, tracer, hot_keys, table_dir):
        self.sink, self.tracer, self.hot = sink, tracer, hot_keys
        self.delta_root = os.path.join(table_dir, "delta")
        self.results: list[tuple[int, str, list]] = []
        self.latency: list[tuple[int, float]] = []
        self.deltas: list[tuple[int, int]] = []

    def _one(self, epoch, run):
        with self.tracer.span("sinks.mor.read"):
            t = time.perf_counter()
            rows = run()
            self.latency.append((epoch, time.perf_counter() - t))
        return sorted(tuple(r) for r in rows)

    def __call__(self, epoch):
        self.deltas.append((epoch, len(os.listdir(self.delta_root))))
        point = self._one(epoch, lambda: self.sink.read()
                          .filter(F.col("id").isin(self.hot))
                          .select("id", "balance", "status", "note").collect())
        agg = self._one(epoch, lambda: self.sink.read().groupBy("status")
                        .agg(F.count(F.lit(1)), F.sum("balance")).collect())
        # a fresh checkpoint numbers epochs like the log files
        self.results.append((epoch, "point", point))
        self.results.append((epoch, "agg", agg))


def cdc_pass(spark, spec, tracer, listener, pass_dir) -> dict:
    kind = spec["kind"]
    table_dir = os.path.join(pass_dir, "table")
    ckpt = os.path.join(pass_dir, "checkpoint")
    compactions = []
    if spec["sink"] == "cow":
        sink = ParquetMergeSink(spark, table_dir, ["id"],
                                **spec.get("sink_options", {}))
        layer = "merge"
    else:
        sink = LogMergeSink(spark, table_dir, ["id"],
                            compact_every=spec["compact_every"])
        layer = "mor"
        compact = sink.compact

        def counted_compact():
            with tracer.span("sinks.mor.compact"):
                compact()
            compactions.append(1)

        sink.compact = counted_compact
    reads = (MorReads(sink, tracer, spec["hot_keys"], table_dir)
             if spec["sink"] == "mor" else None)
    hooks = BatchHooks(sink, tracer, layer, table_dir, reads)
    if kind == "pgoutput":
        transforms = [pgoutput_transform(
            spark, tracer, chain_from_config(CHAIN_CONFIG))]
        schema = WIRE_SCHEMA[kind]
    elif kind == "binlog":
        transforms = [binlog_transform(spark, tracer)]
        schema = WIRE_SCHEMA[kind]
    else:
        transforms = []
        schema = spark.read.parquet(spec["feed"]).schema
    # The pass reads its own feed directory, linked to the generated log
    # files in two steps: the warm-up files, then the measured ones.
    feed = os.path.join(pass_dir, "feed")
    os.makedirs(feed)
    logs = sorted(os.listdir(spec["feed"]))
    warm = spec["warmup_batches"]

    def publish(names):
        for n in names:
            os.link(os.path.join(spec["feed"], n), os.path.join(feed, n))

    pipe = ChangeDataPipeline(
        spark, feed_dir=feed, envelope_schema=schema, sink=hooks,
        checkpoint_dir=ckpt, transforms=transforms, max_files_per_trigger=1,
        signals=hooks,
    )
    snap_env = wrap_snapshot(spark.read.parquet(spec["snapshot"]), ["id"],
                             db=gen.DB, table=gen.TABLE)

    # Warm-up: the snapshot and the first log files, in a query of their
    # own, so JIT, Python workers and lazy engine state are warm when the
    # measured query starts on the same checkpoint.
    t0 = time.perf_counter()
    with tracer.span("streaming.snapshot", epoch=-1):
        pipe.run_snapshot(snap_env)
    snapshot_s = time.perf_counter() - t0
    publish(logs[:warm])
    listener.reset()
    pipe.run_available()
    warm_progress = listener.batches()
    warmup_s = time.perf_counter() - t0

    warm_compactions = len(compactions)
    publish(logs[warm:])
    pid = os.getpid()
    listener.reset()
    cpu0 = tree_cpu_s(pid)
    t1 = time.perf_counter()
    pipe.run_available()
    t2 = time.perf_counter()
    cpu1, hwm_split = tree_cpu_s(pid), tree_hwm_split(pid)
    progress = listener.batches()

    # -- correctness: the table against the generator's fold, and every
    # read against the reference state after its batch. A wrong table
    # fails the snapshot and every batch, since no one batch is to blame.
    n_batches = spec["n_batches"]
    attempted, failed, failures = 1 + n_batches, 0, []
    got = sink.read().select("id", "balance", "status", "note").toArrow()
    got_rows = sorted(zip(*(got.column(c).to_pylist() for c in got.column_names)))
    if got_rows != spec["expected"]:
        failures.append(f"table: {len(got_rows)} rows, reference "
                        f"{len(spec['expected'])}, "
                        f"{len(set(got_rows) ^ set(spec['expected']))} differ")
    if len(warm_progress) + len(progress) != n_batches:
        failures.append(f"{len(warm_progress) + len(progress)} batches for "
                        f"{n_batches} log files")
    if failures:
        failed = attempted
    if reads is not None:
        attempted += len(spec["expected_reads"])
        seen = {(bi, k): rows for bi, k, rows in reads.results}
        wrong = [key for key, want in spec["expected_reads"].items()
                 if seen.get(key) != want]
        failed += len(wrong)
        if wrong:
            failures.append(f"reads differ from the reference: {wrong[:5]}")

    # Latencies and rates cover the measured batches only.
    measured = sorted(progress)
    trig = [progress[b]["triggerExecution"] / 1000 for b in measured]
    write_only = [t - hooks.read_s.get(b, 0.0) for t, b in zip(trig, measured)]
    stream_s = t2 - t1
    events = spec["n_events"] - spec["warmup_events"]
    out = {
        "attempted": attempted,
        "failed": failed,
        "warmup_s": warmup_s,
        "warmup_batches": warm,
        "e2e": {
            "items_per_s": events / stream_s,
            "op_latency_p50_s": median(trig),
            "cpu_s": cpu1 - cpu0,
            "peak_rss_mb": sum(hwm_split.values()),
        },
        "detail": {
            "failures": failures,
            "batches": len(progress),
            "warmup_batches": len(warm_progress),
            "snapshot_rows_per_s": spec["snapshot_rows"] / snapshot_s,
            "stream_events_per_s": events / stream_s,
            "stream_s": stream_s,
            "batch_latencies_s": trig,
            "batch_latency_p50_s": median(write_only),
            "batch_latency_tail_s": tail(write_only),
            "compactions": len(compactions) - warm_compactions,
            "peak_rss_mb_by_process": hwm_split,
        },
        "progress": progress,
    }
    if reads is not None:
        lat = [t for e, t in reads.latency if e >= warm]
        out["detail"]["read_latency_p50_s"] = median(lat)
        out["detail"]["read_latency_tail_s"] = tail(lat)
        out["deltas"] = [n for e, n in reads.deltas if e >= warm]
    return out


# ---------------------------------------------------------------------------
# corpus dedup
# ---------------------------------------------------------------------------
def _traced_analytics(tracer):
    """Wrap the dedup chain's inner public functions in spans that
    materialize their output; returns a restore callback."""
    orig = {n: getattr(text, n) for n in ("minhash_signature",
                                          "lsh_candidate_pairs")}

    def wrap(name):
        fn = orig[name]

        def traced(*a, **kw):
            with tracer.span(f"analytics.{name}") as s:
                df = tracer.materialize(fn(*a, **kw))
            s.attrs["rows"] = tracer.count(df)
            return df

        return traced

    for n in orig:
        setattr(text, n, wrap(n))
    return lambda: [setattr(text, n, f) for n, f in orig.items()]


def corpus_pass(spark, spec, tracer, listener, pass_dir) -> dict:
    restore = _traced_analytics(tracer) if tracer.enabled else (lambda: None)
    pid = os.getpid()
    warm = spec["warmup_batches"]
    lat, results = [], []
    try:
        t0 = time.perf_counter()
        for shard in spec["shards"]:
            if shard["index"] == warm:  # the first passes warm up
                warmup_s = time.perf_counter() - t0
                cpu0 = tree_cpu_s(pid)
                t0 = time.perf_counter()
            t = time.perf_counter()
            with tracer.span("analytics.pass", epoch=shard["index"]):
                docs = spark.read.parquet(shard["path"])
                with tracer.span("analytics.exact_dedup"):
                    exact = text.exact_dedup(docs).localCheckpoint(eager=True)
                    survivors = exact.select("doc_id", "n_copies").collect()
                kept = docs.join(exact.select("doc_id"), "doc_id")
                with tracer.span("analytics.near_dup_pairs"):
                    pairs = text.near_dup_pairs(
                        kept, threshold=spec["threshold"]).collect()
            lat.append(time.perf_counter() - t)
            results.append((shard, survivors, pairs))
        wall = time.perf_counter() - t0
        cpu1, hwm = tree_cpu_s(pid), tree_hwm_mb(pid)
    finally:
        restore()

    attempted = 0
    failures: list[str] = []
    recalls, floors, n_pairs = [], [], 0
    for shard, survivors, pairs in results:
        attempted += 2
        i = shard["index"]
        got = sorted((r["doc_id"], r["n_copies"]) for r in survivors)
        if got != shard["survivors"]:
            failures.append(f"pass {i}: exact-dedup survivors differ")
        texts = shard["texts"]
        bad = []
        for r in pairs:
            a, b = r["a"], r["b"]
            jac = gen.jaccard(texts[a], texts[b])
            if not (a < b and abs(jac - r["jaccard"]) < 1e-4
                    and r["jaccard"] >= spec["threshold"]):
                bad.append((a, b, r["jaccard"], jac))
        found = {(r["a"], r["b"]) for r in pairs}
        n_pairs += len(pairs)
        planted = shard["planted"]
        recall = len(found & set(planted)) / max(len(planted), 1)
        recalls.append(recall)
        floors.append(shard["recall_floor"])
        if bad or recall < shard["recall_floor"]:
            failures.append(f"pass {i}: {len(bad)} wrong pairs {bad[:3]}, "
                            f"recall {recall:.4f} (floor "
                            f"{shard['recall_floor']:.4f})")
    n_docs = sum(len(s["texts"]) for s in spec["shards"][warm:])
    return {
        "attempted": attempted,
        "failed": len(failures),
        "warmup_s": warmup_s,
        "warmup_batches": warm,
        "e2e": {
            "items_per_s": n_docs / wall,
            "op_latency_p50_s": median(lat[warm:]),
            "cpu_s": cpu1 - cpu0,
            "peak_rss_mb": hwm,
        },
        "detail": {
            "docs_per_s": n_docs / wall,
            "pass_latencies_s": lat[warm:],
            "verified_pairs": n_pairs,
            "near_dup_recall_min": min(recalls),
            "recall_floor_max": max(floors),
            "failures": failures,
        },
        "verified_pairs": n_pairs,
    }


PASSES = {"oltp_pg_cow": cdc_pass, "backfill_binlog_cow": cdc_pass,
          "mor_read_write": cdc_pass, "corpus_dedup": corpus_pass}


# ---------------------------------------------------------------------------
# per-layer metrics from a traced pass
# ---------------------------------------------------------------------------
def layer_metrics(tracer: Tracer, res: dict, spec: dict) -> dict:
    tracer.count_jobs()
    selft = tracer.self_times()

    warm = res.get("warmup_batches", 0)

    def spans(name):
        """The measured batches' spans."""
        return [s for s in tracer.by_name(name)
                if s.epoch is not None and s.epoch >= warm]

    def med_self(name):
        return median(selft[s.id] for s in spans(name))

    def total(name, attr):
        return sum(s.attrs.get(attr, 0) for s in spans(name))

    m: dict[str, float] = {}
    snap = tracer.by_name("streaming.snapshot")
    m["streaming.snapshot_s"] = snap[0].dur if snap else 0.0
    m["streaming.snapshot_jobs"] = tracer.subtree_jobs(snap[0])[0] if snap else 0
    prog = res.get("progress", {})
    dur = [prog[b] for b in sorted(prog)]
    m["streaming.overhead_s"] = median(
        (d["triggerExecution"] - d.get("addBatch", 0)) / 1000 for d in dur)
    m["streaming.latest_offset_s"] = median(
        d.get("latestOffset", 0) / 1000 for d in dur)
    m["streaming.wal_commit_s"] = median(
        (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000 for d in dur)
    m["streaming.batches"] = len(dur)
    for src in ("pgoutput", "binlog"):
        name = f"sources.{src}.decode"
        m[f"{name}_s"] = med_self(name)
        m[f"sources.{src}.rows"] = total(name, "rows")
        m[f"sources.{src}.jobs"] = median(s.jobs for s in spans(name))
    m["operators.chain_s"] = med_self("operators.chain")
    m["operators.rows_in"] = total("operators.chain", "rows_in")
    m["operators.rows_out"] = total("operators.chain", "rows_out")
    w = "sinks.merge.write_batch"
    m["sinks.merge.write_batch_s"] = med_self(w)
    m["sinks.merge.jobs"] = median(s.jobs for s in spans(w))
    m["sinks.merge.files_written"] = total(w, "files_written")
    m["sinks.merge.bytes_written"] = total(w, "bytes_written")
    keys = sum(spec.get("keys_changed", ())[warm:]) if spans(w) else 0
    m["sinks.merge.rows_rewritten_per_key_changed"] = (
        total(w, "rows_written") / keys if keys else 0.0)
    w = "sinks.mor.write_batch"
    m["sinks.mor.write_batch_s"] = med_self(w)
    m["sinks.mor.jobs"] = median(s.jobs for s in spans(w))
    m["sinks.mor.bytes_written"] = total(w, "bytes_written")
    comp = spans("sinks.mor.compact")
    m["sinks.mor.compact_s"] = median(s.dur for s in comp)
    m["sinks.mor.compactions"] = len(comp)
    m["sinks.mor.read_s"] = median(s.dur for s in spans("sinks.mor.read"))
    m["sinks.mor.deltas_outstanding"] = median(res.get("deltas", ()))
    for stage in ("exact_dedup", "minhash_signature", "lsh_candidate_pairs",
                  "near_dup_pairs"):
        m[f"analytics.{stage}_s"] = median(
            selft[s.id] for s in spans(f"analytics.{stage}"))
    cands = sum(s.attrs.get("rows", 0)
                for s in spans("analytics.lsh_candidate_pairs"))
    m["analytics.lsh_candidates"] = cands
    m["analytics.lsh_precision"] = (
        res.get("verified_pairs", 0) / cands if cands else 0.0)
    batches = spans("streaming.batch")
    jt = [tracer.subtree_jobs(s) for s in batches]
    m["spark.jobs_per_batch"] = median(j for j, _ in jt)
    m["spark.tasks_per_batch"] = median(t for _, t in jt)
    return m


def run_workload(spark, name, spec, passes, listener, work) -> dict:
    """Run ``passes`` ("traced", "untraced") in order. With both, the traced
    pass runs first: it then runs in the same warm state as an untraced
    run's only pass, and the untraced pass after it gains from its
    warm-up, so the reported tracing overhead is an upper bound."""
    fn = PASSES[name]
    out = {}
    for mode in passes:
        tracer = Tracer(spark) if mode == "traced" else NullTracer()
        d = os.path.join(work, f"{name}-{mode}")
        res = fn(spark, spec, tracer, listener, d)
        shutil.rmtree(d, ignore_errors=True)
        if tracer.enabled:
            res["layers"] = layer_metrics(tracer, res, spec)
            res["spans"] = tracer.dump()
        res.pop("progress", None)
        out[mode] = res
    return out


def _wait_for(path: str, timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while not os.path.exists(path):
        if time.monotonic() > deadline:
            raise TimeoutError(f"{path} never appeared")
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--work", required=True)
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--passes", required=True,
                    help="comma-separated: traced, untraced")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    names = args.workloads.split(",")
    local = os.path.join(args.work, "spark-local")
    t = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -Djava.io.tmpdir={local}",
    })
    results: dict = {"session.start_s": time.perf_counter() - t}
    listener = ProgressListener()
    spark.streams.addListener(listener)
    try:
        inputs_path = os.path.join(args.work, "inputs.pkl")
        _wait_for(inputs_path, 120)
        with open(inputs_path, "rb") as f:
            inputs = pickle.load(f)
        for name in names:
            try:
                results[name] = run_workload(spark, name, inputs[name],
                                             args.passes.split(","),
                                             listener, args.work)
            except Exception:  # noqa: BLE001 - reported as this workload's failure
                traceback.print_exc()
                results[name] = {"error": traceback.format_exc()}
    finally:
        spark.streams.removeListener(listener)
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(results, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
