"""The streaming workloads: set-up, the measured run, output checks and
metrics.

Both drive the engine only through its public entry points
(``session.get_spark``, ``sources.readers.read_importance``,
``state.store.ParquetStateStore``, ``streaming.pipeline.DetectionPipeline``
and, for the inputs, ``tools.feeder.feed_chunks``).

* ``live_reference_rate`` - open loop at the reference design point: the
  publisher process moves one 10k-row chunk per second into the watched
  directory (reference ``mechanism_x.py:17-18``); the stream runs a
  ``0 seconds`` processing-time trigger with no per-trigger file cap over
  ~2k customers x 100 merchants, re-firing on. A chunk's latency runs from
  its due time to the commit of the batch that consumed it.
* ``backfill_wide_state`` - closed loop: a backlog published at once is
  drained with availableNow at 10 files per trigger into a wide state
  (~300k customer x merchant keys, ~25k seen detections, built through
  the store before the timer starts); almost every row is a new key
  (~400k x 5k), re-firing off. The next batch is issued when the previous
  one commits, so a chunk is due at the previous batch's commit (the
  first measured batch's at query start).

Set-up (``setup_s``) starts once the session is up (its start is
``session.start_s``): dimension load, pipeline construction, and a
warm-up drain of one chunk through the checkpoint that is then measured
(the warm-up is the stream's batch 0; its output is checked like every
other batch but it is not timed). Live drains it through the measured
pipeline and store; backfill through a store of its own, so that the
measured store can hold the wide state.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import math
import os
import subprocess
import sys
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from pyspark_data_engineering_assignment_spark.config import EngineConfig
from pyspark_data_engineering_assignment_spark.session import get_spark
from pyspark_data_engineering_assignment_spark.sources.readers import read_importance
from pyspark_data_engineering_assignment_spark.state.store import ParquetStateStore
from pyspark_data_engineering_assignment_spark.streaming.pipeline import DetectionPipeline

from perfbench import checkpoint, oracle, registry, tracing
from perfbench.inputs import CHUNK_ROWS, Inputs, KeySpace, wide_state, write_inputs
from perfbench.stats import percentile
from perfbench.tables import write_tables

PUBLISHER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "publisher.py")
DRIVER_MEMORY = "3g"
# The backfill backlog holds one 10-file batch per this many --seconds.
BACKFILL_BATCH_S = 16


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


@dataclass(frozen=True)
class Workload:
    name: str
    keys: KeySpace
    open_loop: bool
    files_per_trigger: int | None
    refire: bool
    base_pairs: int = 0  # customer x merchant keys of the state built before the timer

    def n_chunks(self, seconds: int) -> int:
        if self.open_loop:
            return seconds  # one chunk due per second
        return self.files_per_trigger * max(1, seconds // BACKFILL_BATCH_S)

    def config(self) -> EngineConfig:
        return EngineConfig(
            max_files_per_trigger=self.files_per_trigger,
            trigger="0 seconds" if self.open_loop else None,  # None: availableNow
            refire_stateful_patterns=self.refire,
        )


WORKLOADS = {
    w.name: w
    for w in (
        Workload("live_reference_rate", KeySpace(2_000, 100, 20_000), True, None, True),
        Workload("backfill_wide_state", KeySpace(400_000, 5_000, 50_000), False, 10, False,
                 base_pairs=300_000),
    )
}


# --- session --------------------------------------------------------------


def start_session(work: str, nproc: int, trace: bool):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.enabled": str(trace).lower(),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM, this process's
    child, to exit: ``spark.stop()`` leaves it running until its stdin
    closes, which would otherwise happen only as this process exits."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()  # drop the Python side's connections first
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


# --- the run ----------------------------------------------------------------


@dataclass
class Lineage:
    """Chunks whose batches merged into one store and sank into one
    directory, from a base state (empty when None)."""

    names: tuple[str, ...]
    store: ParquetStateStore
    detections_dir: str
    base: dict | None = None


@dataclass
class Run:
    checkpoint_dir: str
    watch_dir: str
    store: ParquetStateStore  # the measured batches' store
    lineages: list[Lineage]
    session_start_s: float
    setup_s: float
    publish_log: list[dict]  # the measured chunks
    query_start: float  # when the measured chunks became available
    progress: list[dict]  # the measured batches
    tracer: tracing.Tracer | None
    spark_totals: dict | None  # jobs and stages submitted from query_start on


def publish(src: str, dst: str, start: float, interval: float, log_path: str, timeout: float) -> list[dict]:
    """Run the publisher process and wait for it."""
    proc = subprocess.Popen(
        [sys.executable, PUBLISHER, "--src", src, "--dst", dst,
         "--start", repr(start), "--interval", repr(interval), "--log", log_path]
    )
    try:
        rc = proc.wait(timeout=timeout)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise RuntimeError(f"publisher exited with {rc}")
    with open(log_path) as f:
        return json.load(f)


def _progress(query) -> dict[int, dict]:
    """batch id -> progress of the batches that read rows."""
    out = {}
    for p in query.recentProgress:
        d = json.loads(p.json)
        if d.get("numInputRows", 0) > 0:
            out[d["batchId"]] = d
    return out


def _await_committed(query, ck: str, names, timeout: float) -> None:
    """Wait until every named chunk sits in a committed batch and the
    query has posted that batch's progress."""
    deadline = time.time() + timeout
    while True:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        files, commits = checkpoint.consumed_files(ck), checkpoint.commit_times(ck)
        batches = {b for n in names for b in files.get(n, {-1})}
        if batches <= commits.keys() and batches <= _progress(query).keys():
            return
        if time.time() > deadline:
            raise TimeoutError("stream did not commit every chunk in time")
        time.sleep(0.05)


def _drain(query, timeout: float) -> None:
    """Wait for an availableNow query to finish."""
    try:
        if not query.awaitTermination(timeout):
            raise TimeoutError("availableNow drain did not finish in time")
    finally:
        query.stop()


def build_base(spark, store: ParquetStateStore, base: dict, work: str, nproc: int) -> None:
    """Merge a base state into the empty ``store`` as batch 0 of every
    table, through the store's own merge: the tables are written as
    ``nproc`` parquet files each and merged concurrently, as the pipeline
    merges its tables."""

    def merge(spec):
        d = os.path.join(work, "base", spec.name)
        os.makedirs(d)
        table = base[spec.name]
        step = -(-table.num_rows // nproc)
        for i in range(nproc):
            pq.write_table(table.slice(i * step, step), os.path.join(d, f"part-{i}.parquet"))
        store.merge_batch(spec, spark.read.parquet(d), 0)

    with ThreadPoolExecutor(max_workers=len(tracing.STATE_TABLES)) as pool:
        list(pool.map(merge, tracing.STATE_TABLES))


def execute(wl: Workload, inputs: Inputs, base: dict | None, work: str, nproc: int, trace: bool):
    """Start the session, set up, then publish and process the measured
    chunks. Returns the session and the run's record.

    The warm-up chunk is drained as batch 0 through the measured
    checkpoint, so the measured batches do not pay the first batch's
    one-time costs. ``base``, if given, is merged into the measured store
    after set-up.
    """
    ck, watch = os.path.join(work, "checkpoint"), os.path.join(work, "watch")
    os.makedirs(watch)
    logs = os.path.join(work, "publish_{}.json").format
    t = time.perf_counter()
    spark = start_session(work, nproc, trace)
    session_start_s = time.perf_counter() - t
    t = time.perf_counter()
    importance = read_importance(spark, inputs.importance_csv)
    importance.count()
    store = ParquetStateStore(spark, os.path.join(work, "state"))
    tracer = tracing.Tracer() if trace else None

    def pipeline(store, sink: str) -> DetectionPipeline:
        return DetectionPipeline(spark, store, importance, os.path.join(work, sink),
                                 config=wl.config())

    pipe = pipeline(tracing.TimedStore(store, tracer) if trace else store, "detections")
    measured = Lineage(inputs.chunk_names, store, pipe.detections_dir, base)
    if base:
        # the warm-up batch merges into a store of its own, so that the
        # measured store starts from the wide base state
        warm_store = ParquetStateStore(spark, os.path.join(work, "state_warm"))
        warm_pipe = pipeline(warm_store, "detections_warm")
        lineages = [Lineage(inputs.warm_names, warm_store, warm_pipe.detections_dir), measured]
    else:
        warm_pipe = pipe
        measured.names = inputs.warm_names + inputs.chunk_names
        lineages = [measured]
    # spans are recorded from the warm-up on, as foreachBatch binds
    # process_batch when the query starts; metrics use measured batches
    traced = tracing.traced_pipeline(pipe, store, tracer) if trace else contextlib.nullcontext()
    with traced:
        query = pipe.run_stream(watch, ck) if wl.open_loop else None
        try:
            publish(inputs.warm_dir, watch, time.time(), 0.0, logs("warm"), 30)
            if wl.open_loop:
                _await_committed(query, ck, inputs.warm_names, 90)
            else:
                _drain(warm_pipe.run_stream(watch, ck), 90)
            setup_s = time.perf_counter() - t
            if base:
                build_base(spark, store, base, work, nproc)
            if wl.open_loop:
                query_start = time.time()
                log = publish(inputs.pending_dir, watch, query_start + 0.2, 1.0,
                              logs("measured"), len(inputs.chunk_names) + 30)
                _await_committed(query, ck, inputs.chunk_names, 60)
            else:
                log = publish(inputs.pending_dir, watch, time.time(), 0.0, logs("measured"), 30)
                query_start = time.time()
                query = pipe.run_stream(watch, ck)
                _drain(query, 90)
        finally:
            if query is not None:
                query.stop()
    if query.exception() is not None:
        raise RuntimeError(f"stream failed: {query.exception()}")
    warm_batches = {b for n in inputs.warm_names for b in checkpoint.consumed_files(ck).get(n, ())}
    progress = [p for b, p in sorted(_progress(query).items()) if b not in warm_batches]
    spark_jobs = tracing.spark_totals(spark, query_start) if trace else None
    return spark, Run(ck, watch, store, lineages, session_start_s, setup_s, log, query_start,
                      progress, tracer, spark_jobs)


# --- checks and metrics ---------------------------------------------------


def consumption(names, files: dict, commits: dict) -> dict[str, int]:
    """chunk -> its batch, for the chunks read by exactly one committed
    batch; any other chunk was lost or read twice."""
    out = {}
    for n in names:
        batches = files.get(n, set())
        if len(batches) == 1 and next(iter(batches)) in commits:
            out[n] = next(iter(batches))
    return out


def detection_failures(ora, detections_dir: str, batch_of: dict, refire: bool):
    """Compare every batch's sink output with the oracle. Returns the
    chunks of failing batches, and per batch the detections by pattern
    and the number of sink files."""
    failed, by_pattern, files = set(), {}, {}
    for b, want in ora.expected_detections(refire).items():
        got, sizes = oracle.read_detections(detections_dir, b)
        files[b] = len(sizes)
        by_pattern[b] = Counter(key[0] for key in got.elements())
        if got != want or not oracle.sink_files_ok(sizes):
            log(f"FAIL batch {b}: {sum(got.values())} detections in files of "
                f"{sizes} rows, oracle {sum(want.values())}")
            failed |= {n for n, nb in batch_of.items() if nb == b}
    return failed, by_pattern, files


def check(wl: Workload, run: Run, inputs: Inputs) -> tuple[set[str], dict]:
    """Check the warm-up and measured chunks; return the failed ones and
    the facts the metrics need. Each kind of failure is logged to stderr."""
    names = inputs.warm_names + inputs.chunk_names
    commits = checkpoint.commit_times(run.checkpoint_dir)
    batch_of = consumption(names, checkpoint.consumed_files(run.checkpoint_dir), commits)
    failed = set(names) - batch_of.keys()
    if failed:
        log(f"FAIL {len(failed)} chunks not read by exactly one committed batch")
    consumed, by_pattern, sink_files = 0, {}, {}
    for lin in run.lineages:
        ora = oracle.StreamOracle(
            {os.path.join(run.watch_dir, n): b for n, b in batch_of.items() if n in lin.names},
            inputs.importance_csv,
            base=lin.base,
        )
        consumed += ora.rows()
        for spec in tracing.STATE_TABLES[:3]:
            got = lin.store.read_state(spec).select(*oracle.state_columns(spec.name)).toArrow()
            bad = ora.state_mismatches(spec.name, got)
            if bad:
                log(f"FAIL final state of {spec.name}: {bad} rows differ from the oracle")
                failed = set(names)
        bad_batches, patterns, files = detection_failures(
            ora, lin.detections_dir, batch_of, wl.refire
        )
        failed |= bad_batches
        by_pattern.update(patterns)
        sink_files.update(files)
    # Rows consumed = rows of the files the committed batches read. The
    # progress counter numInputRows is not used for this: it also counts
    # the rows process_batch's emptiness probe reads before it persists
    # the batch, so it runs a few rows per batch above this figure.
    if consumed != CHUNK_ROWS * len(names):
        log(f"FAIL rows: published {CHUNK_ROWS * len(names)}, consumed {consumed}")
        failed = set(names)
    measured = {n: b for n, b in batch_of.items() if n in inputs.chunk_names}
    return failed, {
        "batch_of": measured,
        "commits": commits,
        "batches": set(measured.values()),
        "detections": by_pattern,
        "sink_files": sink_files,
    }


def chunk_due(open_loop: bool, publish_log: list[dict], batch_of: dict, commits: dict,
              query_start: float) -> dict[str, float]:
    """When each chunk was due. Open loop: its publishing schedule. Closed
    loop: a batch is issued when the previous one commits, and none before
    the query starts."""
    if open_loop:
        return {e["name"]: e["due"] for e in publish_log}
    return {n: max(query_start, commits.get(b - 1, query_start)) for n, b in batch_of.items()}


def chunk_latencies(names, due: dict, batch_of: dict, commits: dict) -> list[float]:
    """Due time to the commit of the consuming batch; a chunk no committed
    batch read counts as infinitely late."""
    return [commits[batch_of[n]] - due[n] if n in batch_of else math.inf for n in names]


def end_to_end(wl: Workload, run: Run, names, facts: dict) -> dict[str, float]:
    """Latency and throughput of the measured chunks ``names``."""
    batch_of, commits = facts["batch_of"], facts["commits"]
    due = chunk_due(wl.open_loop, run.publish_log, batch_of, commits, run.query_start)
    span = max(commits[b] for b in batch_of.values()) - min(due.values())
    return {
        "latency_p50_s": percentile(chunk_latencies(names, due, batch_of, commits), 0.5),
        "rows_per_s": CHUNK_ROWS * len(batch_of) / span,
    }


def _ts(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def per_layer(wl: Workload, run: Run, names, facts: dict) -> dict[str, tuple[float, str]]:
    """Layer metrics of the measured batches, from the spans, the query
    progress, the checkpoint and the Spark REST API."""
    batch_of, measured = facts["batch_of"], facts["batches"]
    prog = run.progress
    files_per_batch = [sum(1 for b in batch_of.values() if b == p["batchId"]) for p in prog]
    published = {e["name"]: e["published"] for e in run.publish_log}
    backlog = [
        sum(1 for n, b in batch_of.items() if b >= p["batchId"] and published[n] <= _ts(p["timestamp"]))
        for p in prog
    ]
    spans = [s for s in run.tracer.spans if s.get("batch_id") in measured]
    batches = [s for s in spans if s["name"] == "pipeline.process_batch"]
    children = {}
    for s in spans:
        if s["name"].startswith(("state.merge.", "sink.write")):
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    merge_s = {
        short: sum(s["end"] - s["start"] for s in spans if s["name"] == f"state.merge.{short}")
        for short in tracing.SHORT_NAME.values()
    }
    sink = [s for s in spans if s["name"] == "sink.write"]
    detections = sum((facts["detections"][b] for b in measured), Counter())
    state_rows = {
        tracing.SHORT_NAME[spec.name]: run.store.read_state(spec).count()
        for spec in tracing.STATE_TABLES
    }
    # on-disk size of the store: every bucket version, as vacuum is off
    state_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(run.store.root)
        for f in fs
    )
    e2e = end_to_end(wl, run, names, facts)
    sd = run.spark_totals
    m = {
        "sources.list_ms_p50": (percentile([p["durationMs"]["latestOffset"] for p in prog], 0.5), "ms"),
        "sources.files_per_batch_p50": (percentile(files_per_batch, 0.5), "count"),
        "sources.backlog_files_max": (max(backlog), "count"),
        "pipeline.checkpoint_ms_p50": (
            percentile([p["durationMs"]["walCommit"] + p["durationMs"]["commitOffsets"] for p in prog], 0.5),
            "ms",
        ),
        "pipeline.self_s": (
            sum(b["end"] - b["start"] - tracing.covered(children.get(b["id"], [])) for b in batches),
            "s",
        ),
        "pipeline.batches": (len(batches), "count"),
        "sources.input_rows_extra": (
            sum(p["numInputRows"] for p in prog) - CHUNK_ROWS * len(batch_of),
            "count",
        ),
        "pipeline.spark_jobs_per_batch": (sd["jobs"] / len(batches), "count"),
        "state.merge_s.all": (sum(merge_s.values()), "s"),
        "state.merge_calls.seen_detections": (
            sum(1 for s in spans if s["name"] == "state.merge.seen_detections"),
            "count",
        ),
        "state.buckets_rewritten_per_batch": (
            sum(b["buckets_rewritten"] for b in batches) / len(batches),
            "count",
        ),
        "state.bytes": (state_bytes, "bytes"),
        "sink.write_s": (sum(s["end"] - s["start"] for s in sink), "s"),
        "sink.rows": (sum(s["rows"] for s in sink), "count"),
        "sink.files": (sum(facts["sink_files"][b] for b in measured), "count"),
        "feeder.late_ms_max": (max(e["published"] - e["due"] for e in run.publish_log) * 1e3, "ms"),
        "spark.tasks": (sd["tasks"], "count"),
        "spark.shuffle_write_bytes": (sd["shuffle_write_bytes"], "bytes"),
        "spark.gc_s": (sd["gc_ms"] / 1e3, "s"),  # the whole run, set-up included
        "trace.latency_p50_s": (e2e["latency_p50_s"], "s"),
        "trace.rows_per_s": (e2e["rows_per_s"], "1/s"),
    }
    for short in ("merchant_summary", "customer_merchant_summary", "merchant_gender_summary"):
        m[f"state.merge_s.{short}"] = (merge_s[short], "s")
    for short, n in state_rows.items():
        m[f"state.rows.{short}"] = (n, "count")
    for pat in ("PatId1", "PatId2", "PatId3"):
        m[f"patterns.detections.{pat}"] = (detections[pat], "count")
    return m


# --- one whole run ----------------------------------------------------------


def peak_rss_mb(jvm_pid: int) -> float:
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])  # kB
        raise RuntimeError(f"no VmHWM for pid {pid}")

    return (hwm(jvm_pid) + hwm("self")) / 1024


def run(name: str, seed: int, seconds: int, trace: bool, work: str, out_dir: str, nproc: int) -> tuple[dict, dict]:
    """One benchmark run. Returns the result object and host facts."""
    wl = WORKLOADS[name]
    inputs = write_inputs(os.path.join(work, "inputs"), wl.name, seed, wl.keys, wl.n_chunks(seconds))
    base = wide_state(seed, wl.name, wl.keys, wl.base_pairs, wl.config().thresholds) if wl.base_pairs else None
    log("inputs written")
    try:
        spark, r = execute(wl, inputs, base, work, nproc, trace)
        log(f"set-up took {r.setup_s:.2f} s; measured {len(r.progress)} batches")
        host = {
            "java": spark._jvm.System.getProperty("java.version"),
            "pyspark": spark.version,
            "driver_memory": DRIVER_MEMORY,
        }
        rss = peak_rss_mb(int(spark._jvm.ProcessHandle.current().pid()))
        failed, facts = check(wl, r, inputs)
        log(f"checks done: {len(failed)} failed chunks")
        names = inputs.chunk_names
        queries = []
        if trace:
            metrics = per_layer(wl, r, names, facts)
            queries = registry.sample(seed, wl.name)
            failed |= registry.run(spark, write_tables(os.path.join(work, "tables"), seed),
                                   queries, r.tracer)
            log(f"registry sample done: {len(failed)} failed chunks and queries")
            os.makedirs(out_dir, exist_ok=True)
            r.tracer.dump(os.path.join(out_dir, f"spans_{name}_{seed}.jsonl"))
            metrics.update(registry.metrics(r.tracer.spans))
            metrics["host.peak_rss_mb"] = (rss, "MB")
            metrics["session.start_s"] = (r.session_start_s, "s")
        else:
            # the chunk latency is reported with the layers (trace.latency_p50_s):
            # near the engine's capacity it swings with the host's speed
            metrics = {
                "setup_s": (r.setup_s, "s"),
                "rows_per_s": (end_to_end(wl, r, names, facts)["rows_per_s"], "1/s"),
            }
    finally:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            stop_spark(spark)
    result = {
        "correct": not failed,
        "attempted": len(inputs.warm_names) + len(names) + len(queries),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }
    return result, host
