"""Spans recorded from the benchmark's side of each layer boundary.

Nothing here edits the engine: the traced run hands ``DetectionPipeline``
a timing proxy of its state store, wraps the pipeline's bound
``process_batch`` and, for the duration of the run, the sink and pattern
functions the pipeline module calls. Spans are kept in memory and written
out when the run ends. Every span carries the micro-batch id, which ties
the spans of one batch together.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import json
import threading
import time
import urllib.request
from urllib.parse import urlparse

from pyspark_data_engineering_assignment_spark.streaming import pipeline as pipeline_mod
from pyspark_data_engineering_assignment_spark.state.store import REFERENCE_TABLES

STATE_TABLES = (*REFERENCE_TABLES, pipeline_mod.SEEN_DETECTIONS)
# engine table name -> the short name used in metric names
SHORT_NAME = {
    "merchant_transaction_summary": "merchant_summary",
    "customer_merchant_summary": "customer_merchant_summary",
    "merchant_gender_summary": "merchant_gender_summary",
    "seen_detections": "seen_detections",
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # (span id, batch id) of the open process_batch span: the parent of
        # spans opened on the pipeline's merge threads
        self.batch: tuple[int, int] | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Yield the span record; callers may add attributes to it."""
        prev = getattr(self._local, "current", None)
        parent = prev if prev is not None else (self.batch and self.batch[0])
        rec = {"id": next(self._ids), "parent": parent, "name": name, **attrs}
        self._local.current = rec["id"]
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._local.current = prev
            with self._lock:
                self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class TimedStore:
    """Proxy of a state store that records one span per ``merge_batch``."""

    def __init__(self, store, tracer: Tracer) -> None:
        self._store = store
        self._tracer = tracer

    def merge_batch(self, spec, batch_agg, batch_id, now=None, meta=None):
        with self._tracer.span(f"state.merge.{SHORT_NAME[spec.name]}", batch_id=batch_id):
            return self._store.merge_batch(spec, batch_agg, batch_id, now=now, meta=meta)

    def __getattr__(self, name):
        return getattr(self._store, name)


def _buckets_changed(before: dict, after: dict) -> int:
    return sum(1 for b, v in after.items() if before.get(b) != v)


@contextlib.contextmanager
def traced_pipeline(pipe, store, tracer: Tracer):
    """Trace ``pipe`` (built over ``TimedStore(store, tracer)``) while the
    block runs; ``store`` is the real store, read for bucket versions."""
    real_batch = pipe.process_batch

    def process_batch(batch_df, batch_id):
        before = {s.name: store.bucket_versions(s) for s in STATE_TABLES}
        with tracer.span("pipeline.process_batch", batch_id=batch_id) as rec:
            tracer.batch = (rec["id"], batch_id)
            try:
                rec["rows"] = real_batch(batch_df, batch_id)
            finally:
                tracer.batch = None
        rec["buckets_rewritten"] = sum(
            _buckets_changed(before[s.name], store.bucket_versions(s)) for s in STATE_TABLES
        )
        return rec["rows"]

    def wrap(fn, name):
        def traced(*args, **kwargs):
            batch = tracer.batch
            with tracer.span(name, batch_id=batch and batch[1]) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, int):
                    rec["rows"] = out
                return out

        return traced

    patched = {
        n: getattr(pipeline_mod, n) for n in ("write_detections", "detect_all", "enrich_batch")
    }
    names = {"write_detections": "sink.write", "detect_all": "patterns.detect_all",
             "enrich_batch": "patterns.enrich_batch"}
    pipe.process_batch = process_batch
    for n, fn in patched.items():
        setattr(pipeline_mod, n, wrap(fn, names[n]))
    try:
        yield
    finally:
        for n, fn in patched.items():
            setattr(pipeline_mod, n, fn)
        pipe.process_batch = real_batch


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def _rest_time(s: str) -> float:
    # e.g. "2026-10-17T05:14:00.123GMT"
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def spark_totals(spark, since: float) -> dict:
    """Jobs, tasks and shuffle-write bytes of the jobs and stages submitted
    at or after ``since`` (epoch seconds), and the process's GC time, from
    the Spark UI's REST API (the UI is on in traced runs only)."""
    sc = spark.sparkContext
    port = urlparse(sc.uiWebUrl).port
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    stages = [s for s in get("/stages") if "submissionTime" in s
              and _rest_time(s["submissionTime"]) >= since]
    return {
        "jobs": sum(1 for j in get("/jobs") if _rest_time(j["submissionTime"]) >= since),
        "tasks": sum(s["numCompleteTasks"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "gc_ms": sum(e["totalGCTime"] for e in get("/executors")),
    }
