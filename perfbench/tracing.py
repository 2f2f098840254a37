"""Layer spans for the benchmark, recorded from outside the library.

A :class:`Tracer` wraps calls into the library's public functions (see
``BOUNDARIES``) and records one span per call: kind, start, end, parent span,
the py4j commands sent inside it, the Spark jobs it started, the summed
metrics of their stages (read from the JVM status store once the listener bus
has drained), and the JVM's GC time. Spans stay in memory; the runner writes
them out when the run ends.

The tracer's own bookkeeping (status-store reads, GC beans) happens outside
each span's [start, end] and is kept per span as ``trace_s``, so the sum of a
pass's top-level spans plus their ``trace_s`` covers the pass's wall time.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import time
from contextlib import contextmanager

import py4j.java_gateway

# (module, attribute path, span kind): the public calls a traced pass wraps.
# Query functions are called by the workload itself and get "build" spans at
# the call site.
BOUNDARIES = [
    ("pyspark.sql.classic.dataframe", "DataFrame.toArrow", "collect"),
    ("bears_spark.caching", "release_scoped_caches", "release"),
    ("bears_spark.io.reader", "read", "read"),
    ("bears_spark.pipeline", "DataPipeline.fit_transform", "fit"),
    ("bears_spark.tensor_bridge", "tensor_stream", "stream"),
    ("bears_spark.io.writer", "write", "write"),
]

_STAGE_FIELDS = {
    # status-store field -> (metric, scale to the metric's unit)
    "numCompleteTasks": ("tasks", 1),
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "inputBytes": ("input_mb", 1e-6),
    "shuffleReadBytes": ("shuffle_read_mb", 1e-6),
    "shuffleWriteBytes": ("shuffle_write_mb", 1e-6),
    "diskBytesSpilled": ("spill_mb", 1e-6),
    "resultSize": ("result_mb", 1e-6),
}


def merged_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


class Tracer:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._ssc = sc._jsc.sc()
        jvm = sc._jvm
        scala_module = getattr(jvm, "com.fasterxml.jackson.module.scala")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            getattr(scala_module, "DefaultScalaModule$").__getattr__("MODULE$")
        )
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._gc_beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._py4j_calls = 0
        self._counting = False
        self._saved: list[tuple[object, str, object]] = []

    # -- install / remove ---------------------------------------------------
    def install(self) -> None:
        """Wrap every boundary and start counting py4j commands."""
        for module, path, kind in BOUNDARIES:
            owner = importlib.import_module(module)
            *outer, attr = path.split(".")
            for name in outer:
                owner = getattr(owner, name)
            fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            wrapper = self._wrap_stream(fn) if kind == "stream" else self._wrap_call(fn, kind)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, wrapper)
        send = py4j.java_gateway.GatewayClient.send_command
        tracer = self

        @functools.wraps(send)
        def counted(client, *a, **k):
            if tracer._counting:
                tracer._py4j_calls += 1
            return send(client, *a, **k)

        self._saved.append((py4j.java_gateway.GatewayClient, "send_command", send))
        py4j.java_gateway.GatewayClient.send_command = counted
        self._counting = True

    def remove(self) -> None:
        self._counting = False
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()

    def _wrap_call(self, fn, kind):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **k):
            with tracer.span(kind) as rec:
                out = fn(*a, **k)
            if kind == "release":
                rec["caches_released"] = out
            elif kind == "write":
                tracer._quietly(tracer._file_stats, rec, k.get("path", a[1] if len(a) > 1 else None))
            return out

        return traced

    def _wrap_stream(self, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **k):
            with tracer.span("stream") as rec:
                waits = rec["batch_waits"] = []
                it = fn(*a, **k)
                while True:
                    t = time.perf_counter()
                    try:
                        batch = next(it)
                    except StopIteration:
                        break
                    waits.append(time.perf_counter() - t)
                    yield batch

        return traced

    # -- spans ----------------------------------------------------------------
    @contextmanager
    def span(self, kind: str, **attrs):
        t_enter = time.perf_counter()
        snap0 = self._quietly(self._snapshot)
        parent = self._stack[-1] if self._stack else None
        rec = {"kind": kind, "parent": parent["id"] if parent else None, "id": len(self.spans), **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        rec["wall0"] = time.time()
        py0 = self._py4j_calls
        cpu0 = time.process_time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu_s"] = time.process_time() - cpu0
            rec["wall1"] = time.time()
            rec["py4j_calls"] = self._py4j_calls - py0
            self._stack.pop()
            self._quietly(self._close, rec, snap0)
            rec["trace_s"] = (rec["start"] - t_enter) + (time.perf_counter() - rec["end"])

    def _quietly(self, fn, *a):
        was, self._counting = self._counting, False
        try:
            return fn(*a)
        finally:
            self._counting = was

    def _snapshot(self) -> tuple[int, int]:
        self._ssc.listenerBus().waitUntilEmpty()
        return self._ssc.dagScheduler().nextJobId(), self._gc_ms()

    def _gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gc_beans)

    def _close(self, rec: dict, snap0: tuple[int, int]) -> None:
        job0, gc0 = snap0
        job1, gc1 = self._snapshot()
        rec["jvm_gc_s"] = (gc1 - gc0) / 1e3
        store = self._ssc.statusStore()
        spans, stage_ids = [], set()
        for jid in range(job0, job1):
            job = json.loads(self._mapper.writeValueAsString(store.job(jid)))
            stage_ids.update(job["stageIds"])
            if job.get("submissionTime") and job.get("completionTime"):
                spans.append((job["submissionTime"] / 1e3, job["completionTime"] / 1e3))
        rec["jobs"] = job1 - job0
        rec["job_span_s"] = merged_length(
            [(max(s, rec["wall0"]), min(e, rec["wall1"])) for s, e in spans if e > rec["wall0"] and s < rec["wall1"]]
        )
        sums = dict.fromkeys([m for m, _ in _STAGE_FIELDS.values()], 0.0)
        stages = 0
        for sid in sorted(stage_ids):
            attempts = json.loads(
                self._mapper.writeValueAsString(store.stageData(sid, False, None, False, self._no_quantiles))
            )
            for st in attempts:
                if st["status"] != "COMPLETE":
                    continue
                stages += 1
                for field, (metric, scale) in _STAGE_FIELDS.items():
                    sums[metric] += st[field] * scale
        rec["stages"] = stages
        rec.update(sums)

    @staticmethod
    def _file_stats(rec: dict, path: str | None) -> None:
        import pyarrow.parquet as pq

        files = []
        if path and os.path.isdir(path):
            files = [os.path.join(path, f) for f in os.listdir(path) if f.startswith("part-")]
        elif path and os.path.isfile(path):
            files = [path]
        rec["files_written"] = len(files)
        rec["write_bytes"] = sum(os.path.getsize(f) for f in files)
        rec["rows_written"] = sum(pq.read_metadata(f).num_rows for f in files)


# -- per-pass layer numbers ----------------------------------------------------
_BUILD_KINDS = ("build", "read", "fit")


def _percentile(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, int(q * len(ordered)))]


def pass_layers(spans: list[dict], queries: list[str]) -> dict[str, float]:
    """Sum one traced pass's spans into layer numbers.

    ``build_*`` covers the outermost plan-building call of each op (a query
    function, ``io.reader.read`` or ``DataPipeline.fit_transform``), so a fit
    nested inside a query build counts once there and again under ``fit_*``.
    Collect numbers cover every ``toArrow`` call, nested or not; JVM GC
    time and driver CPU time cover the whole pass.
    """
    by_id = {s["id"]: s for s in spans}

    def outermost_build(s: dict) -> bool:
        p = s["parent"]
        while p is not None and p in by_id:
            if by_id[p]["kind"] in _BUILD_KINDS:
                return False
            p = by_id[p]["parent"]
        return True

    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    kinds: dict[str, list[dict]] = {}
    for s in spans:
        kinds.setdefault(s["kind"], []).append(s)
    builds = [s for s in spans if s["kind"] in _BUILD_KINDS and outermost_build(s)]
    collects = kinds.get("collect", [])
    fits = kinds.get("fit", [])
    streams = kinds.get("stream", [])
    writes = kinds.get("write", [])
    waits = [w for s in streams for w in s.get("batch_waits", [])]
    write_bytes = sum(s.get("write_bytes", 0) for s in writes)
    rows_written = sum(s.get("rows_written", 0) for s in writes)

    out = {
        "build_s": sum(map(dur, builds)),
        "build_jobs": sum(s["jobs"] for s in builds),
        "build_py4j_calls": sum(s["py4j_calls"] for s in builds),
        "collect_s": sum(map(dur, collects)),
        "driver_gap_s": sum(dur(s) - s["job_span_s"] for s in collects),
        "release_s": sum(map(dur, kinds.get("release", []))),
        "caches_released": sum(s.get("caches_released", 0) for s in kinds.get("release", [])),
        "read_s": sum(map(dur, kinds.get("read", []))),
        "fit_s": sum(map(dur, fits)),
        "fit_jobs": sum(s["jobs"] for s in fits),
        "fit_py4j_calls": sum(s["py4j_calls"] for s in fits),
        "ttfb_s": sum(s["batch_waits"][0] for s in streams if s.get("batch_waits")),
        "stream_s": sum(map(dur, streams)),
        "batches": len(waits),
        "batch_wait_p50_ms": _percentile(waits, 0.50) * 1e3,
        "batch_wait_p95_ms": _percentile(waits, 0.95) * 1e3,
        "driver_cpu_s": sum(s["cpu_s"] for s in spans if s["parent"] is None),
        "write_s": sum(map(dur, writes)),
        "write_mb": write_bytes / 1e6,
        "write_bytes_per_row": write_bytes / rows_written if rows_written else 0.0,
        "files_written": sum(s.get("files_written", 0) for s in writes),
    }
    for metric in ("jobs", "stages", *(m for m, _ in _STAGE_FIELDS.values())):
        out[metric] = sum(s[metric] for s in collects)
    out["jvm_gc_s"] = sum(s["jvm_gc_s"] for s in spans if s["parent"] is None)
    for q in queries:
        out[f"q.{q}.build_s"] = sum(dur(s) for s in kinds.get("build", []) if s.get("q") == q)
        out[f"q.{q}.collect_s"] = sum(dur(s) for s in collects if by_id.get(s["parent"], {}).get("q") == q)
    return out


def coverage(spans: list[dict], wall_s: float) -> float:
    """Share of ``wall_s`` covered by the top-level spans and their tracer
    bookkeeping."""
    top = [s for s in spans if s["parent"] is None]
    return sum(s["end"] - s["start"] + s["trace_s"] for s in top) / wall_s


def median_layers(per_pass: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
