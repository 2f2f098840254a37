"""bears_spark benchmark: one command, three workloads, every result checked.

    python3 perfbench/run.py --workload {relational,curate,feature_feed} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a bears_spark checkout. Each run starts its own Spark
session on ``local[k]`` (k = min(4, nproc)), warms the workload up with full
passes, then runs timed passes. The seed sets the
op order within each pass and the ``tensor_stream`` shuffle seed; the input
tables are the fixed parquet files in ``perfbench/data``.

Timed passes run until ``--seconds`` have passed and at least three passes
are done. ``--trace 0`` reports the end-to-end metrics: ``pass_s`` (median
wall time of one pass, results consumed in full), ``setup_s`` (session start
plus warm-up) and ``py_peak_rss_mb`` (peak RSS of this Python process while
an op of a timed pass runs; result checks are outside the window).
``--trace 1`` runs traced and untraced passes in ABBA order and reports the
per-layer numbers of the traced passes (medians over passes), the setup
layers, and the tracing overhead (traced minus untraced median ``pass_s``).
A run prints the metrics BENCHMARK.json declares; layer times that only
some workloads have go to stderr and the run record.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. A failed or wrong op counts in ``failed``. A
record of the run (environment, every pass, every failure and, when traced,
every span) is written to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import workloads
from tracing import Tracer, coverage, median_layers, pass_layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
WORKLOADS = ("relational", "curate", "feature_feed")
MAX_CORES = 4
# Full passes before timing starts. The first compiles every plan; later
# passes keep getting faster for several passes while the JIT settles, so
# workloads with shorter passes afford more of them within a run.
WARMUP_PASSES = {"relational": 1, "curate": 2, "feature_feed": 2}
MIN_PASSES = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(run_dir: str, cores: int) -> dict[str, str]:
    """Point every scratch path of Spark, the JVM and Python workers into
    ``run_dir``, and let Python workers import bears_spark from this
    checkout whatever their working directory. Returns the extra session
    conf."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # The library's own driver heap, whatever the caller's environment says.
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    # No hsperfdata files: the JVM writes those under /tmp whatever its tmpdir.
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    return {
        "spark.driver.extraJavaOptions": f"{java_opts} -Dderby.system.home={run_dir}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far. Time a hypervisor gives
    other guests shows as steal and stretches every wall time measured."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def traced_pass(i: int) -> bool:
    """Traced passes in ABBA order (traced, untraced, untraced, traced), so
    passes that keep getting faster do not count as tracing overhead."""
    return i % 4 in (0, 3)


def declared_metrics(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares: the metrics a run prints."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def reset_peak_rss() -> bool:
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


def peak_rss_mb(reset_ok: bool) -> float:
    if reset_ok:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


class Runner:
    """Runs passes of a workload and keeps the accounting: op times, failed
    ops (exception, wrong result or persisted RDDs left behind) and, for
    traced passes, the spans."""

    def __init__(self, workload, seed: int, rdds_left, tracer=None):
        self.workload = workload
        self.rng = random.Random(seed)
        self.rdds_left = rdds_left
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[dict] = []
        self.passes: list[dict] = []

    def run_pass(self, label: str, traced: bool = False) -> dict:
        ops = self.rng.sample(self.workload.ops, len(self.workload.ops))
        span = self.tracer.span if traced else workloads.no_span
        first_span = len(self.tracer.spans) if self.tracer else 0
        if traced:
            self.tracer.install()
        times, rdds, peak_mb = {}, 0, 0.0
        try:
            for name in ops:
                self.attempted += 1
                # The memory window, like the time window, covers the op and
                # not its check.
                rss_reset = reset_peak_rss()
                t0 = time.perf_counter()
                try:
                    result = self.workload.run_op(name, span)
                except Exception as exc:  # one failing op must not end the run
                    times[name] = time.perf_counter() - t0
                    peak_mb = max(peak_mb, peak_rss_mb(rss_reset))
                    traceback.print_exc()
                    self._fail(label, name, f"{type(exc).__name__}: {exc}")
                    _release_quietly()
                    continue
                times[name] = time.perf_counter() - t0
                peak_mb = max(peak_mb, peak_rss_mb(rss_reset))
                left = self.rdds_left()
                rdds = max(rdds, left)
                try:
                    ok, msg = self.workload.check(name, result)
                except Exception as exc:  # a result the check cannot read is wrong
                    ok, msg = False, f"check raised {type(exc).__name__}: {exc}"
                if left:
                    ok, msg = False, f"{left} persisted RDDs left after the op"
                if not ok:
                    self._fail(label, name, msg)
        finally:
            if traced:
                self.tracer.remove()
        rec = {
            "label": label,
            "traced": traced,
            "pass_s": sum(times.values()),
            "ops": times,
            "rdds_left": rdds,
            "peak_rss_mb": peak_mb,
        }
        if traced:
            rec["spans"] = (first_span, len(self.tracer.spans))
        self.passes.append(rec)
        return rec

    def _fail(self, label: str, op: str, msg: str) -> None:
        self.failures.append({"pass": label, "op": op, "error": msg[:500]})
        print(f"# FAILED {label} {op}: {msg[:500]}", file=sys.stderr, flush=True)


def _release_quietly() -> None:
    from bears_spark.caching import release_scoped_caches

    release_scoped_caches()


def run(args, run_dir: str, cores: int) -> tuple[dict, dict]:
    extra_conf = pin_environment(run_dir, cores)

    t0 = time.perf_counter()
    import __spark_entry__  # noqa: F401  (query modules load as part of start-up)
    from bears_spark.session import get_session

    spark = get_session("perfbench", master=f"local[{cores}]", **extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0
    try:
        return _measure(args, spark, run_dir, session_start_s)
    finally:
        _stop(spark)


def _measure(args, spark, run_dir: str, session_start_s: float) -> tuple[dict, dict]:
    sc = spark.sparkContext
    workload = workloads.make(args.workload, spark, DATA, args.seed, run_dir)
    tracer = Tracer(spark) if args.trace else None
    runner = Runner(workload, args.seed, lambda: sc._jsc.getPersistentRDDs().size(), tracer)

    warmup_s = sum(runner.run_pass(f"warmup{i}")["pass_s"] for i in range(WARMUP_PASSES[args.workload]))

    steal0, total0 = cpu_ticks()
    timed: list[dict] = []
    t_start = time.perf_counter()
    while (
        len(timed) < MIN_PASSES
        or time.perf_counter() - t_start < args.seconds
        or (args.trace and len(timed) % 4)
    ):
        timed.append(runner.run_pass(f"pass{len(timed)}", traced=bool(args.trace) and traced_pass(len(timed))))
    steal1, total1 = cpu_ticks()
    steal_pct = 100 * (steal1 - steal0) / max(1, total1 - total0)

    print(f"# session_start: {session_start_s:.3f}s; host steal over timed passes: {steal_pct:.1f}%", file=sys.stderr)
    for p in runner.passes:
        print(f"# {p['label']}{' traced' if p['traced'] else ''}: {p['pass_s']:.3f}s", file=sys.stderr)

    record = {"passes": runner.passes, "failures": runner.failures, "host_steal_pct": steal_pct}
    if not args.trace:
        values = {
            "pass_s": statistics.median(p["pass_s"] for p in timed),
            "setup_s": session_start_s + warmup_s,
            "py_peak_rss_mb": max(p["peak_rss_mb"] for p in timed),
        }
        metrics = declared_metrics("end_to_end")
    else:
        queries = workload.ops if isinstance(workload, workloads.QueryWorkload) else []
        traced = [p for p in timed if p["traced"]]
        untraced = [p for p in timed if not p["traced"]]
        per_pass = []
        for p in traced:
            spans = tracer.spans[slice(*p["spans"])]
            layers = pass_layers(spans, queries)
            p["coverage"] = coverage(spans, p["pass_s"])
            per_pass.append(layers)
        values = median_layers(per_pass)
        values.update(
            session_start_s=session_start_s,
            warmup_s=warmup_s,
            rdds_left=max(p["rdds_left"] for p in runner.passes),
            trace_overhead_s=statistics.median(p["pass_s"] for p in traced)
            - statistics.median(p["pass_s"] for p in untraced),
        )
        print(f"# layers {json.dumps(values)}", file=sys.stderr)
        metrics = declared_metrics("per_layer")
        record["layers"] = values
        record["spans"] = tracer.spans
    correct, attempted, failed = summary(runner)
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": float(values[name]), "unit": unit} for name, unit in metrics},
    }
    return result, record


def summary(runner: Runner) -> tuple[bool, int, int]:
    """(correct, ops attempted, ops failed); an op fails at most once per pass."""
    failed = len({(f["pass"], f["op"]) for f in runner.failures})
    return failed == 0, runner.attempted, failed


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def environment(cores: int, nproc: int) -> dict:
    from bench import _testdata_fingerprint

    import pyspark

    return {
        "local_cores": cores,
        "nproc": nproc,
        "testdata_fingerprint": _testdata_fingerprint(DATA),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "bears_spark")) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no bears_spark checkout at {ROOT}; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    nproc = len(os.sched_getaffinity(0))
    cores = min(MAX_CORES, nproc)
    env = environment(cores, nproc)
    print(f"# env {json.dumps(env)}", file=sys.stderr, flush=True)

    os.makedirs(os.path.join(HERE, ".run"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(HERE, ".run"))
    try:
        result, record = run(args, run_dir, cores)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump({"args": vars(args), "env": env, "result": result, **record}, f, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
