"""One measurement loop for the declared queries: timing, layer attribution
and scaling, all on the same protocol.

    python tools/measure.py time   [query ...] [--runs N]
    python tools/measure.py attrib [query ...]
    python tools/measure.py scale  <small_sf_dir> <big_sf_dir> [query ...] [--runs N]

No query named means every HEADLINE query. ``time`` and ``attrib`` read
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).

Protocol: a warm-up runs each query once at sf0.001 (the target dir when
sf0.001 is missing), then drains the scoped caches. A block runs
``fn(spark, sf_dir).count()`` N times (default 3) with the scoped caches alive
across the runs and drains after it. ``time`` prints a block's min, median and
runs; ``scale`` prints the min at both dirs and their ratio.

``attrib`` splits a run's wall time into layers that do not overlap:
``build_s`` is fn(spark, sf_dir), the Python plan build, and the jobs it
starts (fit collects, eager persists) are its ``build_jobs`` layer; ``jobs_s``
is the merged span of the jobs the counted action started; ``gap_s`` = wall -
build - jobs is driver time outside both. ``catalyst_s`` (analysis,
optimization, planning of the counted plan) runs before the action's first
job, so it lies in the gap. Job ids come from DAGScheduler.nextJobId snapshots
taken once the listener bus is empty, and job spans and stage rows from the
status store: no UI or REST server. It reports the first run after the drain,
which builds the scoped caches, and the third (warm) run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bears_spark.caching import release_scoped_caches  # noqa: E402

WARM_DIR = "/root/testdata/sf0.001"


def session(app_name: str):
    from bears_spark.session import get_session

    spark = get_session(app_name)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, qs: dict, sf_dir: str) -> None:
    """Run each query once at sf0.001 (JIT, codegen, broadcast set-up), then drain."""
    warm = WARM_DIR if os.path.isdir(WARM_DIR) else sf_dir
    for name, fn in qs.items():
        try:
            fn(spark, warm).count()
        except Exception as exc:  # a broken query is reported by its block
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)
    release_scoped_caches()


def block(spark, fn, sf_dir: str, runs: int = 3) -> list[float]:
    """Wall seconds of ``runs`` full executions; drains the scoped caches after."""
    walls = []
    try:
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            walls.append(time.perf_counter() - t0)
    finally:
        release_scoped_caches()
    return walls


def _merged(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted(spans):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def attribute(spark, fn, sf_dir: str) -> dict:
    """Run ``fn(spark, sf_dir).count()`` once and split its wall time into layers."""
    sc = spark.sparkContext
    ssc, jvm = sc._jsc.sc(), sc._jvm
    scala = getattr(jvm, "com.fasterxml.jackson.module.scala")
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
        getattr(scala, "DefaultScalaModule$").__getattr__("MODULE$")
    )

    def as_json(obj):
        return json.loads(mapper.writeValueAsString(obj))

    def next_job() -> int:
        ssc.listenerBus().waitUntilEmpty()
        return ssc.dagScheduler().nextJobId()

    j0 = next_job()
    t0 = time.time()
    df = fn(spark, sf_dir)
    t1 = time.time()
    j1 = next_job()
    t2 = time.time()
    counted = df.groupBy().count()  # the plan df.count() runs, kept to read its phases
    counted.collect()
    t3 = time.time()
    j2 = next_job()
    phases = as_json(counted._jdf.queryExecution().tracker().phases()).values()
    store, no_quantiles = ssc.statusStore(), sc._gateway.new_array(jvm.double, 0)

    spans = {"build": [], "action": []}
    stages, seen = [], set()
    for jid in range(j0, j2):
        layer = "build" if jid < j1 else "action"
        job = as_json(store.job(jid))
        done = job.get("completionTime")
        spans[layer].append((job["submissionTime"] / 1e3, done / 1e3 if done else t3))
        for sid in sorted(set(job["stageIds"]) - seen):
            seen.add(sid)
            for st in as_json(store.stageData(sid, False, None, False, no_quantiles)):
                if st["status"] == "COMPLETE":
                    stages.append({
                        "stage": sid, "job": jid, "layer": layer,
                        "run_ms": st["executorRunTime"], "cpu_ms": st["executorCpuTime"] // 10**6,
                        "tasks": st["numCompleteTasks"], "input_mb": st["inputBytes"] / 1e6,
                        "shuffle_read_mb": st["shuffleReadBytes"] / 1e6,
                        "shuffle_write_mb": st["shuffleWriteBytes"] / 1e6, "name": st["name"],
                    })
    build_s, jobs_s = t1 - t0, _merged(spans["action"], t2, t3)
    return {
        "wall_s": build_s + t3 - t2,
        "build_s": build_s,
        "build_jobs": j1 - j0,
        "build_jobs_s": _merged(spans["build"], t0, t1),
        "catalyst_s": sum(p["endTimeMs"] - p["startTimeMs"] for p in phases) / 1e3,
        "jobs": j2 - j1,
        "jobs_s": jobs_s,
        "gap_s": t3 - t2 - jobs_s,
        "build_job_ids": list(range(j0, j1)),
        "action_job_ids": list(range(j1, j2)),
        "stages": stages,
    }


def _print_attrib(label: str, r: dict) -> None:
    print(
        f"{label}: wall={r['wall_s']:.3f}s build={r['build_s']:.3f}s "
        f"(build_jobs={r['build_jobs']}, {r['build_jobs_s']:.3f}s) catalyst={r['catalyst_s']:.3f}s "
        f"jobs={r['jobs_s']:.3f}s ({r['jobs']} jobs) gap={r['gap_s']:.3f}s"
    )
    print(f"  {'stage':>5} {'job':>5} {'layer':>6} {'run_ms':>7} {'cpu_ms':>7} {'tasks':>5} {'in_MB':>7} {'shR_MB':>7} {'shW_MB':>7}  name")
    for s in sorted(r["stages"], key=lambda s: -s["run_ms"]):
        print(
            f"  {s['stage']:>5} {s['job']:>5} {s['layer']:>6} {s['run_ms']:>7} {s['cpu_ms']:>7} {s['tasks']:>5}"
            f" {s['input_mb']:>7.1f} {s['shuffle_read_mb']:>7.1f} {s['shuffle_write_mb']:>7.1f}  {s['name'][:60]}"
        )


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("command", choices=["time", "attrib", "scale"])
    p.add_argument("args", nargs="*", help="query names; scale takes its two SF dirs first")
    p.add_argument("--runs", type=int, default=3, help="runs per block (default 3)")
    a = p.parse_args(argv)
    names = a.args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if a.command == "scale":
        if len(names) < 2:
            p.error("scale needs <small_sf_dir> <big_sf_dir>")
        sf_dir, big, *names = names

    import __spark_entry__ as entrymod

    allq = entrymod.queries()
    qs = {n: allq[n] for n in names or entrymod.HEADLINE}
    spark = session(f"measure-{a.command}")
    warm_up(spark, qs, sf_dir)
    if a.command == "scale":
        print(f"| query | {os.path.basename(sf_dir.rstrip('/'))} s | {os.path.basename(big.rstrip('/'))} s | ratio |")
        print("|---|---|---|---|")
    for name, fn in qs.items():
        try:
            if a.command == "time":
                w = block(spark, fn, sf_dir, a.runs)
                print(f"{name}: min={min(w):.3f}s median={statistics.median(w):.3f}s runs={', '.join(f'{r:.3f}' for r in w)}", flush=True)
            elif a.command == "scale":
                ts, tb = min(block(spark, fn, sf_dir, a.runs)), min(block(spark, fn, big, a.runs))
                print(f"| {name} | {ts:.3f} | {tb:.3f} | {tb / ts:.1f}x |", flush=True)
            else:
                try:
                    first = attribute(spark, fn, sf_dir)
                    fn(spark, sf_dir).count()
                    warm = attribute(spark, fn, sf_dir)
                finally:
                    release_scoped_caches()
                _print_attrib(f"{name} run1", first)
                _print_attrib(f"{name} run3", warm)
        except Exception as exc:
            print(f"{name}: FAILED {type(exc).__name__}: {str(exc)[:300]}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
