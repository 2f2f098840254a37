"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

The loop is tools/measure.py's: every headline query is first run once at
sf0.001 (untimed warm-up: JVM JIT, whole-stage-codegen compilation, broadcast
infra), then each is timed in a block of 3 runs at the target SF and its min
is reported. Timed numbers therefore approximate steady-state engine
throughput, not first-action cold-start. Run-to-run noise at sf0.1 is still
±30% under background load — rerun before believing a regression.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _testdata_fingerprint(sf_dir: str) -> str:
    """Stable 16-hex digest of the input parquet CONTENTS (path + full file
    bytes of every *.parquet under ``sf_dir``), so a byte-identical
    regeneration still matches and a preserved-mtime copy of other bytes
    does not."""
    import hashlib

    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(sf_dir)):
        for name in sorted(files):
            if not name.endswith(".parquet"):
                continue
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, sf_dir).encode() + b":")
            with open(p, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
            h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # The library is imported here, never at module level: perfbench/run.py
    # imports this module for _testdata_fingerprint before it pins the JVM
    # heap, and bears_spark.session reads SPARK_GRAFT_DRIVER_MEM on import.
    import __spark_entry__ as entrymod
    from tools.measure import block, session, warm_up

    spark = session("bench")
    all_qs = entrymod.queries()
    qs = {n: all_qs[n] for n in entrymod.HEADLINE}
    warm_up(spark, qs, sf_dir)

    # min of a block of 3 per query: this host shows 2-3x wall-clock swings
    # from ambient load; the min measures the code rather than the neighbor.
    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    for name, fn in qs.items():
        try:
            runs = block(spark, fn, sf_dir)
        except Exception as exc:
            # One broken query must never zero the whole bench: record the
            # failure, keep timing the rest, and still emit the JSON line.
            failures[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: FAILED {failures[name]}", file=sys.stderr)
            continue
        timings[name] = round(min(runs), 4)
        print(f"# {name}: {timings[name]:.3f}s (runs: {', '.join(f'{r:.3f}' for r in runs)})", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "total_query_wall_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # equal fingerprints: two bench lines ran on the same parquet bytes
        "testdata_fingerprint": _testdata_fingerprint(sf_dir),
    }
    if failures:
        out["failures"] = failures
    print(json.dumps(out))


if __name__ == "__main__":
    main()
