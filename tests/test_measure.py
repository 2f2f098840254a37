"""The measurement core in tools/measure.py: the block protocol and the layer
attribution that bench.py and the measurement CLI share."""

import os
import subprocess
import sys

import __spark_entry__ as entrymod
from bears_spark import caching
from tools.measure import _merged, attribute, block

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _persisted_rdd_ids(spark) -> set[int]:
    """Ids of the session's persisted RDDs. Tests compare id sets, not counts:
    the context cleaner unpersists an unreachable RDD an earlier test left
    behind (a ``localCheckpoint`` intermediate) whenever the JVM collects it,
    so the count can drop in the middle of a test."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_bench_import_leaves_the_library_unloaded():
    # perfbench/run.py imports bench before it pins the JVM heap; a library
    # import here would freeze the caller's SPARK_GRAFT_DRIVER_MEM into
    # session._BASE_CONF
    code = "import bench, sys; assert not [m for m in sys.modules if m.startswith(('bears_spark', 'tools', '__spark_entry__'))]"
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True)


def test_merged_span_is_the_clipped_union():
    spans = [(1.0, 3.0), (0.0, 2.0), (5.0, 6.0), (7.0, 8.0)]
    assert _merged(spans, 0.5, 5.5) == 3.0  # [0.5, 3] + [5, 5.5]
    assert _merged(spans, 3.0, 5.0) == 0.0
    assert _merged([], 0.0, 1.0) == 0.0


def test_block_runs_n_times_with_caches_alive_then_drains(spark, sf_dir):
    query = entrymod.queries()["dedup_semantic_clusters"]
    before = _persisted_rdd_ids(spark)
    live = []

    def fn(s, d):
        df = query(s, d)
        live.append(len(caching._SCOPED))
        return df

    walls = block(spark, fn, sf_dir, runs=3)
    assert len(walls) == 3 and all(w > 0 for w in walls)
    assert live[0] > 0 and live == sorted(live)  # scoped caches survive across the runs
    assert caching._SCOPED == []
    assert _persisted_rdd_ids(spark) <= before  # nothing the test persisted survives the drain


def test_attribute_splits_build_jobs_from_action_jobs(spark, sf_dir):
    sc = spark.sparkContext
    fn = entrymod.queries()["ann_ivfpq_topk"]  # its build collects the k-means fit
    before = _persisted_rdd_ids(spark)
    sc.setJobGroup("measure-attrib", "attribute one run")
    try:
        r = attribute(spark, fn, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        caching.release_scoped_caches()
    started = set(sc.statusTracker().getJobIdsForGroup("measure-attrib"))

    build, action = set(r["build_job_ids"]), set(r["action_job_ids"])
    assert r["build_jobs"] == len(build) >= 1
    assert r["jobs"] == len(action) >= 1
    assert not build & action
    assert build | action == started
    assert r["gap_s"] >= 0
    assert 0 <= r["build_jobs_s"] <= r["build_s"]
    assert abs(r["wall_s"] - r["build_s"] - r["jobs_s"] - r["gap_s"]) < 1e-9
    assert 0 < r["catalyst_s"] < r["wall_s"]
    assert r["stages"]
    for row in r["stages"]:
        assert row["job"] in (build if row["layer"] == "build" else action)
    assert _persisted_rdd_ids(spark) <= before  # nothing the test persisted survives the drain
