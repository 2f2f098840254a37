"""The query scope: what a query registers lives until the drain, and the
drain releases all of it — caches, scratch dirs and memory-sink views.

``orders_ivm_minmax`` stands for the scratch-dir queries: it builds a
snapshot table and an ``IncrementalAggView`` in one ``scoped_dir``."""

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from py4j.protocol import Py4JError

from bears_spark import caching
from bears_spark.queries import relational
from tools.check_correctness import compare


def _persisted_rdd_ids(spark) -> set[int]:
    """Ids of the session's persisted RDDs. Tests compare id sets, not counts:
    the context cleaner unpersists an unreachable RDD an earlier test left
    behind (a ``localCheckpoint`` intermediate) whenever the JVM collects it,
    so the count can drop in the middle of a test."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _recording_scoped_dir(monkeypatch) -> list[str]:
    made: list[str] = []

    def scoped_dir(prefix: str) -> str:
        made.append(caching.scoped_dir(prefix))
        return made[-1]

    monkeypatch.setattr(relational, "scoped_dir", scoped_dir)
    return made


def test_drain_runs_every_action_even_after_one_fails():
    ran = []

    def boom():
        raise Py4JError("session already stopped")

    caching.on_release(boom)
    caching.on_release(lambda: ran.append(1))
    assert caching.release_scoped_caches() == 2
    assert ran == [1]
    assert caching.release_scoped_caches() == 0


def test_drain_propagates_an_unnamed_error_after_clearing_the_list():
    def boom():
        raise KeyError("not a release failure")

    caching.on_release(boom)
    with pytest.raises(KeyError, match="not a release failure"):
        caching.release_scoped_caches()
    assert caching.release_scoped_caches() == 0


def test_drain_drops_the_memory_sink_view(spark, sf_dir):
    def sink_views():
        return [t.name for t in spark.catalog.listTables() if t.name == "streaming_dedup_sink"]

    rows = entrymod.queries()["streaming_dedup_events"](spark, sf_dir).collect()
    assert rows
    assert sink_views() == ["streaming_dedup_sink"]
    caching.release_scoped_caches()
    assert sink_views() == []


def test_drain_releases_a_query_that_raised(spark, sf_dir, monkeypatch):
    from bears_spark.io.incremental_view import IncrementalAggView

    made = _recording_scoped_dir(monkeypatch)
    before = _persisted_rdd_ids(spark)

    def refresh(self):
        raise RuntimeError("refresh failed")

    monkeypatch.setattr(IncrementalAggView, "refresh", refresh)
    with pytest.raises(RuntimeError, match="refresh failed"):
        entrymod.queries()["orders_ivm_minmax"](spark, sf_dir)
    assert len(made) == 1 and os.listdir(made[0])  # the base table was written
    caching.release_scoped_caches()
    assert not os.path.exists(made[0])
    assert _persisted_rdd_ids(spark) <= before  # nothing the test persisted survives the drain
    assert not spark.streams.active


def test_scratch_dir_lives_until_the_drain(spark, sf_dir, monkeypatch):
    made = _recording_scoped_dir(monkeypatch)
    df = entrymod.queries()["orders_ivm_minmax"](spark, sf_dir)
    assert len(made) == 1 and os.path.isdir(made[0])
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')")
    ok, msg = compare(df.toPandas(), con.sql(entrymod.oracle_sql()["orders_ivm_minmax"]).df())
    assert ok, msg
    assert os.path.isdir(made[0])
    caching.release_scoped_caches()
    assert not os.path.exists(made[0])
