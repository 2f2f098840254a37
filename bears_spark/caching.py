"""Query-scoped resources: one list of release actions, one drain.

A query function cannot release what its result still reads. The returned
DataFrame is lazy, so a cache it persisted (all-pairs similarity weights,
fingerprint lists, LM scores), the scratch directory it built a fixture
table in, or the memory-sink view a stream wrote to must outlive the
function. Each of them registers one release action here instead:

- :func:`scoped_persist` registers the unpersist of its cache;
- :func:`scoped_checkpoint` registers the release of its local checkpoint;
- :func:`scoped_dir` makes a scratch directory and registers its removal;
- ``streaming.jobs.run_to_memory`` registers the drop of its sink view.

Any other query-lifetime resource registers its release with :func:`on_release`.

The runner (perfbench, tools/check_correctness.py, ``tools/measure.py``'s
``block``, the test suite, or any user loop) calls
:func:`release_scoped_caches` once it has consumed the query's result
(``toArrow``, ``toPandas``, ``collect``, a write). Drain only then: a lazy
frame held past the drain reads a directory or view that is gone and fails.
A caller that never drains still gets correct results; what it leaves
lives until the process exits, when the drain runs one last time.

The owner is module-level on purpose: PySpark runs one SparkContext per
process, and no caller runs two queries at once on one session.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from typing import Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

_SCOPED: list[Callable[[], object]] = []

# Semantic hashes of plans an eager scoped_persist has already materialized
# since the last drain. Within one bench block (3 runs of the same query,
# caches alive across runs — bench.py's warm-min methodology) every run
# rebuilds the SAME logical plan; the cache blocks survive from run 1, so
# re-counting them on runs 2-3 would charge the warm min a pure-overhead job.
# Keyed by DataFrame.semanticHash(): a hash collision merely SKIPS an eager
# count (falling back to today's lazy build — never a correctness issue).
_MATERIALIZED: set[int] = set()


def scoped_persist(df: DataFrame, storage_level=None, eager: bool = False) -> DataFrame:
    """persist() + register for a later release_scoped_caches() drain.

    ``eager=True`` materializes the cache NOW (one count()) — but only once
    per logical plan per drain scope. Use it when the consumers fan out as
    CONCURRENT jobs (AQE stage materialization, broadcast subqueries):
    Spark's cache locking is per-block and concurrent jobs do not share
    in-flight stages, so each racing job recomputes the whole upstream
    pipeline of any block it cannot lock — measured 12 re-runs of a
    tokenize+explode scan under dedup_ngram_jaccard's 11-way job fan-out.
    One eager pass builds every block once; the racers then only read.

    The once-per-plan guard keeps eager FREE on warm runs: a repeat run of
    the same query re-persists an identical plan whose blocks are already
    built (the runner drains between queries, not between a query's runs),
    so the eager count is skipped and the warm minimum measures exactly the
    lazy path. Cold run 1 pays one build job instead of N racing rebuilds."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    on_release(lambda: df.unpersist(False))
    if eager:
        key = df.semanticHash()
        if key not in _MATERIALIZED:
            _MATERIALIZED.add(key)
            df.count()
    return df


def scoped_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint()`` (eager) whose blocks the next drain frees; a
    fixpoint loop frees each round it supersedes with :func:`release_checkpoint`."""
    out = df.localCheckpoint()
    on_release(lambda: release_checkpoint(out))
    return out


def release_checkpoint(df: DataFrame) -> None:
    """Free a local checkpoint's blocks now: its ``LogicalRDD`` holds a
    persisted RDD that ``DataFrame.unpersist`` does not reach."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def scoped_dir(prefix: str) -> str:
    """A fresh scratch directory (``tempfile.mkdtemp``) that the next drain removes."""
    path = tempfile.mkdtemp(prefix=prefix)
    on_release(lambda: shutil.rmtree(path))
    return path


def on_release(action: Callable[[], object]) -> None:
    """Run ``action`` at the next drain."""
    _SCOPED.append(action)


def release_scoped_caches() -> int:
    """Run every registered release action, clear the list, and return how many there were.

    Call after the query's result has been consumed: a frame still held
    afterwards may read a cache, directory or sink view that is gone. An
    action whose resource is already gone (directory already removed:
    ``FileNotFoundError``; session already stopped: ``Py4JError``) does not
    stop the rest. Any other error propagates, with the list already cleared."""
    actions = list(_SCOPED)
    _SCOPED.clear()
    _MATERIALIZED.clear()
    for release in actions:
        try:
            release()
        except (FileNotFoundError, Py4JError):
            pass  # nothing left to free
    return len(actions)


atexit.register(release_scoped_caches)
