"""Smoke tests for every declared query at sf0.001 (full oracle comparison is
tools/check_correctness.py / the driver's t2 gate at sf0.01)."""

import pytest

import __spark_entry__ as entrymod


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) == 6
    assert rows[0]["count_order"] > 0


def test_queries_and_oracles_aligned():
    q, o = set(entrymod.queries()), set(entrymod.oracle_sql())
    assert o <= q
    # deliberately oracle-less (non-SQL-expressible): the driver records the
    # weaker rows-only check; values are pinned by pytest instead
    assert q - o == {"doc_compression_quality"}
    assert set(entrymod.HEADLINE) <= q


def test_graded_window_invariants():
    """VERDICT r7 #1 / r11 #4: the 50-slot driver window must contain only
    queries with a real DuckDB oracle (an oracle-less row can only grade
    `err: no_oracle`), no duplicates, the 8 regression anchors first, and
    every path the round-11/12 optimizer rewrote."""
    win = entrymod.GRADED_WINDOW
    q, o = entrymod.queries(), entrymod.oracle_sql()
    assert len(win) == 50
    assert len(set(win)) == 50
    for name in win:
        assert name in q, name
        sql = o.get(name)
        assert isinstance(sql, str) and sql.strip(), f"{name} lacks a real oracle"
    assert win[:8] == [
        "q1_pricing_summary", "q3_shipping_priority", "orders_delta_dv_roundtrip",
        "ev_sessionize", "streaming_hourly_counts", "streaming_running_totals",
        "dedup_minhash_lsh", "ann_cosine_topk",
    ]
    # the window leads queries(): the driver grades the first 50 entries
    assert list(q)[:50] == win
    rewritten = {
        "tfidf_cosine_pairs", "part_item_recs", "dedup_semantic_clusters",
        "orders_delta_dv_read", "orders_global_cumsum",
        "doc_pack_assignments", "doc_bm25_queryset",
        "ann_ivfpq_topk", "ev_cusum_alarm",
    }
    assert rewritten <= set(win)


def test_readme_query_count_matches_declared():
    """VERDICT r6 #4: the README's headline counts are mechanical — they must
    equal len(queries()) / len(oracle_sql()) so docs can't drift again."""
    import os
    import re

    readme = os.path.join(os.path.dirname(__file__), "..", "README.md")
    with open(readme) as f:
        m = re.search(r"(\d+) graded queries \((\d+) with full DuckDB-oracle", f.read())
    assert m, "README.md no longer carries the graded-query count line"
    assert int(m.group(1)) == len(entrymod.queries())
    assert int(m.group(2)) == len(entrymod.oracle_sql())


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_runs(spark, sf_dir, name):
    df = entrymod.queries()[name](spark, sf_dir)
    n = df.count()
    assert n >= 0
    # schema must be stable (no unresolved columns)
    assert df.columns
    # a query that runs a stream runs it to completion and stops it
    assert not spark.streams.active, [q.name for q in spark.streams.active]


def test_hive_partition_pruning_stays_on_arrow_and_prunes(spark, sf_dir):
    """The read-back `day` partition column is a date; the query must still
    prune on it and return `day` as a string, with no Arrow fallback warning."""
    import re
    import warnings

    store = spark._jsparkSession.sharedState().statusStore()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        rows = entrymod.queries()["events_hive_partition_pruning"](spark, sf_dir).collect()
    assert rows and all(isinstance(r["day"], str) for r in rows)
    assert not [w for w in caught if issubclass(w.category, UserWarning) and "Arrow" in str(w.message)]
    n = store.executionsCount()
    recent = store.executionsList(max(0, n - 20), 20)
    plans = [recent.apply(i).physicalPlanDescription() for i in range(recent.size())]
    filters = [f for p in plans if "hivepart_" in p for f in re.findall(r"PartitionFilters: \[([^\]]*)\]", p)]
    assert any("day" in f for f in filters), filters


def test_load_table_normalizes_all_ts_encodings(spark, tmp_path):
    """load_table must yield identical TIMESTAMP instants for nanos, naive-µs,
    and tz-aware parquet encodings of the same wall times."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bears_spark.queries.tables import events_ts_encoding, load_table

    wall_us = [1704067200_000_000, 1704070800_500_000]  # 2024-01-01 00:00 / 01:00.5 UTC
    base = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([1, 1], pa.int64()),
        "event_type": pa.array(["a", "b"]),
        "value": pa.array([1.0, 2.0]),
        "props": pa.array(["{}", "{}"]),
    }
    cases = {
        "ns": pa.array([u * 1000 for u in wall_us], pa.timestamp("ns")),
        "ntz": pa.array(wall_us, pa.timestamp("us")),
        "tz": pa.array(wall_us, pa.timestamp("us", tz="UTC")),
    }
    got = {}
    for name, ts_arr in cases.items():
        d = tmp_path / name
        d.mkdir()
        tbl = pa.table({"event_id": base["event_id"], "ts": ts_arr, "user_id": base["user_id"],
                        "event_type": base["event_type"], "value": base["value"], "props": base["props"]})
        pq.write_table(tbl, str(d / "events.parquet"))
        assert events_ts_encoding(str(d / "events.parquet")) == name
        df = load_table(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        from pyspark.sql import functions as F

        got[name] = [r[0] for r in df.select(F.unix_micros("ts")).orderBy("event_id").collect()]
    assert got["ns"] == got["ntz"] == got["tz"] == wall_us


def test_events_ts_encoding_unknown_for_unreadable_or_ts_less_files(tmp_path):
    """A file that is not parquet and a parquet file without ``ts`` are the
    named fallbacks: both sniff as "unknown" instead of raising."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bears_spark.queries.tables import events_ts_encoding

    (tmp_path / "junk.parquet").write_text("not parquet")
    pq.write_table(pa.table({"event_id": [1]}), str(tmp_path / "no_ts.parquet"))
    assert events_ts_encoding(str(tmp_path / "junk.parquet")) == "unknown"
    assert events_ts_encoding(str(tmp_path / "no_ts.parquet")) == "unknown"
    assert events_ts_encoding(str(tmp_path / "absent.parquet")) == "unknown"


def test_register_tables_sql_passthrough(spark, sf_dir):
    from bears_spark.queries.tables import register_tables

    register_tables(spark, sf_dir)
    n = spark.sql("SELECT count(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey").first()["n"]
    assert n > 0
    # ts arrives normalized for SQL users too
    t = spark.sql("SELECT min(unix_micros(ts)) AS m FROM events").first()["m"]
    assert t > 1_600_000_000_000_000


def test_ann_ivfpq_recall_threshold(spark):
    """VERDICT r5 #9: the composed IVF-PQ rung publishes recall vs exact
    brute force. The floors are the deterministic measured values on the
    UNIFORM synthetic embeddings (no cluster structure: candidate recall
    sits near nprobe/kc = 3/8 by construction; the clustered high-recall
    regime is asserted in test_ivfpq_composed_recall_vs_brute_force)."""
    from bears_spark.queries.textops import ann_ivfpq_recall_report

    row = ann_ivfpq_recall_report(spark, "/root/testdata/sf0.001").first()
    assert row["n_true"] == 10
    # end-to-end never exceeds the bucket-probe stage's recall
    assert row["n_hit"] <= row["n_in_probe"]
    assert row["candidate_recall"] >= 0.3, row.asDict()
    assert row["recall_at_10"] >= 0.1, row.asDict()


def test_doc_pack_assignments_invariants(spark):
    """GPT-style concat-and-chunk packing: every pack holds exactly the
    budget except the final remainder, each doc's spans partition its
    tokens, and spans within a pack are contiguous in doc_id order."""
    from pyspark.sql import functions as F

    from bears_spark.queries.qualityops import _PACK_BUDGET, doc_pack_assignments
    from bears_spark.queries.tables import load_table
    from bears_spark.functions.text import token_count

    sf = "/root/testdata/sf0.001"
    out = doc_pack_assignments(spark, sf)
    per_pack = out.groupBy("pack_id").agg(F.sum("n_tok_in_pack").alias("n")).collect()
    last = max(r["pack_id"] for r in per_pack)
    for r in per_pack:
        if r["pack_id"] == last:
            assert 0 < r["n"] <= _PACK_BUDGET
        else:
            assert r["n"] == _PACK_BUDGET, r
    # spans partition each doc's tokens
    docs = load_table(spark, sf, "documents").select(
        "doc_id", token_count("text").alias("n_tok")
    ).filter(F.col("n_tok") > 0)
    per_doc = out.groupBy("doc_id").agg(F.sum("n_tok_in_pack").alias("got"))
    bad = per_doc.join(docs, "doc_id").filter(F.col("got") != F.col("n_tok"))
    assert bad.count() == 0
    assert per_doc.count() == docs.count()


def test_emb_cluster_silhouette_bounds(spark):
    """Simplified silhouette is in [-1, 1] per cluster, every corpus vector
    is reported exactly once, and the k=1 degenerate case is defined 0."""
    from pyspark.sql import functions as F

    from bears_spark.functions.similarity import simplified_silhouette_expr
    from bears_spark.queries.tables import load_table
    from bears_spark.queries.textops import emb_cluster_silhouette

    sf = "/root/testdata/sf0.001"
    rows = emb_cluster_silhouette(spark, sf).collect()
    emb = load_table(spark, sf, "embeddings")
    assert sum(r["n_members"] for r in rows) == emb.count()
    assert all(-1.0 <= r["avg_silhouette"] <= 1.0 for r in rows)
    # k == 1: silhouette defined 0
    one = emb.select(
        simplified_silhouette_expr("embedding", [(0, [1.0] * 64)]).alias("cs")
    ).select("cs.sil").distinct().collect()
    assert [r["sil"] for r in one] == [0.0]


def test_ev_rolling_dau_window_invariants(spark):
    """Rolling 7-day DAU dominates the single-day DAU, is bounded by the sum
    of its constituent days, and day 1 (no history) equals day-1 DAU."""
    from pyspark.sql import functions as F

    from bears_spark.queries.events import ev_rolling_dau
    from bears_spark.queries.tables import load_table

    sf = "/root/testdata/sf0.001"
    rolling = {r["day"]: r["dau7"] for r in ev_rolling_dau(spark, sf).collect()}
    daily = {
        r["day"]: r["dau"]
        for r in load_table(spark, sf, "events")
        .groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").alias("dau"))
        .collect()
    }
    days = sorted(daily)
    assert rolling[days[0]] == daily[days[0]]
    for i, d in enumerate(days):
        window_days = days[max(0, i - 6) : i + 1]
        assert daily[d] <= rolling[d] <= sum(daily[x] for x in window_days), d


def test_ev_rolling_dau_hll_merge_dominates_constituents(spark):
    """Register-max merging can only raise rho values, so the merged window
    estimate must dominate every constituent single-day estimate — the
    mergeability direction that makes the sliding rollup valid."""
    from pyspark.sql import functions as F

    from bears_spark.functions.sketch import HLL_HASH_BITS, hll_alpha, hll_registers
    from bears_spark.queries.sketchops import _HLL_M, _HLL_P, _HLL_S, ev_rolling_dau_hll
    from bears_spark.queries.tables import load_table

    sf = "/root/testdata/sf0.001"
    win = {r["day"]: r["hll_dau7"] for r in ev_rolling_dau_hll(spark, sf).collect()}
    ev = load_table(spark, sf, "events").withColumn(
        "day", F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    )
    numer = hll_alpha(_HLL_M) * _HLL_M * _HLL_M * (1 << _HLL_S)
    per_day = (
        hll_registers(ev, "user_id", _HLL_P, by=("day",))
        .groupBy("day")
        .agg(
            (
                F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_S} - rho)"))
                + (F.lit(_HLL_M) - F.count("*")) * F.lit(1 << _HLL_S).cast("bigint")
            ).alias("ss")
        )
        .select("day", (F.lit(numer) / F.col("ss")).alias("est"))
        .collect()
    )
    daily = {r["day"]: r["est"] for r in per_day}
    for d, est in daily.items():
        # every window that contains day d must estimate >= day d alone
        assert win[d] >= est - 1e-9, (d, win[d], est)


def test_ev_value_ohlc_bounds(spark):
    """low <= open/close <= high per bar; bar event counts cover the table."""
    from pyspark.sql import functions as F

    from bears_spark.queries.events import ev_value_ohlc
    from bears_spark.queries.tables import load_table

    sf = "/root/testdata/sf0.001"
    bars = ev_value_ohlc(spark, sf).collect()
    for r in bars:
        assert r["low"] <= r["open"] <= r["high"], r
        assert r["low"] <= r["close"] <= r["high"], r
    total = load_table(spark, sf, "events").where(F.col("value").isNotNull()).count()
    assert sum(r["n_events"] for r in bars) == total


def test_ev_ab_mannwhitney_matches_pandas_rank(spark):
    """The distributed tie-averaged rank-sum must equal pandas' average-rank
    computation on the same per-user totals (independent rank implementation)."""
    from pyspark.sql import functions as F

    from bears_spark.functions.hashing import md5_hash64
    from bears_spark.queries.events import ev_ab_mannwhitney
    from bears_spark.queries.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = ev_ab_mannwhitney(spark, sf).first()
    pdf = (
        load_table(spark, sf, "events")
        .where(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 6).alias("x"))
        .withColumn("in_a", (md5_hash64("user_id", salt="ab") % 2 == 0).cast("long"))
        .toPandas()
    )
    pdf["rank"] = pdf["x"].rank(method="average")
    na = int(pdf["in_a"].sum())
    ra = float(pdf.loc[pdf["in_a"] == 1, "rank"].sum())
    u_a = ra - na * (na + 1) / 2.0
    assert got["n_a"] == na
    assert abs(got["u_a"] - round(u_a, 2)) < 1e-9


def test_ev_value_ks_drift_bounds(spark):
    from bears_spark.queries.events import ev_value_ks_drift

    row = ev_value_ks_drift(spark, "/root/testdata/sf0.001").first()
    assert 0.0 <= row["ks_d"] <= 1.0
    assert row["ks_crit_05"] > 0
    assert row["drift"] == (row["ks_d"] > row["ks_crit_05"])


def test_emb_exact_dupes_detects(spark, tmp_path):
    """The graded corpus has no exact dupes (pinned all-clear row); prove the
    operator actually detects them on a doubled corpus in a tmp sf_dir."""
    from bears_spark.queries.tables import load_table
    from bears_spark.queries.textops import emb_exact_dupes

    src = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = src.count()
    doubled = src.unionAll(src.withColumn("vec_id", src.vec_id + 1_000_000))
    doubled.write.parquet(str(tmp_path / "embeddings.parquet"))
    out = emb_exact_dupes(spark, str(tmp_path)).collect()
    assert out[0]["dup_groups"] == n
    assert out[0]["excess_vectors"] == n
    assert all(r["group_size"] == 2 for r in out)
