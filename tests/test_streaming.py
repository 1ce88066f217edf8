"""Stream-vs-batch unification tests: every streaming operator must agree
with its batch formulation on the full input (the reference validates its
streaming SQL the same way — ITCases with expected final row sets)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, assert_same_rows


@pytest.fixture(scope="module")
def events_stream_factory(spark, tables, tmp_dir_module=None):
    from reshape_on_flink_spark.streaming.source import chunked_replay

    base = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "replay")

    def make(name: str, n_chunks: int = 4):
        return chunked_replay(spark, tables["events"], os.path.join(base, name), n_chunks=n_chunks)

    return make


def run_to_memory(spark, sdf, name: str, tmp: str, mode: str = "update"):
    q = (
        sdf.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(tmp, f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_tumble_agg_stream_matches_batch(spark, tables, events_stream_factory, tmp_dir):
    from reshape_on_flink_spark.queries.streaming_batch import q_tumble_window
    from reshape_on_flink_spark.streaming.ops import tumble_agg

    sdf = tumble_agg(events_stream_factory("tumble"))
    got = run_to_memory(spark, sdf, "tumble_out", tmp_dir, mode="complete")
    expected = q_tumble_window(spark, SF_DIR)
    assert_same_rows(got.select("ws", "event_type", "n", "sum_value"), expected)


def test_session_agg_stream_matches_batch(spark, tables, events_stream_factory, tmp_dir):
    from reshape_on_flink_spark.queries.streaming_batch import q_session_window
    from reshape_on_flink_spark.streaming.ops import session_agg

    sdf = session_agg(events_stream_factory("session"))
    got = run_to_memory(spark, sdf, "session_out", tmp_dir, mode="complete")
    expected = q_session_window(spark, SF_DIR)
    assert_same_rows(got.select("user_id", "session_start", "n_events", "sum_value"), expected)


def test_cumulate_agg_stream_matches_batch(spark, tables, events_stream_factory, tmp_dir):
    """Streaming CUMULATE (slice-shared single agg) == batch explode
    formulation (operators/windows.cumulate via q_cumulate_window)."""
    from reshape_on_flink_spark.queries.streaming_batch import q_cumulate_window
    from reshape_on_flink_spark.streaming.ops import cumulate_agg

    sdf = cumulate_agg(events_stream_factory("cumulate"))
    got = run_to_memory(spark, sdf, "cumulate_out", tmp_dir, mode="complete")
    expected = q_cumulate_window(spark, SF_DIR)
    assert_same_rows(got.select("ws", "we", "n", "sum_value"), expected)


def test_cumulate_agg_append_mode_is_valid_and_purgeable(
    spark, tables, events_stream_factory, tmp_dir
):
    """The slice-shared form groups on the native event-time window, so
    append mode must VALIDATE (watermark-managed state) — the batch-style
    groupBy on derived bigints would be rejected here. Emitted rows are
    the watermark-closed subset of the batch result."""
    from reshape_on_flink_spark.queries.streaming_batch import q_cumulate_window
    from reshape_on_flink_spark.streaming.ops import cumulate_agg

    sdf = cumulate_agg(events_stream_factory("cumulate_ap"))
    got = run_to_memory(spark, sdf, "cumulate_ap_out", tmp_dir, mode="append")
    expected = {
        (r["ws"], r["we"]): (r["n"], r["sum_value"])
        for r in q_cumulate_window(spark, SF_DIR).collect()
    }
    emitted = {(r["ws"], r["we"]): (r["n"], r["sum_value"]) for r in got.collect()}
    assert set(emitted) <= set(expected)
    for k, v in emitted.items():
        assert v == expected[k], k


def test_interval_join_stream_matches_batch(spark, tables, events_stream_factory, tmp_dir):
    from reshape_on_flink_spark.streaming.ops import interval_join_views_purchases

    sdf = interval_join_views_purchases(events_stream_factory("ijoin"))
    got = run_to_memory(spark, sdf, "ijoin_out", tmp_dir, mode="append")

    ev = tables["events"]
    v = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts"), F.col("event_id").alias("view_id")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    expected = v.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("v_ts") < F.col("p_ts"))
        & (F.unix_micros("p_ts") <= F.unix_micros("v_ts") + 600 * 1_000_000),
    ).select("user_id", "view_id", "purchase_id")
    assert_same_rows(got, expected)


def test_dedup_keep_first_stream(spark, tables, events_stream_factory, tmp_dir):
    """dropDuplicatesWithinWatermark keeps the first *arrival*; replay is
    time-ordered, so first arrival == earliest ts == the batch oracle."""
    from reshape_on_flink_spark.streaming.ops import dedup_keep_first

    sdf = dedup_keep_first(events_stream_factory("dedupf"), ["user_id"]).select(
        "user_id", "event_id"
    )
    got = run_to_memory(spark, sdf, "dedupf_out", tmp_dir, mode="append")
    from reshape_on_flink_spark.queries.relational import q_dedup_keep_first

    expected = q_dedup_keep_first(spark, SF_DIR).select("user_id", "event_id")
    assert_same_rows(got, expected)


def test_dedup_keep_last_stream(spark, tables, events_stream_factory, tmp_dir):
    from reshape_on_flink_spark.streaming.ops import dedup_keep_last

    sdf = dedup_keep_last(events_stream_factory("dedupl"), ["user_id"]).select(
        "user_id", "event_id", "ts"
    )
    mem = run_to_memory(spark, sdf, "dedupl_out", tmp_dir, mode="update")
    # update mode appends one row per user per batch; the per-user best
    # advances monotonically in (ts, event_id), so the final state is the max
    best = {}
    for r in mem.collect():
        key = (r["ts"], r["event_id"])
        if r["user_id"] not in best or key > best[r["user_id"]]:
            best[r["user_id"]] = key
    rows = {u: k[1] for u, k in best.items()}
    from reshape_on_flink_spark.queries.relational import q_dedup_keep_last

    expected = {r["user_id"]: r["event_id"] for r in q_dedup_keep_last(spark, SF_DIR).collect()}
    assert rows == expected


def test_streaming_topn_counts(spark, tables, events_stream_factory, tmp_dir):
    from reshape_on_flink_spark.streaming.ops import streaming_topn_counts

    sdf = streaming_topn_counts(events_stream_factory("topn"))
    mem = run_to_memory(spark, sdf, "topn_out", tmp_dir, mode="update")
    final = {}
    for r in mem.collect():  # update mode: later rows supersede
        cur = final.get(r["user_id"], 0)
        final[r["user_id"]] = max(cur, r["n"])
    expected = {
        r["user_id"]: r["n"]
        for r in tables["events"].groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert final == expected


def test_running_over_agg_stream_matches_batch(spark, tables, events_stream_factory, tmp_dir):
    """Streaming OVER (running per-key sum/count) == batch window agg,
    given event-time-ordered replay."""
    from reshape_on_flink_spark.streaming.over import running_over_agg
    from pyspark.sql import Window as W

    sdf = running_over_agg(events_stream_factory("overagg"))
    got = run_to_memory(spark, sdf, "overagg_out", tmp_dir, mode="append").select(
        "event_id", "running_n", "running_sum"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    expected = tables["events"].select(
        "event_id",
        F.count("*").over(w).alias("running_n"),
        (F.sum(F.round(F.col("value") * 100).cast("long")).over(w) / 100.0).alias("running_sum"),
    )
    assert_same_rows(got, expected)


def test_temporal_join_per_batch(spark, tables):
    """Versioned-dim temporal join: events pick the dim version valid at
    their event time."""
    from reshape_on_flink_spark.streaming.over import temporal_join
    import datetime as dt

    versions = spark.createDataFrame(
        [
            (0, dt.datetime(2024, 1, 1), "v1"),
            (0, dt.datetime(2024, 1, 15), "v2"),
            (1, dt.datetime(2024, 1, 10), "v1"),
        ],
        ["user_id", "valid_from", "version"],
    )
    joiner = temporal_join(
        tables["events"].select("user_id", "ts", "event_id"),
        versions,
        key="user_id",
        time_col="ts",
        dim_time_col="valid_from",
        dim_payload=["version"],
    )
    out = joiner(tables["events"].select("user_id", "ts", "event_id").where("user_id <= 1"))
    rows = out.collect()
    assert rows
    for r in rows:
        if r["user_id"] == 0:
            expect = "v2" if r["ts"] >= dt.datetime(2024, 1, 15) else "v1"
        else:
            expect = "v1" if r["ts"] >= dt.datetime(2024, 1, 10) else None
        assert r["asof_version"] == expect, r


def test_split_late_tags_late_rows(spark, tables):
    from reshape_on_flink_spark.streaming.over import split_late

    out = split_late(tables["events"], lateness_seconds=3600 * 24 * 20)
    late = out.where("is_late").count()
    total = out.count()
    # events span ~30 days; with 20-day lateness only the first ~10 days are late
    assert 0 < late < total


def test_rate_events_source_shape(spark):
    from reshape_on_flink_spark.streaming.source import rate_events

    sdf = rate_events(spark, rows_per_second=500, n_keys=10)
    assert sdf.isStreaming
    assert set(sdf.columns) == {"ts", "event_id", "user_id", "value"}


def test_async_lookup_enrichment(spark, tables):
    from reshape_on_flink_spark.streaming.ops import async_lookup
    import asyncio

    async def fetch(row):
        await asyncio.sleep(0)  # stand-in for network latency
        return {"enriched": row["user_id"] * 10}

    out = async_lookup(
        tables["events"].select("user_id", "event_id").limit(50),
        fetch,
        "user_id long, event_id long, enriched long",
    )
    rows = out.collect()
    assert len(rows) == 50
    assert all(r["enriched"] == r["user_id"] * 10 for r in rows)


def test_count_window_agg_fires_every_n(spark, tables, tmp_dir):
    """CountTrigger parity: complete n-windows only, in arrival order,
    sums matching a driver-side replay of the same order."""
    from reshape_on_flink_spark.streaming.source import chunked_replay
    from reshape_on_flink_spark.streaming.triggers import count_window_agg

    n = 5
    stream = chunked_replay(
        spark, tables["events"], os.path.join(tmp_dir, "cw"), n_chunks=3, order_col="event_id"
    )
    got = {
        (r["user_id"], r["window_seq"]): r["sum_value"]
        for r in run_to_memory(
            spark, count_window_agg(stream, n=n), "cw_out", tmp_dir, mode="append"
        ).collect()
    }
    per_key = {}
    for r in sorted(
        tables["events"].select("user_id", "event_id", "value").collect(),
        key=lambda r: r["event_id"],
    ):
        per_key.setdefault(r["user_id"], []).append(r["value"])
    expected = {}
    for k, vals in per_key.items():
        for seq in range(len(vals) // n):
            expected[(k, seq)] = sum(vals[seq * n : (seq + 1) * n])
    assert set(got) == set(expected)
    for key in got:
        assert got[key] == pytest.approx(expected[key], rel=1e-9)


def test_chunked_replay_keeps_every_row_under_max_records_per_file(
    spark, tables, tmp_dir
):
    """A session cap on records per file must not split a chunk into
    several part files, of which the replay would keep only one."""
    from reshape_on_flink_spark.streaming.source import chunked_replay

    ev = tables["events"]
    n_rows = ev.count()
    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        stream = chunked_replay(
            spark, ev, os.path.join(tmp_dir, "mrpf"), n_chunks=3,
            order_col="event_id",
        )
    finally:
        spark.conf.set(key, old)
    flat = os.path.join(tmp_dir, "mrpf", "stream")
    assert len([f for f in os.listdir(flat) if f.endswith(".parquet")]) == 3
    got = run_to_memory(spark, stream, "mrpf_out", tmp_dir, mode="append")
    assert got.count() == n_rows
    assert got.select("event_id").distinct().count() == (
        ev.select("event_id").distinct().count()
    )


def test_delta_trigger_agg_baseline_semantics(spark, tables, tmp_dir):
    from reshape_on_flink_spark.streaming.source import chunked_replay
    from reshape_on_flink_spark.streaming.triggers import delta_trigger_agg

    threshold = 40.0
    stream = chunked_replay(
        spark, tables["events"], os.path.join(tmp_dir, "dt"), n_chunks=3, order_col="event_id"
    )
    got = {
        r["event_id"]: r["fired_value"]
        for r in run_to_memory(
            spark, delta_trigger_agg(stream, threshold), "dt_out", tmp_dir, mode="append"
        ).collect()
    }
    per_key = {}
    for r in sorted(
        tables["events"].select("user_id", "event_id", "value").collect(),
        key=lambda r: r["event_id"],
    ):
        per_key.setdefault(r["user_id"], []).append((r["event_id"], r["value"]))
    expected = {}
    for seq in per_key.values():
        baseline = None
        for eid, v in seq:
            if baseline is None:
                baseline = v
            elif abs(v - baseline) > threshold:
                expected[eid] = v
                baseline = v
    assert got == expected


def test_count_evictor_keeps_last_n(spark, tables):
    from reshape_on_flink_spark.streaming.triggers import count_evictor

    ev = tables["events"].withColumn("w", F.window("ts", "1 hour"))
    kept = count_evictor(ev, ["w", "user_id"], ["ts", "event_id"], keep_last_n=2)
    sizes = kept.groupBy("w", "user_id").count().agg(F.max("count")).collect()[0][0]
    assert sizes <= 2
    # the kept rows are exactly the latest 2 per (window, user)
    full = tables["events"].select("user_id", "ts", "event_id").collect()
    per = {}
    for r in full:
        w_start = r["ts"].replace(minute=0, second=0, microsecond=0)
        per.setdefault((w_start, r["user_id"]), []).append((r["ts"], r["event_id"]))
    expected_ids = set()
    for v in per.values():
        expected_ids |= {eid for _, eid in sorted(v)[-2:]}
    got_ids = {r["event_id"] for r in kept.select("event_id").collect()}
    assert got_ids == expected_ids


def test_time_evictor_matches_reference_cutoff(spark, tables):
    """TimeEvictor semantics: rows with ts <= max(ts in window) - keep
    are evicted (inclusive cutoff, TimeEvictor.java:80)."""
    from reshape_on_flink_spark.streaming.triggers import time_evictor

    ev = tables["events"].withColumn("w", F.window("ts", "1 hour"))
    kept = time_evictor(ev, ["w", "user_id"], "ts", keep_seconds=600)
    rows = tables["events"].select("user_id", "ts", "event_id").collect()
    per = {}
    for r in rows:
        w_start = r["ts"].replace(minute=0, second=0, microsecond=0)
        per.setdefault((w_start, r["user_id"]), []).append(r)
    expected_ids = set()
    for group in per.values():
        mx = max(r["ts"] for r in group)
        import datetime as dt

        cutoff = mx - dt.timedelta(seconds=600)
        expected_ids |= {r["event_id"] for r in group if r["ts"] > cutoff}
    got_ids = {r["event_id"] for r in kept.select("event_id").collect()}
    assert got_ids == expected_ids
    assert got_ids  # non-degenerate fixture


def test_delta_evictor_matches_reference_semantics(spark):
    """DeltaEvictor: evict rows whose |v - v_last| >= threshold, where
    v_last is the LAST element of the window buffer
    (DeltaEvictor.java:74-83)."""
    from reshape_on_flink_spark.streaming.triggers import delta_evictor

    rows = [
        # window g=1, ordered by pos; last value = 5.0
        (1, 0, 1.0), (1, 1, 4.5), (1, 2, 9.0), (1, 3, 5.0),
        # window g=2: last value = 10.0
        (2, 0, 10.0), (2, 1, 12.0), (2, 2, 6.0), (2, 3, 10.0),
    ]
    df = spark.createDataFrame(rows, "g int, pos int, v double")
    kept = delta_evictor(df, ["g"], ["pos"], "v", threshold=3.0)
    got = sorted((r["g"], r["pos"]) for r in kept.collect())
    # g=1: |1-5|=4 evict, |4.5-5|=.5 keep, |9-5|=4 evict, |5-5|=0 keep
    # g=2: |10-10|=0 keep, |12-10|=2 keep, |6-10|=4 evict, 0 keep
    assert got == [(1, 1), (1, 3), (2, 0), (2, 1), (2, 3)]
    # custom DeltaFunction: squared difference
    kept_sq = delta_evictor(
        df, ["g"], ["pos"], "v", threshold=5.0,
        delta_fn=lambda a, b: (a - b) * (a - b),
    )
    got_sq = sorted((r["g"], r["pos"]) for r in kept_sq.collect())
    assert got_sq == [(1, 1), (1, 3), (2, 0), (2, 1), (2, 3)]


def test_idle_source_policy(spark, tables, tmp_dir):
    """An idle (stale) source must not pin the watermark under the 'max'
    policy (Flink WatermarksWithIdleness parity): windowed append-mode
    output covers the active stream's windows; under default 'min' it
    emits nothing past the idle source's old watermark."""
    from reshape_on_flink_spark.streaming.ops import allow_idle_sources
    from reshape_on_flink_spark.streaming.source import chunked_replay

    ev = tables["events"]
    cols = ["ts", "user_id", "value"]
    split_ts = ev.selectExpr("percentile(cast(ts as double), 0.2) p").collect()[0]["p"]
    old = ev.where(F.col("ts").cast("double") <= split_ts).select(cols)
    recent = ev.where(F.col("ts").cast("double") > split_ts).select(cols)

    def run(policy: str, tag: str):
        spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", policy)
        try:
            s_idle = chunked_replay(spark, old, os.path.join(tmp_dir, f"i_{tag}"), n_chunks=1)
            s_live = chunked_replay(spark, recent, os.path.join(tmp_dir, f"l_{tag}"), n_chunks=2)
            unioned = s_idle.withWatermark("ts", "1 minute").unionByName(
                s_live.withWatermark("ts", "1 minute")
            )
            agg = unioned.groupBy(F.window("ts", "1 hour")).agg(F.count("*").alias("n"))
            return run_to_memory(spark, agg, f"idle_{tag}", tmp_dir, mode="append").count()
        finally:
            spark.conf.unset("spark.sql.streaming.multipleWatermarkPolicy")

    allow_idle_sources(spark)  # smoke the helper
    spark.conf.unset("spark.sql.streaming.multipleWatermarkPolicy")
    n_min, n_max = run("min", "min"), run("max", "max")
    assert n_max > n_min, (n_min, n_max)


def test_late_data_router_cross_batch_watermark(spark, tables, tmp_dir):
    """Late side output must apply the CROSS-batch watermark: a row is
    late iff its event time is older than (max event time of all prior
    batches - lateness) — verified against a driver-side simulation of
    the same 3-chunk replay."""
    from reshape_on_flink_spark.streaming.over import late_data_router
    from reshape_on_flink_spark.streaming.source import chunked_replay

    lateness = 3600  # 1 hour
    # scramble arrival order (deterministically) so event time is far from
    # arrival order and late rows actually occur
    scrambled = tables["events"].withColumn(
        "arrival", F.md5(F.col("event_id").cast("string"))
    )
    stream = chunked_replay(
        spark, scrambled, os.path.join(tmp_dir, "late"), n_chunks=3, order_col="arrival"
    )
    got = {"on_time": set(), "late": set()}

    def sink(name):
        def write(df):
            got[name].update(r["event_id"] for r in df.select("event_id").collect())
        return write

    q = late_data_router(
        stream, sink("on_time"), sink("late"),
        os.path.join(tmp_dir, "late_ckpt"), lateness_seconds=lateness,
    )
    q.awaitTermination(120)

    # simulate the watermark contract over the ACTUAL replayed chunks (the
    # flattened files, in micro-batch order) — the oracle pins the routing
    # semantics, not the chunker's (approximate) boundary placement
    import pyarrow.parquet as pq

    flat = os.path.join(tmp_dir, "late", "stream")
    wm, expected = None, {"on_time": set(), "late": set()}
    for fname in sorted(os.listdir(flat)):
        tbl = pq.read_table(os.path.join(flat, fname), columns=["event_id", "ts"])
        ids = tbl.column("event_id").to_pylist()
        ts_us_list = [int(t.timestamp() * 1_000_000) for t in tbl.column("ts").to_pylist()]
        for eid, ts_us in zip(ids, ts_us_list):
            is_late = wm is not None and ts_us < wm - lateness * 1_000_000
            expected["late" if is_late else "on_time"].add(eid)
        if ts_us_list:
            wm = max(wm or 0, max(ts_us_list))
    assert got == expected
    assert expected["late"], "replay should produce late rows"


def test_cumulate_works_on_streams(spark, tables, tmp_dir):
    """CUMULATE is pure expressions (explode + arithmetic), so the same
    operator must run unchanged on a streaming frame and agree with the
    batch computation (stream-batch unification)."""
    from reshape_on_flink_spark.operators.windows import cumulate
    from reshape_on_flink_spark.streaming.source import chunked_replay

    stream = chunked_replay(spark, tables["events"], os.path.join(tmp_dir, "cum"), n_chunks=3)
    sliced = cumulate(stream, "ts", max_size="1 hour", step="15 minutes")
    agg = sliced.groupBy("window_start", "window_end").agg(F.count("*").alias("n"))
    got = run_to_memory(spark, agg, "cum_out", tmp_dir, mode="complete")
    expected = (
        cumulate(tables["events"], "ts", max_size="1 hour", step="15 minutes")
        .groupBy("window_start", "window_end")
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_interval_join_left_outer_stream_matches_batch(spark, tables, events_stream_factory, tmp_dir):
    """Outer stream-stream interval join: unmatched views emit with null
    purchase ids once closed by the watermark; final set == batch outer
    join (stream-batch unification)."""
    from reshape_on_flink_spark.streaming.ops import interval_join_views_purchases

    sdf = interval_join_views_purchases(events_stream_factory("ivlo"), how="left_outer")
    got = {
        (r["view_id"], r["purchase_id"])
        for r in run_to_memory(spark, sdf, "ivlo_out", tmp_dir, mode="append").collect()
    }
    expected = {
        (r["view_id"], r["purchase_id"])
        for r in interval_join_views_purchases(tables["events"], how="left_outer").collect()
    }
    # matched rows must agree exactly; outer (null) rows emit only once
    # the watermark closes the view's interval, so views near stream end
    # legitimately stay pending — streaming outer rows are a subset
    assert {p for p in got if p[1] is not None} == {p for p in expected if p[1] is not None}
    got_outer = {v for v, p in got if p is None}
    exp_outer = {v for v, p in expected if p is None}
    assert got_outer <= exp_outer
    assert got_outer, "watermark should have closed some unmatched views"


def test_stateful_ops_run_on_rocksdb_backend(spark, tables, tmp_dir):
    """State-backend parity (reference flink-state-backends/rocksdb): the
    same stateful operator must run unchanged on Spark's RocksDB state
    store provider and produce identical results."""
    from reshape_on_flink_spark.streaming.ops import dedup_keep_last
    from reshape_on_flink_spark.streaming.source import chunked_replay

    provider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    saved = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    try:
        stream = chunked_replay(spark, tables["events"], os.path.join(tmp_dir, "rdb"), n_chunks=3)
        sdf = dedup_keep_last(stream, ["user_id"])
        out = run_to_memory(spark, sdf, "rdb_out", tmp_dir, mode="update")
        final = {}
        for r in out.collect():
            cur = final.get(r["user_id"])
            key = (r["ts"], r["event_id"])
            if cur is None or key > cur:
                final[r["user_id"]] = key
        expected = {
            r["user_id"]: (r["ts"], r["event_id"])
            for r in tables["events"]
            .groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id")).alias("m"))
            .select("user_id", F.col("m.ts").alias("ts"), F.col("m.event_id").alias("event_id"))
            .collect()
        }
        assert final == expected
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", saved)


def test_checkpoint_restart_recovers_state(spark, tables, tmp_dir):
    """Kill a stateful streaming aggregation mid-stream and restart from
    the same checkpoint: the recovered query must converge to exactly the
    batch result (no lost or double-counted state)."""
    import time

    from reshape_on_flink_spark.streaming.source import chunked_replay

    ckpt = os.path.join(tmp_dir, "ckpt_recover")
    sink_dir = os.path.join(tmp_dir, "recover_out")

    def start():
        stream = chunked_replay(
            spark, tables["events"], os.path.join(tmp_dir, "recover"), n_chunks=6
        )
        agg = stream.groupBy("user_id").agg(
            F.count("*").alias("n"), F.sum(F.col("value").cast("decimal(18,2)")).alias("s")
        )

        def write(df, batch_id):
            df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(sink_dir)

        return (
            agg.writeStream.foreachBatch(write)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    # run 1: stop as soon as at least one micro-batch committed
    q1 = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in (q1.recentProgress or [])):
            break
        time.sleep(0.2)
    q1.stop()
    q1.awaitTermination(60)

    # run 2: same checkpoint, run to completion
    q2 = start()
    q2.awaitTermination(120)

    final = {}
    rows = sorted(
        spark.read.parquet(sink_dir).collect(), key=lambda r: (r["batch_id"], r["n"])
    )
    for r in rows:  # update mode: later batch (or larger n) supersedes
        final[r["user_id"]] = (r["n"], float(r["s"]))
    expected = {
        r["user_id"]: (r["n"], float(r["s"]))
        for r in tables["events"]
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum(F.col("value").cast("decimal(18,2)")).alias("s"))
        .collect()
    }
    assert final == expected


def test_temporal_sort_emits_event_time_order(spark, tmp_dir):
    """Streaming temporal sort (RowTimeSortOperator analog): replaying a
    jittered-order stream with delay >= actual out-of-orderness must emit
    exactly the batch ORDER BY ts sequence, watermark-gated — the tail
    newer than (final watermark - delay) stays pending."""
    from reshape_on_flink_spark.streaming.over import temporal_sort
    from reshape_on_flink_spark.streaming.source import chunked_replay

    n, jitter, delay = 300, 7, 30
    df = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        # deterministic arrival jitter of up to `jitter` positions
        (F.col("id") + F.pmod(F.hash("id"), F.lit(2 * jitter + 1)) - jitter).alias("arr"),
    )
    stream = chunked_replay(
        spark, df, os.path.join(tmp_dir, "tsort"), n_chunks=5, order_col="arr"
    )
    emitted: list[list[int]] = []

    def sink(ready):
        emitted.append([r["event_id"] for r in ready.collect()])

    q = temporal_sort(
        stream, sink,
        os.path.join(tmp_dir, "tsort_ckpt"),
        os.path.join(tmp_dir, "tsort_pending"),
        ts_col="ts", tiebreak=["event_id"], delay_seconds=delay,
    )
    q.awaitTermination(120)

    flat = [e for chunk in emitted for e in chunk]
    # jitter (7 rows ~ 7 s) < delay (30 s): emission must be the exact
    # event-time order, i.e. the sorted prefix below final_wm - delay
    assert flat == sorted(flat), "temporal sort emitted out of event-time order"
    # the stream replay ends with watermark = max ts = base + n - 1; the
    # last `delay` seconds stay pending (never emitted), everything else is
    assert flat == list(range(n - delay)), (len(flat), flat[-5:])


def test_temporal_sort_watermark_survives_restart(spark, tmp_dir):
    """The persisted watermark must carry across a query restart: a
    second run over newer chunks resumes the same ordering contract."""
    from reshape_on_flink_spark.streaming.over import temporal_sort
    from reshape_on_flink_spark.streaming.source import chunked_replay

    base_ts = 1_700_000_000
    pending = os.path.join(tmp_dir, "tsr_pending")
    emitted: list[int] = []

    def sink(ready):
        emitted.extend(r["event_id"] for r in ready.collect())

    def run(ids, tag):
        df = spark.createDataFrame(
            [(i,) for i in ids], "event_id bigint"
        ).select(
            "event_id",
            F.timestamp_seconds(F.lit(base_ts) + F.col("event_id")).alias("ts"),
        )
        stream = chunked_replay(
            spark, df, os.path.join(tmp_dir, f"tsr_{tag}"), n_chunks=2,
            order_col="event_id",
        )
        q = temporal_sort(
            stream, sink, os.path.join(tmp_dir, f"tsr_ckpt_{tag}"), pending,
            ts_col="ts", tiebreak=["event_id"], delay_seconds=0,
        )
        q.awaitTermination(120)

    run(range(0, 100), "a")
    wm_after_a = len(emitted)
    assert emitted == sorted(emitted) and wm_after_a > 0
    # restart with newer data: rows 100.. emit; the persisted watermark
    # (99) means a would-be duplicate of an old timestamp is late, not
    # silently re-ordered ahead of new data
    run(range(100, 200), "b")
    assert emitted == sorted(emitted)
    assert emitted[-1] == 199 - 0  # delay 0: everything emitted by stream end


def test_temporal_sort_replayed_batch_is_idempotent(spark, tmp_dir):
    """Crash-window contract: after the pointer commit, Spark may still
    replay the same batch (crash before the offset commit). The replayed
    call must be a no-op — no duplicate emission, no double-counted
    pending rows — while a NEW query (different checkpoint) restarting
    at batch 0 must keep processing."""
    from reshape_on_flink_spark.streaming.over import temporal_sort_step

    pending = os.path.join(tmp_dir, "tsi_pending")
    emitted: list[int] = []

    def sink(ready):
        emitted.extend(r["event_id"] for r in ready.collect())

    def batch(ids):
        return spark.createDataFrame([(i,) for i in ids], "event_id bigint").select(
            "event_id", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("event_id")).alias("ts")
        )

    ck = os.path.join(tmp_dir, "tsi_ckpt")
    step = temporal_sort_step(sink, ck, pending, ts_col="ts", tiebreak=["event_id"], delay_seconds=5)
    step(batch(range(0, 20)), 0)
    after_first = list(emitted)
    assert after_first == list(range(0, 15))  # wm=19, delay 5 -> 0..14 emit
    # replay of the committed batch 0: must be skipped entirely
    step(batch(range(0, 20)), 0)
    assert emitted == after_first
    # next batch drains the rest up to the new watermark
    step(batch(range(20, 30)), 1)
    assert emitted == list(range(0, 25))
    # a NEW query incarnation (different checkpoint) restarts ids at 0 —
    # the persisted watermark and buffer must carry over, not be skipped
    step2 = temporal_sort_step(
        sink, os.path.join(tmp_dir, "tsi_ckpt2"), pending,
        ts_col="ts", tiebreak=["event_id"], delay_seconds=5,
    )
    step2(batch(range(30, 40)), 0)
    assert emitted == list(range(0, 35))


def test_chunk_documents_stream_matches_batch(spark, tables, tmp_dir):
    """Context-window chunking is map-only, so it must run unchanged on a
    document stream (append mode, no state) and agree with the batch
    result — the corpus-assembly path is streaming-safe by construction."""
    from reshape_on_flink_spark.llm.text import chunk_documents

    from reshape_on_flink_spark.streaming.source import chunked_replay

    docs = tables["documents"]
    stream = chunked_replay(
        spark, docs, os.path.join(tmp_dir, "docs_replay"), n_chunks=3, order_col="doc_id"
    )
    got = run_to_memory(spark, chunk_documents(stream), "chunk_stream_out", tmp_dir, mode="append")
    assert_same_rows(got, chunk_documents(docs))


def test_hll_registers_stream_matches_batch(spark, tables, events_stream_factory, tmp_dir):
    """The HLL register table is a single MAX aggregation, so it runs
    directly as streaming state (complete mode) and must converge to the
    batch registers — approximate distinct-users over an unbounded
    stream with <=1024 rows of state per group. (The estimate is a
    stateless derivation on emit; chained-aggregation limits don't
    apply to it.)"""
    from reshape_on_flink_spark.operators.sketches import hll_registers

    stream = events_stream_factory("hllregs")
    sdf = hll_registers(stream, ["event_type"], "user_id")
    got = run_to_memory(spark, sdf, "hll_regs_out", tmp_dir, mode="complete")
    assert_same_rows(got, hll_registers(tables["events"], ["event_type"], "user_id"))


def test_cms_sketch_stream_matches_batch(spark, tables, events_stream_factory, tmp_dir):
    """The CMS grid is one SUM aggregation — streaming state directly;
    must converge to the batch sketch over the events replay."""
    from reshape_on_flink_spark.operators.sketches import cms_sketch

    stream = events_stream_factory("cmsgrid")
    got = run_to_memory(
        spark, cms_sketch(stream, "user_id"), "cms_grid_out", tmp_dir, mode="complete"
    )
    assert_same_rows(got, cms_sketch(tables["events"], "user_id"))


def test_queryable_state_matches_emitted_aggregates(spark, tables, events_stream_factory, tmp_dir):
    """query_state must see exactly the keyed state the streaming agg
    holds — per-key counts equal to the batch aggregation — and
    state_metadata must locate the store."""
    from reshape_on_flink_spark.streaming.ops import query_state, state_metadata

    stream = events_stream_factory("qstate")
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ckpt = os.path.join(tmp_dir, "ckpt_qstate")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("qstate_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    meta = state_metadata(spark, ckpt).collect()
    assert any(r["operatorName"] == "stateStoreSave" for r in meta)

    got = query_state(spark, ckpt).select(F.col("event_type"), F.col("count"))
    want = tables["events"].groupBy("event_type").agg(F.count(F.lit(1)).alias("count"))
    assert_same_rows(got, want)

    # time travel: batch 0 state holds only the first replay chunk
    first = query_state(spark, ckpt, batch_id=0).agg(F.sum("count")).first()[0]
    assert 0 < first < tables["events"].count()

def test_state_ttl_expires_idle_keys(spark, tmp_dir):
    """StateTtlConfig analog: a key idle past its TTL is physically
    dropped (NeverReturnExpired) and restarts from zero on its next
    event; without a TTL the same feed accumulates. ProcessingTimeTimeout
    queries run empty micro-batches to fire timeouts, so the test polls
    the sink rather than processAllAvailable (which never idles)."""
    import time

    from reshape_on_flink_spark.streaming.ops import StateTtl, streaming_topn_counts

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    schema = "user_id long, event_id long, ts timestamp, event_type string, value double"

    def feeder(src, stage):
        os.makedirs(src, exist_ok=True)

        def feed(name, rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(stage)
            part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
            os.rename(os.path.join(stage, part), os.path.join(src, name))

        return feed

    def wait_rows(table, pred, timeout=90):
        end = time.time() + timeout
        while time.time() < end:
            rows = [(r["user_id"], r["n"]) for r in spark.table(table).collect()]
            if pred(rows):
                return rows
            time.sleep(0.3)
        raise AssertionError(f"timed out; last rows: {rows}")

    src = os.path.join(tmp_dir, "src")
    feed = feeder(src, os.path.join(tmp_dir, "stage"))
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = streaming_topn_counts(stream, ttl=StateTtl(1500))
    feed("b1.parquet", [(1, 1, t0, "view", 1.0), (1, 2, t0, "view", 1.0)])
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("ttl_out")
        .option("checkpointLocation", os.path.join(tmp_dir, "ckpt"))
        .start()
    )
    try:
        wait_rows("ttl_out", lambda r: r == [(1, 2)])
        time.sleep(2.5)  # idle past the 1.5s TTL; empty batches fire expiry
        feed("b3.parquet", [(1, 4, t0, "view", 1.0)])
        # user 1 restarted at 1 after expiry (without TTL it would be 3)
        rows = wait_rows("ttl_out", lambda r: len(r) == 2)
    finally:
        q.stop()
    assert rows == [(1, 2), (1, 1)]

    # control: same feed pattern without TTL accumulates across the gap
    src2 = os.path.join(tmp_dir, "src2")
    feed2 = feeder(src2, os.path.join(tmp_dir, "stage2"))
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src2)
    )
    out2 = streaming_topn_counts(stream2)
    feed2("b1.parquet", [(1, 1, t0, "view", 1.0), (1, 2, t0, "view", 1.0)])
    q2 = (
        out2.writeStream.outputMode("update")
        .format("memory")
        .queryName("ttl_ctrl")
        .option("checkpointLocation", os.path.join(tmp_dir, "ckpt2"))
        .start()
    )
    try:
        q2.processAllAvailable()
        time.sleep(2.5)
        feed2("b3.parquet", [(1, 4, t0, "view", 1.0)])
        q2.processAllAvailable()
        rows2 = [(r["user_id"], r["n"]) for r in spark.table("ttl_ctrl").collect()]
    finally:
        q2.stop()
    assert rows2 == [(1, 2), (1, 3)]


def test_streaming_passage_dedup_reassembles_like_batch(spark, tables, tmp_dir):
    """The full streaming passage-dedup + reassembly pipeline (stateful
    claim + foreachBatch reassembly) == batch passage_dedup exactly,
    given doc-ordered replay (first arrival == global minimum;
    within-batch ties resolved by the same (doc_id, block_idx) rule)."""
    from reshape_on_flink_spark.llm.dedup import passage_dedup
    from reshape_on_flink_spark.streaming.ops import streaming_passage_dedup_query
    from reshape_on_flink_spark.streaming.source import chunked_replay

    docs = tables["documents"].select("doc_id", "text")
    stream = chunked_replay(
        spark, docs, os.path.join(tmp_dir, "passages"), n_chunks=3, order_col="doc_id"
    )
    out: dict = {}

    def sink(assembled, epoch_id):
        for r in assembled.collect():
            assert r["doc_id"] not in out  # append-only: each doc once
            out[r["doc_id"]] = (r["n_total"], r["n_kept"], r["clean_text"])

    q = streaming_passage_dedup_query(stream, os.path.join(tmp_dir, "ckpt"), sink)
    q.awaitTermination(120)
    expected = {
        r["doc_id"]: (r["n_total"], r["n_kept"], r["clean_text"])
        for r in passage_dedup(docs).collect()
    }
    assert out == expected and len(expected) > 0


def test_count_tumble_batch_equals_streaming_trigger(spark, tables):
    """operators/windows.count_tumble (batch) == streaming
    count_window_agg on the same data: complete windows only, same
    sums — the CountTrigger stream==batch pin."""
    import os
    import shutil

    from reshape_on_flink_spark.operators.windows import count_tumble
    from reshape_on_flink_spark.streaming.triggers import count_window_agg
    from reshape_on_flink_spark.streaming.source import chunked_replay
    from tests.conftest import TMP

    ev = tables["events"].select("user_id", "event_id", "value")
    batch = {
        (r["user_id"], r["window_seq"], round(r["sum_value"], 6))
        for r in count_tumble(ev, n=5).collect()
    }
    assert batch  # non-degenerate

    d = os.path.join(TMP, "count_tumble_eq")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    stream = chunked_replay(spark, ev, os.path.join(d, "src"), n_chunks=3, order_col="event_id")
    sdf = count_window_agg(stream, n=5)
    got = run_to_memory(spark, sdf, "count_tumble_out", d, mode="append")
    streaming = {
        (r["user_id"], r["window_seq"], round(r["sum_value"], 6))
        for r in got.collect()
    }
    assert streaming == batch
    shutil.rmtree(d, ignore_errors=True)
