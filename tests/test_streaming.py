"""Streaming-core tests: bounded parquet replayed as a stream, run to
completion (mostly through the bounded-stream driver, sources.stream.run_bounded),
results compared against the identical batch computation (the reference's
ITCase strategy, SURVEY.md §5 layer 4)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from flink_1_6_0_spark.plans import retraction
from flink_1_6_0_spark.queries import T
from flink_1_6_0_spark.sources.stream import events_stream, run_bounded, to_parquet_sink
from flink_1_6_0_spark.streaming.dedup import dedup_stream
from flink_1_6_0_spark.streaming.group_agg import continuous_group_agg
from flink_1_6_0_spark.streaming.interval_join import stream_interval_join
from tests.helpers import normalize


def test_tumble_window_agg_stream_matches_batch(spark, sf_dir):
    stream = events_stream(spark, sf_dir).withWatermark("ts", "1 minute")
    agg = stream.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv")
    )
    got, _ = run_bounded(
        agg.select(F.col("window.start").alias("ws"), "event_type", "n", "sv"), "complete"
    )
    got = got.toPandas()

    batch = (
        T(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv"))
        .select(F.col("window.start").alias("ws"), "event_type", "n", "sv")
        .toPandas()
    )
    assert normalize(got) == normalize(batch)


def test_continuous_group_agg_update_mode(spark, sf_dir):
    stream = events_stream(spark, sf_dir)
    agg = continuous_group_agg(stream, ["event_type"], [F.count("*").alias("n")])
    assert retraction.infer_output_mode(agg, retraction.RETRACT) == "update"
    out, _ = run_bounded(agg, "update")
    got = out.groupBy("event_type").agg(F.max("n").alias("n")).toPandas()
    batch = T(spark, sf_dir, "events").groupBy("event_type").agg(F.count("*").alias("n")).toPandas()
    assert normalize(got) == normalize(batch)


def test_stream_dedup(spark, sf_dir):
    stream = events_stream(spark, sf_dir)
    out, _ = run_bounded(dedup_stream(stream.select("user_id"), ["user_id"]), "append")
    got = out.count()
    expect = T(spark, sf_dir, "events").select("user_id").distinct().count()
    assert got == expect


def test_stream_interval_join_matches_batch(spark, sf_dir):
    ev = events_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    buys = ev.filter(F.col("event_type") == "purchase").select(
        *[F.col(c).alias(f"b_{c}") for c in ev.columns]
    )
    joined = stream_interval_join(
        clicks,
        buys,
        [("user_id", "b_user_id")],
        "ts",
        "b_ts",
        "0 seconds",
        "30 minutes",
        left_delay="1 minute",
        right_delay="1 minute",
    ).select(F.col("event_id").alias("click_id"), F.col("b_event_id").alias("purchase_id"))
    got = run_bounded(joined, "append")[0].toPandas()

    from flink_1_6_0_spark.registry import get

    batch = get("interval_join_events").fn(spark, sf_dir).select("click_id", "purchase_id").toPandas()
    assert normalize(got) == normalize(batch)


def test_streaming_parquet_sink_roundtrip(spark, sf_dir, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = events_stream(spark, sf_dir).select("event_id", "user_id")
    q = to_parquet_sink(stream, out, ckpt)
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(out).count() == T(spark, sf_dir, "events").count()


def test_output_mode_chooser(spark, sf_dir):
    stream = events_stream(spark, sf_dir)
    # pure selection → append on any sink
    sel = stream.select("event_id")
    assert retraction.infer_output_mode(sel, retraction.APPEND_ONLY) == "append"
    # windowed agg with watermark → append-capable (finalized by watermark)
    win = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    assert retraction.infer_output_mode(win, retraction.APPEND_ONLY) == "append"
    # unbounded agg on an append-only sink → unsatisfiable (Flink TableException analog)
    agg = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    with pytest.raises(ValueError):
        retraction.infer_output_mode(agg, retraction.APPEND_ONLY)
    assert retraction.infer_output_mode(agg, retraction.UPSERT) == "update"


def test_proctime_attribute(spark, sf_dir):
    from flink_1_6_0_spark.plans.time_attributes import with_proctime

    df = with_proctime(T(spark, sf_dir, "events").select("event_id"))
    row = df.limit(1).collect()[0]
    assert row["proctime"] is not None


def test_nonwindow_outer_join_foreach_batch(spark, tmp_path):
    """Exact Flink NonWindowOuterJoin semantics via incremental recompute:
    final emitted result equals the batch full outer join."""
    import pyspark.sql.functions as F
    from flink_1_6_0_spark.streaming.nonwindow_join import foreach_batch_outer_join

    l_src, r_src = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, lv string").repartition(1).write.parquet(l_src)
    spark.createDataFrame([(2, "x"), (3, "y")], "k long, rv string").repartition(1).write.parquet(r_src)

    from flink_1_6_0_spark.sources.stream import read_parquet_stream

    results = {}

    def emit(df, epoch):
        results["last"] = [tuple(r) for r in df.select("k", "lv", "rv").orderBy("k", "lv", "rv").collect()]

    ls = read_parquet_stream(spark, l_src)
    rs = read_parquet_stream(spark, r_src).withColumnRenamed("k", "rk")
    q = foreach_batch_outer_join(
        ls,
        rs,
        lambda a, b: a.join(b, a.k == b.rk, "full").select(
            F.coalesce("k", "rk").alias("k"), "lv", "rv"
        ),
        str(tmp_path / "lstate"),
        str(tmp_path / "rstate"),
        emit,
        str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert results["last"] == [(1, "a", None), (2, "b", "x"), (3, None, "y")]


def test_bounded_outer_join_stream(spark, sf_dir):
    """Spark-native outer join with explicit bound (idle-state-retention
    analog): left outer click→purchase; unmatched clicks emit null-padded."""
    import pyspark.sql.functions as F
    from flink_1_6_0_spark.streaming.nonwindow_join import bounded_outer_join

    ev = events_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    buys = ev.filter(F.col("event_type") == "purchase").select(
        *[F.col(c).alias(f"b_{c}") for c in ev.columns]
    )
    joined = bounded_outer_join(
        clicks, buys, [("user_id", "b_user_id")], "ts", "b_ts", bound="30 minutes"
    ).select("event_id", "b_event_id")
    out, _ = run_bounded(joined, "append")
    got = out.agg(F.count("*").alias("c"), F.count("b_event_id").alias("m")).collect()[0]
    # every click appears at least once; some have null purchase (outer padding)
    assert got["c"] >= got["m"] and got["c"] > 0


def test_stream_sort_restriction_and_emission(spark, sf_dir, tmp_path):
    """Flink's stream ORDER BY restriction (time-ascending leading key only,
    DataStreamSortRule.scala:71) + ordered emission via foreachBatch."""
    import pytest as _pytest

    from flink_1_6_0_spark.streaming.sort import (
        StreamSortError,
        sorted_stream_sink,
        validate_stream_sort,
    )

    with _pytest.raises(StreamSortError):
        validate_stream_sort(["value", "ts"], "ts")
    validate_stream_sort(["ts", "event_id"], "ts")

    collected = []
    stream = events_stream(spark, sf_dir).withWatermark("ts", "1 minute")
    q = sorted_stream_sink(
        stream.select("ts", "event_id"),
        "ts",
        ["event_id"],
        lambda df, epoch: collected.extend([r["event_id"] for r in df.collect()]),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    want = [
        r["event_id"]
        for r in T(spark, sf_dir, "events").orderBy("ts", "event_id").select("event_id").collect()
    ]
    assert collected == want


def test_queryable_state(spark, sf_dir):
    """asQueryableState (KeyedStream.java:1004): point lookups into the live
    aggregate while the stream runs."""
    from flink_1_6_0_spark.streaming.queryable_state import QueryableState

    agg = (
        events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    qs = QueryableState(agg, "qstate_test")
    try:
        qs.query.processAllAvailable()
        rows = qs.lookup("event_type", "purchase")
        want = (
            T(spark, sf_dir, "events").filter(F.col("event_type") == "purchase").count()
        )
        assert len(rows) == 1 and rows[0]["n"] == want
    finally:
        qs.stop()


def test_rocksdb_state_backend(spark, sf_dir, tmp_path):
    """setStateBackend(rocksdb) (StreamExecutionEnvironment.java:428;
    flink-statebackend-rocksdb): the streaming agg below runs its keyed state
    in Spark's RocksDB state store with changelog checkpointing enabled."""
    from flink_1_6_0_spark.session import set_state_backend

    set_state_backend(spark, "rocksdb")
    try:
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass").endswith(
                "RocksDBStateStoreProvider"
            )
        )
        agg = (
            events_stream(spark, sf_dir)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
        )
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("rocksdb_agg")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                (r["event_type"], r["n"])
                for r in spark.table("rocksdb_agg").collect()
            }
            want = {
                (r["event_type"], r["cnt"])
                for r in T(spark, sf_dir, "events")
                .groupBy("event_type")
                .agg(F.count("*").alias("cnt"))
                .collect()
            }
            assert got == want
        finally:
            q.stop()
    finally:
        set_state_backend(spark, "memory")


def test_state_backend_unknown_raises(spark):
    import pytest as _pytest

    from flink_1_6_0_spark.session import set_state_backend

    with _pytest.raises(ValueError):
        set_state_backend(spark, "cassandra")


def test_stream_count_window(spark, tmp_path):
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.count_window import stream_count_window

    # key 1: 5 events (values 1..5) → windows of 2: (1+2), (3+4), tail 5 buffered
    # key 2: 2 events → one window (10+20)
    rows = [(1, i, float(i)) for i in range(1, 6)] + [(2, 10, 10.0), (2, 11, 20.0)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, v double").withColumn(
        "ts", F.timestamp_seconds(F.col("event_id"))
    )
    src = str(tmp_path / "cw_src")
    df.repartition(1).write.parquet(src)
    out = stream_count_window(
        read_parquet_stream(spark, src), ["user_id"], "ts", "event_id", "v", size=2
    )
    got = {tuple(r) for r in run_bounded(out, "append")[0].collect()}
    assert got == {(1, 0, 2, 3.0), (1, 1, 2, 7.0), (2, 0, 2, 30.0)}


def test_broadcast_state_rules_update_between_batches(spark, tmp_path):
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.broadcast_state import broadcast_rules_join

    src = str(tmp_path / "bs_src")
    rules = str(tmp_path / "bs_rules")
    # rules v1: category a -> 1
    spark.createDataFrame([("a", 1)], "cat string, factor int").write.parquet(rules)
    spark.createDataFrame([(1, "a")], "event_id long, cat string").repartition(1).write.parquet(src)

    got: list[tuple] = []

    def sink(df, epoch_id):
        got.extend((r.event_id, r.cat, r.factor) for r in df.collect())

    stream = read_parquet_stream(spark, src)
    q = broadcast_rules_join(stream, spark, rules, "cat", sink)
    try:
        q.processAllAvailable()
        # rules v2: a -> 2 (control-stream update); new data arrives after
        spark.createDataFrame([("a", 2)], "cat string, factor int").write.mode(
            "overwrite"
        ).parquet(rules)
        spark.createDataFrame([(2, "a")], "event_id long, cat string").repartition(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    assert (1, "a", 1) in got and (2, "a", 2) in got


def test_stream_delta_window(spark, tmp_path):
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.count_window import stream_delta_window

    # values 1.0, 1.1, 1.2, 2.5: |2.5-1.0| > 1.0 fires with the two buffered
    rows = [(1, 1, 1.0), (1, 2, 1.1), (1, 3, 1.2), (1, 4, 2.5)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, v double").withColumn(
        "ts", F.timestamp_seconds(F.col("event_id"))
    )
    src = str(tmp_path / "dw_src")
    df.repartition(1).write.parquet(src)
    out = stream_delta_window(
        read_parquet_stream(spark, src), ["user_id"], "ts", "event_id", "v", threshold=1.0
    )
    got = {tuple(r) for r in run_bounded(out, "append")[0].collect()}
    assert got == {(1, 4, 2, 2.3)}


def test_stream_evicted_window_count_and_time(spark, tmp_path):
    """Streaming evictors (CountEvictor.java:28, TimeEvictor.java:32) over
    event-time tumbling windows: the event-time timer fires ripe windows,
    the evictor trims the buffer BEFORE the aggregate, the window holding
    the max-ts sentinel never fires (watermark never passes its end)."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.evictors import stream_evicted_window

    # key 1 window [0,600): 6 events vals 1..6 → CountEvictor(3) keeps 4,5,6
    # key 1 window [600,1200): 1 event  → kept whole
    # key 2 window [0,600): ts 100/130/160 → TimeEvictor(60s) boundary case
    # sentinel ts 5000 per key advances the watermark past 1200
    rows = (
        [(1, i, float(i), 10 * i) for i in range(1, 7)]
        + [(1, 100, 50.0, 700), (1, 999, 0.0, 5000)]
        + [(2, 201, 1.0, 100), (2, 202, 2.0, 130), (2, 203, 4.0, 160), (2, 998, 0.0, 5000)]
    )
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, v double, sec long"
    ).withColumn("ts", F.timestamp_seconds(F.col("sec"))).drop("sec")
    src = str(tmp_path / "ev_src")
    df.repartition(1).write.parquet(src)

    stream = read_parquet_stream(spark, src).withWatermark("ts", "0 seconds")
    out_count = stream_evicted_window(
        stream, ["user_id"], "ts", "event_id", "v", 600, keep_last_n=3
    )
    got = {
        (r["user_id"], int(r["w_start"].timestamp()), r["n_kept"], r["sum_kept"])
        for r in run_bounded(out_count, "append")[0].collect()
    }
    assert got == {(1, 0, 3, 15.0), (1, 600, 1, 50.0), (2, 0, 3, 7.0)}

    out_time = stream_evicted_window(
        stream, ["user_id"], "ts", "event_id", "v", 600, keep_last_seconds=60
    )
    got = {
        (r["user_id"], int(r["w_start"].timestamp()), r["n_kept"], r["sum_kept"])
        for r in run_bounded(out_time, "append")[0].collect()
    }
    # key 2: newest 160, horizon 100 — the ts=100 element is EVICTED (strict >)
    assert (2, 0, 2, 6.0) in got
    # key 1 window 0: events every 10 s, newest 60, horizon 0 → all 6 kept
    assert (1, 0, 6, 21.0) in got


def test_stream_continuous_and_purging_trigger(spark, tmp_path):
    """ContinuousEventTimeTrigger.java:32 (early fires every interval of
    event time, running pane) and PurgingTrigger.java:33 (each fire clears
    the pane → deltas). Sentinel events push the watermark past the window
    end; the sentinel's own window never fires."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.triggers import stream_continuous_window

    rows = [
        (1, 1.0, 50), (1, 2.0, 150), (1, 4.0, 250), (1, 8.0, 450), (1, 0.0, 5000),
        (2, 10.0, 100), (2, 20.0, 500), (2, 0.0, 5001),
    ]
    df = spark.createDataFrame(rows, "user_id long, v double, sec long").withColumn(
        "ts", F.timestamp_seconds(F.col("sec"))
    ).drop("sec")
    src = str(tmp_path / "ct_src")
    df.repartition(1).write.parquet(src)
    stream = read_parquet_stream(spark, src).withWatermark("ts", "0 seconds")

    def run(purging):
        out = stream_continuous_window(
            stream, ["user_id"], "ts", "v", 600, 200, purging=purging
        )
        return {
            (r["user_id"], int(r["w_start"].timestamp()), int(r["fire_ts"].timestamp()),
             r["n"], r["sum_v"])
            for r in run_bounded(out, "append")[0].collect()
        }

    got = run(False)
    assert got == {
        (1, 0, 200, 2, 3.0), (1, 0, 400, 3, 7.0), (1, 0, 600, 4, 15.0),
        (2, 0, 200, 1, 10.0), (2, 0, 400, 1, 10.0), (2, 0, 600, 2, 30.0),
    }
    got = run(True)
    assert got == {
        (1, 0, 200, 2, 3.0), (1, 0, 400, 1, 4.0), (1, 0, 600, 1, 8.0),
        (2, 0, 200, 1, 10.0), (2, 0, 600, 1, 20.0),
    }


def test_continuous_trigger_straggler_across_batches(spark, tmp_path):
    """End-to-end straggler semantics through applyInPandasWithState: a
    cross-batch element below an already-fired boundary is by definition
    LATE (a boundary fires only once the watermark passed it, and the
    watermark never regresses), and Spark's stateful operator drops
    sub-watermark input before the UDF — matching the reference's
    zero-allowed-lateness default. So e2e the straggler vanishes cleanly:
    no phantom catch-up rows at its passed boundary (r7 kernel change), no
    duplicate cumulative rows, later fires unaffected. (The kernel-level
    fold-into-next-fire guard — test_continuous_trigger_straggler_folds_
    into_next_fire — covers intra-batch arrivals and callers without
    Spark's late filter.)"""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.triggers import stream_continuous_window

    batches = [
        [(1, 2.0, 150), (1, 3.0, 450)],   # wm 0: no fires, state buffers
        [(1, 7.0, 550)],                  # wm 450: fires 200 (2.0); 400 empty
        [(1, 5.0, 100), (9, 0.0, 5000)],  # wm 550: the 100s row is LATE
                                          # (below the fired 200/400) — dropped
        [(9, 0.0, 6000)],                 # wm 5000: fires 600 without it
    ]
    src = str(tmp_path / "strag_src")
    for rows in batches:
        spark.createDataFrame(rows, "user_id long, v double, sec long").withColumn(
            "ts", F.timestamp_seconds(F.col("sec"))
        ).drop("sec").repartition(1).write.mode("append").parquet(src)

    def run(purging):
        stream = read_parquet_stream(spark, src).withWatermark("ts", "0 seconds")
        out = stream_continuous_window(stream, ["user_id"], "ts", "v", 600, 200, purging=purging)
        return {
            (r["user_id"], int(r["w_start"].timestamp()), int(r["fire_ts"].timestamp()),
             r["n"], r["sum_v"])
            for r in run_bounded(out, "append")[0].collect()
        }

    # purging: the late straggler is dropped by the watermark filter — no
    # phantom row at its passed boundary 200, and the 600 delta holds only
    # the on-time 450+550 rows
    assert run(True) == {
        (1, 0, 200, 1, 2.0),
        (1, 0, 600, 2, 10.0),
        (9, 4800, 5200, 1, 0.0),
    }
    # accumulating: no duplicate (w, 200) row; cumulative panes contain only
    # on-time elements
    assert run(False) == {
        (1, 0, 200, 1, 2.0),
        (1, 0, 400, 1, 2.0),
        (1, 0, 600, 3, 12.0),
        (9, 4800, 5200, 1, 0.0),
        (9, 4800, 5400, 1, 0.0),  # cumulative re-fire at the window end
    }


def test_iterate_stream_workaround(spark, tmp_path):
    """DataStream.iterate() (DataStream.java:529) workaround: per-epoch
    driver-side fixpoint — the canonical 'subtract until <= 0' feedback loop.
    10 → 7 → 4 → 1 → -2 exits; 2 → -1 exits; 7 → 4 → 1 → -2 exits."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.iterate import iterate_stream

    df = spark.createDataFrame([(10,), (2,), (7,)], "v long")
    src = str(tmp_path / "it_src")
    df.repartition(1).write.parquet(src)

    emitted = []

    def emit(rows, epoch_id):
        emitted.extend(r["v"] for r in rows.collect())

    q = iterate_stream(
        read_parquet_stream(spark, src),
        step_fn=lambda d: d.withColumn("v", F.col("v") - 3),
        exit_predicate=F.col("v") <= 0,
        emit_fn=emit,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(emitted) == [-2, -2, -1]


def test_evictor_and_trigger_multibatch_invariance(spark, tmp_path):
    """Results must not depend on micro-batch boundaries: replaying the same
    events as three single-file batches (watermark advancing per batch,
    windows firing progressively) yields exactly the single-batch result."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.evictors import stream_evicted_window
    from flink_1_6_0_spark.streaming.triggers import stream_continuous_window

    batches = [
        [(1, 1.0, 50), (1, 2.0, 150), (2, 5.0, 90)],
        [(1, 4.0, 250), (2, 6.0, 480), (1, 8.0, 700)],
        [(1, 16.0, 1300), (2, 7.0, 1350), (1, 0.0, 5000), (2, 0.0, 5000)],
    ]
    multi = str(tmp_path / "mb_src")
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "user_id long, v double, sec long").withColumn(
            "ts", F.timestamp_seconds(F.col("sec"))
        ).drop("sec")
        df.repartition(1).write.mode("append").parquet(multi)
    single = str(tmp_path / "sb_src")
    spark.read.parquet(multi).repartition(1).write.parquet(single)

    def run(op, src):
        stream = read_parquet_stream(spark, src).withWatermark("ts", "0 seconds")
        return {tuple(r) for r in run_bounded(op(stream), "append")[0].collect()}

    # evictor needs an id col — synthesize a deterministic one from the value
    ev = lambda s: stream_evicted_window(
        s.withColumn("event_id", (F.col("v") * 10).cast("long")),
        ["user_id"], "ts", "event_id", "v", 600, keep_last_n=2,
    )
    assert run(ev, multi) == run(ev, single)

    tr = lambda s: stream_continuous_window(s, ["user_id"], "ts", "v", 600, 200, purging=True)
    assert run(tr, multi) == run(tr, single)

    tc = lambda s: stream_continuous_window(s, ["user_id"], "ts", "v", 600, 200, purging=False)
    assert run(tc, multi) == run(tc, single)


def test_parquet_sink_checkpoint_recovery_no_duplicates(spark, tmp_path):
    """Exactly-once file sink across a stop/restart (StreamingFileSink /
    TwoPhaseCommitSinkFunction contract): a checkpointed query stopped after
    draining the first files and restarted after more files arrive must
    deliver every input row exactly once — offsets resume from the
    checkpoint, committed files are never re-written."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import read_parquet_stream, to_parquet_sink

    src = str(tmp_path / "rc_src")
    out = str(tmp_path / "rc_out")
    ckpt = str(tmp_path / "rc_ckpt")

    def add_file(lo, hi):
        spark.createDataFrame([(i,) for i in range(lo, hi)], "v long").repartition(
            1
        ).write.mode("append").parquet(src)

    add_file(0, 10)
    add_file(10, 20)
    stream = read_parquet_stream(spark, src).withColumn("doubled", F.col("v") * 2)
    q = to_parquet_sink(stream, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    first = spark.read.parquet(out)
    assert first.count() == 20

    # more data arrives while the query is down; restart from the checkpoint
    add_file(20, 30)
    q = to_parquet_sink(read_parquet_stream(spark, src).withColumn("doubled", F.col("v") * 2), out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = spark.read.parquet(out)
    assert final.count() == 30  # no re-delivery of the first 20
    assert sorted(r["v"] for r in final.collect()) == list(range(30))
    assert all(r["doubled"] == 2 * r["v"] for r in final.collect())


def test_late_data_capture_engine_watermark(spark, tmp_path):
    """sideOutputLateData (WindowedStream.java:178) on the ENGINE watermark:
    a micro-batch consisting entirely of stragglers must be classified late —
    the old batch-local max(ts) proxy would wave such rows through, since the
    batch's own max is itself behind the watermark."""
    import datetime as dt
    import time

    from flink_1_6_0_spark.streaming.late_data import foreach_batch_late_capture

    def t(h, m):
        return dt.datetime(2024, 1, 1, h, m)

    src = tmp_path / "src"
    src.mkdir()
    schema = "ts timestamp, v long"
    spark.createDataFrame([(t(10, 0), 1), (t(10, 30), 2)], schema).coalesce(1).write.parquet(
        str(src / "a.parquet")
    )

    on_time_rows, late_rows = [], []
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = foreach_batch_late_capture(
        stream, "ts", "10 minutes",
        lambda b, e: on_time_rows.extend((r["ts"], r["v"]) for r in b.collect()),
        lambda b, e: late_rows.extend((r["ts"], r["v"]) for r in b.collect()),
        checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        # batch 1: no watermark yet -> everything on time (Flink MIN_VALUE watermark)
        assert sorted(v for _, v in on_time_rows) == [1, 2] and late_rows == []
        # watermark after batch 1 = 10:30 - 10min = 10:20; feed one late (10:05)
        # and one on-time (10:25) row. Batch-max proxy bound would be
        # 10:25-10:10=10:15, also flagging 10:05 — so add a third batch that is
        # ONLY stragglers, where the proxy bound (10:10-10:10=10:00) would pass
        # both rows and the engine watermark rejects both.
        spark.createDataFrame([(t(10, 5), 3), (t(10, 25), 4)], schema).coalesce(1).write.parquet(
            str(src / "b.parquet")
        )
        time.sleep(1.1)  # distinct mtime so file-source ordering is stable
        q.processAllAvailable()
        assert sorted(v for _, v in on_time_rows) == [1, 2, 4]
        assert [v for _, v in late_rows] == [3]
        spark.createDataFrame([(t(10, 5), 5), (t(10, 10), 6)], schema).coalesce(1).write.parquet(
            str(src / "c.parquet")
        )
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(v for _, v in late_rows) == [3, 5, 6]
    assert sorted(v for _, v in on_time_rows) == [1, 2, 4]


def test_iterate_stream_feedback_cross_epoch(spark, tmp_path):
    """DataStream.iterate (DataStream.java:529) with a REAL cross-epoch
    feedback edge: fed-back elements re-enter the SAME continuous query in
    later micro-batches and interleave with later external arrivals — the
    semantics the per-epoch workaround can't express."""
    import time

    import pyspark.sql.functions as F

    from flink_1_6_0_spark.streaming.iterate import iterate_stream_feedback

    src = tmp_path / "loop"
    src.mkdir()
    schema = "id long, v long"
    spark.createDataFrame([(1, 3), (2, 1)], schema).coalesce(1).write.mode("append").parquet(str(src))

    done: list[tuple[int, int, int]] = []
    epochs: set[int] = set()

    def emit(df, epoch_id):
        rows = df.collect()
        if rows:
            epochs.add(epoch_id)
            done.extend((r["id"], r["v"], epoch_id) for r in rows)

    q = iterate_stream_feedback(
        spark, str(src), schema,
        step_fn=lambda d: d.select("id", (F.col("v") - 1).alias("v")),
        exit_predicate=F.col("v") <= 0,
        emit_fn=emit,
        checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(done) < 2:
            q.processAllAvailable()
        # id=2 exits after 1 pass, id=1 after 3 passes — different epochs:
        # the element really circulated across micro-batches
        assert {(i, v) for i, v, _ in done} == {(1, 0), (2, 0)}
        assert len({e for _, _, e in done}) == 2
        # a LATER external arrival joins the running loop and circulates too
        spark.createDataFrame([(3, 2)], schema).coalesce(1).write.mode("append").parquet(str(src))
        deadline = time.time() + 60
        while time.time() < deadline and len(done) < 3:
            q.processAllAvailable()
    finally:
        q.stop()
    assert {(i, v) for i, v, _ in done} == {(1, 0), (2, 0), (3, 0)}


def test_iterate_feedback_clean_source(spark, tmp_path):
    """cleanSource='delete' retires processed feedback files after commit, so
    the source listing stays flat on a long-running loop (SCALING.md
    §feedback-file accumulation) instead of growing one file per pass."""
    import time

    import pyspark.sql.functions as F

    from flink_1_6_0_spark.streaming.iterate import iterate_stream_feedback

    src = tmp_path / "loop"
    src.mkdir()
    schema = "id long, v long"
    spark.createDataFrame([(1, 4)], schema).coalesce(1).write.mode("append").parquet(str(src))

    done: list[int] = []
    q = iterate_stream_feedback(
        spark, str(src), schema,
        step_fn=lambda d: d.select("id", (F.col("v") - 1).alias("v")),
        exit_predicate=F.col("v") <= 0,
        emit_fn=lambda df, _e: done.extend(r["id"] for r in df.collect()),
        checkpoint=str(tmp_path / "ckpt"),
        clean_source="delete",
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not done:
            q.processAllAvailable()
        assert done == [1]
        # drain one more empty cycle so the cleaner commits the tail batches
        q.processAllAvailable()
        time.sleep(1)
        q.processAllAvailable()
    finally:
        q.stop()
    # 5 files were written over the loop's lifetime (1 seed + 4 feedback
    # passes); the cleaner must have retired at least the committed prefix —
    # a growing directory means exited files are still being re-listed.
    remaining = list(src.glob("*.parquet"))
    assert len(remaining) < 5


def test_iterate_feedback_null_predicate_exits(spark, tmp_path):
    """A NULL exit_predicate row EXITS (coalesced to true) instead of being
    silently dropped by both filter branches (round-3 ADVICE)."""
    import time

    import pyspark.sql.functions as F

    from flink_1_6_0_spark.streaming.iterate import iterate_stream_feedback

    src = tmp_path / "loop"
    src.mkdir()
    schema = "id long, v long"
    # id=9's v goes 1 -> 0 -> NULL is impossible here; instead seed a NULL v
    # directly: step leaves NULL as NULL, predicate v <= 0 evaluates NULL
    spark.createDataFrame([(9, None)], schema).coalesce(1).write.mode("append").parquet(str(src))

    done: list[tuple[int, object]] = []
    q = iterate_stream_feedback(
        spark, str(src), schema,
        step_fn=lambda d: d,
        exit_predicate=F.col("v") <= 0,
        emit_fn=lambda df, _e: done.extend((r["id"], r["v"]) for r in df.collect()),
        checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and not done:
            q.processAllAvailable()
    finally:
        q.stop()
    assert done == [(9, None)]


def test_distinct_agg_idle_state_retention(spark, tmp_path):
    """distinct_agg's idle_state_retention (withIdleStateRetentionTime,
    api/queryConfig.scala:72): an expired (key, value) pair is EVICTED from
    the distinct state, so its reappearance counts AGAIN — while the
    no-retention form keeps it forever and counts it once."""
    from datetime import datetime, timezone

    from flink_1_6_0_spark.streaming.group_agg import distinct_agg

    def t(h, m=0):
        return datetime(2024, 1, 1, h, m, tzinfo=timezone.utc).replace(tzinfo=None)

    schema = "grp string, uid long, ts timestamp"
    files = [
        [("A", 1, t(0))],            # seed: (A,1) enters state
        [("B", 9, t(3))],            # watermark -> t(3)-1h = t(2): (A,1) expires
        [("A", 1, t(2, 30))],        # (A,1) reappears AFTER eviction
    ]

    def run(retention):
        src = tmp_path / f"src_{retention or 'none'}"
        src.mkdir()
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        agg = distinct_agg(
            stream, ["grp"], "uid", agg_alias="n",
            idle_state_retention=retention, ts_col="ts" if retention else None,
        )
        name = f"distinct_ttl_{retention or 'none'}".replace(" ", "_")
        q = (
            agg.writeStream.format("memory").queryName(name)
            .outputMode("complete").start()
        )
        try:
            for rows in files:
                spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(str(src))
                q.processAllAvailable()
            return {r["grp"]: r["n"] for r in spark.table(name).collect()}
        finally:
            q.stop()

    # no retention: (A,1) deduped forever -> A counted once
    assert run(None) == {"A": 1, "B": 1}
    # 1h retention: state for (A,1) evicted once the watermark passed
    # t(0)+1h, so the t(2,30) reappearance is counted a second time
    assert run("1 hour") == {"A": 2, "B": 1}


def test_late_data_capture_restart_seed(spark, tmp_path):
    """Restart gap (round-3 ADVICE): after a checkpoint restart the engine's
    persisted watermark is ahead, but the helper's in-memory max was lost —
    the seed file re-arms it, so the FIRST post-restart batch of stragglers
    is already classified late instead of waved through."""
    import datetime as dt
    import json as _json

    from flink_1_6_0_spark.streaming.late_data import foreach_batch_late_capture

    def t(h, m):
        return dt.datetime(2024, 1, 1, h, m)

    src = tmp_path / "src"
    src.mkdir()
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    # simulate the pre-restart run having advanced the watermark to 10:30
    (ckpt / "late_capture_watermark.json").write_text(
        _json.dumps({"max_seen": "2024-01-01T10:30:00.000Z"})
    )
    schema = "ts timestamp, v long"
    # first post-restart batch: one straggler (10:05), one on-time (10:25)
    spark.createDataFrame([(t(10, 5), 1), (t(10, 25), 2)], schema).coalesce(1).write.parquet(
        str(src / "a.parquet")
    )

    on_time_rows, late_rows = [], []
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src) + "/*")
    q = foreach_batch_late_capture(
        stream, "ts", "10 minutes",
        lambda b, e: on_time_rows.extend(r["v"] for r in b.collect()),
        lambda b, e: late_rows.extend(r["v"] for r in b.collect()),
        checkpoint=str(ckpt),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # seeded watermark 10:30 - 10min = 10:20: v=1 (10:05) late, v=2 (10:25) on time.
    # Without the seed both would be on-time (no progress yet on batch 1).
    assert late_rows == [1]
    assert on_time_rows == [2]


def test_stream_asof_join_retroactive_upgrade(spark, tmp_path):
    """Streaming as-of: a right row arriving in a LATER epoch retroactively
    upgrades an earlier left row's match in the next full emission — the
    retract+new behavior native watermark-finalized joins cannot express."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.nonwindow_join import foreach_batch_asof_join

    l_src, r_src = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame([(1, 10, 100)], "k long, ts long, lid long").coalesce(1).write.parquet(l_src)
    # seed right with an unrelated key so the stream has a schema + a file
    spark.createDataFrame([(9, 1, 9.0)], "k long, ts long, rv double").coalesce(1).write.parquet(r_src)

    emissions: list[dict] = []

    def emit(df, epoch_id):
        emissions.append({r["lid"]: r["r_rv"] for r in df.collect()})

    q = foreach_batch_asof_join(
        read_parquet_stream(spark, l_src),
        read_parquet_stream(spark, r_src).select("k", F.col("ts").alias("rts"), "rv"),
        key="k", left_ts="ts", right_ts="rts", right_payload=["rv"],
        left_state_path=str(tmp_path / "ls"), right_state_path=str(tmp_path / "rs"),
        emit_fn=emit, checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        assert emissions and emissions[-1] == {100: None}  # no k=1 purchase yet
        # late right arrival BEHIND the left row's ts
        spark.createDataFrame([(1, 5, 55.0)], "k long, ts long, rv double").coalesce(1).write.mode(
            "append"
        ).parquet(r_src)
        q.processAllAvailable()
    finally:
        q.stop()
    assert emissions[-1] == {100: 55.0}  # retroactively upgraded


def test_nonwindow_outer_join_left_only_emits_null_padded(spark, tmp_path):
    """Regression: with only the LEFT side populated, the outer join must
    emit null-padded left rows immediately (empty-relation right side), not
    stay silent until both sides have data."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.nonwindow_join import foreach_batch_outer_join

    l_src, r_src = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, lv string").repartition(1).write.parquet(l_src)
    # right source directory exists but holds NO rows
    spark.createDataFrame([], "rk long, rv string").repartition(1).write.parquet(r_src)

    results = {}

    def emit(df, epoch):
        results["last"] = [
            tuple(r) for r in df.select("k", "lv", "rv").orderBy("k").collect()
        ]

    q = foreach_batch_outer_join(
        read_parquet_stream(spark, l_src),
        read_parquet_stream(spark, r_src),
        lambda a, b: a.join(b, a.k == b.rk, "left").select("k", "lv", "rv"),
        str(tmp_path / "lstate"),
        str(tmp_path / "rstate"),
        emit,
        str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert results["last"] == [(1, "a", None), (2, "b", None)]


def test_foreach_batch_outer_join_retention_trims_state(spark, tmp_path):
    """Round-4 verdict #3: with left_retention + right_is_dimension set, the
    per-epoch recompute stops paying O(all-history) — finalized left rows
    drop out of the emission once the event-time horizon passes them, and
    the right side collapses to latest-version-per-key."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.nonwindow_join import foreach_batch_outer_join

    l_src, r_src = str(tmp_path / "l"), str(tmp_path / "r")
    # epoch 1: one old left row + two right versions of key 1
    spark.createDataFrame([(1, 100, "old")], "k long, ts long, lv string").coalesce(1).write.parquet(l_src)
    spark.createDataFrame(
        [(1, 50, "v1"), (1, 90, "v2")], "rk long, rts long, rv string"
    ).coalesce(1).write.parquet(r_src)

    results = {}

    def emit(df, epoch):
        results["last"] = sorted(tuple(r) for r in df.select("k", "lv", "rv").collect())

    q = foreach_batch_outer_join(
        read_parquet_stream(spark, l_src),
        read_parquet_stream(spark, r_src),
        lambda a, b: a.join(b, a.k == b.rk, "left").select("k", "lv", "rv"),
        str(tmp_path / "lstate"),
        str(tmp_path / "rstate"),
        emit,
        str(tmp_path / "ckpt"),
        left_ts="ts",
        left_retention=500,
        right_key="rk",
        right_ts="rts",
        right_is_dimension=True,
    )
    try:
        q.processAllAvailable()
        # horizon base = min(l=100, r=90) → cut is negative: nothing trims;
        # dimension trim keeps only v2
        assert results["last"] == [(1, "old", "v2")]
        # epoch 2: BOTH sides advance ~10k ticks — the min-watermark horizon
        # passes the old left row (min(10100, 10050) - 500 > 100), it is
        # FINAL and leaves the emission; dimension trim now keeps v3
        spark.createDataFrame([(1, 10100, "new")], "k long, ts long, lv string").coalesce(1).write.mode(
            "append"
        ).parquet(l_src)
        spark.createDataFrame([(1, 10050, "v3")], "rk long, rts long, rv string").coalesce(1).write.mode(
            "append"
        ).parquet(r_src)
        q.processAllAvailable()
    finally:
        q.stop()
    assert results["last"] == [(1, "new", "v3")]


def test_foreach_batch_asof_join_retention_standing_version(spark, tmp_path):
    """As-of retention: finalized left rows drop out, but the latest
    below-horizon right version per key SURVIVES the trim — it is the
    standing match for retained left rows (backward direction)."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.nonwindow_join import foreach_batch_asof_join

    l_src, r_src = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame([(1, 100, 100)], "k long, ts long, lid long").coalesce(1).write.parquet(l_src)
    # two old right versions: only rv=2.0 (latest per key below horizon) must survive
    spark.createDataFrame(
        [(1, 10, 1.0), (1, 60, 2.0)], "k long, ts long, rv double"
    ).coalesce(1).write.parquet(r_src)

    emissions: list[dict] = []

    def emit(df, epoch_id):
        emissions.append({r["lid"]: r["r_rv"] for r in df.collect()})

    q = foreach_batch_asof_join(
        read_parquet_stream(spark, l_src),
        read_parquet_stream(spark, r_src).select("k", F.col("ts").alias("rts"), "rv"),
        key="k", left_ts="ts", right_ts="rts", right_payload=["rv"],
        left_state_path=str(tmp_path / "ls"), right_state_path=str(tmp_path / "rs"),
        emit_fn=emit, checkpoint=str(tmp_path / "ckpt"),
        retention=500,
    )
    try:
        q.processAllAvailable()
        assert emissions[-1] == {100: 2.0}
        # push the min-watermark horizon: both sides advance (left 8600,
        # right 9000 → horizon 8600-500=8100), finalizing lid=100. The new
        # left row at 8600 precedes the recent right row (9000), so its
        # backward match must come from the COMPACTED standing version (2.0)
        # — the latest-per-key right row below the horizon
        spark.createDataFrame([(1, 8600, 200)], "k long, ts long, lid long").coalesce(1).write.mode(
            "append"
        ).parquet(l_src)
        spark.createDataFrame([(1, 9000, 2.5)], "k long, ts long, rv double").coalesce(1).write.mode(
            "append"
        ).parquet(r_src)
        q.processAllAvailable()
    finally:
        q.stop()
    assert emissions[-1] == {200: 2.0}


def test_foreach_batch_asof_join_restart_with_stale_standing_versions(spark, tmp_path):
    """Restart path for the epoch-VERSIONED standing table (ADVICE r6 fix):
    a fresh driver (standing_lo=None) re-seeds from full below-horizon
    history, so STALE leftover v<N> files from a previous run — even ones
    holding an outdated latest-version row — must be harmless (union +
    latest-per-key re-derivation), the compaction must write the next
    version, and older versions must be reclaimed."""
    import os

    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.nonwindow_join import foreach_batch_asof_join

    l_src, r_src = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(
        [(1, 8600, 200)], "k long, ts long, lid long"
    ).coalesce(1).write.parquet(l_src)
    spark.createDataFrame(
        [(1, 10, 1.0), (1, 60, 2.0), (1, 9000, 2.5)], "k long, ts long, rv double"
    ).coalesce(1).write.parquet(r_src)
    # leftover standing state from a "previous run": v1 stale (only rv=1.0),
    # v2 with an id-1 row the fresh history no longer justifies as latest
    standing = str(tmp_path / "rs") + "_standing"
    spark.createDataFrame([(1, 10, 1.0)], "k long, rts long, rv double").coalesce(1).write.parquet(
        standing + "/v1"
    )
    spark.createDataFrame([(1, 10, 1.0)], "k long, rts long, rv double").coalesce(1).write.parquet(
        standing + "/v2"
    )

    emissions: list[dict] = []

    def emit(df, epoch_id):
        emissions.append({r["lid"]: r["r_rv"] for r in df.collect()})

    q = foreach_batch_asof_join(
        read_parquet_stream(spark, l_src),
        read_parquet_stream(spark, r_src).select("k", F.col("ts").alias("rts"), "rv"),
        key="k", left_ts="ts", right_ts="rts", right_payload=["rv"],
        left_state_path=str(tmp_path / "ls"), right_state_path=str(tmp_path / "rs"),
        emit_fn=emit, checkpoint=str(tmp_path / "ckpt"),
        retention=500,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # horizon = min(8600, 9000) - 500 = 8100: the left row's backward match
    # is the true latest below-horizon version rv=2.0 (NOT the stale 1.0 the
    # leftover standing files claim)
    assert emissions[-1] == {200: 2.0}
    # compaction wrote v3 and reclaimed the stale v1/v2
    versions = sorted(os.listdir(standing))
    assert versions == ["v3"]
    got = {r["k"]: r["rv"] for r in spark.read.parquet(standing + "/v3").collect()}
    assert got == {1: 2.0}


def test_evictor_kernel_keep_zero_and_negative():
    import pytest

    from flink_1_6_0_spark.streaming.evictors import evict_and_aggregate

    elems = [(1.0, 1, 10.0), (2.0, 2, 20.0)]
    assert evict_and_aggregate(elems, keep_last_n=0, keep_last_seconds=None) == (0, 0.0)
    with pytest.raises(ValueError):
        evict_and_aggregate(elems, keep_last_n=-1, keep_last_seconds=None)


def test_queryable_state_lookup_nonstring_key(spark, sf_dir):
    """Point lookup must work for timestamp keys (Column predicate, not
    repr()-interpolated SQL)."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import events_stream
    from flink_1_6_0_spark.streaming.queryable_state import QueryableState

    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").alias("n"))
    )
    qs = QueryableState(agg, "qs_ts_lookup", mode="complete")
    try:
        qs.query.processAllAvailable()
        any_h = spark.table("qs_ts_lookup").limit(1).collect()[0]["h"]
        rows = qs.lookup("h", any_h)  # datetime key — repr() would be invalid SQL
        assert len(rows) == 1 and rows[0]["n"] >= 1
    finally:
        qs.stop()


def test_foreach_batch_join_eager_validation(spark, tmp_path):
    """Bad options fail BEFORE the query starts (review finding), not as a
    per-epoch StreamingQueryException after state is written."""
    import pytest

    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.nonwindow_join import (
        foreach_batch_asof_join,
        foreach_batch_outer_join,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame([(1, 10)], "k long, ts long").coalesce(1).write.parquet(src)
    s = read_parquet_stream(spark, src)
    with pytest.raises(ValueError, match="direction"):
        foreach_batch_asof_join(s, s, "k", "ts", "ts", [], "a", "b", print, "c", direction="forwards")
    with pytest.raises(ValueError, match="retention"):
        foreach_batch_asof_join(s, s, "k", "ts", "ts", [], "a", "b", print, "c", retention=-5)
    with pytest.raises(ValueError, match="left_retention"):
        foreach_batch_outer_join(s, s, None, "a", "b", print, "c", left_retention=10)
    with pytest.raises(ValueError, match="right_is_dimension"):
        foreach_batch_outer_join(s, s, None, "a", "b", print, "c", right_is_dimension=True)


def test_retention_null_event_time_exempt(spark, tmp_path):
    """A left row with NULL event time is not subject to event-time
    retention (review finding): it keeps being emitted null-padded even
    after the horizon passes every real timestamp."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.nonwindow_join import foreach_batch_outer_join

    l_src, r_src = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(
        [(1, None, "nots"), (1, 10_000, "live")], "k long, ts long, lv string"
    ).coalesce(1).write.parquet(l_src)
    spark.createDataFrame([(1, 9_900, "v")], "rk long, rts long, rv string").coalesce(1).write.parquet(r_src)

    results = {}

    def emit(df, epoch):
        results["last"] = sorted((r["lv"], r["rv"]) for r in df.collect())

    q = foreach_batch_outer_join(
        read_parquet_stream(spark, l_src),
        read_parquet_stream(spark, r_src),
        lambda a, b: a.join(b, a.k == b.rk, "left").select("k", "lv", "rv"),
        str(tmp_path / "ls"), str(tmp_path / "rs"), emit, str(tmp_path / "ck"),
        left_ts="ts", left_retention=50, right_key="rk", right_ts="rts",
        right_is_dimension=True,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # horizon = min(10000, 9900) - 50 = 9850: the NULL-ts row survives
    assert results["last"] == [("live", "v"), ("nots", "v")]


def test_split_late_null_event_time_on_time(spark):
    """NULL event time is not late — the row must land on the on-time
    branch, not vanish from both (review finding)."""
    from flink_1_6_0_spark.streaming.late_data import split_late

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, None)], "id long, ts string"
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    on_time, late = split_late(df, "ts", "10 minutes", "2024-01-01 01:00:00")
    assert {r["id"] for r in on_time.collect()} == {2}
    assert {r["id"] for r in late.collect()} == {1}


def test_late_capture_local_path_detection(tmp_path):
    """file:/p and file:///p are LOCAL (seed file works); hdfs:/x and
    s3a://x are not (review finding: '://' misclassified file:/p)."""
    import json

    from flink_1_6_0_spark.streaming import late_data as ld

    def resolve(checkpoint):
        # mirror of the detection logic, exercised via the module source to
        # keep the test honest if the rule changes
        local = None
        if checkpoint:
            if checkpoint.startswith("file:"):
                local = "/" + checkpoint[5:].lstrip("/")
            elif ":" not in checkpoint.split("/", 1)[0]:
                local = checkpoint
        return local

    src = open(ld.__file__).read()
    assert 'startswith("file:")' in src  # the rule exists in the module
    assert resolve(f"file:{tmp_path}/ck") == f"{tmp_path}/ck"
    assert resolve(f"file://{tmp_path}/ck") == f"{tmp_path}/ck"
    assert resolve(str(tmp_path / "ck")) == str(tmp_path / "ck")
    assert resolve("hdfs:/ck") is None
    assert resolve("hdfs://nn/ck") is None
    assert resolve("s3a://bucket/ck") is None


def test_cep_stream_watermark_mode_timer_flush(spark, tmp_path):
    """Watermark-mode CEP in a REAL applyInPandasWithState query. Two
    contracts:

    (1) PENDING: with the fold point trailing the high-water mark and no
        cleanup timer, the completed (a,b) match is NOT emitted after the
        data drains — committed-pending in state, exactly the deferred
        emission the kernel property tests pin.
    (2) FLUSH: with the cleanup timer armed, the quiescence flush (the
        job-end-watermark analog) emits the pending match. NOTE
        processAllAvailable cannot be used here — a registered
        processing-time timeout makes the engine schedule micro-batches
        continuously (FlatMapGroupsWithStateExec.shouldRunAnotherBatch is
        true while the timeout conf is enabled), so the drain never observes
        an idle query; the test polls the sink instead."""
    import time as _time

    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import read_parquet_stream, to_memory_sink
    from flink_1_6_0_spark.streaming.cep import Pattern, cep_stream

    rows = [(1, 10, "a", 100), (1, 11, "b", 200), (2, 20, "a", 150)]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, sec long"
    ).withColumn("ts", F.timestamp_seconds(F.col("sec"))).drop("sec")
    src = str(tmp_path / "cep_flush_src")
    df.repartition(1).write.parquet(src)

    def pattern():
        return (
            Pattern.begin("a", lambda e: e["event_type"] == "a")
            .followed_by("b", lambda e: e["event_type"] == "b")
            .within(1000)
        )

    def build(use_timer, timer_ms=None):
        return cep_stream(
            read_parquet_stream(spark, src),
            pattern(),
            ["user_id"],
            "ts",
            "event_id",
            "event_type",
            disorder_seconds=500,  # fold pt = hwm - 500s < all data => pending
            use_cleanup_timer=use_timer,
            cleanup_timer_ms=timer_ms,
        )

    # (1) no timer: drain synchronously; the match stays pending, unemitted
    q = to_memory_sink(build(False), "cep_pending_out", "append")
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM cep_pending_out").count() == 0
    finally:
        q.stop()

    # (2) timer: poll the sink (no processAllAvailable — see docstring)
    q = to_memory_sink(build(True, timer_ms=3000), "cep_flush_out", "append")
    got = []
    try:
        deadline = _time.time() + 90
        while _time.time() < deadline:
            got = spark.sql("SELECT * FROM cep_flush_out").collect()
            if got:
                break
            _time.sleep(1)
    finally:
        q.stop()
    assert {(r["user_id"], r["a_id"], r["b_id"]) for r in got} == {(1, 10, 11)}


def test_cep_stream_state_recovers_across_restart(spark, tmp_path):
    """applyInPandasWithState CEP state survives a checkpointed stop/restart
    (the reference's checkpointed NFA-operator contract): a partial match
    buffered before the stop completes after the restart, and an
    already-emitted match re-delivered as duplicate input rows is NOT
    re-emitted — buffer, emitted-signature set and per-key high-water mark
    all recover from the state store."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import read_parquet_stream, to_parquet_sink
    from flink_1_6_0_spark.streaming.cep import Pattern, cep_stream

    src = str(tmp_path / "cep_rc_src")
    out = str(tmp_path / "cep_rc_out")
    ckpt = str(tmp_path / "cep_rc_ckpt")

    def add_file(rows):
        spark.createDataFrame(
            rows, "user_id long, event_id long, event_type string, sec long"
        ).withColumn("ts", F.timestamp_seconds(F.col("sec"))).drop("sec").repartition(
            1
        ).write.mode("append").parquet(src)

    def pattern():
        return (
            Pattern.begin("a", lambda e: e["event_type"] == "a")
            .followed_by("b", lambda e: e["event_type"] == "b")
            .within(1000)
        )

    def run():
        stream = cep_stream(
            read_parquet_stream(spark, src),
            pattern(),
            ["user_id"],
            "ts",
            "event_id",
            "event_type",
            use_cleanup_timer=False,
            eager=True,  # files replayed in event-time order by construction
        )
        q = to_parquet_sink(stream, out, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # before the stop: key 1 has only the 'a' (partial, buffered);
    # key 2 completes a match (emitted)
    add_file([(1, 10, "a", 100), (2, 20, "a", 100), (2, 21, "b", 200)])
    run()
    first = spark.read.parquet(out)
    assert {(r["user_id"], r["a_id"], r["b_id"]) for r in first.collect()} == {(2, 20, 21)}

    # while down: key 1's 'b' arrives (completes iff the buffer recovered)
    # and key 2's pair is RE-DELIVERED (re-emits iff the signature set did
    # not recover)
    add_file([(1, 11, "b", 300), (2, 20, "a", 100), (2, 21, "b", 200)])
    run()
    final = spark.read.parquet(out)
    got = sorted((r["user_id"], r["a_id"], r["b_id"]) for r in final.collect())
    assert got == [(1, 10, 11), (2, 20, 21)]


def test_cep_stream_attrs_survive_batch_boundary(spark, tmp_path):
    """attr_cols values must survive the state-store roundtrip: the 'a'
    arrives in batch 1 and is BUFFERED; its value-predicated 'b' candidates
    arrive in batch 2 — the match can only be value-filtered correctly if
    the buffered attributes were serialized and restored."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.cep import Pattern, cep_stream

    src = str(tmp_path / "cep_attr_src")

    def add_file(rows):
        spark.createDataFrame(
            rows, "user_id long, event_id long, event_type string, sec long, value double"
        ).withColumn("ts", F.timestamp_seconds(F.col("sec"))).drop("sec").repartition(
            1
        ).write.mode("append").parquet(src)

    add_file([(1, 10, "a", 100, 7.0)])
    add_file([(1, 11, "b", 200, 3.0), (1, 12, "b", 300, 10.0)])

    pattern = (
        Pattern.begin("a", lambda e: e["event_type"] == "a" and e["value"] > 5)
        .followed_by("b", lambda e: e["event_type"] == "b" and e["value"] > 5)
        .within(1000)
    )
    out = cep_stream(
        read_parquet_stream(spark, src, max_files_per_trigger=1),
        pattern,
        ["user_id"],
        "ts",
        "event_id",
        "event_type",
        use_cleanup_timer=False,
        attr_cols=["value"],
        eager=True,  # batches arrive in event-time order by construction
    )
    got = {(r["user_id"], r["a_id"], r["b_id"]) for r in run_bounded(out, "append")[0].collect()}
    # first-match must SKIP the low-value b@200 and take b@300 — possible
    # only if both a's and b's attributes crossed the batch boundary intact
    assert got == {(1, 10, 12)}


# ---------------------------------------------------------------------------
# RetractionITCase.scala ports — the "count the counts" retraction chain.
# The input splits into one file per element-pair so the chain crosses many
# micro-batches; every epoch's emitted table must equal the batch
# agg-of-agg over the data seen so far, which is exactly the retraction
# contract (a superseded first-level value must vanish downstream).
# ---------------------------------------------------------------------------

RETRACTION_WORDS = [
    ("Hello", 1), ("word", 1), ("Hello", 1), ("bark", 1), ("bark", 1),
    ("bark", 1), ("bark", 1), ("bark", 1), ("bark", 1), ("flink", 1),
]


def _run_retraction_chain(spark, tmp_path, keys, partial, merge, downstream, out_cols):
    import pyspark.sql.functions as F  # noqa: F401
    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.group_agg import chained_group_agg

    src = str(tmp_path / "src")
    for i in range(0, len(RETRACTION_WORDS), 2):  # 5 files → 5 micro-batches
        spark.createDataFrame(
            RETRACTION_WORDS[i : i + 2], "word string, num int"
        ).repartition(1).write.mode("append").parquet(src)

    snapshots = {}

    def emit(df, epoch):
        snapshots[epoch] = sorted(tuple(r) for r in df.select(*out_cols).collect())

    q = (
        chained_group_agg(
            read_parquet_stream(spark, src),
            keys, partial, merge, downstream,
            str(tmp_path / "state"), emit,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return snapshots


def test_retraction_word_count_chain(spark, tmp_path):
    """RetractionITCase.scala:51 testWordCount — groupBy(word).sum(num) →
    groupBy(count).count(frequency). Golden final: {(1,2),(2,1),(6,1)}.
    Additionally pins the retraction invariant at EVERY epoch: the emitted
    frequency table equals the batch agg-of-agg over the prefix (so bark's
    superseded counts 1..5 never linger downstream)."""
    import pyspark.sql.functions as F

    snaps = _run_retraction_chain(
        spark, tmp_path,
        keys=["word"],
        partial=[F.sum("num").alias("cnt")],
        merge=[F.sum("cnt").alias("cnt")],
        downstream=lambda fl: fl.groupBy("cnt").agg(F.count("word").alias("frequency")),
        out_cols=["cnt", "frequency"],
    )
    assert len(snaps) >= 5
    assert snaps[max(snaps)] == [(1, 2), (2, 1), (6, 1)]
    for epoch in snaps:
        prefix = RETRACTION_WORDS[: 2 * (epoch + 1)]
        oracle = {}
        counts = {}
        for w, n in prefix:
            counts[w] = counts.get(w, 0) + n
        for c in counts.values():
            oracle[c] = oracle.get(c, 0) + 1
        assert snaps[epoch] == sorted(oracle.items()), f"epoch {epoch}"


def test_retraction_keyed_then_nonkeyed(spark, tmp_path):
    """RetractionITCase.scala:75 — groupBy(word).sum(num) → global sum = 10
    (the second stage sums RETRACT-corrected per-word counts)."""
    import pyspark.sql.functions as F

    snaps = _run_retraction_chain(
        spark, tmp_path,
        keys=["word"],
        partial=[F.sum("num").alias("cnt")],
        merge=[F.sum("cnt").alias("cnt")],
        downstream=lambda fl: fl.agg(F.sum("cnt").alias("total")),
        out_cols=["total"],
    )
    assert snaps[max(snaps)] == [(10,)]


def test_retraction_nonkeyed_then_keyed(spark, tmp_path):
    """RetractionITCase.scala:99 — global sum(num) → groupBy(sum).count:
    final (10, 1); intermediates must show exactly ONE row (the superseded
    global sum retracted every batch)."""
    import pyspark.sql.functions as F

    snaps = _run_retraction_chain(
        spark, tmp_path,
        keys=[],
        partial=[F.sum("num").alias("cnt")],
        merge=[F.sum("cnt").alias("cnt")],
        downstream=lambda fl: fl.groupBy("cnt").agg(F.count("*").alias("frequency")),
        out_cols=["cnt", "frequency"],
    )
    assert snaps[max(snaps)] == [(10, 1)]
    for epoch, rows in snaps.items():
        assert len(rows) == 1, f"epoch {epoch}: superseded global sum not retracted"


# ---------------------------------------------------------------------------
# CoGroupJoinITCase.scala ports (flink-streaming-scala) — event-time windowed
# coGroup / join / self-join goldens over 3ms tumbling windows.
# ---------------------------------------------------------------------------

_CGJ_S1 = [("a", 0), ("a", 1), ("a", 2), ("b", 3), ("b", 4), ("b", 5),
           ("a", 6), ("a", 7), ("a", 8)]
_CGJ_S2 = [("a", 0), ("a", 1), ("b", 3), ("c", 6), ("c", 7), ("c", 8)]
_CGJ_T1 = [("a", "x", 0), ("a", "y", 1), ("a", "z", 2), ("b", "u", 3),
           ("b", "w", 5), ("a", "i", 6), ("a", "j", 7), ("a", "k", 8)]
_CGJ_T2 = [("a", "u", 0), ("a", "w", 1), ("b", "i", 3), ("b", "k", 5),
           ("a", "x", 6), ("a", "z", 8)]


def test_cogroup_join_itcase_cogroup(spark):
    """CoGroupJoinITCase.scala:39 testCoGroup — per-(key, 3ms window) both
    groups rendered in element order; windows with one side empty still
    fire (coGroup is full-outer per window, unlike join)."""
    import pandas as pd
    import pyspark.sql.functions as F
    from flink_1_6_0_spark.operators.joins import windowed_co_group

    s1 = spark.createDataFrame(_CGJ_S1, "k string, t int").withColumn(
        "ts", F.timestamp_millis(F.col("t"))
    )
    s2 = spark.createDataFrame(_CGJ_S2, "k string, t int").withColumn(
        "ts", F.timestamp_millis(F.col("t"))
    )

    def fn(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        fmt = lambda pdf: "".join(
            f"({row.k},{row.t})" for row in pdf.sort_values("t").itertuples()
        )
        return pd.DataFrame({"s": [f"F:{fmt(l)} S:{fmt(r)}"]})

    res = windowed_co_group(
        s1, s2, [("k", "k")], "ts", "ts", "3 milliseconds", fn, "s string"
    )
    got = sorted(r["s"] for r in res.collect())
    assert got == sorted([
        "F:(a,0)(a,1)(a,2) S:(a,0)(a,1)",
        "F:(b,3)(b,4)(b,5) S:(b,3)",
        "F:(a,6)(a,7)(a,8) S:",
        "F: S:(c,6)(c,7)(c,8)",
    ])


def test_cogroup_join_itcase_join(spark):
    """CoGroupJoinITCase.scala:106 testJoin — per-window inner join pairs."""
    import pyspark.sql.functions as F
    from flink_1_6_0_spark.operators.joins import windowed_join

    l = spark.createDataFrame(_CGJ_T1, "k string, v string, t int").withColumn(
        "ts", F.timestamp_millis(F.col("t"))
    )
    r = (
        spark.createDataFrame(_CGJ_T2, "k string, v string, t int")
        .withColumn("ts", F.timestamp_millis(F.col("t")))
        .select(F.col("k").alias("rk"), F.col("v").alias("rv"), F.col("t").alias("rt"), "ts")
    )
    res = windowed_join(l, r, [("k", "rk")], "ts", "ts", "3 milliseconds").select(
        F.concat(
            F.lit("("), "k", F.lit(","), "v", F.lit(","), F.col("t").cast("string"),
            F.lit("):("), "rk", F.lit(","), "rv", F.lit(","), F.col("rt").cast("string"),
            F.lit(")"),
        ).alias("s")
    )
    got = sorted(row["s"] for row in res.collect())
    assert got == sorted([
        "(a,x,0):(a,u,0)", "(a,x,0):(a,w,1)", "(a,y,1):(a,u,0)", "(a,y,1):(a,w,1)",
        "(a,z,2):(a,u,0)", "(a,z,2):(a,w,1)", "(b,u,3):(b,i,3)", "(b,u,3):(b,k,5)",
        "(b,w,5):(b,i,3)", "(b,w,5):(b,k,5)", "(a,i,6):(a,x,6)", "(a,i,6):(a,z,8)",
        "(a,j,7):(a,x,6)", "(a,j,7):(a,z,8)", "(a,k,8):(a,x,6)", "(a,k,8):(a,z,8)",
    ])


def test_cogroup_join_itcase_self_join(spark):
    """CoGroupJoinITCase.scala:186 testSelfJoin — the same stream joined
    with itself yields the full per-window cross product per key."""
    import pyspark.sql.functions as F
    from flink_1_6_0_spark.operators.joins import windowed_join

    base = spark.createDataFrame(_CGJ_T1, "k string, v string, t int").withColumn(
        "ts", F.timestamp_millis(F.col("t"))
    )
    r = base.select(
        F.col("k").alias("rk"), F.col("v").alias("rv"), F.col("t").alias("rt"), "ts"
    )
    res = windowed_join(base, r, [("k", "rk")], "ts", "ts", "3 milliseconds").select(
        F.concat(
            F.lit("("), "k", F.lit(","), "v", F.lit(","), F.col("t").cast("string"),
            F.lit("):("), "rk", F.lit(","), "rv", F.lit(","), F.col("rt").cast("string"),
            F.lit(")"),
        ).alias("s")
    )
    got = sorted(row["s"] for row in res.collect())
    expected = sorted(
        f"({k1},{v1},{t1}):({k2},{v2},{t2})"
        for (k1, v1, t1) in _CGJ_T1
        for (k2, v2, t2) in _CGJ_T1
        if k1 == k2 and t1 // 3 == t2 // 3
    )
    assert len(expected) == 22  # the reference's literal list has 22 pairs
    assert got == expected


def test_window_fold_itcase(spark):
    """WindowFoldITCase.scala:47 testFoldWindow — fold(("R:", 0)) over keyed
    3ms event-time tumbling windows: letters concatenate in event order,
    ints sum. Fold ≡ window aggregate of (string concat, sum)."""
    import pyspark.sql.functions as F

    rows = [("a", 0), ("a", 1), ("a", 2), ("b", 3), ("b", 4), ("b", 5),
            ("a", 6), ("a", 7), ("a", 8)]
    df = spark.createDataFrame(rows, "k string, t int").withColumn(
        "ts", F.timestamp_millis(F.col("t"))
    )
    res = (
        df.groupBy(F.window("ts", "3 milliseconds"), "k")
        .agg(
            F.concat_ws("", F.collect_list("k")).alias("letters"),
            F.sum("t").alias("s"),
        )
        .select(
            F.concat(F.lit("(R:"), "letters", F.lit(","), F.col("s").cast("string"), F.lit(")")).alias("out")
        )
    )
    got = sorted(r["out"] for r in res.collect())
    assert got == sorted(["(R:aaa,3)", "(R:aaa,21)", "(R:bbb,12)"])


def test_side_output_all_window_late_arriving_events(spark, tmp_path):
    """SideOutputITCase.java:654 testAllWindowLateArrivingEvents — elements
    [1,2,5,3,4] with punctuated watermark == element value and 1ms windows:
    3 and 4 arrive behind the watermark raised by 5 and go to the late side
    output; the main path sees exactly [1,2,5]."""
    import pyspark.sql.functions as F
    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.late_data import foreach_batch_late_capture

    src = str(tmp_path / "src")
    for v in [1, 2, 5, 3, 4]:  # one file per element = one micro-batch each
        spark.createDataFrame([(v,)], "v int").withColumn(
            "ts", F.timestamp_millis(F.col("v"))
        ).repartition(1).write.mode("append").parquet(src)

    on_time, late = [], []

    def on_time_fn(df, epoch):
        on_time.extend(r["v"] for r in df.collect())

    def late_fn(df, epoch):
        late.extend(r["v"] for r in df.collect())

    q = foreach_batch_late_capture(
        read_parquet_stream(spark, src),
        "ts",
        "0 seconds",
        on_time_fn,
        late_fn,
        checkpoint=str(tmp_path / "ckpt"),
        query_name="late_side_golden",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(late) == [3, 4]
    assert sorted(on_time) == [1, 2, 5]


def test_retraction_chain_compaction_bounds_state(spark, tmp_path):
    """chained_group_agg compaction: with compact_every=2 over 5 micro-
    batches the state directory holds the newest snapshot plus at most
    compact_every partial partitions — and every epoch's emitted table
    still equals the batch agg-of-agg over the prefix (the read rule
    prefers the snapshot and never double-counts)."""
    import os

    import pyspark.sql.functions as F
    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.group_agg import chained_group_agg

    src = str(tmp_path / "src")
    for i in range(0, len(RETRACTION_WORDS), 2):
        spark.createDataFrame(
            RETRACTION_WORDS[i : i + 2], "word string, num int"
        ).repartition(1).write.mode("append").parquet(src)

    snapshots = {}

    def emit(df, epoch):
        snapshots[epoch] = sorted(tuple(r) for r in df.collect())

    state = str(tmp_path / "state")
    q = (
        chained_group_agg(
            read_parquet_stream(spark, src),
            ["word"],
            [F.sum("num").alias("cnt")],
            [F.sum("cnt").alias("cnt")],
            lambda fl: fl.groupBy("cnt").agg(F.count("word").alias("frequency")),
            state,
            emit,
            compact_every=2,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert snapshots[max(snapshots)] == [(1, 2), (2, 1), (6, 1)]
    for epoch in snapshots:
        prefix = RETRACTION_WORDS[: 2 * (epoch + 1)]
        counts = {}
        for w, n in prefix:
            counts[w] = counts.get(w, 0) + n
        oracle = {}
        for c in counts.values():
            oracle[c] = oracle.get(c, 0) + 1
        assert snapshots[epoch] == sorted(oracle.items()), f"epoch {epoch}"
    parts = [p for p in os.listdir(state) if p.startswith("__epoch=")]
    partials = [p for p in parts if not p.startswith("__epoch=-")]
    snaps = [p for p in parts if p.startswith("__epoch=-")]
    assert len(snaps) == 1 and snaps[0] == "__epoch=-4"
    assert all(int(p.split("=")[1]) > 4 for p in partials)  # only post-snapshot partials remain


def test_proctime_sort_df_string_descending(spark):
    """r12 ADVICE: proctime_sort_df's descending order is a comparator flip,
    not a value negation — string sort columns and a non-long output schema
    must work (pre-fix: TypeError on -str and a hardcoded all-long DDL)."""
    from flink_1_6_0_spark.streaming.cleanup_state import proctime_sort_df

    df = spark.createDataFrame(
        [
            (1, 100, "banana", 3),
            (1, 100, "apple", 1),
            (1, 100, "cherry", 2),
            (1, 200, "apple", 9),
        ],
        "k long, tick long, word string, n long",
    )
    out = proctime_sort_df(
        df,
        key_col="k",
        proc_time_col="tick",
        sort_cols=[("word", False), ("n", True)],
        out_cols=["word", "n"],
        out_schema="word string, n long, emit_seq long",
    )
    rows = [(r.word, r.n, r.emit_seq) for r in out.orderBy("emit_seq").collect()]
    # tick 100 flushes word-descending, then tick 200's lone row
    assert rows == [
        ("cherry", 2, 0),
        ("banana", 3, 1),
        ("apple", 1, 2),
        ("apple", 9, 3),
    ]


def test_nonwindow_join_retention_df_left_join(spark):
    """Distributed NonWindowLeftRightJoinWithNonEquiPredicates replay
    (join_type='left'): netted output equals a LEFT OUTER JOIN of the
    netted input — right rows never pad, a retracted match re-pads its
    left row."""
    from flink_1_6_0_spark.streaming.cleanup_state import StreamQueryConfig
    from flink_1_6_0_spark.streaming.join_kernels import nonwindow_join_retention_df

    rows = [
        # (key, side, pt, change, id, v)
        (1, 0, 10, True, 100, 5),   # left 100 (v=5)
        (1, 1, 20, True, 200, 7),   # right 200 (v=7): joins 100 (5 < 7)
        (1, 1, 30, True, 201, 3),   # right 201 (v=3): no match (5 !< 3), no pad (right side)
        (1, 1, 40, False, 200, 7),  # retract right 200: left 100 re-pads
        (2, 0, 10, True, 300, 9),   # lone left on another key: padded
    ]
    df = spark.createDataFrame(
        rows, "k long, side int, pt long, change boolean, id long, v long"
    )
    out = nonwindow_join_retention_df(
        df,
        key_col="k",
        side_col="side",
        pt_col="pt",
        change_col="change",
        payload_cols=["id", "v"],
        join_predicate=lambda l, r: l[1] < r[1],
        query_config=StreamQueryConfig.with_idle_state_retention_time(0, 0),
        out_schema="k long, l_id long, l_v long, r_id long, r_v long",
        join_type="left",
    )
    got = sorted(
        (r.k, r.l_id, r.l_v, r.r_id, r.r_v) for r in out.collect()
    )
    assert got == [(1, 100, 5, None, None), (2, 300, 9, None, None)]


def test_timebounded_join_df_left_outer(spark):
    """Distributed proc-time TimeBoundedStreamJoin replay, LEFT_OUTER: only
    left rows pad at end-of-replay; the in-window pair joins exactly once."""
    from flink_1_6_0_spark.streaming.join_kernels import timebounded_join_df

    rows = [
        # (key, side, pt, id) — bounds: l.pt in [r.pt - 5, r.pt + 10]
        (1, 0, 100, 11),   # left, matched by right@105 (105-5 <= 100 <= 105+10)
        (1, 1, 105, 21),
        (1, 0, 300, 12),   # left, no right within window: pads
        (1, 1, 500, 22),   # right, unmatched: LEFT_OUTER -> silent
    ]
    df = spark.createDataFrame(rows, "k long, side int, pt long, id long")
    out = timebounded_join_df(
        df,
        key_col="k",
        side_col="side",
        pt_col="pt",
        payload_cols=["id", "pt"],
        join_type="left",
        left_lower_bound=-5,
        left_upper_bound=10,
        out_schema="k long, l_id long, l_pt long, r_id long, r_pt long",
    )
    got = sorted(
        ((r.k, r.l_id, r.l_pt, r.r_id, r.r_pt) for r in out.collect()),
        key=lambda t: (t[1] is None, t),
    )
    assert got == [
        (1, 11, 100, 21, 105),
        (1, 12, 300, None, None),
    ]


def test_nonwindow_join_retention_is_nonvacuous(spark):
    """The retention in stream_nonwindow_join_retention must DO something:
    replaying the same construction with state cleaning disabled joins
    across day-bursts (state never expires), producing a different row
    count than the retention run — i.e. the oracle's epoch-equality term
    really is the expiry's footprint, not an accident of the data."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.streaming.cleanup_state import StreamQueryConfig
    from flink_1_6_0_spark.streaming.join_kernels import nonwindow_join_retention_df

    sf_dir = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        (F.col("event_id") % 2).cast("int").alias("side"),
        (
            F.floor(F.unix_millis(F.col("ts").cast("timestamp")) / 86400000).cast("long") * 600000000
            + (F.unix_millis(F.col("ts").cast("timestamp")) % 86400000) * 2
        ).alias("pt"),
        F.lit(True).alias("change"),
        F.floor(F.unix_millis(F.col("ts").cast("timestamp")) / 86400000).cast("long").alias("epoch"),
        F.col("event_id").alias("id"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    def run(qc):
        return nonwindow_join_retention_df(
            ev,
            key_col="user_id",
            side_col="side",
            pt_col="pt",
            change_col="change",
            payload_cols=["epoch", "id", "cents"],
            join_predicate=lambda l, r: l[2] < r[2],
            query_config=qc,
            out_schema=(
                "user_id long, l_epoch long, l_id long, l_cents long, "
                "r_epoch long, r_id long, r_cents long"
            ),
        ).count()

    with_retention = run(StreamQueryConfig.with_idle_state_retention_time(199000000, 200000000))
    without = run(StreamQueryConfig(0, 0))
    assert with_retention != without, (with_retention, without)


def test_event_time_window_df_lateness_protocol(spark):
    """Distributed EventTimeWindowKernel replay pin — every protocol branch
    on one tiny input: on-time firings, a late row dropped past the cleanup
    time, accumulating re-fires on a fired-and-retained window (grown
    count/sum per late element), a late element joining a deferred window,
    the deferred end-of-input firing, and a late-only key whose watermark
    never moved (WindowOperator.java:358/590; EventTimeTrigger.java:39)."""
    from flink_1_6_0_spark.streaming.session_window import event_time_window_df

    rows = [
        # (k, rt, is_late, id, cents) — window size 20, lateness 30
        (1, 2, False, 1, 1),     # [0,20)
        (1, 4, False, 2, 2),     # [0,20) -> on-time fire cnt=2 sum=3
        (1, 22, False, 3, 4),    # [20,40) -> on-time fire cnt=1 sum=4
        (1, 82, False, 10, 256), # [80,100) -> on-time fire cnt=1 sum=256
        (1, 100, False, 4, 8),   # [100,120): maxTs 119 > wm 100 -> deferred
        (1, 6, True, 5, 16),     # [0,20): cleanup 49 <= wm 100 -> DROPPED
        (1, 90, True, 6, 32),    # [80,100): re-fire cnt=2 sum=288
        (1, 92, True, 7, 64),    # [80,100): re-fire cnt=3 sum=352
        (1, 102, True, 8, 128),  # [100,120): joins the deferred window
        (2, 10, True, 9, 5),     # late-only key: wm never moved -> deferred
    ]
    df = spark.createDataFrame(
        rows, "k long, rt long, is_late boolean, id long, cents long"
    )
    out = event_time_window_df(
        df,
        key_col="k",
        rowtime_col="rt",
        late_col="is_late",
        order_col="id",
        payload_col="cents",
        window_size=20,
        allowed_lateness=30,
    )
    got = sorted(
        (r.k, r.w_start, r.w_end, r.fire_seq, r.cnt, r.sum_payload)
        for r in out.collect()
    )
    assert got == [
        (1, 0, 20, 0, 2, 3),
        (1, 20, 40, 0, 1, 4),
        (1, 80, 100, 0, 1, 256),
        (1, 80, 100, 1, 2, 288),
        (1, 80, 100, 2, 3, 352),
        (1, 100, 120, 0, 2, 136),
        (2, 0, 20, 0, 1, 5),
    ]


def test_event_time_window_df_session_merging_protocol(spark):
    """Distributed SESSION-kernel replay pin (merging path, lateness 0) —
    the corner the oracle's closed form encodes: a late row whose own
    window is already past the watermark still gets ADMITTED when it lands
    within gap-reach of the trailing session's coverage (the kernel checks
    isWindowLate on the MERGED extent — WindowOperator.java:304ff), while
    one further left drops. Gap 10.

    key 1 on-time: rt 0 (closed island), rt 40,44 (trailing session
    [40,54), maxwm 44). Late rows: rt 2 -> own window [2,12) past wm AND
    below t_s-gap=30 -> DROPPED; rt 32 -> [32,42) past wm (end 42 <= 44)
    BUT 32 >= 30 -> merges into the trailing session, extending it to
    [32,54); rt 100 -> survivor, own deferred session [100,110)."""
    from flink_1_6_0_spark.streaming.session_window import event_time_window_df

    rows = [
        # (k, rt, is_late, id, cents)
        (1, 0, False, 1, 1),
        (1, 40, False, 2, 2),
        (1, 44, False, 3, 4),
        (1, 2, True, 4, 8),     # dropped: end 12 <= maxwm 44, 2 < 30
        (1, 32, True, 5, 16),   # admitted via trailing-session merge
        (1, 100, True, 6, 32),  # survivor: own deferred session
    ]
    df = spark.createDataFrame(
        rows, "k long, rt long, is_late boolean, id long, cents long"
    )
    out = event_time_window_df(
        df,
        key_col="k",
        rowtime_col="rt",
        late_col="is_late",
        order_col="id",
        payload_col="cents",
        session_gap=10,
        allowed_lateness=0,
    )
    got = sorted(
        (r.k, r.w_start, r.w_end, r.fire_seq, r.cnt, r.sum_payload)
        for r in out.collect()
    )
    assert got == [
        (1, 0, 10, 0, 1, 1),      # closed on-time island, fired in phase 1
        (1, 32, 54, 0, 3, 22),    # trailing session grown by the late merge
        (1, 100, 110, 0, 1, 32),  # late-only deferred session
    ]
