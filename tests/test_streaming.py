"""Structured Streaming parity tests — T1-T11.

Strategy (SURVEY §5): replay the deterministic events table through a
file stream, drive with processAllAvailable(), land in a memory sink,
and compare against the batch answer computed by the SAME operator
(stream-batch equivalence) — plus targeted late-data and stateful-op
scenarios with hand-built micro-batches.
"""

from __future__ import annotations

import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from flink_project_spark import fixtures as FX
from flink_project_spark.operators import windows as W
from flink_project_spark.streaming import stateful as ST
from flink_project_spark.streaming import windows as SW
from tests.conftest import SF_SMOKE

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _events_batch(spark):
    return FX.load_tables(spark, SF_SMOKE)["events"]


def _replay_dir(spark, tmp_path, name="replay"):
    """Materialize the normalized events table as a streaming source dir."""
    d = str(tmp_path / name)
    _events_batch(spark).coalesce(1).write.mode("overwrite").parquet(d)
    return d


def _run_to_memory(stream_df, mode, name=None):
    name = name or f"m{uuid.uuid4().hex[:10]}"
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return name


def test_stream_batch_equivalence_tumbling(spark, tmp_path):
    """T1/T2: the same tumbling operator over stream and batch agrees."""
    src = _replay_dir(spark, tmp_path)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    agg = SW.tumbling_stream(stream, "ts", "5 minutes", ["event_type"])
    name = _run_to_memory(agg, "complete")
    got = {
        (r.window_start, r.event_type): (r.cnt, r.sum_value)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    expected = {
        (r.window_start, r.event_type): (r.cnt, r.sum_value)
        for r in W.tumbling_counts(
            _events_batch(spark), "ts", "5 minutes", ["event_type"]
        ).collect()
    }
    assert got == expected and len(got) > 0


def test_multi_resolution_stream_day_alignment(spark, tmp_path):
    """T5: streaming multi-resolution agg matches the batch operator,
    including the +8h-aligned day window."""
    src = _replay_dir(spark, tmp_path)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    streams = SW.multi_resolution_streams(stream, "ts", ["event_type"])
    batch = W.multi_resolution_counts(
        _events_batch(spark), "ts", ["event_type"]
    )
    for label in ("5m", "1d"):
        name = _run_to_memory(streams[label], "complete")
        got = {
            (r.window_start, r.event_type): r.cnt
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        expected = {
            (r.window_start, r.event_type): r.cnt
            for r in batch.filter(F.col("resolution") == label).collect()
        }
        assert got == expected and len(got) > 0
        if label == "1d":
            # day windows start at 16:00 UTC == 00:00 UTC+8
            assert all(ws.hour == 16 for ws, _ in got), sorted(got)[:3]


def test_windowed_uv_exact_matches_batch(spark, tmp_path):
    """T8 exact mode == batch countDistinct per window."""
    src = _replay_dir(spark, tmp_path)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    uv = SW.windowed_uv(
        stream, "ts", "1 hour", ["event_type"], "user_id", exact=True
    )
    name = _run_to_memory(uv, "complete")
    got = {
        (r.window_start, r.event_type): r.uv
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    expected = {
        (r.w, r.event_type): r.uv
        for r in _events_batch(spark)
        .groupBy(F.window("ts", "1 hour").start.alias("w"), "event_type")
        .agg(F.countDistinct("user_id").alias("uv"))
        .collect()
    }
    assert got == expected and len(got) > 0


def test_late_data_dropped_in_append_mode(spark, tmp_path):
    """T6: rows older than the watermark are dropped and finalized
    windows never change (allowed-lateness parity).

    Note: Spark commits a new watermark at batch end but applies it to
    late-row filtering from the NEXT batch on, so the scenario needs
    three micro-batches: data -> watermark-advancing batch -> late row.
    """
    src = tmp_path / "late_src"
    src.mkdir()
    base = "2024-01-01 00:"

    def mk(rows):
        return spark.createDataFrame(
            rows, "id long, ts_s string, key string"
        ).select("id", F.col("ts_s").cast("timestamp").alias("ts"), "key")

    batches = [
        mk([(i, f"{base}{m:02d}:00", "k") for i, m in enumerate([0, 1, 2, 30])]),
        mk([(50, f"{base}31:00", "k")]),      # advances applied watermark
        mk([(99, f"{base}01:30", "k")]),      # late: far below 00:28 watermark
    ]
    now = time.time()
    for i, b in enumerate(batches):
        f = str(src / f"b{i}")
        b.coalesce(1).write.parquet(f)
        for p in [os.path.join(f, x) for x in os.listdir(f)]:
            os.utime(p, (now + i, now + i))

    stream = (
        spark.readStream.schema("id long, ts timestamp, key string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    agg = (
        stream.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), "key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("ws"), "key", "cnt")
    )
    name = _run_to_memory(agg, "append")
    emitted = [
        (r.ws.isoformat(), r.cnt)
        for r in spark.sql(f"SELECT * FROM {name} ORDER BY ws").collect()
    ]
    # windows 00:00-00:02 finalized with their original counts; the late
    # 00:01:30 row was dropped (no duplicate emission, no count bump)
    assert ("2024-01-01T00:01:00", 1) in emitted, emitted
    assert ("2024-01-01T00:01:00", 2) not in emitted, emitted
    assert len([e for e in emitted if e[0] == "2024-01-01T00:01:00"]) == 1


def test_delta_alert_stream_matches_batch_lag(spark, tmp_path):
    """T11: stateful delta alerts across micro-batches == batch lag()."""
    src = tmp_path / "delta_src"
    src.mkdir()
    data = [
        ("a", 1000, 60.0), ("a", 2000, 75.0), ("a", 3000, 76.0),
        ("a", 4000, 50.0), ("b", 1500, 10.0), ("b", 2500, 11.0),
    ]
    b1 = [r for r in data if r[1] <= 2000]
    b2 = [r for r in data if r[1] > 2000]
    schema = "id string, event_ms long, temperature double"
    f1, f2 = str(src / "b1"), str(src / "b2")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f1)
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f2)
    now = time.time()
    for i, f in enumerate([f1, f2]):
        for p in [os.path.join(f, x) for x in os.listdir(f)]:
            os.utime(p, (now + i, now + i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    alerts = ST.delta_alert(stream, "id", "event_ms", "temperature", 10.0)
    name = _run_to_memory(alerts, "append")
    got = {
        (r.key, r.event_ms): (r.prev_value, r.delta)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    batch = W.lag_delta(
        spark.createDataFrame(data, schema),
        "id",
        ["event_ms", "temperature"],
        "temperature",
        10.0,
    ).filter(F.col("alert") == 1)
    expected = {
        (r.id, r.event_ms): (r.prev_value, r.delta) for r in batch.collect()
    }
    assert got == expected, (got, expected)
    assert ("a", 2000) in got and ("a", 4000) in got  # cross-batch alert


def test_rising_value_warning(spark, tmp_path):
    """T10: warn fires only after an unbroken rise of >= rise_ms."""
    src = tmp_path / "rise_src"
    src.mkdir()
    data = [
        ("a", 0, 60.0), ("a", 4000, 61.0), ("a", 8000, 62.0),
        ("a", 12000, 63.0),   # rising since 4000 -> 8s span >= 8s -> warn
        ("b", 0, 60.0), ("b", 4000, 59.0), ("b", 8000, 60.5),  # fall resets
    ]
    schema = "id string, event_ms long, temperature double"
    spark.createDataFrame(data, schema).coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    warns = ST.rising_value_warning(stream, "id", "event_ms", "temperature", 8_000)
    name = _run_to_memory(warns, "append")
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert [(r.key, r.warn_ms) for r in rows] == [("a", 12000)], rows


def test_streaming_word_count_matches_batch(spark, tmp_path):
    """A6/StreamWorldCount parity: keyed running counts over a text
    stream (update mode) converge to the batch word count."""
    from flink_project_spark.llm.text import word_counts, words

    src = tmp_path / "wc_src"
    src.mkdir()
    lines = ["to be or not to be", "be that as it may", "or not"]
    for i, chunk in enumerate([lines[:2], lines[2:]]):
        spark.createDataFrame(
            [(ln,) for ln in chunk], "text string"
        ).coalesce(1).write.parquet(str(src / f"b{i}"))

    stream = (
        spark.readStream.schema("text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    counts = (
        stream.select(F.explode(words("text")).alias("word"))
        .groupBy("word")
        .count()
    )
    name = f"m{uuid.uuid4().hex[:10]}"
    q = (
        counts.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # update mode re-emits rows as counts grow; the LAST value per word
    # must equal the batch count
    got = {}
    for r in spark.sql(f"SELECT * FROM {name}").collect():
        got[r.word] = max(got.get(r.word, 0), r["count"])
    batch = spark.createDataFrame([(ln,) for ln in lines], "text string")
    expected = {
        r.word: r.cnt
        for r in word_counts(batch.withColumn("doc_id", F.lit(0)), "text").collect()
    }
    assert got == expected and got["be"] == 3 and got["or"] == 2


def test_sensor_stream_shape_and_distribution(spark):
    """S7: rate-source sensor generator — schema, key fan-out, and the
    Irwin-Hall Gaussian landing near N(60, 20) over a short run."""
    from flink_project_spark.streaming.sensors import sensor_stream

    st = sensor_stream(spark, rows_per_second=500, n_sensors=10)
    assert [f.name for f in st.schema.fields] == ["id", "event_ms", "temperature"]
    name = f"m{uuid.uuid4().hex[:10]}"
    q = st.writeStream.outputMode("append").format("memory").queryName(name).start()
    deadline = time.time() + 30
    rows = []
    while time.time() < deadline:
        rows = spark.sql(f"SELECT * FROM {name}").collect()
        if len(rows) >= 300:
            break
        time.sleep(0.5)
    q.stop()
    assert len(rows) >= 300
    ids = {r.id for r in rows}
    assert ids <= {f"sensor_{i}" for i in range(10)} and len(ids) == 10
    temps = [r.temperature for r in rows]
    m = sum(temps) / len(temps)
    assert 50 < m < 70, m  # ~N(60, 20); mean of 300+ draws well inside


def test_sliding_and_session_stream_match_batch(spark, tmp_path):
    """Sliding + session windows: streaming result == batch operator
    over the same replayed events (complete mode)."""
    src = _replay_dir(spark, tmp_path)
    batch = _events_batch(spark)

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    sl = SW.sliding_stream(stream, "ts", "10 minutes", "5 minutes", ["event_type"])
    name = _run_to_memory(sl, "complete")
    got = {
        (r.window_start, r.event_type): r.cnt
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    expected = {
        (r.window_start, r.event_type): r.cnt
        for r in W.sliding_counts(
            batch, "ts", "10 minutes", "5 minutes", ["event_type"]
        ).collect()
    }
    assert got == expected and len(got) > 0

    stream2 = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    se = SW.session_stream(stream2, "ts", "30 minutes", ["user_id"])
    name2 = _run_to_memory(se, "complete")
    got2 = {
        (r.session_start, r.user_id): (r.session_end, r.cnt)
        for r in spark.sql(f"SELECT * FROM {name2}").collect()
    }
    expected2 = {
        (r.session_start, r.user_id): (r.session_end, r.cnt)
        for r in W.session_counts(batch, "ts", "30 minutes", ["user_id"]).collect()
    }
    assert got2 == expected2 and len(got2) > 0


def test_side_output_dual_sink(spark, tmp_path):
    """O7: one stream fans out to a main sink and an alert side output
    inside a single foreachBatch (FreezingAlert.scala:15-28 parity) —
    each record lands in exactly one output, both written atomically per
    micro-batch.
    """
    src = tmp_path / "side_src"
    src.mkdir()
    schema = "id string, temperature double"
    spark.createDataFrame(
        [("s1", 50.0), ("s2", 30.0), ("s3", 33.0), ("s4", 20.0)], schema
    ).coalesce(1).write.parquet(str(src / "b1"))

    main_dir = str(tmp_path / "main_out")
    alert_dir = str(tmp_path / "alert_out")

    def route(batch_df, batch_id):
        batch_df.filter(F.col("temperature") >= 32.0).write.mode(
            "append"
        ).parquet(alert_dir)
        batch_df.filter(F.col("temperature") < 32.0).write.mode(
            "append"
        ).parquet(main_dir)

    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = stream.writeStream.foreachBatch(route).start()
    q.processAllAvailable()
    q.stop()
    alerts = {r.id for r in spark.read.parquet(alert_dir).collect()}
    mains = {r.id for r in spark.read.parquet(main_dir).collect()}
    assert alerts == {"s1", "s3"} and mains == {"s2", "s4"}
    assert alerts.isdisjoint(mains)


def test_count_with_timeout_emits_after_silence(spark, tmp_path):
    """T9: per-key count emitted once the key goes silent.

    NOTE: never call processAllAvailable() on a ProcessingTimeTimeout
    query — FlatMapGroupsWithStateExec.shouldRunAnotherBatch is always
    true for processing-time timeouts, so the no-new-data latch that
    processAllAvailable waits on never fires and it blocks forever.
    Poll the sink instead; the recurring trigger processes timeouts on
    its own (no extra input file needed).
    """
    src = tmp_path / "timeout_src"
    src.mkdir()
    schema = "id string, event_ms long"
    spark.createDataFrame(
        [("k1", 100), ("k1", 200), ("k2", 150)], schema
    ).coalesce(1).write.parquet(str(src / "b1"))

    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    counted = ST.count_with_timeout(stream, "id", timeout_ms=300)
    name = f"m{uuid.uuid4().hex[:10]}"
    q = (
        counted.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        rows = spark.sql(f"SELECT * FROM {name}").collect()
        if len(rows) >= 2:
            break
        time.sleep(0.5)
    q.stop()
    got = {r.key: r.cnt for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert got.get("k1") == 2 and got.get("k2") == 1, got


ACTION_JSON_SCHEMA = (
    "scene_id string, user_id string, item_id string, action string, "
    "context_exist string, action_time long, label int, channel string, "
    "score double, ts timestamp"
)


def test_windowed_uv_exact_counts_user_once_across_micro_batches(
    spark, tmp_path
):
    """T8 exact mode over micro-batches: users reappear in one hour
    window in two file slices, with the watermark-advance (no-data)
    batch between them, and each is still one user. The update-mode
    output, upserted per key like the KV sink, must equal the batch
    countDistinct."""
    import json

    watch, staging = tmp_path / "in", tmp_path / "staging"
    watch.mkdir()
    staging.mkdir()
    slices = [
        [("12:01", "click", 1), ("12:05", "click", 2), ("12:08", "view", 1)],
        [("12:24", "click", 1), ("12:31", "click", 3), ("12:40", "view", 1)],
    ]
    latest: dict = {}
    epochs: list[int] = []

    def sink(df, epoch_id):
        epochs.append(epoch_id)
        for r in df.collect():
            latest[(r.window_start, r.event_type)] = r.uv

    schema = "ts timestamp, event_type string, user_id long"
    stream = spark.readStream.schema(schema).json(str(watch))
    q = (
        SW.windowed_uv(stream, "ts", "1 hour", ["event_type"], exact=True)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for i, rows in enumerate(slices):
            tmp = staging / f"slice_{i}.json"
            tmp.write_text(
                "".join(
                    json.dumps(
                        {"ts": f"2024-01-08T{t}:00Z", "event_type": e, "user_id": u}
                    )
                    + "\n"
                    for t, e, u in rows
                )
            )
            tmp.rename(watch / tmp.name)
            q.processAllAvailable()
        data_epochs = [p["batchId"] for p in q.recentProgress if p["numInputRows"]]
    finally:
        q.stop()
    assert len(data_epochs) == 2
    assert set(epochs) - set(data_epochs), "no no-data batch ran"

    expected = {
        (r.w, r.event_type): r.uv
        for r in spark.read.schema(schema)
        .json(str(watch))
        .groupBy(F.window("ts", "1 hour").start.alias("w"), "event_type")
        .agg(F.countDistinct("user_id").alias("uv"))
        .collect()
    }
    assert latest == expected
    assert sorted(expected.values()) == [1, 3]


def test_kafka_shaped_ingest_chain(spark, tmp_path):
    """S6→P2→T2: the reference's primary streaming ingest path
    (flink-statistics action/ActionLogJob.java:107-135) without a
    broker — Kafka wire-shaped records (JSON binary value + topic/
    partition/offset/timestamp metadata) are file-replayed through a
    stream, from_json'd into action-log rows, gate-filtered
    (contextExist='1', non-blank ids), and windowed-counted; the result
    must equal the same chain computed in batch."""
    from flink_project_spark.sources import readers as RD

    actions = FX.fixture_df(spark, SF_SMOKE, "action_log").withColumn(
        "ts", F.timestamp_millis(F.col("action_time"))
    )
    wire = RD.as_kafka_records(
        actions, topic="0_action", ts_col="ts", key_col="scene_id"
    )
    assert [(f.name, f.dataType) for f in wire.schema] == [
        (f.name, f.dataType) for f in RD.KAFKA_RECORD_SCHEMA
    ]
    src = str(tmp_path / "kafka_replay")
    wire.write.mode("overwrite").parquet(src)

    def chain(kafka_df):
        parsed = RD.parse_kafka_json(kafka_df, ACTION_JSON_SCHEMA)
        valid = parsed.filter(
            (F.col("context_exist") == "1")
            & (F.col("user_id") != "")
            & (F.col("item_id") != "")
        )
        # tumbling_counts aggregates a `value` column (cnt + sum_value)
        return valid.withColumn("value", F.col("score"))

    stream = spark.readStream.schema(RD.KAFKA_RECORD_SCHEMA).parquet(src)
    agg = SW.tumbling_stream(
        chain(stream), "ts", "5 minutes", ["scene_id", "action"]
    )
    name = _run_to_memory(agg, "complete")
    got = {
        (r.window_start, r.scene_id, r.action): r.cnt
        for r in spark.table(name).collect()
    }

    batch_valid = chain(spark.read.parquet(src))
    expected = {
        (r.window_start, r.scene_id, r.action): r.cnt
        for r in W.tumbling_counts(
            batch_valid, "ts", "5 minutes", ["scene_id", "action"]
        ).collect()
    }
    assert got == expected and len(got) > 0
    # the gate dropped the context_exist='0' rows (1/20 of events)
    assert batch_valid.count() < spark.read.parquet(src).count()


def test_kafka_parse_drops_corrupt_values(spark):
    """from_json returns null on corrupt payloads; the parse chain must
    drop them exactly like the reference's emit-or-skip flatMap."""
    from flink_project_spark.sources import readers as RD

    rows = [
        ('{"scene_id":"s1","user_id":"u1","item_id":"i1","action":"show",'
         '"context_exist":"1","action_time":1,"label":0,"channel":"c",'
         '"score":1.0,"ts":"2024-01-01T00:00:00Z"}'),
        "NOT JSON {{{",
    ]
    kafka_like = spark.createDataFrame(
        [(v.encode(), None) for v in rows], "value binary, timestamp timestamp"
    )
    out = RD.parse_kafka_json(
        kafka_like, ACTION_JSON_SCHEMA, required_field="scene_id"
    ).collect()
    assert len(out) == 1 and out[0].scene_id == "s1"


def test_exact_uv_day_window_state_bound(spark, tmp_path):
    """T5/T8: exact-UV state at the 1-day resolution is bounded by the
    distinct (window, key, user) tuple count inside the watermark
    horizon, while the approx (HLL) default carries only one state row
    per (window, key) group — the property that decides which mode is
    viable at 100 TB (SURVEY §4: approx is the default, exact the
    documented opt-in)."""
    src = _replay_dir(spark, tmp_path)
    batch = _events_batch(spark)
    day_groups = (
        batch.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.countDistinct("user_id").alias("uv"))
        .collect()
    )
    n_groups = len(day_groups)
    distinct_tuples = (
        batch.select(
            F.window("ts", "1 day").alias("w"), "event_type", "user_id"
        )
        .distinct()
        .count()
    )

    def run(exact):
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
        uv = SW.windowed_uv(
            stream, "ts", "1 day", ["event_type"], exact=exact
        )
        name = f"uvday{int(exact)}"
        q = (
            uv.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        last = q.lastProgress
        ops = last["stateOperators"]
        state_rows = sum(op["numRowsTotal"] for op in ops)
        dedup_rows = sum(
            op["numRowsTotal"] for op in ops if op["operatorName"] == "dedupe"
        )
        # rows written to the stores over the whole replay: the data
        # batch inserts, the watermark-advance batch after it evicts
        state_writes = sum(
            op["numRowsUpdated"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        )
        q.stop()
        rows = {
            (r.window_start, r.event_type): r.uv
            for r in spark.table(name).collect()
        }
        watermark = last["eventTime"]["watermark"]
        return rows, state_rows, dedup_rows, state_writes, watermark

    exact_rows, exact_state, exact_dedup, exact_writes, exact_wm = run(True)
    approx_rows, approx_state, _, approx_writes, _ = run(False)

    # exact mode reproduces batch countDistinct bit-for-bit
    expected = {(r.w.start, r.event_type): r.uv for r in day_groups}
    assert exact_rows == expected
    # approx mode: right cardinality of groups, HLL estimate within 5%
    assert set(approx_rows) == set(expected)
    for k, uv in approx_rows.items():
        assert abs(uv - expected[k]) <= max(1, int(0.05 * expected[k]))

    # state bounds: approx carries ONE state row per group, and its
    # write volume is group-bounded too — independent of user count
    assert approx_state == n_groups
    assert approx_writes <= 2 * n_groups
    # exact mode WRITES one dedup key per distinct (window,key,user)
    # tuple — state cost scales with users — but RETAINED state stays
    # within the watermark horizon: once the watermark passes a window's
    # end, its dedup keys are evicted, and the keys of windows still
    # open are all kept, so long-run state is bounded, not unbounded
    assert exact_writes >= distinct_tuples
    assert exact_state <= distinct_tuples + n_groups
    open_tuples = (
        batch.select(F.window("ts", "1 day").alias("w"), "event_type", "user_id")
        .distinct()
        .filter(F.col("w.end") > F.lit(exact_wm).cast("timestamp"))
        .count()
    )
    assert 0 < open_tuples < distinct_tuples
    assert exact_dedup == open_tuples


def test_socket_stream_ingest(spark):
    """S5: real socket-source ingest against an in-process TCP server —
    lines arrive over the wire, flow through the word-count chain
    (StreamWorldCount.scala:13-15), and land in the memory sink."""
    import socket
    import threading

    from flink_project_spark.sources import readers as RD

    try:
        server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        server.bind(("127.0.0.1", 0))
    except OSError:
        pytest.skip("sandbox forbids local TCP sockets")
    port = server.getsockname()[1]
    server.listen(1)
    stop = threading.Event()

    def serve():
        conn, _ = server.accept()
        try:
            conn.sendall(b"hello world\nhello spark\n")
            # keep the connection open until the query has drained it --
            # the socket source treats EOF as end-of-stream
            stop.wait(timeout=30)
        finally:
            conn.close()
            server.close()

    threading.Thread(target=serve, daemon=True).start()

    stream = RD.read_socket_stream(spark, "127.0.0.1", port)
    counts = (
        stream.select(F.explode(F.split(F.col("value"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    name = "socket_wc"
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        deadline = time.time() + 30
        got = {}
        while time.time() < deadline:
            got = {r.word: r.cnt for r in spark.table(name).collect()}
            if got.get("hello") == 2:
                break
            time.sleep(0.5)
        assert got == {"hello": 2, "world": 1, "spark": 1}, got
    finally:
        stop.set()
        q.stop()


def test_streaming_exact_dedup_matches_batch_and_readmits_after_horizon(
    spark, tmp_path
):
    """Ingest dedup: within one watermark horizon the stream keeps
    exactly the batch operator's survivor set (first arrival per content
    hash); a duplicate arriving beyond the horizon is re-admitted —
    the documented bounded-state trade-off."""
    from flink_project_spark.streaming import dedup as SD

    src = tmp_path / "dedup_src"
    src.mkdir()
    base = "2024-01-01 00:"

    def mk(rows):
        return spark.createDataFrame(
            rows, "doc_id long, ts_s string, text string"
        ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "text")

    # batch 1: a,b,a-dup inside the horizon; batch 2 advances the
    # watermark far past the horizon; batch 3 re-sends a
    batches = [
        mk([(1, f"{base}00:00", "a"), (2, f"{base}00:30", "b"),
            (3, f"{base}01:00", "a")]),
        mk([(4, f"{base}40:00", "c")]),
        mk([(5, f"{base}41:00", "a")]),
    ]
    batches[0].coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(
        "doc_id long, ts timestamp, text string"
    ).parquet(str(src))
    out = SD.streaming_exact_dedup(stream, "text", "ts", "10 minutes")
    name = f"m{uuid.uuid4().hex[:10]}"
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    for b in batches[1:]:
        b.coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    q.stop()
    got = sorted(
        (r.doc_id, r.text)
        for r in spark.sql(f"SELECT doc_id, text FROM {name}").collect()
    )
    # in-horizon: doc 3 (duplicate of 1) dropped — matches the batch
    # operator on batch 1; cross-horizon: doc 5 re-admitted
    assert got == [(1, "a"), (2, "b"), (4, "c"), (5, "a")], got

    batch_survivors = sorted(
        r.doc_id
        for r in SD.streaming_exact_dedup(batches[0], "text", "ts").collect()
    )
    assert batch_survivors == [1, 2]


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream self-join (interval attribution pairs) equals the
    identical batch interval join over the replayed events."""
    from flink_project_spark.streaming import joins as SJ

    def as_actions(df):
        return df.select(
            F.col("user_id"),
            (F.col("event_id") % 97).alias("item_id"),
            F.when(F.col("event_type").isin("view", "signup"), "show")
            .when(F.col("event_type") == "click", "click")
            .otherwise("other")
            .alias("action"),
            F.col("ts"),
        )

    src = _replay_dir(spark, tmp_path)
    stream = as_actions(spark.readStream.schema(EVENTS_SCHEMA).parquet(src))
    pairs = SJ.click_show_pairs_stream(stream, horizon="30 days")
    name = _run_to_memory(pairs, "append")
    got = {
        (r.user_id, r.item_id, r.click_ts, r.show_ts)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }

    batch = as_actions(_events_batch(spark))
    clicks = batch.filter(F.col("action") == "click").select(
        "user_id", "item_id", F.col("ts").alias("click_ts")
    )
    shows = batch.filter(F.col("action") == "show").select(
        F.col("user_id").alias("s_user"),
        F.col("item_id").alias("s_item"),
        F.col("ts").alias("show_ts"),
    )
    expected = {
        (r.user_id, r.item_id, r.click_ts, r.show_ts)
        for r in clicks.join(
            shows,
            (F.col("user_id") == F.col("s_user"))
            & (F.col("item_id") == F.col("s_item"))
            & (F.col("show_ts") <= F.col("click_ts"))
            & (F.col("show_ts") >= F.col("click_ts") - F.expr("INTERVAL 30 days")),
        ).collect()
    }
    assert len(got) > 0
    assert got == expected


def test_interval_join_stream_rejects_same_ts_name(spark):
    from flink_project_spark.streaming import joins as SJ

    df = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="distinct names"):
        SJ.interval_join_stream(df, df, ["value"], "timestamp", "timestamp")


def test_streaming_funnel_matches_batch_and_slicing(spark, tmp_path):
    """The streamed funnel (3 micro-batches, events deliberately split
    so later batches carry EARLIER timestamps — late arrivals) emits,
    on its final batch, exactly the batch `funnel_times` over all
    events; and every intermediate emission equals the batch operator
    over the events delivered so far."""
    from flink_project_spark.operators.funnel import funnel_times
    from flink_project_spark.streaming.funnel import funnel_foreach_batch

    steps = ["view", "click", "purchase"]
    events = _events_batch(spark)

    src = tmp_path / "src"
    src.mkdir()
    store = str(tmp_path / "funnel_store")
    emissions: dict[int, set] = {}

    def sink(times, batch_id):
        emissions[batch_id] = {
            tuple(r) for r in times.select("user_id", "t1", "t2", "t3").collect()
        }

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(str(src))
    q = (
        stream.writeStream.foreachBatch(
            funnel_foreach_batch(store, sink, steps)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    # slice by user-id residue, NOT by time: each batch mixes early and
    # late timestamps, so in-order delivery is never assumed
    slices = [
        events.filter(F.col("user_id") % 3 == k) for k in (0, 1, 2)
    ]
    seen = None
    for k, s in enumerate(slices):
        s.coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        seen = s if seen is None else seen.unionByName(s)
        want = {
            tuple(r)
            for r in funnel_times(seen, steps)
            .select("user_id", "t1", "t2", "t3")
            .collect()
        }
        assert emissions[k] == want, f"batch {k} diverged"
    q.stop()
    assert len(emissions[2]) > 0
    full = {
        tuple(r)
        for r in funnel_times(events, steps)
        .select("user_id", "t1", "t2", "t3")
        .collect()
    }
    assert emissions[2] == full


def test_streaming_funnel_replay_idempotent(spark, tmp_path):
    """Re-running a batch with the same batch_id overwrites its own
    store partition instead of double-counting its events."""
    from flink_project_spark.streaming.funnel import funnel_batch

    store = str(tmp_path / "store")
    b = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "view"),
         (1, "2024-01-01 00:01:00", "click"),
         (1, "2024-01-01 00:02:00", "purchase")],
        "user_id long, ts_s string, event_type string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    steps = ["view", "click", "purchase"]
    first = funnel_batch(b, store, steps, batch_id=5).collect()
    again = funnel_batch(b, store, steps, batch_id=5).collect()
    assert first == again and len(first) == 1
    assert first[0]["t3"] is not None


def test_streaming_retention_matches_batch(spark, tmp_path):
    """The streamed cohort-retention matrix equals the batch operator
    over the delivered events at every micro-batch — including a
    user-id-residue slicing that delivers a user's FIRST-period event
    in a LATER batch (cohort re-anchoring)."""
    from flink_project_spark.operators.funnel import cohort_retention
    from flink_project_spark.streaming.funnel import retention_foreach_batch

    events = _events_batch(spark)
    src = tmp_path / "rsrc"
    src.mkdir()
    store = str(tmp_path / "ret_store")
    emissions: dict[int, set] = {}

    def sink(matrix, batch_id):
        emissions[batch_id] = {
            (r.cohort, r.period_offset, r.users) for r in matrix.collect()
        }

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(str(src))
    q = (
        stream.writeStream.foreachBatch(
            retention_foreach_batch(store, sink, period="week")
        )
        .option("checkpointLocation", str(tmp_path / "rckpt"))
        .start()
    )
    slices = [events.filter(F.col("event_id") % 2 == 1),
              events.filter(F.col("event_id") % 2 == 0)]
    seen = None
    for k, s in enumerate(slices):
        s.coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        seen = s if seen is None else seen.unionByName(s)
        want = {
            (r.cohort, r.period_offset, r.users)
            for r in cohort_retention(seen, period="week").collect()
        }
        assert emissions[k] == want, f"batch {k} diverged"
    q.stop()
    assert len(emissions[1]) > 0
    full = {
        (r.cohort, r.period_offset, r.users)
        for r in cohort_retention(events, period="week").collect()
    }
    assert emissions[1] == full


def test_streaming_funnel_empty_batch_preserves_state(spark, tmp_path):
    """An empty micro-batch (a poll with no new files) re-emits the
    unchanged funnel state instead of erroring or clearing it; an empty
    FIRST retention batch yields the empty matrix, not an exception."""
    from flink_project_spark.streaming.funnel import funnel_batch, retention_batch

    steps = ["view", "click", "purchase"]
    b = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "view")],
        "user_id long, ts_s string, event_type string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    store = str(tmp_path / "f")
    first = funnel_batch(b, store, steps, batch_id=0).collect()
    empty = b.filter(F.lit(False))
    again = funnel_batch(empty, store, steps, batch_id=1).collect()
    assert again == first and len(first) == 1
    assert retention_batch(
        empty, str(tmp_path / "r"), batch_id=0
    ).collect() == []


def test_stateful_operators_survive_null_rows(spark, tmp_path):
    """A NULL event time or NULL value must not kill the streaming
    query: Arrow renders NULL longs as NaN, and the int64 conversion in
    the stateful scan loops would raise on it forever (retry-replay of
    the same batch). NULL rows are excluded from the time-ordered state
    transitions; real rows around them still alert."""
    src = tmp_path / "null_src"
    src.mkdir()
    schema = "id string, event_ms long, temperature double"
    data = [
        ("a", 1000, 60.0), ("a", None, 99.0), ("a", 2000, 75.0),
        ("a", 3000, None), ("a", 4000, 80.0), ("b", None, None),
    ]
    spark.createDataFrame(data, schema).coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    alerts = ST.delta_alert(stream, "id", "event_ms", "temperature", 10.0)
    name = _run_to_memory(alerts, "append")
    got = {
        (r.key, r.event_ms) for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert got == {("a", 2000)}  # 60 -> 75 fires; NULL rows inert

    # rise arms at 2000 (60 -> 75); the NULL rows in between are inert;
    # the 4000 event crosses the 500 ms deadline and fires the warning
    warn = ST.rising_value_warning(
        stream, "id", "event_ms", "temperature", rise_ms=500
    )
    name2 = _run_to_memory(warn, "append")
    rows = spark.sql(f"SELECT * FROM {name2}").collect()
    assert {(r.key, r.warn_ms) for r in rows} == {("a", 4000)}


def test_windowed_uv_exact_ignores_null_users(spark, tmp_path):
    """Exact mode must agree with COUNT DISTINCT semantics (the approx
    path and the batch twin): a NULL user_id is not a user."""
    src = tmp_path / "uvsrc"
    src.mkdir()
    schema = "ts timestamp, k string, user_id long"
    rows = [("2024-01-01 00:01:00", "k", 1),
            ("2024-01-01 00:02:00", "k", None),
            ("2024-01-01 00:03:00", "k", 1)]
    spark.createDataFrame(
        [(t, k, u) for t, k, u in rows], "ts_s string, k string, user_id long"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "k", "user_id"
    ).coalesce(1).write.parquet(str(src / "b"))
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    from flink_project_spark.streaming.windows import windowed_uv

    got = {}
    for exact in (False, True):
        out = windowed_uv(
            stream, "ts", "1 hour", ["k"], exact=exact,
            watermark="10 minutes",
        )
        name = _run_to_memory(out, "complete")
        rows_out = spark.sql(f"SELECT * FROM {name}").collect()
        got[exact] = {(r.k, r.uv) for r in rows_out}
    assert got[True] == {("k", 1)}
    assert got[False] == {("k", 1)}


def _mk_semantic_corpus(spark):
    """9 dim-8 vectors: three clusters of near-identical vectors
    (cosine ~0.999 within, < 0.5 across) with staggered timestamps."""
    import math

    bases = [
        [1.0, 0.1, 0.0, 0.2, 0.0, 0.1, 0.0, 0.0],
        [0.0, 1.0, 0.2, 0.0, 0.1, 0.0, 0.2, 0.0],
        [0.1, 0.0, 0.0, 1.0, 0.0, 0.2, 0.0, 1.0],
    ]
    rows = []
    for i in range(9):
        b = bases[i % 3]
        eps = 0.001 * (i // 3)
        vec = [x + eps for x in b]
        ts = f"2024-01-01 00:0{i}:00"
        rows.append((i, ts, vec))
    df = spark.createDataFrame(
        rows, "doc_id long, ts_s string, embedding array<double>"
    ).select(
        "doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "embedding"
    )

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    # greedy twin: arrival order, EVERY prior arrival (kept or dropped)
    # within the horizon blocks a cosine>=threshold newcomer
    twin = set()
    for i, (_, _, v) in enumerate(rows):
        blocked = any(cos(v, rows[j][2]) >= 0.9 for j in range(i))
        if not blocked:
            twin.add(i)
    return df, rows, twin


def test_streaming_semantic_dedup_matches_twin_and_slicing(spark, tmp_path):
    """Embedding twin of the SimHash ingest dedup: the single-batch
    run, the 3-micro-batch streamed run, and the greedy arrival-order
    twin all admit the same set (n_planes=0 = one global bucket, so
    candidate recall is exact and the equivalence is exact)."""
    from flink_project_spark.streaming.dedup import (
        semantic_dedup_batch,
        semantic_dedup_foreach_batch,
    )

    df, rows, twin = _mk_semantic_corpus(spark)
    assert twin == {0, 1, 2}  # later cluster members are near-dups

    store1 = str(tmp_path / "store1")
    got_single = {
        r["doc_id"]
        for r in semantic_dedup_batch(
            df, store1, dim=8, threshold=0.9, n_planes=0,
            horizon_seconds=3600,
        ).collect()
    }
    assert got_single == twin

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    store2 = str(tmp_path / "store2")

    def sink(survivors, batch_id):
        survivors.write.mode("append").parquet(out)

    stream = spark.readStream.schema(
        "doc_id long, ts timestamp, embedding array<double>"
    ).parquet(str(src))
    q = (
        stream.writeStream.foreachBatch(
            semantic_dedup_foreach_batch(
                store2, sink, dim=8, threshold=0.9, n_planes=0,
                horizon_seconds=3600,
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    slices = [
        df.filter(F.col("doc_id") <= 2),
        df.filter((F.col("doc_id") > 2) & (F.col("doc_id") <= 5)),
        df.filter(F.col("doc_id") > 5),
    ]
    for s in slices:
        s.coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    q.stop()
    got_stream = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got_stream == twin


def test_streaming_semantic_dedup_replay_and_horizon(spark, tmp_path):
    """Replaying a batch_id overwrites its own store partition and
    admits the identical set; a semantic dup past the horizon is
    re-admitted (bounded-state contract, same as the SimHash twin)."""
    from flink_project_spark.streaming.dedup import semantic_dedup_batch

    store = str(tmp_path / "store")
    vec = [1.0, 0.5, 0.0, 0.2, 0.1, 0.0, 0.3, 0.0]

    def mk(did, ts):
        return spark.createDataFrame(
            [(did, ts, vec)], "doc_id long, ts_s string, embedding array<double>"
        ).select(
            "doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "embedding"
        )

    kw = dict(dim=8, threshold=0.9, n_planes=4, horizon_seconds=600)
    b1 = semantic_dedup_batch(mk(1, "2024-01-01 00:00:00"), store, batch_id=0, **kw)
    assert {r["doc_id"] for r in b1.collect()} == {1}
    # replay of batch 0: same result, store still one partition
    b1r = semantic_dedup_batch(mk(1, "2024-01-01 00:00:00"), store, batch_id=0, **kw)
    assert {r["doc_id"] for r in b1r.collect()} == {1}
    import os

    assert [d for d in sorted(os.listdir(store)) if d.startswith("batch=")] == [
        "batch=0"
    ]
    # in-horizon semantic dup: dropped
    b2 = semantic_dedup_batch(mk(2, "2024-01-01 00:05:00"), store, batch_id=1, **kw)
    assert b2.count() == 0
    # past the horizon: re-admitted
    b3 = semantic_dedup_batch(mk(3, "2024-01-01 02:00:00"), store, batch_id=2, **kw)
    assert {r["doc_id"] for r in b3.collect()} == {3}
    # NULL event time orders last: loses to the stored arrival even
    # though every real-ts row is past ITS horizon-from-null viewpoint
    nullb = spark.createDataFrame(
        [(4, None, vec)], "doc_id long, ts_s string, embedding array<double>"
    ).select(
        "doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "embedding"
    )
    b4 = semantic_dedup_batch(nullb, store, batch_id=3, **kw)
    assert b4.count() == 0


def test_streaming_semantic_dedup_per_document_horizon(spark, tmp_path):
    """The semantic twin enforces the same PER-DOCUMENT horizon as the
    SimHash twin: an in-batch dup pair further apart than the horizon
    keeps both docs (one batch or sliced), and a stored arrival within
    an early batchmate's own horizon drops it even when a later
    batchmate pushes the batch maximum far past it."""
    from flink_project_spark.streaming.dedup import semantic_dedup_batch

    vec = [1.0, 0.5, 0.0, 0.2, 0.1, 0.0, 0.3, 0.0]
    other = [0.0, 0.1, 1.0, 0.0, 0.7, 0.2, 0.0, 0.5]

    def mk(rows):
        return spark.createDataFrame(
            rows, "doc_id long, ts_s string, embedding array<double>"
        ).select(
            "doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "embedding"
        )

    kw = dict(dim=8, threshold=0.9, n_planes=0, horizon_seconds=600)

    # in-batch pair 1200s apart: both survive, in one batch or sliced
    pair = [(1, "2024-01-01 00:00:00", vec), (2, "2024-01-01 00:20:00", vec)]
    one = semantic_dedup_batch(mk(pair), str(tmp_path / "a1"), batch_id=0, **kw)
    assert {r["doc_id"] for r in one.collect()} == {1, 2}
    s2 = str(tmp_path / "a2")
    assert {
        r["doc_id"]
        for r in semantic_dedup_batch(mk(pair[:1]), s2, batch_id=0, **kw).collect()
    } == {1}
    assert {
        r["doc_id"]
        for r in semantic_dedup_batch(mk(pair[1:]), s2, batch_id=1, **kw).collect()
    } == {2}

    # stored ref at 00:15; batch = dup at 00:20 + unrelated at 00:40:
    # the dup's own horizon reaches 00:10, so it drops — a max-based
    # batch cutoff (00:30) would have pruned the ref and admitted it
    s3 = str(tmp_path / "b1")
    semantic_dedup_batch(
        mk([(9, "2024-01-01 00:15:00", vec)]), s3, batch_id=0, **kw
    ).collect()
    mixed = semantic_dedup_batch(
        mk([(10, "2024-01-01 00:20:00", vec),
            (11, "2024-01-01 00:40:00", other)]),
        s3,
        batch_id=1,
        **kw,
    )
    assert {r["doc_id"] for r in mixed.collect()} == {11}


def test_session_checkpoint_settings(spark):
    """The engine's session commits checkpoints through the FileSystem
    manager on Hadoop's LocalFileSystem and keeps one state version in
    memory. The manager class must load in the running JVM: a PySpark
    upgrade that moves or renames it fails here, not on the first
    streaming query."""
    from flink_project_spark.session import (
        CHECKPOINT_FILE_MANAGER,
        LOCAL_FILE_SYSTEM,
    )

    conf = spark.conf
    assert conf.get("spark.sql.streaming.checkpointFileManagerClass") == (
        CHECKPOINT_FILE_MANAGER
    )
    assert conf.get("spark.sql.streaming.maxBatchesToRetainInMemory") == "1"
    # file: resolves to Hadoop's LocalFileSystem, whose rename overwrites
    local = spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration()
    )
    assert local.getClass().getName() == LOCAL_FILE_SYSTEM
    Class = spark._jvm.java.lang.Class
    manager = Class.forName(CHECKPOINT_FILE_MANAGER)
    assert Class.forName(
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "CheckpointFileManager"
    ).isAssignableFrom(manager)
