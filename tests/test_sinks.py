"""Sink semantics — the Hdfs2Redis publish pipeline (flink-process parity):
min-length filter, truncation at max, DEL-then-RPUSH list replace, TTL,
HSET hash writes, idempotent foreachBatch-style upserts.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from flink_project_spark.sinks import writers as WR


def test_kv_list_publish_bounds(spark):
    """Ref: Hdfs2RedisVersion5.java:67-92 — keep >= min, truncate at max,
    7-day TTL, DEL-then-RPUSH."""
    store_name = f"t_{time.time_ns()}"
    rows = [
        ("item_small", [f"n{i}" for i in range(2)]),   # below min -> dropped
        ("item_mid", [f"n{i}" for i in range(5)]),      # kept as-is
        ("item_big", [f"n{i}" for i in range(12)]),     # truncated to max
    ]
    df = spark.createDataFrame(rows, "item_id string, neighbors array<string>")
    WR.write_kv_lists(
        df, "item_id", "neighbors",
        min_len=3, max_len=8, ttl_seconds=7 * 24 * 3600,
        key_prefix="cf_", store_name=store_name,
    )
    store = WR.get_kv_store(store_name)
    assert "cf_item_small" not in store.lists
    assert store.lists["cf_item_mid"] == [f"n{i}" for i in range(5)]
    assert store.lists["cf_item_big"] == [f"n{i}" for i in range(8)]
    # TTL recorded ~7 days out
    assert store.ttls["cf_item_big"] - time.time() > 6.9 * 24 * 3600
    # DEL-then-RPUSH: re-publish replaces, never appends
    WR.write_kv_lists(
        df, "item_id", "neighbors",
        min_len=3, max_len=4, store_name=store_name, key_prefix="cf_",
    )
    assert store.lists["cf_item_big"] == [f"n{i}" for i in range(4)]


def test_kv_list_publish_joined_string(spark):
    """The joined ``item:score,...`` column `itemcf_topn` emits publishes
    under the same bounds as an array: split on ',' in Catalyst, with
    empty entries and NULL strings holding no items."""
    store_name = f"t_{time.time_ns()}"
    df = spark.createDataFrame(
        [
            ("a", "i1:0.9,i2:0.5,i3:0.1"),  # truncated to max
            ("b", "i1:0.9"),  # below min -> dropped
            ("c", ""),  # empty list -> dropped
            ("d", None),  # NULL -> dropped
            ("e", "i1:0.2,,i4:0.1"),  # the empty entry is not an item
        ],
        "item_id string, neighbors string",
    )
    WR.write_kv_lists(
        df, "item_id", "neighbors", min_len=2, max_len=2, store_name=store_name
    )
    store = WR.get_kv_store(store_name)
    assert store.lists == {"a": ["i1:0.9", "i2:0.5"], "e": ["i1:0.2", "i4:0.1"]}


def test_kv_hash_writes(spark):
    store_name = f"t_{time.time_ns()}"
    df = spark.createDataFrame(
        [("k1", "f1", "v1"), ("k1", "f2", "v2"), ("k2", "f1", "v3")],
        "k string, f string, v string",
    )
    WR.write_kv_hash(df, "k", "f", "v", store_name=store_name)
    store = WR.get_kv_store(store_name)
    assert store.hashes["k1"] == {"f1": "v1", "f2": "v2"}
    assert store.hashes["k2"] == {"f1": "v3"}


def test_foreach_batch_upsert_idempotent(spark):
    """T12/K6: replaying the same micro-batch must not change state
    (exactly-once via idempotency)."""
    store_name = f"t_{time.time_ns()}"
    df = spark.createDataFrame(
        [("s1", "w1", 10), ("s1", "w2", 20)],
        "scene string, win string, cnt int",
    )
    fn = WR.foreach_batch_kv_upsert(["scene", "win"], "cnt", store_name=store_name)
    fn(df, epoch_id=0)
    store = WR.get_kv_store(store_name)
    first = dict(store.hashes)
    fn(df, epoch_id=0)  # replay
    assert store.hashes == first
    assert store.hashes["s1|w1"]["v"] == "10"


def test_foreach_batch_upsert_in_watermarked_stream(spark, tmp_path):
    """T12 wired into a real `foreachBatch`: a file stream feeds a
    watermarked update-mode day count over 8 state partitions, in two
    slices, so the sink also runs on the watermark-advance (no-data)
    batches. The store must hold the batch answer, replaying the last
    data epoch after a crash before its commit must not change it, and
    the checkpoint's state and offset logs hold no temp files after."""
    import json
    import shutil

    from flink_project_spark.streaming import windows as SW

    watch, staging = tmp_path / "in", tmp_path / "staging"
    watch.mkdir()
    staging.mkdir()
    # slice 2 starts two days after slice 1 ends: no row is late
    types = ["click", "view", "a|b"]
    slices = [
        [
            {"ts": f"2024-01-{d:02d}T{h:02d}:30:00Z", "event_type": types[(d + h) % 3]}
            for d in days
            for h in range(24)
        ]
        for days in ((1, 2), (4, 5))
    ]
    store_name = f"t_{time.time_ns()}"
    upsert = WR.foreach_batch_kv_upsert(
        ["window_start", "event_type"], "cnt", store_name=store_name
    )
    epochs: list[int] = []

    def sink(df, epoch_id):
        epochs.append(epoch_id)
        upsert(df, epoch_id)

    ckpt = str(tmp_path / "ckpt")
    schema = "ts timestamp, event_type string"

    def start():
        stream = spark.readStream.schema(schema).json(str(watch))
        counts = SW.tumbling_stream(
            stream, "ts", "1 day", ["event_type"], "1 hour", value_col=None
        )
        return (
            counts.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        for i, rows in enumerate(slices):
            tmp = staging / f"slice_{i}.json"
            tmp.write_text("".join(json.dumps(r) + "\n" for r in rows))
            tmp.rename(watch / tmp.name)
            q.processAllAvailable()
        data_epochs = [p["batchId"] for p in q.recentProgress if p["numInputRows"]]
    finally:
        q.stop()
    assert len(data_epochs) == 2
    assert set(epochs) - set(data_epochs), "no no-data batch reached the sink"

    events = spark.read.schema(schema).json(str(watch))
    expected = {
        "{}|{}".format(r.ws, r.event_type.replace("|", "\\|")): {"v": str(r["count"])}
        for r in events.groupBy(
            F.window("ts", "1 day").start.cast("string").alias("ws"), "event_type"
        )
        .count()
        .collect()
    }
    store = WR.get_kv_store(store_name)
    assert store.hashes == expected and len(expected) == 12

    # crash after the sink wrote the last data epoch, before its commit:
    # the restart replays that epoch (and its no-data follow-up)
    last = data_epochs[-1]
    for log in ("commits", "offsets"):
        for f in os.listdir(os.path.join(ckpt, log)):
            n = int(f.lstrip(".").split(".")[0])
            if n > last or (log == "commits" and n == last):
                os.remove(os.path.join(ckpt, log, f))
    epochs.clear()
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert last in epochs
    assert store.hashes == expected
    # every state and offset file was committed by rename: no temp file
    # of the session's checkpoint file manager is left behind
    leftovers = [
        f
        for log in ("state", "offsets")
        for _, _, files in os.walk(os.path.join(ckpt, log))
        for f in files
        if ".tmp" in f
    ]
    assert not leftovers
    shutil.rmtree(store.root, ignore_errors=True)


def test_csv_text_roundtrip(spark, tmp_path):
    """K1/K2: overwrite text + custom-delimiter CSV land on disk and read
    back identically."""
    df = spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, v int"
    )
    csv_path = str(tmp_path / "csv_out")
    WR.write_csv(df, csv_path, sep="/", parallelism=2)
    back = spark.read.option("sep", "/").schema("k string, v int").csv(csv_path)
    assert sorted(r.k for r in back.collect()) == ["a", "b"]

    txt_path = str(tmp_path / "txt_out")
    WR.write_text(df.select(F.concat_ws(",", "k", "v")), txt_path)
    lines = sorted(r.value for r in spark.read.text(txt_path).collect())
    assert lines == ["a,1", "b,2"]


def test_es_document_indexing(spark, tmp_path):
    """K5: index-request shape — one (index/id, JSON source) per row,
    bulk-batched per partition; re-index overwrites (idempotent)."""
    import json
    import shutil

    from flink_project_spark.sinks import writers as WR

    store = WR.get_kv_store("es_test")
    shutil.rmtree(store.root, ignore_errors=True)
    store = WR.get_kv_store("es_test")
    df = spark.createDataFrame(
        [(1, "alpha", 0.5), (2, "beta", 1.5)],
        "doc_id long, title string, score double",
    )
    WR.write_es_documents(
        df, "docs", "doc_id", bulk_size=1, store_name="es_test"
    )
    hashes = store.hashes
    assert set(hashes) == {"docs/1", "docs/2"}
    src = json.loads(hashes["docs/1"]["_source"])
    assert src == {"title": "alpha", "score": 0.5}
    # idempotent re-index (exactly-once effect under replay)
    WR.write_es_documents(
        df.withColumn("title", F.lit("updated")),
        "docs",
        "doc_id",
        store_name="es_test",
    )
    assert json.loads(store.hashes["docs/2"]["_source"])["title"] == "updated"


def test_kafka_sink_frame_contract_and_roundtrip(spark):
    """K7: the producer frame meets the kafka sink's column contract and
    round-trips losslessly through the consumer-side parser."""
    from flink_project_spark.sources import readers as RD

    df = spark.createDataFrame(
        [("scene_1", "u1", 5.0), ("scene_2", "u2", 7.5)],
        "scene_id string, user_id string, score double",
    )
    frame = WR.kafka_sink_frame(df, topic="t_actions", key_col="scene_id")
    assert dict(frame.dtypes) == {
        "key": "binary", "value": "binary", "topic": "string"
    }
    # produce -> consume symmetry: parse_kafka_json recovers the payload
    wire = frame.withColumn(
        "timestamp", F.current_timestamp()
    )
    back = RD.parse_kafka_json(
        wire, "scene_id string, user_id string, score double",
        required_field="scene_id",
    ).select("scene_id", "user_id", "score")
    assert sorted(back.collect()) == sorted(df.collect())


def test_es_documents_drop_null_ids(spark, tmp_path):
    """NULL-id rows are DROPPED, not stringified: they would all
    collapse onto the single '{index}/None' key and silently overwrite
    each other."""
    import shutil

    from flink_project_spark.sinks import writers as WR

    store = WR.get_kv_store("es_null_test")
    shutil.rmtree(store.root, ignore_errors=True)
    store = WR.get_kv_store("es_null_test")
    df = spark.createDataFrame(
        [(1, "alpha"), (None, "ghost1"), (None, "ghost2")],
        "doc_id long, title string",
    )
    WR.write_es_documents(df, "docs", "doc_id", store_name="es_null_test")
    assert set(store.hashes) == {"docs/1"}


def test_kafka_sink_frame_per_row_topic_passthrough(spark):
    """A frame already carrying per-row routing columns keeps them as
    ROUTING (excluded from the default JSON payload) instead of folding
    them into the value and losing per-row topic routing."""
    df = spark.createDataFrame(
        [("t_a", "u1", 5.0), ("t_b", "u2", 7.5)],
        "topic string, user_id string, score double",
    )
    frame = WR.kafka_sink_frame(df, key_col="user_id")
    assert dict(frame.dtypes) == {
        "key": "binary", "value": "binary", "topic": "string"
    }
    rows = frame.collect()
    assert {r.topic for r in rows} == {"t_a", "t_b"}
    import json
    payload = json.loads(bytes(rows[0].value).decode())
    assert "topic" not in payload  # routing metadata, not record field
    # explicit topic= alongside a topic COLUMN is rejected — the
    # column's data would be silently discarded (neither routed nor in
    # the payload)
    import pytest

    with pytest.raises(ValueError, match="topic"):
        WR.kafka_sink_frame(df, topic="fixed")
    # ...unless the caller keeps the column in the payload explicitly
    over = WR.kafka_sink_frame(
        df, topic="fixed", value_cols=["topic", "user_id", "score"]
    )
    rows2 = over.collect()
    assert {r.topic for r in rows2} == {"fixed"}
    payloads = {json.loads(bytes(r.value).decode())["topic"] for r in rows2}
    assert payloads == {"t_a", "t_b"}  # column data preserved in payload


def test_kv_lists_null_elements_and_ttl_clear(spark, tmp_path):
    """NULL list elements never publish as the string 'None' (and don't
    count toward min_len); a replace WITHOUT ttl clears a stale TTL
    (Redis DEL-then-RPUSH semantics)."""
    import shutil

    from flink_project_spark.sinks import writers as WR

    store = WR.get_kv_store("kvl_test")
    shutil.rmtree(store.root, ignore_errors=True)
    store = WR.get_kv_store("kvl_test")
    df = spark.createDataFrame(
        [("k1", ["a", None, "b", "c"]),      # 3 real entries: kept
         ("k2", ["x", None, None, None])],   # 1 real entry: cut
        "key string, vals array<string>",
    )
    WR.write_kv_lists(
        df, "key", "vals", min_len=3, max_len=10, store_name="kvl_test"
    )
    assert store.lists == {"k1": ["a", "b", "c"]}

    store.replace_list("k9", ["v"], ttl_seconds=3600)
    assert "k9" in store.ttls
    store.replace_list("k9", ["v2"])  # plain DEL+RPUSH: TTL cleared
    assert "k9" not in store.ttls


def test_compact_parquet_rejects_partitioned_root(spark, tmp_path):
    """Compacting a Hive-partitioned dataset root would silently
    flatten the partition layout — it must fail loudly instead."""
    import pytest

    from flink_project_spark.sinks.writers import compact_parquet

    path = str(tmp_path / "part_ds")
    spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02")], "v long, dt string"
    ).write.partitionBy("dt").parquet(path)
    with pytest.raises(ValueError, match="partitioned dataset root"):
        compact_parquet(spark, path)
    # a leaf partition compacts fine
    assert compact_parquet(spark, path + "/dt=2024-01-01") == 1


def test_write_kafka_validates_frame_and_wires_sink(spark, tmp_path):
    """K7/T14: write_kafka rejects malformed frames; a valid frame
    reaches Spark's kafka sink resolution (no broker in the sandbox, so
    saving fails inside Spark's data-source lookup, not in our code)."""
    import pytest

    df = spark.createDataFrame([("a", 1)], "k string, v int")
    with pytest.raises(ValueError, match="kafka sink frame missing"):
        WR.write_kafka(df, "localhost:9092", topic="t")
    frame = WR.kafka_sink_frame(df, key_col="k")
    with pytest.raises(ValueError, match="topic"):
        WR.write_kafka(frame, "localhost:9092")
    writer = WR.write_kafka(frame, "localhost:9092", topic="t")
    with pytest.raises(Exception, match="(?i)kafka|data.?source|classpath|find"):
        writer.save()


def test_bucketed_join_is_exchange_free(spark):
    """K-extra: two tables bucketed on the join key sort-merge-join with
    no exchange — the write-time shuffle replaces every query-time one."""
    from flink_project_spark.sinks.writers import write_bucketed

    left = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS b")
    try:
        write_bucketed(left, "bkt_left", 4, ["k"], sort_cols=["k"])
        write_bucketed(right, "bkt_right", 4, ["k"], sort_cols=["k"])
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange hashpartitioning" not in plan
            # and the result is right
            assert j.count() == 1000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_kv_upsert_keys_are_injective_and_null_safe(spark):
    """('a|b','c') and ('a','b|c') must land on DIFFERENT store keys
    (escaped join, not plain concat_ws), NULL key components render as
    the sentinel, and NULL-value rows are skipped instead of killing
    the partition writer."""
    store_name = "inj_test"
    fn = WR.foreach_batch_kv_upsert(["k1", "k2"], "v", store_name=store_name)
    df = spark.createDataFrame(
        [
            ("a|b", "c", "v1"),
            ("a", "b|c", "v2"),
            (None, "x", "v3"),
            ("skip", "me", None),  # null value -> no upsert
        ],
        "k1 string, k2 string, v string",
    )
    fn(df, 0)
    h = WR.get_kv_store(store_name).hashes
    assert h[r"a\|b|c"]["v"] == "v1"
    assert h[r"a|b\|c"]["v"] == "v2"
    assert h[r"\N|x"]["v"] == "v3"
    # the null-value row wrote nothing under any plausible key
    assert not any(k.startswith("skip") for k in h)


def test_partition_overwrite_replaces_only_touched_days(spark, tmp_path):
    """Dynamic partition overwrite: re-running one day's backfill
    replaces that day's partition and leaves the others byte-for-byte
    alone — the idempotent daily-pipeline write."""
    from pyspark.sql import functions as F

    from flink_project_spark.sinks.writers import (
        write_parquet_partition_overwrite,
    )

    path = str(tmp_path / "daily")
    base = spark.createDataFrame(
        [("2024-01-01", 1, 10.0), ("2024-01-01", 2, 20.0),
         ("2024-01-02", 3, 30.0)],
        "day string, k int, v double",
    )
    write_parquet_partition_overwrite(base, path, ["day"])

    # re-run day 2 with corrected values (and a different row count)
    fix = spark.createDataFrame(
        [("2024-01-02", 3, 33.0), ("2024-01-02", 4, 44.0)],
        "day string, k int, v double",
    )
    write_parquet_partition_overwrite(fix, path, ["day"])

    got = sorted(
        map(
            tuple,
            spark.read.parquet(path)
            # partition-dir values come back type-inferred (date here)
            .select(F.col("day").cast("string"), "k", "v")
            .collect(),
        )
    )
    assert got == [
        ("2024-01-01", 1, 10.0),
        ("2024-01-01", 2, 20.0),
        ("2024-01-02", 3, 33.0),
        ("2024-01-02", 4, 44.0),
    ]

    # a day filter on read-back still prunes to one directory
    plan = (
        spark.read.parquet(path)
        .filter(F.col("day") == "2024-01-02")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan


def test_sorted_write_gives_pruning_rowgroup_stats(spark, tmp_path):
    """sort_within produces near-disjoint per-file min/max stats on the
    sort column (the footer metadata scans prune on); unsorted writes
    of the same data give overlapping full-range stats."""
    import pyarrow.parquet as pq

    from flink_project_spark.sinks.writers import write_parquet

    df = spark.range(0, 100000).select(
        (F.col("id") * 7919 % 100000).alias("k"), F.col("id").alias("v")
    ).repartition(4)

    def file_ranges(path):
        out = []
        for f in (tmp_path / path).glob("*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            lo = min(
                md.row_group(g).column(idx["k"]).statistics.min
                for g in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(g).column(idx["k"]).statistics.max
                for g in range(md.num_row_groups)
            )
            out.append((lo, hi))
        return sorted(out)

    write_parquet(df, str(tmp_path / "unsorted"))
    write_parquet(
        df, str(tmp_path / "sorted"), sort_within=["k"], sort_partitions=4
    )

    uns, srt = file_ranges("unsorted"), file_ranges("sorted")
    assert len(uns) == 4 and len(srt) == 4

    def covered(ranges):
        return sum(hi - lo for lo, hi in ranges)

    # each unsorted file spans ~the full key range; sorted files span
    # ~1/4 each, so the summed covered width collapses
    assert covered(srt) < covered(uns) / 2
    # and a point filter would prune: some sorted file excludes key 0
    assert any(lo > 0 for lo, _hi in srt)


def test_compact_parquet_reduces_file_count_and_keeps_rows(spark, tmp_path):
    from flink_project_spark.sinks.writers import compact_parquet

    path = str(tmp_path / "frag")
    # 64 tiny files
    spark.range(0, 10000).repartition(64).write.parquet(path)
    import glob

    assert len(glob.glob(path + "/*.parquet")) == 64
    n = compact_parquet(spark, path, target_file_mb=128)
    assert n == 1
    assert len(glob.glob(path + "/*.parquet")) == 1
    assert spark.read.parquet(path).count() == 10000


def test_compact_parquet_recovers_from_stale_old_dir(spark, tmp_path):
    """A '._compact_old' left by a prior crash (after the tmp->path
    move, before cleanup) is cleared before the swap — otherwise the
    live dataset would be moved INSIDE the stale dir and the
    exception-path restore would reinstate stale data."""
    import os

    from flink_project_spark.sinks.writers import compact_parquet

    path = str(tmp_path / "frag")
    spark.range(0, 1000).repartition(8).write.parquet(path)
    # simulate the crash leftover: a stale pre-compaction copy
    stale = path + "._compact_old"
    spark.range(0, 10).write.parquet(stale)
    compact_parquet(spark, path, target_file_mb=128)
    assert not os.path.exists(stale)
    assert not os.path.exists(path + "._compact_tmp")
    assert spark.read.parquet(path).count() == 1000


def test_write_training_shards_manifest_and_determinism(spark, tmp_path):
    """Shard assignment is the explicit md5 rule (stable across runs),
    the manifest counts the written files, maxRecordsPerFile bounds
    part-file sizes, and per-shard reads prune to one directory."""
    import glob

    from flink_project_spark.llm.hashing import v32_py
    from flink_project_spark.sinks.writers import write_training_shards

    df = spark.createDataFrame(
        [(i, f"text {i}", 5 + i % 7) for i in range(200)],
        "doc_id long, text string, n_tokens long",
    )
    out = str(tmp_path / "shards")
    m = write_training_shards(
        df, out, n_shards=4, token_col="n_tokens", max_records_per_file=20
    ).collect()
    assert [r["shard"] for r in m] == [0, 1, 2, 3]
    assert sum(r["rows"] for r in m) == 200
    assert sum(r["tokens"] for r in m) == sum(5 + i % 7 for i in range(200))
    # explicit assignment rule — recomputable outside Spark
    expected0 = sum(1 for i in range(200) if v32_py(f"shard:{i}") % 4 == 0)
    assert m[0]["rows"] == expected0
    # file-size cap holds inside every shard directory
    for f in glob.glob(f"{out}/shard=*/part-*.parquet"):
        n = spark.read.parquet(f).count()
        assert n <= 20
    # a second write lands every doc in the same shard
    out2 = str(tmp_path / "shards2")
    m2 = write_training_shards(
        df, out2, n_shards=4, token_col="n_tokens"
    ).collect()
    assert [(r["shard"], r["rows"]) for r in m2] == [
        (r["shard"], r["rows"]) for r in m
    ]
    # shard filter prunes to one partition directory
    one = spark.read.parquet(out).filter(F.col("shard") == 2)
    assert one.count() == m[2]["rows"]


def test_write_training_shards_empty_input_zero_manifest(spark, tmp_path):
    """An all-empty corpus writes only _SUCCESS; the manifest must
    still report n_shards rows of zeros (explicit-schema read-back),
    not crash on schema inference."""
    from flink_project_spark.sinks import writers as WR

    df = spark.createDataFrame([], "doc_id long, text string, n_tok long")
    m = WR.write_training_shards(
        df, str(tmp_path / "shards"), n_shards=4, token_col="n_tok"
    ).collect()
    assert [r.shard for r in m] == [0, 1, 2, 3]
    assert all(r.rows == 0 and r.tokens == 0 for r in m)


def test_filekv_dot_prefixed_keys_round_trip(tmp_path):
    """Keys/fields starting with '.' must round-trip: the leading dot
    is escaped on write so the read accessors (which skip dot-prefixed
    temp files) still see them."""
    from flink_project_spark.sinks.writers import FileKVStore

    kv = FileKVStore(str(tmp_path / "kv"))
    kv.hset(".hidden", ".field", "v1")
    kv.hset("plain", "f", "v2")
    assert kv.hashes[".hidden"][".field"] == "v1"
    assert kv.hashes["plain"]["f"] == "v2"
    kv.replace_list(".dotkey", ["a", "b"], ttl_seconds=60)
    assert kv.lists[".dotkey"] == ["a", "b"]
    assert ".dotkey" in kv.ttls


def test_write_kv_hash_drops_null_rows(spark, tmp_path):
    """NULL key/field/value rows are dropped, never stored as the
    literal string 'None'."""
    from flink_project_spark.sinks.writers import FileKVStore, write_kv_hash

    store_dir = str(tmp_path / "kv2")
    df = spark.createDataFrame(
        [("k1", "f1", "v1"), ("k1", "f2", None), (None, "f3", "v3")],
        "k string, f string, v string",
    )
    write_kv_hash(
        df, "k", "f", "v", store_factory=lambda: FileKVStore(store_dir)
    )
    kv = FileKVStore(store_dir)
    assert kv.hashes == {"k1": {"f1": "v1"}}
