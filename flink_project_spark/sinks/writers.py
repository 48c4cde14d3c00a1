"""Batch & streaming sinks — SURVEY.md §2.2 (K1-K8).

The reference's record-at-a-time connector sinks (Redis/HBase/ES/JDBC
OutputFormats) become either native writers or KV writes through a
pluggable key-value client. The batch sinks (`write_kv_hash`,
`write_kv_lists`, `write_es_documents`) publish whole tables from the
executors, one client per partition. The micro-batch upsert
(`foreach_batch_kv_upsert`) writes from the driver through one client,
after one parallel `collect()` of the rows the trigger changed: a
`foreachBatch` function already runs on the driver once per trigger, and
a Python task per state partition would cost more than the writes. A
deterministic file-backed KV store stands in for Redis/HBase in tests —
the engine-side contract (batched writes, client lifecycle, idempotent
upserts, TTL/truncation policy) is the real, tested part; the network
client is injected.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
import time
import urllib.parse
from collections.abc import Callable, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


def write_text(df: DataFrame, path: str, overwrite: bool = True) -> None:
    """K1: text write with overwrite. Ref: ItemIdCfVersion5.java:278,285."""
    mode = "overwrite" if overwrite else "error"
    df.write.mode(mode).text(path)


def write_csv(
    df: DataFrame, path: str, sep: str = ",", parallelism: int | None = None
) -> None:
    """K2: CSV sink with custom delimiter and fixed file count.

    Ref: flink-statistics OfflineDataSetUtils.java:209-212
    (CsvTableSink(path, "/", 24, OVERWRITE)). `repartition(n)` reproduces
    the parallelism hint; at 100 TB you'd leave partitioning to AQE and
    drop the hint.
    """
    if parallelism:
        df = df.repartition(parallelism)
    df.write.mode("overwrite").option("sep", sep).csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    sort_within: list[str] | None = None,
    sort_partitions: int | None = None,
) -> None:
    """Engine-native columnar sink with optional Hive-style partitioning.

    `sort_within` CLUSTERS the data on those columns before writing:
    one range-partitioning exchange (`repartitionByRange`, so files
    cover disjoint key ranges) + a per-task sort (so row groups inside
    each file are tight too). Clustered files carry near-disjoint
    min/max footer statistics on the cluster column, and later range/
    point filters skip whole files/row groups at the scan. Worth one
    shuffle at write time for any column that is a common filter key;
    pinned by the footer-stats test in `tests/test_sinks.py`.
    `sort_partitions` pins the output file count; default lets AQE
    size the range exchange by data volume (the right call at scale).
    """
    if sort_partitions is not None and sort_partitions < 1:
        raise ValueError(
            f"sort_partitions must be >= 1, got {sort_partitions}"
        )
    if sort_partitions is not None and not sort_within:
        # a pinned file count without a clustering key is a plain
        # round-robin repartition — honoring it beats silently ignoring
        # the caller's explicit request
        df = df.repartition(sort_partitions)
    if sort_within:
        if sort_partitions:
            df = df.repartitionByRange(sort_partitions, *sort_within)
        else:
            df = df.repartitionByRange(*sort_within)
        df = df.sortWithinPartitions(*sort_within)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str = "doc_id",
    n_shards: int = 8,
    token_col: str | None = None,
    max_records_per_file: int | None = None,
) -> DataFrame:
    """Last-mile training-corpus export: deterministic shards + a
    manifest. Each row lands in shard ``v32('shard:' || key) % n_shards``
    — an explicit md5-derived assignment (NOT Spark's internal hash), so
    the shard a document lives in is stable across Spark versions,
    cluster sizes, and re-runs; the output is Hive-partitioned by
    ``shard`` so per-shard readers (one trainer data-loader per shard)
    prune to their directory at the scan.

    `max_records_per_file` caps rows per part-file WITHOUT an extra
    shuffle (Spark's maxRecordsPerFile writer option) — the knob for
    loader-friendly file sizes inside each shard.

    Returns the manifest as a DataFrame (shard, rows[, tokens]) read
    back from the written files — counted from the actual output, not
    the input plan, so a partial/failed write can't produce a manifest
    that overstates the corpus. The manifest always has exactly
    `n_shards` rows: a shard with no assigned documents reports
    rows=0 (and tokens=0) even though no ``shard=K`` directory exists
    on disk — per-shard loaders must consult the manifest, not probe
    directories.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if max_records_per_file is not None and max_records_per_file < 1:
        raise ValueError(
            f"max_records_per_file must be >= 1, got {max_records_per_file}"
            " (an accidental 0 would silently mean 'unbounded')"
        )
    from flink_project_spark.llm.hashing import v32

    shard = F.pmod(
        v32(F.concat(F.lit("shard:"), F.col(key_col).cast("string"))),
        F.lit(n_shards),
    ).cast("int")
    w = df.withColumn("shard", shard).write.mode("overwrite")
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    w.partitionBy("shard").parquet(path)
    # read back with the EXPLICIT written schema: an all-empty write
    # leaves only _SUCCESS behind, and schema inference on that raises
    # instead of yielding the documented n_shards-row zero manifest
    back_schema = df.withColumn("shard", shard).schema
    back = df.sparkSession.read.schema(back_schema).parquet(path)
    aggs = [F.count(F.lit(1)).alias("rows")]
    if token_col is not None:
        aggs.append(F.sum(token_col).cast("long").alias("tokens"))
    counted = back.groupBy("shard").agg(*aggs)
    all_shards = df.sparkSession.range(n_shards).select(
        F.col("id").cast("int").alias("shard")
    )
    zeros = [F.coalesce("rows", F.lit(0)).cast("long").alias("rows")]
    if token_col is not None:
        zeros.append(F.coalesce("tokens", F.lit(0)).cast("long").alias("tokens"))
    return (
        all_shards.join(counted, "shard", "left")
        .select("shard", *zeros)
        .orderBy("shard")
    )


def compact_parquet(
    spark,
    path: str,
    target_file_mb: int = 128,
    sort_within: list[str] | None = None,
) -> int:
    """Rewrite a parquet dataset into ~target-sized files; returns the
    output file count.

    THE small-files fix: streaming/foreachBatch sinks and per-day
    backfills accumulate thousands of KB-scale files whose open/footer
    overhead dominates scans and whose count bloats the driver's
    listing. Sizing reads the dataset's real on-disk bytes, then one
    round-robin repartition to ceil(bytes/target) rewrites it. Run it
    per closed partition (e.g. yesterday's directory) from a scheduled
    job; combine with `sort_within` to restore row-group pruning in
    the same pass.
    """
    import math
    import os as _os

    total = 0
    part_dirs = set()
    for root, dirs, files in _os.walk(path):
        for d in dirs:
            if "=" in d and not d.startswith("."):
                part_dirs.add(d.split("=", 1)[0])
        for f in files:
            if f.endswith(".parquet"):
                total += _os.path.getsize(_os.path.join(root, f))
    if part_dirs:
        # Rewriting a Hive-partitioned ROOT without partitionBy would
        # silently flatten it: partition directories vanish, downstream
        # partition pruning and dynamic partition overwrite both break.
        # Fail loudly instead — compact per leaf partition (the
        # documented pattern), which also bounds each rewrite's size.
        raise ValueError(
            f"{path} is a Hive-partitioned dataset root (partition "
            f"columns {sorted(part_dirs)}); compacting it flat would "
            "destroy the partition layout. Run compact_parquet on each "
            "leaf partition directory instead."
        )
    n = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    if sort_within:
        # cluster while compacting: range-partition into the target
        # file count so compacted files also carry disjoint key ranges
        df = df.repartitionByRange(n, *sort_within).sortWithinPartitions(
            *sort_within
        )
    else:
        df = df.repartition(n)
    # stage-then-swap: Spark cannot overwrite a path it is reading
    # from, so write the compacted copy next to it and swap. The old
    # data moves ASIDE before the new moves IN — a crash mid-swap
    # leaves the dataset recoverable at `path + '._compact_old'`; a
    # delete-then-move swap has a window where the ONLY copy sits in
    # the tmp dir and readers of `path` fail. (Local-FS moves here; on
    # HDFS/S3 swap via the storage API's rename/commit — same shape.)
    import shutil

    tmp = path.rstrip("/") + "._compact_tmp"
    old = path.rstrip("/") + "._compact_old"
    # A leftover '._compact_old' means a prior compaction crashed between
    # the tmp->path move and its cleanup: `path` already holds the full
    # compacted copy (the swap only removes `old` AFTER the move in), so
    # the stale dir is a redundant pre-compaction copy — clear it. Failing
    # to do so would make shutil.move(path, old) nest the LIVE dataset
    # inside the stale dir, and the exception-path restore would then
    # reinstate stale files with a nested copy at `path`.
    if _os.path.exists(old):
        shutil.rmtree(old)
    df.write.mode("overwrite").parquet(tmp)
    shutil.move(path, old)
    try:
        shutil.move(tmp, path)
    except Exception:
        shutil.move(old, path)  # restore — the original is intact
        raise
    shutil.rmtree(old)
    return n


def write_parquet_partition_overwrite(
    df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Idempotent incremental backfill: overwrite ONLY the Hive-style
    partitions present in `df`, leaving every other partition in place
    (`partitionOverwriteMode=dynamic`, set per-write so the session
    default is untouched).

    THE daily-pipeline write pattern at 100 TB: re-running one day's
    job replaces that day's directory atomically-per-partition instead
    of truncating the dataset (static overwrite) or appending
    duplicates. Pair with a date filter on read — the partition prune
    test pins that the filter becomes PartitionFilters.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Catalog table bucketed (and optionally sorted) on the join keys.

    THE pre-shuffle tool for repeated big-big joins at 100 TB: two
    tables bucketed on the same keys with the same bucket count
    sort-merge-join with ZERO exchange (and zero sort when `sort_cols`
    covers the keys) — the shuffle is paid once at write time instead
    of once per query. This is Spark's replacement for the reference's
    hand-set partitioner chains; `tests/test_sinks.py` pins the
    exchange-free plan as a contract. Bucket count is a layout decision:
    pick ~(total size / 128 MB) and keep it identical across co-joined
    tables.
    """
    w = df.write.mode("overwrite").format(fmt).bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    column_types: str | None = None,
) -> None:
    """K3 (insert path): JDBC sink. Ref: flink-process sink/Sink2Mysql.java:36-58.

    `column_types` (createTableColumnTypes, e.g. "name VARCHAR(128)")
    overrides the dialect's default DDL types — needed on engines whose
    unbounded-string default is non-comparable (Derby maps StringType to
    CLOB, which rejects pushed-down equality filters).
    """
    w = df.write.mode(mode).format("jdbc").option("url", url).option(
        "dbtable", table
    )
    if column_types:
        w = w.option("createTableColumnTypes", column_types)
    w.save()


# ------------------------- pluggable KV sink (K4/K6) ------------------------


class FileKVStore:
    """File-backed deterministic stand-in for Redis (HSET/RPUSH+TTL) /
    HBase (Put).

    Mirrors the semantics the reference relies on:
    - HSET key field value          (flink-base sink/MyRedisMapper.scala:12-20)
    - DEL + RPUSH list + EXPIRE 7d  (flink-process outputformat/
                                     RedisOutputFormat.java:27-36,
                                     sink/MyJedisCluster.java:47-58)
    - HBase Put(rowkey, cf:qual, v) (flink-process outputformat/
                                     HBaseOutputFormat.java:35-45)

    File-backed (not in-memory) because the batch sinks' foreachPartition
    runs in separate Python worker *processes* — their executor-side
    writes must be visible to the driver, which reads the store and
    which itself writes the streaming upserts. Per-key atomic rename =
    last-writer-wins, exactly Redis semantics for DEL+RPUSH. In
    production the factory injects a real network client instead.
    """

    def __init__(self, root: str) -> None:
        self.root = Path(root)
        for sub in ("lists", "hashes", "ttls"):
            (self.root / sub).mkdir(parents=True, exist_ok=True)

    @staticmethod
    def _safe(key: str) -> str:
        # quote() leaves '.' unescaped (unreserved), but the read
        # accessors skip dot-prefixed names as in-flight temp files —
        # a key/field starting with '.' would be written yet invisible;
        # escape the leading dot (unquote() reverses it on read)
        q = urllib.parse.quote(key, safe="")
        return "%2E" + q[1:] if q.startswith(".") else q

    def _atomic_write(self, path: Path, content: str) -> None:
        tmp = path.with_name(f".{path.name}.{os.getpid()}.{threading.get_ident()}")
        tmp.write_text(content)
        tmp.rename(path)

    def hset(self, key: str, field: str, value: str) -> None:
        d = self.root / "hashes" / self._safe(key)
        d.mkdir(parents=True, exist_ok=True)
        self._atomic_write(d / self._safe(field), value)

    def replace_list(
        self, key: str, values: list[str], ttl_seconds: int | None = None
    ) -> None:
        # DEL-then-RPUSH with optional TTL — MyJedisCluster.java:47-58.
        # Redis DEL clears any TTL, and a recreate without EXPIRE has
        # none — so a replace WITHOUT ttl_seconds must remove a stale
        # TTL left by a previous TTL'd write, not let it linger.
        self._atomic_write(
            self.root / "lists" / (self._safe(key) + ".json"),
            json.dumps(list(values)),
        )
        ttl_path = self.root / "ttls" / self._safe(key)
        if ttl_seconds is not None:
            self._atomic_write(ttl_path, str(time.time() + ttl_seconds))
        else:
            ttl_path.unlink(missing_ok=True)

    def put(self, rowkey: str, qualifier: str, value: str) -> None:
        # HBase-style cell write modeled as a hash field
        self.hset(rowkey, qualifier, value)

    # ---- read accessors (driver-side assertions) ----

    @property
    def lists(self) -> dict[str, list[str]]:
        out = {}
        for p in (self.root / "lists").glob("*.json"):
            if p.name.startswith("."):
                continue
            out[urllib.parse.unquote(p.stem)] = json.loads(p.read_text())
        return out

    @property
    def hashes(self) -> dict[str, dict[str, str]]:
        out: dict[str, dict[str, str]] = {}
        for d in (self.root / "hashes").iterdir():
            if not d.is_dir():
                continue
            out[urllib.parse.unquote(d.name)] = {
                urllib.parse.unquote(f.name): f.read_text()
                for f in d.iterdir()
                if not f.name.startswith(".")
            }
        return out

    @property
    def ttls(self) -> dict[str, float]:
        return {
            urllib.parse.unquote(p.name): float(p.read_text())
            for p in (self.root / "ttls").iterdir()
            if not p.name.startswith(".")
        }


def get_kv_store(name: str = "default") -> FileKVStore:
    """Shared store path derivable identically in driver and workers."""
    return FileKVStore(os.path.join(tempfile.gettempdir(), "fps_kv", name))


def write_kv_hash(
    df: DataFrame,
    key_col: str,
    field_col: str,
    value_col: str,
    store_factory: Callable[[], object] | None = None,
    store_name: str = "default",
) -> None:
    """K4/K6 batch path: per-partition connection, batched HSET writes.

    foreachPartition = one client per partition (the reference opens one
    Jedis/HBase connection per subtask in RichFunction.open — same shape).

    NULL handling: rows with a NULL key, field, or value are DROPPED
    before the write (a str() of them would store the literal string
    'None' — indistinguishable from a real payload, and every NULL key
    would collapse onto one store key) — the same rule as
    `foreach_batch_kv_upsert`.
    """
    factory = store_factory or (lambda: get_kv_store(store_name))
    cols = [key_col, field_col, value_col]

    def _write(rows: Iterable[Row]) -> None:
        client = factory()
        for row in rows:
            client.hset(str(row[cols[0]]), str(row[cols[1]]), str(row[cols[2]]))

    df.select(*cols).filter(
        F.col(key_col).isNotNull()
        & F.col(field_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).foreachPartition(_write)


def write_kv_lists(
    df: DataFrame,
    key_col: str,
    values_col: str,
    min_len: int = 20,
    max_len: int = 400,
    ttl_seconds: int = 7 * 24 * 3600,
    key_prefix: str = "",
    store_name: str = "default",
) -> None:
    """K4 list path: publish neighbor lists with the reference's bounds.

    Keep lists with >= min_len entries, truncate at max_len, 7-day TTL,
    DEL-then-RPUSH (flink-process Hdfs2RedisVersion5.java:67-92). The
    filter/truncate run as Catalyst expressions BEFORE the shuffle-free
    foreachPartition — only surviving rows leave the JVM.

    `values_col` is an array, or a string of comma-joined entries (the
    ``item:score,...`` form `itemcf_topn` emits and the reference reads
    from HDFS), which is split on ',' in Catalyst; empty entries are
    dropped, so an empty string is an empty list.
    """
    if isinstance(df.schema[values_col].dataType, StringType):
        clean = F.filter(F.split(F.col(values_col), ","), lambda v: v != "")
    else:
        # NULL elements are removed BEFORE the min_len gate — str(None)
        # would publish the literal 'None' as an item id (the same
        # indistinguishable-payload hazard the hash path filters), and a
        # list padded with NULLs must not pass the length floor on them
        clean = F.filter(F.col(values_col), lambda v: v.isNotNull())
    pruned = (
        df.filter(
            F.col(key_col).isNotNull()  # a NULL key would store 'None'
            & (F.size(clean) >= min_len)
        )
        .select(key_col, F.slice(clean, 1, max_len).alias(values_col))
    )

    def _write(rows: Iterable[Row]) -> None:
        client = get_kv_store(store_name)
        for row in rows:
            client.replace_list(
                key_prefix + str(row[key_col]),
                [str(v) for v in row[values_col]],
                ttl_seconds=ttl_seconds,
            )

    pruned.foreachPartition(_write)


def foreach_batch_kv_upsert(
    key_cols: list[str],
    value_col: str,
    qualifier: str = "v",
    store_name: str = "default",
) -> Callable[[DataFrame, int], None]:
    """K3-upsert/K6/T12 streaming path: idempotent per-micro-batch upsert.

    Usage: stream.writeStream.foreachBatch(foreach_batch_kv_upsert([...], "v")).
    Idempotency (same key overwritten on replay) + checkpointing gives the
    exactly-once effect the reference gets from Flink checkpoint barriers
    (ActionLogJob.java:82-96, T13).

    Key encoding is injective: each component backslash-escapes '\\'
    and '|' before the '|' join and NULL components render as the
    unescapable sentinel '\\N' — so ('a|b', 'c') and ('a', 'b|c')
    produce DIFFERENT store keys (a plain concat_ws would collide them,
    silently overwriting a different logical key's value on replay).
    Rows whose value is NULL are skipped (documented no-op: a KV upsert
    with no value; a NULL reaching the store client would fail the
    micro-batch).

    Writes run on the driver: one parallel `collect()` of the escaped
    (key, value) projection, then one `put` per row through one client.
    Nothing is written until that action has succeeded, so a failed task
    never leaves half a micro-batch in the store. Driver memory holds
    only the rows one trigger changed (update mode), and
    `spark.driver.maxResultSize` bounds them: a trigger whose rows exceed
    it aborts the collect job, and with it the query, before anything is
    written. The batch sinks above stay executor-side.
    """

    def _esc(c: str):
        e = F.regexp_replace(
            F.regexp_replace(F.col(c).cast("string"), r"\\", r"\\\\"),
            r"\|",
            r"\\|",
        )
        return F.coalesce(e, F.lit("\\N"))

    def _fn(batch_df: DataFrame, epoch_id: int) -> None:
        rows = (
            batch_df.filter(F.col(value_col).isNotNull())
            .select(
                F.concat_ws("|", *[_esc(c) for c in key_cols]).alias("k"),
                F.col(value_col).cast("string").alias("v"),
            )
            .collect()
        )
        client = get_kv_store(store_name)
        for k, v in rows:
            client.put(k, qualifier, v)

    return _fn


def write_console(df: DataFrame, n: int = 20, tag: str | None = None) -> None:
    """K8: console print. Ref: SensorSourceTest.scala:16 (print("tag"))."""
    if tag:
        print(f"== {tag} ==")
    df.show(n, truncate=False)


def write_es_documents(
    df: DataFrame,
    index: str,
    id_col: str,
    doc_cols: list[str] | None = None,
    bulk_size: int = 500,
    store_name: str = "default",
) -> None:
    """K5: Elasticsearch-shaped document indexing.

    Ref: flink-base sink/MyEsSink.scala:24-29 +
    MyElasticsearchSinkFunction.scala:15-27 — one IndexRequest per
    record (index name, doc id, JSON source). Spark-first shape: the
    JSON source renders as a Catalyst `to_json` projection (JVM-side),
    and the partition writer batches requests `bulk_size` at a time —
    the _bulk API pattern a real ES cluster requires at scale (a
    request-per-document sink melts at 100 TB). The KV store stands in
    for the ES client (sandbox has no cluster); a real client swaps
    into `_flush` untouched.
    """
    doc_cols = doc_cols or [c for c in df.columns if c != id_col]
    # NULL ids are dropped, not stringified: every NULL-id row would
    # collapse onto the single '{index}/None' key, silently overwriting
    # each other — the module's NULL-key rule (see write_kv_hash)
    rows = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).cast("string").alias("_id"),
        F.to_json(F.struct(*doc_cols)).alias("_source"),
    )

    def _write(it: Iterable[Row]) -> None:
        client = get_kv_store(store_name)
        batch: list[Row] = []

        def _flush() -> None:
            # stand-in for one _bulk call; real ES client: helpers.bulk
            for r in batch:
                client.put(f"{index}/{r['_id']}", "_source", r["_source"])
            batch.clear()

        for row in it:
            batch.append(row)
            if len(batch) >= bulk_size:
                _flush()
        _flush()

    rows.foreachPartition(_write)


def kafka_sink_frame(
    df: DataFrame,
    topic: str | None = None,
    key_col: str | None = None,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """K7: coerce a row frame into the Kafka sink's column contract.

    The kafka data source writes exactly these columns: `value`
    (binary, required), and optionally `key` (binary), `topic`
    (string, required unless the writer sets the `topic` option),
    `partition` (int), `headers`. Ref: flink-base
    source/KafkaSource.scala:28-30 (FlinkKafkaProducer010 publishing a
    string payload). Spark-first shape: the payload renders as one
    JVM-side `to_json` projection over `value_cols` (default: every
    column — the key is routing metadata, not a reason to drop the
    field from the record) — the exact inverse of `parse_kafka_json`,
    so produce -> consume round-trips losslessly. Keys cast through
    string so any key column type publishes deterministic bytes.

    Per-row ROUTING columns pass through: when `topic` isn't given and
    the frame already carries a `topic` column, it is forwarded as the
    sink's routing column (and excluded from the default payload, like
    `partition`/`headers`) instead of being folded into the JSON value
    and lost — per-row topic routing is part of the sink contract this
    builder exists to satisfy. An explicit ``topic`` argument alongside
    an existing `topic` column is REJECTED (the column's data would be
    silently discarded — neither routed nor in the payload); callers
    choose one: drop the column, list it in ``value_cols`` to keep it
    in the payload, or omit the argument to route by it.
    """
    routing = [c for c in ("topic", "partition", "headers") if c in df.columns]
    value_cols = value_cols or [c for c in df.columns if c not in routing]
    if topic and "topic" in df.columns and "topic" not in value_cols:
        raise ValueError(
            "explicit topic= conflicts with the frame's 'topic' column "
            "(its data would be silently dropped): drop the column, "
            "include 'topic' in value_cols to keep it in the payload, "
            "or omit topic= to route per-row by the column"
        )
    cols = [F.to_json(F.struct(*value_cols)).cast("binary").alias("value")]
    if key_col:
        cols.insert(0, F.col(key_col).cast("string").cast("binary").alias("key"))
    if topic:
        cols.append(F.lit(topic).alias("topic"))
        routing = [c for c in routing if c != "topic"]
    cols.extend(F.col(c) for c in routing)
    return df.select(*cols)


def write_kafka(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str | None = None,
    checkpoint_location: str | None = None,
):
    """K7: configured Kafka producer writer (batch or streaming).

    Returns the configured writer unstarted — callers `.save()` /
    `.start()` it, so tests can assert the wiring without a broker
    (the sandbox has none; starting raises the data-source resolution
    error from Spark, not from this code). Exactly-once: the streaming
    form rides the checkpoint like every other sink (T13/T14); the
    kafka sink itself is at-least-once, deduplicated downstream by
    key (the reference's Kafka 0.10 producer had the same contract).
    """
    frame = df
    required = {"value"}
    missing = required - set(frame.columns)
    if missing:
        raise ValueError(
            f"kafka sink frame missing column(s) {sorted(missing)}: "
            "build it with kafka_sink_frame() first"
        )
    if topic is None and "topic" not in frame.columns:
        raise ValueError("pass topic= or include a 'topic' column")
    if frame.isStreaming:
        w = frame.writeStream.format("kafka").option(
            "kafka.bootstrap.servers", bootstrap_servers
        )
        if checkpoint_location:
            w = w.option("checkpointLocation", checkpoint_location)
    else:
        w = frame.write.format("kafka").option(
            "kafka.bootstrap.servers", bootstrap_servers
        )
    if topic:
        w = w.option("topic", topic)
    return w
