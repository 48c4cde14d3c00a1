"""Streaming ingest deduplication for document corpora.

A training-data pipeline dedups AT INGEST so duplicates never reach
storage: every arriving document is content-hashed and dropped if the
same hash was seen within the watermark horizon. This is the streaming
twin of ``llm.dedup.exact_dedup_groups`` (batch md5 groupBy), built on
Structured Streaming's ``dropDuplicatesWithinWatermark`` so the dedup
state is BOUNDED — hashes older than the watermark are evicted, which
is what makes the operator runnable forever at 100 TB/day (an unbounded
``dropDuplicates`` would accumulate one state row per distinct document
for the lifetime of the stream).

Semantics vs the batch operator: within one watermark horizon the
result is identical (first arrival survives); re-occurrences farther
apart than the horizon are re-admitted — the standard
bounded-state trade-off, surfaced as the ``horizon`` parameter rather
than hidden. Cross-horizon exactness belongs to the batch pass
(``exact_dedup_groups``) that compacts the landed corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    horizon: str = "10 minutes",
) -> DataFrame:
    """Drop documents whose content md5 already arrived within
    ``horizon`` event time.

    One narrow state key (32-byte hash + timestamp) per distinct
    in-horizon document; the payload column never enters state. Works
    on batch frames too, where the survivor is picked
    DETERMINISTICALLY — the earliest (ts, then remaining columns) row
    per hash — because ``dropDuplicates`` keeps whichever duplicate a
    partition scan meets first and would flip under AQE/repartition
    re-plans; the streaming path's first-ARRIVAL survivor is inherently
    arrival-order-dependent, so equivalence checks compare content
    sets, not survivor identity (see tests/test_pipeline_e2e.py).
    """
    hashed = stream.withColumn("content_md5", F.md5(F.col(text_col)))
    if hashed.isStreaming:
        return hashed.withWatermark(ts_col, horizon).dropDuplicatesWithinWatermark(
            ["content_md5"]
        )
    from pyspark.sql.window import Window

    # deterministic total order: ts first, then every ORDERABLE column
    # (map columns have no sort order in Spark and would fail the
    # window; frames whose only distinguishing columns are maps fall
    # back to ts-order, still deterministic per timestamp)
    orderable = [
        c
        for c, t in hashed.dtypes
        if c not in ("content_md5", ts_col) and "map" not in t
    ]
    w = Window.partitionBy("content_md5").orderBy(ts_col, *orderable)
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


#: Schemes whose scheme-RELATIVE spelling ('file:store') Hadoop
#: resolves against the working directory — strip the scheme and
#: cwd-join the remainder so `_norm_store_path` matches the engine's
#: canonical listing. A colon-containing first segment that is NOT one
#: of these ('logs:2024/store', valid POSIX) stays a plain path. Other
#: unknown schemes still classify as URIs when followed by an
#: authority or an absolute path.
_FS_SCHEMES = {
    "file", "hdfs", "s3a", "s3", "gs", "abfs", "abfss",
    "wasb", "wasbs", "viewfs", "o3fs", "ofs",
}


def _is_remote_store(u: str) -> bool:
    """True iff the spelling names a NON-local store: a non-file scheme
    that classifies as a URI under the same rules as
    `_norm_store_path` (authority, absolute path, or a known
    filesystem scheme's scheme-relative form). One classifier for the
    whole module — `_check_store_meta`, `compact_store`, and
    `_compact_cadence` must never disagree on which stores are
    local."""
    from urllib.parse import urlsplit

    sp = urlsplit(u)
    return sp.scheme not in ("", "file") and bool(
        sp.netloc or sp.path.startswith("/") or sp.scheme in _FS_SCHEMES
    )


def _norm_store_path(u: str) -> str:
    """Normalize one store-path spelling to a bare absolute POSIX path —
    the driver-local directory that the local-filesystem store ops
    (`_next_store_batch_id`, `_check_store_meta`, `compact_store`)
    touch with ``os`` calls, so every spelling Spark accepts for a
    store ('file:/x', 'file:///x', 'file:store', relative) names the
    same directory there.

    URI-aware: keeps only the PATH component. The authority
    (file://localhost/store, hdfs://nn:8020/store) must NOT be folded
    into the path — a substring strip would cwd-join 'nn:8020/store'
    as a relative path. Only a genuinely scheme-less relative path (or
    a scheme-relative spelling of a known filesystem scheme) is
    cwd-joined."""
    import os
    import posixpath
    from urllib.parse import urlsplit

    sp = urlsplit(u)
    # a URI only if the scheme is followed by an authority or an
    # absolute path ('hdfs://nn/store', 'file:/data/store'), or is a
    # KNOWN filesystem scheme (so 'file:store' strips to 'store' and
    # cwd-joins — matching how the engine resolves it — instead of
    # cwd-joining the literal 'file:store' and tripping the relpath
    # guard); a RELATIVE path whose first segment merely contains a
    # colon ('logs:2024/store') split-parses as scheme='logs' but must
    # stay a plain path
    is_uri = bool(sp.scheme) and (
        bool(sp.netloc)
        or sp.path.startswith("/")
        or sp.scheme in _FS_SCHEMES
    )
    path = sp.path if is_uri else u
    if not path.startswith("/"):
        path = posixpath.join(os.getcwd(), path)
    return posixpath.normpath(path)


def _store_partitions(
    spark, store_dir: str, exclude: int | None = None
) -> dict[int, str] | None:
    """The signature store's ``batch=N`` partitions as ``{N: path}`` in
    batch order, minus ``exclude`` (the caller's own batch: a
    foreachBatch replay overwrites that partition and must never match
    its own half-written prior attempt); None for a missing store or
    one with no other partition.

    The one store read of every store entry point: ONE ``listStatus``
    through the Hadoop FileSystem API, so any scheme Spark reads
    (local, HDFS, s3a) lists the same way. `_admit_and_store` writes
    only ``batch=<id>`` partitions, so a root-level ``*.parquet`` file
    belongs to no layout this engine reads: it raises ``ValueError``
    naming the file(s) instead of being matched, skipped or deleted —
    and before the caller writes anything. Hidden entries (the
    ``_fps_store_meta.json`` sidecar, ``.compact-batch=N`` leftovers)
    are not partitions."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(store_dir)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return None
    parts, stray = {}, []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch="):
            parts[int(name.split("=", 1)[1])] = st.getPath().toString()
        elif st.isFile() and name.endswith(".parquet"):
            stray.append(st.getPath().toString())
    if stray:
        raise ValueError(
            f"signature store {store_dir!r} holds root-level parquet "
            f"file(s) {sorted(stray)}: a store is one batch=<id> "
            "partition per micro-batch, and a flat file would be "
            "neither matched nor compacted; move it out of the store"
        )
    parts.pop(exclude, None)
    return dict(sorted(parts.items())) or None


def _store_and_cutoff(
    batch: DataFrame,
    store_dir: str,
    batch_id: int,
    ts_col: str,
    horizon_seconds: int,
):
    """Store-read prologue shared by both streaming dedup twins:
    ``(store, cutoff, null_ts_docs)`` — every OTHER batch's stored
    arrivals as one DataFrame (`_store_partitions`), the batch's
    conservative store pre-filter cutoff, and its null-ts row count;
    ``(None, None, 0)`` when there is no store to match.

    The cutoff only bounds matching volume, not semantics: derived
    from the batch MINIMUM real ts, no stored arrival older than it
    can be inside any real-ts batch row's per-document horizon (the
    exact per-row horizon is each twin's match filter). It is None
    when every row of the batch has a null ts."""
    spark = batch.sparkSession
    parts = _store_partitions(spark, store_dir, exclude=batch_id)
    if parts is None:
        return None, None, 0
    cutoff, null_ts_docs = batch.agg(
        F.min(F.col(ts_col)) - F.expr(f"INTERVAL {horizon_seconds} SECONDS"),
        F.count_if(F.col(ts_col).isNull()),
    ).collect()[0]
    return spark.read.parquet(*parts.values()), cutoff, null_ts_docs


def _next_store_batch_id(store_dir: str) -> int:
    """Sequential batch id for DIRECT (non-foreachBatch) callers: one
    past the highest ``batch=N`` subdirectory. Local filesystem only —
    callers on object stores pass ``batch_id`` explicitly (foreachBatch
    always does). Normalizes the spelling first: a raw
    'file:/data/store' would FileNotFoundError here and silently
    return 0, making the next write OVERWRITE the real store's
    batch=0 partition even though every Spark read/write resolves the
    URI correctly. Remote stores raise instead of normalizing: the
    stripped path could name an UNRELATED driver-local directory
    whose batch=N listing would silently produce a wrong counter."""
    import os

    if _is_remote_store(store_dir):
        raise ValueError(
            f"cannot derive a batch id from remote store {store_dir!r}: "
            "pass batch_id explicitly (foreachBatch callers always do)"
        )
    try:
        existing = [
            int(d.split("=", 1)[1])
            for d in os.listdir(_norm_store_path(store_dir))
            if d.startswith("batch=")
        ]
    except OSError:
        return 0
    return max(existing) + 1 if existing else 0


#: sidecar recording the signature store's SIGNATURE-SPACE contract.
#: Leading underscore keeps it invisible to Spark's file listing (same
#: convention as _SUCCESS), and its name to `_store_partitions`
#: (batch= prefix, *.parquet check) and `_next_store_batch_id`.
_STORE_META_FILE = "_fps_store_meta.json"


def _check_store_meta(store_dir: str, contract: dict) -> None:
    """Persist-or-validate the store's signature contract.

    A signature store is only meaningful under ONE signature
    configuration: SimHash rows computed under different
    (bits, shingle) — or semantic rows under different
    (dim, n_planes) — occupy incompatible key spaces, and a batch run
    with mismatched knobs equi-joins buckets that can never agree,
    silently admitting every near-dup (the failure the twins' docstrings
    warn about). This guard turns that silent under-matching into a
    loud error: the FIRST batch writes the contract next to the store
    (atomic tmp+rename; write-if-absent, so foreachBatch replay is
    idempotent), and every later batch fails fast if its knobs differ.

    Local filesystem only, like `_next_store_batch_id` /
    `compact_store` — a scheme-qualified non-local store skips the
    guard (operators there own the contract via deployment config; the
    docstrings of both twins state the invariant)."""
    import json
    import os
    import tempfile

    # remote iff a non-file scheme that classifies as a URI under the
    # SAME rules as `_norm_store_path` — one classifier for the whole
    # module. The old hand-rolled check treated the scheme-relative
    # 'hdfs:store' as local (makedirs'd a literal './hdfs:store/' on
    # the driver while the real store lived on HDFS, so the guard
    # never guarded) and cwd-joined 'file://localhost/data/store' as
    # '<cwd>/localhost/data/store' instead of '/data/store'.
    if _is_remote_store(store_dir):
        return  # non-local store: guard not applicable
    local = _norm_store_path(store_dir)
    meta_path = os.path.join(local, _STORE_META_FILE)
    if os.path.isfile(meta_path):
        with open(meta_path) as fh:
            existing = json.load(fh)
        if existing != contract:
            raise ValueError(
                f"signature store {store_dir!r} was created under "
                f"{existing}, but this batch runs {contract}: signatures "
                "from different configurations occupy incompatible key "
                "spaces and would silently never match (= admit every "
                "near-dup). Use the store's original knobs, or start a "
                "new store directory for the new configuration."
            )
        return
    os.makedirs(local, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=local, prefix=".meta-", suffix=".json")
    with os.fdopen(fd, "w") as fh:
        json.dump(contract, fh, sort_keys=True)
    os.replace(tmp, meta_path)


def compact_store(
    spark,
    store_dir: str,
    horizon_seconds: int,
    watermark=None,
) -> dict:
    """Offline maintenance for a streaming-dedup signature store:
    delete every ``batch=N`` partition whose arrivals are ALL past the
    horizon, and REWRITE partitions that are only partially expired
    with just their in-horizon rows — so the store's size is bounded by
    the horizon instead of growing with stream lifetime (T13; the
    cluster analog is a partition DROP plus one rewrite of the boundary
    partition).

    Correctness contract (matches the operators' own admission rules):
    a stored arrival at ts can only drop a real-ts NEW document with
    new_ts in [ts, ts + horizon] (earlier-arrival + per-document
    horizon), so once the stream's event time has reached
    ``watermark``, rows with ``_ts < watermark - horizon`` can never
    match a future in-order real-ts document — evicting them is
    invisible to admission (the replay-equivalence test pins this).
    Two documented exceptions, both on the operators' over-admit-only
    side: NULL-ts documents match the unfiltered store, so one may be
    admitted post-compaction where it was dropped before; an
    out-of-order arrival older than the watermark may likewise be
    over-admitted. Neither can retro-drop an admitted document.

    ``watermark`` defaults to the max ``_ts`` over every partition
    EXCEPT the highest batch id (one scalar aggregate over committed
    data) — see the inline comment: letting the newest, possibly
    UNCOMMITTED partition advance the watermark would let a compaction
    run between a batch's sink and its checkpoint commit evict rows
    that a crash-replay of that same batch still needs to match
    (over-admission on replay). Pass the stream's event-time watermark
    when available — it is computed from committed progress, so it is
    safe by the same argument. The HIGHEST batch id is never touched
    even when fully expired — it is the one partition a foreachBatch
    replay may legitimately overwrite-and-exclude, and deleting it
    would reset `_next_store_batch_id` for direct callers. Run between
    micro-batches (it moves directories); local filesystem only, like
    `_next_store_batch_id`.

    Works on any store whose rows carry ``_ts`` — both the SimHash
    twin's (doc_id, simhash, _ts) and the semantic twin's quantized
    rows. A root-level parquet file raises (`_store_partitions`)
    before anything is deleted or rewritten.
    """
    import os
    import shutil

    stats = {
        "batches_deleted": 0,
        "batches_rewritten": 0,
        "rows_kept": 0,
        "rows_dropped": 0,
    }
    # Local filesystem only (directory renames and deletes): reject
    # remote schemes loudly instead of normalizing 'hdfs://nn/store'
    # to a bare '/store' and rmtree-ing a DRIVER-LOCAL path that
    # happens to exist; accept every local spelling the twins accept
    # ('file:/x', 'file:///x', 'file:store', relative) by routing all
    # os-level operations through the module's one normalizer.
    if _is_remote_store(store_dir):
        raise ValueError(
            f"compact_store is local-filesystem maintenance; got remote "
            f"store {store_dir!r} — object-store layouts compact via the "
            "table's own partition-DROP maintenance pipeline"
        )
    local_store = _norm_store_path(store_dir)
    parts = _store_partitions(spark, store_dir)
    if parts is None:
        return stats
    batch_ids = list(parts)
    protected = batch_ids[-1]
    if watermark is None:
        # The default watermark EXCLUDES the protected (highest)
        # partition's rows. That partition is the one a foreachBatch
        # replay may re-run: if its rows advanced the watermark, a
        # compaction squeezed between the batch's sink and the
        # checkpoint commit could evict a stored arrival that the
        # REPLAYED batch still needs to match (stored X at ts,
        # replayed doc at new_ts in [ts, ts+horizon] with new_ts <=
        # the crashed batch's max _ts), and the replay would over-admit
        # — breaking the loop's replay-idempotence. With the watermark
        # capped at the last COMMITTED data, every evicted row has
        # _ts < committed_max - horizon, and an in-order replayed doc
        # has ts >= committed_max, so eviction stays invisible even to
        # the replay (out-of-order arrivals remain the documented
        # over-admit-only exception).
        committed = [parts[b] for b in batch_ids[:-1]]
        if not committed:  # a single-partition store: nothing compactable
            stats["rows_kept"] += spark.read.parquet(parts[protected]).count()
            return stats
        # ONE multi-path reader for all committed partitions — a
        # per-partition read would pay K listings plus a K-deep union
        # just to take a scalar max
        watermark = (
            spark.read.parquet(*committed).agg(F.max("_ts")).collect()[0][0]
        )
    if watermark is None:  # store exists but holds zero rows
        return stats
    cutoff = F.lit(watermark) - F.expr(
        f"INTERVAL {int(horizon_seconds)} SECONDS"
    )
    for bid in batch_ids:
        part_dir = os.path.join(local_store, f"batch={bid}")
        if bid == protected:
            # always kept whole — no filter scan or rewrite; the
            # count() for stats is satisfied from parquet footer
            # metadata, not a data read
            stats["rows_kept"] += spark.read.parquet(part_dir).count()
            continue
        rows = spark.read.parquet(part_dir)
        kept = rows.filter(F.col("_ts") >= cutoff)
        # both counts in ONE scan (reading only _ts); the rewrite
        # branch below is the only other read of the partition
        n_total, n_kept = rows.agg(
            F.count(F.lit(1)),
            F.count(F.when(F.col("_ts") >= cutoff, F.lit(1))),
        ).collect()[0]
        if n_kept == 0:
            shutil.rmtree(part_dir)
            stats["batches_deleted"] += 1
            stats["rows_dropped"] += n_total
        elif n_kept < n_total:
            # rewrite via DOT-prefixed siblings (not partitions to
            # `_store_partitions`), then a rename-aside swap: the only
            # crash window that leaves batch=N absent is between the
            # two renames (metadata ops), and a crash there leaves the
            # kept rows in .compact-batch=N and the originals in
            # .old-batch=N — both recoverable by hand, neither state
            # silently matching fewer signatures than a completed run
            # would (missing rows can only over-admit, the operators'
            # documented failure side)
            tmp = os.path.join(local_store, f".compact-batch={bid}")
            old = os.path.join(local_store, f".old-batch={bid}")
            kept.write.mode("overwrite").parquet(tmp)
            if os.path.isdir(old):  # stale leftover from a past crash
                shutil.rmtree(old)
            os.replace(part_dir, old)
            os.replace(tmp, part_dir)
            shutil.rmtree(old)
            stats["batches_rewritten"] += 1
            stats["rows_kept"] += n_kept
            stats["rows_dropped"] += n_total - n_kept
        else:
            stats["rows_kept"] += n_total
    return stats


def _admit_and_store(
    batch: DataFrame,
    losers: DataFrame,
    id_col: str,
    store_rows: DataFrame,
    store_dir: str,
    batch_id: int,
    label: str,
) -> DataFrame:
    """Shared tail of both streaming dedup twins: anti-join the losing
    doc_ids away, persist + MATERIALIZE the survivors BEFORE the store
    write (the sink's later action must not re-plan against a store
    that now contains this batch's own signatures, and the expensive
    signature subtree evaluates exactly once), then OVERWRITE this
    batch's own ``batch=<id>`` partition with ``store_rows`` (which is
    what makes foreachBatch replay idempotent). ONE definition so the
    twins' store-write contract can never drift apart."""
    from flink_project_spark.cache import persist_tracked

    survivors = persist_tracked(
        batch.join(
            losers.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
        ),
        label=label,
    )
    survivors.count()
    store_rows.write.mode("overwrite").parquet(
        f"{store_dir}/batch={batch_id}"
    )
    return survivors


def _arrival_earlier(ts_a, id_a, ts_b, id_b):
    """(ts, id) arrival-order predicate shared by BOTH streaming dedup
    twins (SimHash and semantic): true iff arrival a precedes arrival
    b. NULL event times order LAST — they lose to any real timestamp
    and tie-break by id among themselves. ONE definition so the twins'
    orientation rules can never drift apart."""
    return (
        F.when(ts_a.isNull() & ts_b.isNull(), id_a < id_b)
        .when(ts_a.isNull(), F.lit(False))
        .when(ts_b.isNull(), F.lit(True))
        .otherwise((ts_a < ts_b) | ((ts_a == ts_b) & (id_a < id_b)))
    )


def _within_horizon(ts_a, ts_b, horizon_seconds: int):
    """True iff the PAIR qualifies under the per-document horizon: two
    real timestamps must lie within ``horizon_seconds`` of each other;
    a NULL timestamp on either side always qualifies (a null-ts doc
    orders last and loses to ANY arrival — no horizon applies, so its
    admission can never depend on which batch it lands in)."""
    h = F.expr(f"INTERVAL {int(horizon_seconds)} SECONDS")
    return (
        ts_a.isNull()
        | ts_b.isNull()
        | (F.greatest(ts_a, ts_b) <= F.least(ts_a, ts_b) + h)
    )


def near_dup_dedup_batch(
    batch: DataFrame,
    store_dir: str,
    text_col: str = "text",
    ts_col: str = "ts",
    id_col: str = "doc_id",
    horizon_seconds: int = 600,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    blocks: int | None = None,
    batch_id: int | None = None,
    shingle: int | None = None,
) -> DataFrame:
    """One micro-batch of streaming NEAR-dup dedup (SimHash banding).

    ``bits``/``shingle`` select the signature construction, exactly as
    on the batch `llm.dedup.doc_simhash` — the 100 TB configuration is
    ``bits=60, shingle=3`` (measured on the round-6 open-vocabulary
    corpus: 60-bit shingle-feature signatures keep the near-dup pair
    volume linear in corpus size where 32-bit word signatures
    saturate; see SCALING_r6.json). Both are part of the STORE's
    contract, not per-batch tuning knobs: stored signatures were
    computed under one configuration, and a batch run with different
    values banded-joins incompatible signature spaces (silent
    under-matching = over-admission). On a local store the
    `_check_store_meta` sidecar enforces this — the first batch
    records (bits, shingle) and any later mismatch raises; non-local
    stores rely on deployment config holding them fixed.

    Admission rule — deterministic, and batch-boundary-independent for
    streams delivered in (ts, id) order: a document survives iff no
    (ts, id)-EARLIER arrival within the horizon (the earlier arrival's
    ts is >= this doc's ts - ``horizon_seconds`` — a PER-DOCUMENT
    window, evaluated identically for in-batch pairs and store
    matches, never a per-batch cutoff that would make admission depend
    on which batchmates happen to set the batch maximum) has a simhash
    within ``max_hamming``. "Earlier arrival" counts dropped documents
    too: the signature store records EVERY arrival with its (ts, id),
    and the store match applies the same orientation rule as in-batch
    pairs — so re-slicing an in-order stream into different
    micro-batches yields the identical admitted set (the property the
    replay test pins). An OUT-OF-ORDER arrival (its (ts, id) precedes
    an already-admitted doc) can only over-admit — both docs are kept;
    the already-delivered doc is never retroactively dropped (no
    retraction in a streaming sink) and the late doc is not penalized
    for arriving late. NULL event times order LAST (they lose any pair
    against a real timestamp, deterministically by id among
    themselves) and are excluded from the store — a null-ts signature
    can never age out of a time-bounded horizon. Like the batch
    `dedup_keep_canonical` single-link rule, chains over-remove; the
    compaction pass with mode="cc" is the principled cross-horizon
    twin.

    State: (doc_id, simhash, ts) — three longs per in-horizon arrival,
    written as ONE ``batch=<id>`` partition per micro-batch in
    OVERWRITE mode, which is what makes foreachBatch replay idempotent:
    a retried batch rewrites its own partition and EXCLUDES it from
    matching, instead of appending a second copy and then matching its
    own signatures (which would silently drop the whole batch). The
    cluster analog is the same layout with horizon eviction as a
    partition DROP. Matching against the store is the banded
    `simhash_cross_matches` equi-join — never batch x store.
    """
    from flink_project_spark.cache import persist_tracked
    from flink_project_spark.llm.dedup import (
        doc_simhash,
        simhash_cross_matches,
        simhash_near_dups,
        validate_simhash_knobs,
    )

    # validate BEFORE the sidecar write: a first batch with bad knobs
    # must fail loudly WITHOUT recording a bogus contract on an empty
    # store (which would block the corrected re-run until the meta
    # file was hand-deleted)
    validate_simhash_knobs(bits, shingle)
    if batch.isEmpty():
        return batch.limit(0)
    if batch_id is None:
        batch_id = _next_store_batch_id(store_dir)
    store, cutoff, null_ts_docs = _store_and_cutoff(
        batch, store_dir, batch_id, ts_col, horizon_seconds
    )
    _check_store_meta(
        store_dir, {"kind": "simhash", "bits": bits, "shingle": shingle}
    )
    sim = persist_tracked(
        doc_simhash(
            batch.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
            text_col=text_col,
            bits=bits,
            shingle=shingle,
        ).join(
            batch.select(
                F.col(id_col).alias("doc_id"), F.col(ts_col).alias("_ts")
            ),
            "doc_id",
        ),
        label=f"neardup_sim_b{batch_id}",
    )
    try:
        # Null-ts new docs lose to ANY stored real-ts arrival — no
        # horizon applies to them (null orders last), so their matching
        # must run against the UNFILTERED store; otherwise admission of
        # a null-ts doc would depend on the pre-filter its batchmates
        # happen to set (batch-composition dependence). They match in a
        # dedicated pass against the unfiltered store (skipped when
        # the batch has no null-ts docs); when cutoff is None the whole
        # batch is null-ts and the main pass is already unfiltered.
        sim_null = sim.filter(F.col("_ts").isNull())

        def _match_side(ref):
            """doc_ids of new docs losing to a stored arrival in `ref`
            ((doc_id, simhash, _ts) rows): drop the new doc only if the
            stored one is (ts, id)-earlier AND within the new doc's
            per-document horizon — the cross-batch half of the in-batch
            pair rule, same predicates."""
            hits = simhash_cross_matches(
                sim,
                ref.select("doc_id", "simhash"),
                bits=bits,
                bands=bands,
                max_hamming=max_hamming,
                keep_ref_id=True,
                blocks=blocks,
            )
            return (
                hits.join(
                    sim.select("doc_id", F.col("_ts").alias("ts_new")),
                    "doc_id",
                )
                .join(
                    ref.select(
                        F.col("doc_id").alias("ref_doc_id"),
                        F.col("_ts").alias("ts_ref"),
                    ),
                    "ref_doc_id",
                )
                .filter(
                    F.col("ts_new").isNull()  # null ts orders last
                    | (F.col("ts_ref") < F.col("ts_new"))
                    | (
                        (F.col("ts_ref") == F.col("ts_new"))
                        & (F.col("ref_doc_id") < F.col("doc_id"))
                    )
                )
                .filter(
                    _within_horizon(
                        F.col("ts_ref"), F.col("ts_new"), horizon_seconds
                    )
                )
                .select("doc_id")
            )

        def _match_null_new(ref):
            """Null-ts new docs vs the unfiltered store: the store
            holds only real-ts arrivals, so ANY banded match drops the
            new doc — no ts join-back needed."""
            return simhash_cross_matches(
                sim_null,
                ref.select("doc_id", "simhash"),
                bits=bits,
                bands=bands,
                max_hamming=max_hamming,
                blocks=blocks,
            )

        store_hits = None
        if store is not None:
            ref = store
            if cutoff is not None:
                ref = ref.filter(F.col("_ts") >= F.lit(cutoff))
            store_hits = _match_side(ref)
            if cutoff is not None and null_ts_docs:
                store_hits = store_hits.union(_match_null_new(store))
            store_hits = store_hits.distinct()
        # in-batch: orient near-dup pairs by arrival order (ts, then
        # id) — the later side of any pair within the per-document
        # horizon is dropped; NULL ts orders LAST (loses to any real
        # timestamp, id-tie-broken among nulls, horizon-exempt). Same
        # _arrival_earlier/_within_horizon predicates as the store
        # pass, so slicing a stream differently cannot move a pair
        # between the two code paths with different semantics.
        pairs = simhash_near_dups(
            sim, bits=bits, bands=bands, max_hamming=max_hamming,
            blocks=blocks,
        )
        ts_of = sim.select("doc_id", "_ts")
        oriented = (
            pairs.join(
                ts_of.select(
                    F.col("doc_id").alias("doc_a"), F.col("_ts").alias("ts_a")
                ),
                "doc_a",
            )
            .join(
                ts_of.select(
                    F.col("doc_id").alias("doc_b"), F.col("_ts").alias("ts_b")
                ),
                "doc_b",
            )
            .filter(
                _within_horizon(
                    F.col("ts_a"), F.col("ts_b"), horizon_seconds
                )
            )
            .select(
                F.when(
                    _arrival_earlier(
                        F.col("ts_a"),
                        F.col("doc_a"),
                        F.col("ts_b"),
                        F.col("doc_b"),
                    ),
                    F.col("doc_b"),
                )
                .otherwise(F.col("doc_a"))
                .alias("doc_id")
            )
            .distinct()
        )
        losers = (
            oriented
            if store_hits is None
            else oriented.union(store_hits).distinct()
        )
        # record EVERY real-ts arrival's signature (see docstring)
        return _admit_and_store(
            batch,
            losers,
            id_col,
            sim.filter(F.col("_ts").isNotNull()).select(
                "doc_id", "simhash", "_ts"
            ),
            store_dir,
            batch_id,
            label=f"neardup_survivors_b{batch_id}",
        )
    finally:
        sim.unpersist()


def _compact_cadence(
    store_dir: str, horizon_seconds: int, compact_every: int | None
):
    """(spark, batch_id) -> None hook shared by both foreachBatch
    twins: every ``compact_every`` micro-batches, run `compact_store`
    over the signature store. None disables (the default — compaction
    stays an operator decision, not a surprise I/O spike). Keyed on the
    checkpoint batch_id so replays repeat, never skip or double, their
    compaction; (batch_id + 1) % N keeps the cadence stable across
    restarts without any state of its own."""
    if compact_every is None:
        return lambda spark, batch_id: None
    if compact_every < 1:
        raise ValueError(
            f"compact_every must be >= 1 batches, got {compact_every}"
        )
    # fail at WIRING time, not inside the Nth micro-batch: a remote
    # store would otherwise process and commit N-1 batches and then
    # kill the stream when compact_store's local-filesystem guard
    # fires mid-run
    if _is_remote_store(store_dir):
        raise ValueError(
            f"compact_every requires a local-filesystem store, got "
            f"remote {store_dir!r} — compact object-store layouts via "
            "the table's own partition-DROP maintenance pipeline"
        )

    def _maybe(spark, batch_id: int) -> None:
        if (batch_id + 1) % compact_every == 0:
            compact_store(spark, store_dir, horizon_seconds)

    return _maybe


def near_dup_foreach_batch(
    store_dir: str,
    sink,
    text_col: str = "text",
    ts_col: str = "ts",
    id_col: str = "doc_id",
    horizon_seconds: int = 600,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    blocks: int | None = None,
    shingle: int | None = None,
    compact_every: int | None = None,
):
    """foreachBatch wiring for `near_dup_dedup_batch`: returns the
    (batch_df, batch_id) callable; ``sink(survivors_df, batch_id)``
    receives each batch's admitted documents. The checkpoint's
    batch_id keys the signature-store partition, so a REPLAYED batch
    overwrites its own prior (possibly half-written) signatures and
    never matches against them — replay is idempotent end to end as
    long as the sink honors the standard foreachBatch contract
    (idempotent per batch_id). ``bits``/``shingle`` select the
    signature construction (store-lifetime constants — see
    `near_dup_dedup_batch`; the 100 TB configuration is
    ``bits=60, shingle=3``).

    ``compact_every=N`` runs `compact_store` in-loop after every Nth
    micro-batch (batch ids N-1, 2N-1, ...), so a long-running stream's
    signature store stays horizon-bounded without an external
    maintenance job. The cadence keys on the checkpoint batch_id, so a
    replay re-runs the same compaction it ran before — idempotent, and
    eviction is provably invisible to in-order admission INCLUDING a
    crash-replay of the compacting batch itself: compaction runs after
    the batch's sink but BEFORE Spark commits the batch, and
    `compact_store`'s default watermark therefore excludes the newest
    (uncommitted) partition's rows, so nothing a replay still needs to
    match is ever evicted (the crash-replay test pins this). Local
    filesystem stores only (compaction of an object-store layout is a
    partition-DROP job owned by the table's maintenance pipeline)."""
    _maybe_compact = _compact_cadence(
        store_dir, horizon_seconds, compact_every
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        survivors = near_dup_dedup_batch(
            batch_df,
            store_dir,
            text_col=text_col,
            ts_col=ts_col,
            id_col=id_col,
            horizon_seconds=horizon_seconds,
            bits=bits,
            bands=bands,
            max_hamming=max_hamming,
            blocks=blocks,
            batch_id=batch_id,
            shingle=shingle,
        )
        try:
            sink(survivors, batch_id)
        finally:
            # survivors is persisted (and pre-materialized) by
            # near_dup_dedup_batch; release it once the sink has
            # consumed it so a long-running stream stays memory-bounded
            survivors.unpersist()
        _maybe_compact(batch_df.sparkSession, batch_id)

    return _process


def semantic_dedup_batch(
    batch: DataFrame,
    store_dir: str,
    dim: int,
    vec_col: str = "embedding",
    ts_col: str = "ts",
    id_col: str = "doc_id",
    threshold: float = 0.85,
    n_planes: int = 8,
    horizon_seconds: int = 600,
    batch_id: int | None = None,
) -> DataFrame:
    """One micro-batch of streaming SEMANTIC dedup — the embedding twin
    of `near_dup_dedup_batch`, reusing the batch engine's sign-LSH
    bucketing (`llm.similarity.signlsh_bucket`) as the candidate filter
    and exact integer-quantized cosine as the verify.

    Admission rule (identical to the SimHash twin, same shared
    predicates): a document survives iff no (ts, id)-EARLIER arrival
    within ``horizon_seconds`` OF THAT DOCUMENT'S ts (per-document
    horizon — in-batch pairs and store matches evaluate it
    identically, so admission never depends on micro-batch slicing)
    has cosine >= ``threshold`` with it. "Earlier arrival" counts dropped
    documents too — the store records EVERY real-ts arrival's
    (doc_id, q, nrm, bucket, _ts) — so re-slicing an in-order stream
    into different micro-batches yields the identical admitted set, and
    an out-of-order arrival can only over-admit (no retraction). NULL
    event times order LAST (they lose to any stored real-ts match, no
    horizon applies to them) and are excluded from the store. Compared
    to the batch `llm.similarity.semantic_dedup` (SemDeDup: CC over the
    full pair graph, canonical survivor), this is the ingest-time
    greedy form: first arrival survives; chains can over-remove, and
    the CC compaction pass is the principled cross-horizon batch twin.

    Scale: state is (id, n_planes-bit bucket, quantized vector) per
    in-horizon arrival — one ``batch=<id>`` OVERWRITE partition per
    micro-batch (replay-idempotent, same layout/contract as the SimHash
    store); matching is always a bucket equi-join, never batch x store.

    ``n_planes`` is part of the STORE's contract, not a per-batch
    tuning knob: stored buckets were computed under one plane set, and
    a batch run with a different value equi-joins incompatible bucket
    spaces (silent under-matching = over-admission). Pick it for the
    stream's expected total volume up front (`auto_n_planes` on the
    batch side is the sizing rule) and keep it fixed for the store's
    lifetime — which is also why this function does NOT accept the
    batch operators' ``expected_vectors`` auto-sizing hint. On a local
    store the `_check_store_meta` sidecar enforces the invariant: the
    first batch records (dim, n_planes) and a later mismatch raises
    instead of silently under-matching.
    """
    from flink_project_spark.cache import persist_tracked
    from flink_project_spark.llm.similarity import (
        _dot,
        cosine_from_parts,
        signlsh_bucket,
        with_quantized,
    )

    # validate BEFORE the sidecar write (same rule as the SimHash
    # twin): bad knobs must not record a bogus contract on an empty
    # store. bool is an int subclass; floats slip past bare compares.
    # n_planes=0 is legitimate (one global bucket — the brute-force
    # sweep `signlsh_bucket` documents); dim must be positive.
    for name, v, lo in (("dim", dim, 1), ("n_planes", n_planes, 0)):
        if not isinstance(v, int) or isinstance(v, bool) or v < lo:
            raise ValueError(
                f"{name} must be an int >= {lo}, got {v!r}"
            )
    if batch.isEmpty():
        return batch.limit(0)
    if batch_id is None:
        batch_id = _next_store_batch_id(store_dir)
    store, cutoff, null_ts_docs = _store_and_cutoff(
        batch, store_dir, batch_id, ts_col, horizon_seconds
    )
    _check_store_meta(
        store_dir, {"kind": "semantic", "dim": dim, "n_planes": n_planes}
    )
    sim = persist_tracked(
        with_quantized(
            batch.select(
                F.col(id_col).alias("doc_id"),
                F.col(vec_col),
                F.col(ts_col).alias("_ts"),
            ),
            vec_col,
        ).select(
            "doc_id",
            "q",
            "nrm",
            signlsh_bucket("q", dim, n_planes).alias("bucket"),
            "_ts",
        ),
        label=f"semdedup_sim_b{batch_id}",
    )
    try:
        new_side = sim.select(
            "doc_id",
            F.col("q").alias("qn"),
            F.col("nrm").alias("nn"),
            "bucket",
            F.col("_ts").alias("ts_new"),
        )

        def _cos_ok(qa, na, qb, nb):
            return cosine_from_parts(_dot(qa, qb), na, nb) >= F.lit(
                threshold
            )

        store_hits = None
        if store is not None:
            # the pre-filter may drop stored arrivals only a null-ts
            # row could lose to, so it applies only when the batch has
            # no null-ts rows (they are horizon-exempt and must see
            # the whole store)
            if cutoff is not None and not null_ts_docs:
                store = store.filter(F.col("_ts") >= F.lit(cutoff))
            ref = store.select(
                F.col("doc_id").alias("ref_doc_id"),
                F.col("q").alias("qr"),
                F.col("nrm").alias("nr"),
                "bucket",
                F.col("_ts").alias("ts_ref"),
            )
            # One bucket equi-join serves both admission passes: the
            # per-document horizon applies only to real-ts new docs (a
            # null-ts doc orders last and loses to ANY stored
            # arrival); the store holds only real-ts rows, so ts_ref
            # is never NULL and the earlier-rule reduces to the shown
            # filter. Same _within_horizon predicate as the in-batch
            # pass and the SimHash twin.
            store_hits = (
                new_side.join(ref, "bucket")
                .filter(
                    _within_horizon(
                        F.col("ts_ref"), F.col("ts_new"), horizon_seconds
                    )
                )
                .filter(
                    _cos_ok(
                        F.col("qn"), F.col("nn"), F.col("qr"), F.col("nr")
                    )
                )
                .filter(
                    F.col("ts_new").isNull()
                    | (F.col("ts_ref") < F.col("ts_new"))
                    | (
                        (F.col("ts_ref") == F.col("ts_new"))
                        & (F.col("ref_doc_id") < F.col("doc_id"))
                    )
                )
                .select("doc_id")
            )
        # in-batch pairs: same orientation + horizon rules as the
        # SimHash twin (shared _arrival_earlier/_within_horizon
        # predicates) — the (ts, id)-later side of any qualifying pair
        # within the per-document horizon is dropped; NULL ts orders
        # last (id-tie-broken among nulls, horizon-exempt)
        other = sim.select(
            F.col("doc_id").alias("doc_b"),
            F.col("q").alias("qb"),
            F.col("nrm").alias("nb"),
            "bucket",
            F.col("_ts").alias("ts_b"),
        )
        in_batch = (
            new_side.join(other, "bucket")
            .filter(F.col("doc_id") < F.col("doc_b"))
            .filter(
                _within_horizon(
                    F.col("ts_new"), F.col("ts_b"), horizon_seconds
                )
            )
            .filter(
                _cos_ok(F.col("qn"), F.col("nn"), F.col("qb"), F.col("nb"))
            )
            .select(
                F.when(
                    _arrival_earlier(
                        F.col("ts_new"),
                        F.col("doc_id"),
                        F.col("ts_b"),
                        F.col("doc_b"),
                    ),
                    F.col("doc_b"),
                )
                .otherwise(F.col("doc_id"))
                .alias("doc_id")
            )
            .distinct()
        )
        losers = (
            in_batch
            if store_hits is None
            else in_batch.union(store_hits).distinct()
        )
        return _admit_and_store(
            batch,
            losers,
            id_col,
            sim.filter(F.col("_ts").isNotNull()).select(
                "doc_id", "q", "nrm", "bucket", "_ts"
            ),
            store_dir,
            batch_id,
            label=f"semdedup_survivors_b{batch_id}",
        )
    finally:
        sim.unpersist()


def semantic_dedup_foreach_batch(
    store_dir: str,
    sink,
    dim: int,
    vec_col: str = "embedding",
    ts_col: str = "ts",
    id_col: str = "doc_id",
    threshold: float = 0.85,
    n_planes: int = 8,
    horizon_seconds: int = 600,
    compact_every: int | None = None,
):
    """foreachBatch wiring for `semantic_dedup_batch` — same contract
    as `near_dup_foreach_batch` (checkpoint batch_id keys the store
    partition; replay idempotent for a per-batch_id-idempotent sink;
    ``compact_every=N`` runs `compact_store` in-loop every N batches —
    the semantic store's quantized rows carry the same ``_ts`` column
    the compactor keys on)."""
    _maybe_compact = _compact_cadence(
        store_dir, horizon_seconds, compact_every
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        survivors = semantic_dedup_batch(
            batch_df,
            store_dir,
            dim,
            vec_col=vec_col,
            ts_col=ts_col,
            id_col=id_col,
            threshold=threshold,
            n_planes=n_planes,
            horizon_seconds=horizon_seconds,
            batch_id=batch_id,
        )
        try:
            sink(survivors, batch_id)
        finally:
            survivors.unpersist()
        _maybe_compact(batch_df.sparkSession, batch_id)

    return _process


def curation_foreach_batch(
    store_dir: str,
    sink,
    gate=None,
    **near_dup_kwargs,
):
    """Streaming-ingest curation: per micro-batch, apply ``gate`` (any
    DataFrame -> DataFrame filter stage — a quality-score threshold, a
    `text.heuristic_rules` keep-flag filter, a PII gate), then near-dup
    admission against the horizon-bounded signature store;
    ``sink(survivors_df, batch_id)`` receives each batch's curated
    documents. `near_dup_kwargs` pass through to
    `near_dup_foreach_batch` (horizon_seconds, bands, ...).

    Composition contract (tested): the admitted set equals running the
    same gate + `near_dup_dedup_batch` over the same arrivals in the
    same order — gating upstream of admission also keeps REJECTED docs
    out of the signature store, so a near-dup of junk is judged against
    the curated corpus only, exactly as the batch funnel
    (`llm.pipeline.curate_corpus`) orders its stages.
    """
    inner = near_dup_foreach_batch(store_dir, sink, **near_dup_kwargs)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        gated = gate(batch_df) if gate is not None else batch_df
        inner(gated, batch_id)

    return _process
