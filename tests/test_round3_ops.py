"""Round-3 operators: distributed global rank, curriculum staging,
key-skew profiling, semantic dedup.

Each test checks the scalable construction against a brute-force or
single-window twin — the same equivalence-test pattern used for the
salted top-K and the as-of join.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_global_rank_equals_single_window(spark):
    """global_rank (range repartition + broadcast offsets) must equal
    row_number() OVER (ORDER BY ...) including duplicate order-values
    (unique tie-break column in the key)."""
    from flink_project_spark.operators.windows import global_rank

    rows = [(i, (i * 37) % 13) for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, v long")
    order = [F.col("v").desc(), F.col("id").asc()]
    g = global_rank(df, order)
    ref = df.withColumn("r", F.row_number().over(Window.orderBy(*order)))
    assert g.join(ref, "id").filter(F.col("grank") != F.col("r")).count() == 0
    # explicit partition count exercises the repartitionByRange(n, ...) arm
    g2 = global_rank(df, order, num_partitions=5)
    assert g2.join(ref, "id").filter(F.col("grank") != F.col("r")).count() == 0


def test_global_rank_plan_has_no_global_window(spark):
    """The contract reason the operator exists: the plan must not
    contain a single-partition sort feeding an unpartitioned window.
    Every Window in the plan is keyed on _pid (parallel); the only
    SinglePartition exchange allowed is the num_partitions-row offsets
    side of the broadcast join."""
    from flink_project_spark.operators.windows import global_rank

    df = spark.range(1000).withColumn("v", (F.col("id") * 7) % 11)
    plan = (
        global_rank(df, [F.col("v").asc(), F.col("id").asc()])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in plan.lower()
    # windows must be partitioned: no "Window [..]" spec without a
    # partitionBy — detectable as a Sort over SinglePartition feeding
    # Window on the DATA path; the offsets subtree is behind a
    # BroadcastExchange, whose tiny input is the groupBy(_pid) output
    for line in plan.splitlines():
        if "Window" in line and "_pid" not in line and "windowspec" in line.lower():
            raise AssertionError(f"unpartitioned window in plan: {line}")


def test_curriculum_order_matches_ntile(spark):
    """Stage assignment must reproduce SQL NTILE(4) over
    (quality DESC, doc_id) exactly, and grank the global row_number."""
    from flink_project_spark.llm.curation import curriculum_order
    from flink_project_spark.llm.text import quality_score

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    got = curriculum_order(docs, k_stages=4)
    qual = quality_score(docs).select("doc_id", "quality")
    w = Window.orderBy(F.col("quality").desc(), F.col("doc_id").asc())
    ref = qual.select(
        "doc_id",
        F.row_number().over(w).alias("r"),
        F.ntile(4).over(w).alias("s"),
    )
    bad = (
        got.join(ref, "doc_id")
        .filter((F.col("grank") != F.col("r")) | (F.col("stage") != F.col("s")))
        .count()
    )
    assert bad == 0
    # NTILE size contract: stage sizes differ by at most 1, earlier
    # stages are the larger ones
    sizes = {
        r["stage"]: r["n"]
        for r in got.groupBy("stage").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert max(sizes.values()) - min(sizes.values()) <= 1
    assert sorted(sizes.values(), reverse=True) == [
        sizes[s] for s in sorted(sizes)
    ]


def test_curriculum_order_k1_and_k_larger_than_n(spark):
    """Degenerate tile counts: k=1 puts everything in stage 1; k > n
    (the q=0 arm) gives every doc its own stage = its rank."""
    from flink_project_spark.llm.curation import curriculum_order

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(3)
    )
    one = curriculum_order(docs, k_stages=1)
    assert {r["stage"] for r in one.collect()} == {1}
    many = curriculum_order(docs, k_stages=10)
    assert {(r["grank"], r["stage"]) for r in many.collect()} == {
        (1, 1),
        (2, 2),
        (3, 3),
    }
    with pytest.raises(ValueError):
        curriculum_order(docs, k_stages=0)


def test_key_skew_profile_matches_brute_force(spark):
    """One-row profile vs a pandas recomputation of the exact
    rank-pick quantiles on the same key."""
    import math

    from flink_project_spark.operators.profiling import key_skew_profile

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    row = key_skew_profile(ev, "user_id").collect()[0]
    pdf = ev.select("user_id").toPandas()
    counts = (
        pdf.groupby("user_id").size().rename("cnt").reset_index()
        .sort_values(["cnt", "user_id"], ignore_index=True)
    )
    nk = len(counts)
    assert row["n_keys"] == nk
    assert row["n_rows"] == len(pdf)
    assert row["max_group"] == counts["cnt"].max()
    for q, col in ((0.5, "p50_group"), (0.9, "p90_group"), (0.99, "p99_group")):
        # integer-exact ceil(q*nk), same micro-quantized rule as the
        # engine (float math.ceil inherits binary64 artifacts)
        rank = (int(round(q * 1_000_000)) * nk + 999_999) // 1_000_000
        assert row[col] == counts["cnt"].iloc[rank - 1]
    assert row["top1_share_pct"] == pytest.approx(
        counts["cnt"].max() / len(pdf) * 100.0
    )


def test_semantic_dedup_matches_union_find_twin(spark):
    """semantic_dedup survivors == python union-find over the SAME
    near-dup pair set (the CC stage is the part under test; the pair
    stage has its own oracle). Exactly one survivor — the minimum id —
    per component; vectors in no pair survive untouched."""
    from flink_project_spark.llm.similarity import (
        embedding_near_dups,
        semantic_dedup,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    pairs = [
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dups(emb, dim=64, threshold=0.3, n_planes=4)
        .select("vec_a", "vec_b")
        .collect()
    ]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list[int]] = {}
    for x in parent:
        comp.setdefault(find(x), []).append(x)
    expected_losers = {
        x for root, xs in comp.items() for x in xs if x != min(xs)
    }
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    expected = all_ids - expected_losers
    got = {
        r["vec_id"]
        for r in semantic_dedup(emb, dim=64, threshold=0.3, n_planes=4)
        .select("vec_id")
        .collect()
    }
    assert got == expected
    assert len(pairs) > 0  # the fixture actually exercises the CC stage


def _mk_near_dup_corpus(spark):
    """Deterministic corpus with exact dups, near-dups (1-word edits on
    a 30-word base), and distinct docs, spread over 3 event-time
    groups. Returns (df, rows)."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(120)]
    base = [rng.choice(vocab) for _ in range(30)]

    def edit(k, seed):
        r = random.Random(seed)
        out = list(base)
        for _ in range(k):
            out[r.randrange(len(out))] = r.choice(vocab)
        return " ".join(out)

    rows = []
    t0 = "2024-01-01 00:{:02d}:00"
    # family A: original + near-dups arriving over minutes 0-2
    rows.append((1, t0.format(0), " ".join(base)))
    rows.append((2, t0.format(1), edit(1, 21)))
    rows.append((3, t0.format(2), edit(2, 22)))
    # distinct docs
    for i, m in ((4, 3), (5, 4), (6, 5)):
        r = random.Random(100 + i)
        rows.append((i, t0.format(m), " ".join(r.choice(vocab) for _ in range(30))))
    # family B near-dup pair split across later minutes
    rows.append((7, t0.format(6), edit(1, 23)))
    rows.append((8, t0.format(7), " ".join(reversed(base))))  # same word multiset
    df = spark.createDataFrame(
        rows, "doc_id long, ts_s string, text string"
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "text")
    return df, rows


def _sequential_twin_survivors(spark, df, max_hamming=3, **sim_kwargs):
    """Arrival-order greedy over ALL arrivals: doc survives iff no
    earlier (ts, id) arrival has simhash within max_hamming.
    ``sim_kwargs`` select the signature construction (bits/shingle),
    mirroring `near_dup_dedup_batch`'s knobs."""
    from flink_project_spark.llm.dedup import doc_simhash

    sims = {
        r["doc_id"]: r["simhash"]
        for r in doc_simhash(
            df.select("doc_id", "text"), **sim_kwargs
        ).collect()
    }
    order = sorted(
        [(r["ts"], r["doc_id"]) for r in df.select("ts", "doc_id").collect()]
    )
    keep = set()
    seen = []
    for ts, did in order:
        h = sims[did]
        if all(bin(h ^ p).count("1") > max_hamming for p in seen):
            keep.add(did)
        seen.append(h)
    return keep


def test_streaming_near_dup_dedup_matches_twin_and_batch_slicing(
    spark, tmp_path
):
    """The streamed (3 micro-batch) admitted set == the single-batch
    run == the arrival-order greedy twin: the signature store records
    every arrival, so batch boundaries don't change semantics."""
    from flink_project_spark.streaming.dedup import (
        near_dup_dedup_batch,
        near_dup_foreach_batch,
    )

    df, rows = _mk_near_dup_corpus(spark)
    twin = _sequential_twin_survivors(spark, df)
    assert twin != {r[0] for r in rows}  # corpus really has near-dups

    # single-batch run
    store1 = str(tmp_path / "store1")
    got_single = {
        r["doc_id"]
        for r in near_dup_dedup_batch(
            df, store1, horizon_seconds=3600
        ).collect()
    }
    assert got_single == twin

    # streamed run: three file drops = three micro-batches
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    store2 = str(tmp_path / "store2")

    def sink(survivors, batch_id):
        survivors.write.mode("append").parquet(out)

    import uuid as _uuid

    stream = spark.readStream.schema("doc_id long, ts timestamp, text string").parquet(
        str(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            near_dup_foreach_batch(store2, sink, horizon_seconds=3600)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    slices = [df.filter(F.col("doc_id") <= 3),
              df.filter((F.col("doc_id") > 3) & (F.col("doc_id") <= 6)),
              df.filter(F.col("doc_id") > 6)]
    for s in slices:
        s.coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    q.stop()
    got_stream = {
        r["doc_id"] for r in spark.read.parquet(out).collect()
    }
    assert got_stream == twin


def test_streaming_near_dup_readmits_past_horizon(spark, tmp_path):
    """A near-dup arriving beyond the horizon is re-admitted — the
    bounded-state trade-off, same contract as streaming_exact_dedup."""
    from flink_project_spark.streaming.dedup import near_dup_dedup_batch

    store = str(tmp_path / "store")
    text = " ".join(f"t{i}" for i in range(25))

    def mk(did, ts):
        return spark.createDataFrame(
            [(did, ts, text)], "doc_id long, ts_s string, text string"
        ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "text")

    b1 = near_dup_dedup_batch(
        mk(1, "2024-01-01 00:00:00"), store, horizon_seconds=600
    )
    assert {r["doc_id"] for r in b1.collect()} == {1}
    # in-horizon exact dup: dropped
    b2 = near_dup_dedup_batch(
        mk(2, "2024-01-01 00:05:00"), store, horizon_seconds=600
    )
    assert b2.count() == 0
    # far past the horizon: store rows age out, re-admitted
    b3 = near_dup_dedup_batch(
        mk(3, "2024-01-01 02:00:00"), store, horizon_seconds=600
    )
    assert {r["doc_id"] for r in b3.collect()} == {3}


def test_streaming_near_dup_all_null_ts_batch_still_matches_store(
    spark, tmp_path
):
    """A batch whose event times are ALL NULL must still match the
    signature store: NULL ts orders last, so the new doc loses to any
    stored real-ts arrival regardless of horizon. (Previously the
    None cutoff skipped store matching entirely, making admission
    depend on batch composition.)"""
    from flink_project_spark.streaming.dedup import near_dup_dedup_batch

    store = str(tmp_path / "store")
    text = " ".join(f"t{i}" for i in range(25))

    b1 = near_dup_dedup_batch(
        spark.createDataFrame(
            [(1, "2024-01-01 00:00:00", text)],
            "doc_id long, ts_s string, text string",
        ).select(
            "doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "text"
        ),
        store,
        horizon_seconds=600,
    )
    assert {r["doc_id"] for r in b1.collect()} == {1}
    # all-null-ts batch containing an exact dup AND a fresh doc
    nulls = spark.createDataFrame(
        [(2, None, text), (3, None, "completely different words here")],
        "doc_id long, ts_s string, text string",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "text")
    b2 = near_dup_dedup_batch(nulls, store, horizon_seconds=600)
    assert {r["doc_id"] for r in b2.collect()} == {3}


def test_streaming_near_dup_null_ts_batchmate_independence(spark, tmp_path):
    """A null-ts doc loses to ANY stored real-ts arrival regardless of
    horizon — including when a real-ts batchmate sets a cutoff that
    filters the old store row out of the horizon pass. Admission of the
    null-ts doc must not depend on which docs it happens to share a
    micro-batch with."""
    from flink_project_spark.streaming.dedup import near_dup_dedup_batch

    text = " ".join(f"t{i}" for i in range(25))

    def mk(rows):
        return spark.createDataFrame(
            rows, "doc_id long, ts_s string, text string"
        ).select(
            "doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "text"
        )

    def run(store):
        b1 = near_dup_dedup_batch(
            mk([(1, "2024-01-01 00:00:00", text)]), store, horizon_seconds=600
        )
        assert {r["doc_id"] for r in b1.collect()} == {1}

    # alone in its batch: cutoff is None, unfiltered match, dropped
    s1 = str(tmp_path / "s1")
    run(s1)
    alone = near_dup_dedup_batch(
        mk([(2, None, text)]), s1, horizon_seconds=600
    )
    assert alone.count() == 0
    # co-batched with a real-ts doc 10 hours later (store row far out
    # of horizon): the null-ts doc must STILL be dropped
    s2 = str(tmp_path / "s2")
    run(s2)
    mixed = near_dup_dedup_batch(
        mk([(2, None, text),
            (3, "2024-01-01 10:00:00", "completely different words here")]),
        s2,
        horizon_seconds=600,
    )
    assert {r["doc_id"] for r in mixed.collect()} == {3}


def test_streaming_near_dup_per_document_horizon(spark, tmp_path):
    """The horizon is PER DOCUMENT (earlier.ts >= doc.ts - horizon),
    never a per-batch cutoff: (a) an in-batch near-dup pair further
    apart than the horizon keeps BOTH docs, in one batch or sliced;
    (b) a stored arrival within an early batchmate's own horizon still
    drops it even when a later batchmate pushes the batch maximum far
    past it (the old max-based cutoff admitted it); (c) admitted sets
    are identical across slicings in both scenarios."""
    from flink_project_spark.streaming.dedup import near_dup_dedup_batch

    text = " ".join(f"t{i}" for i in range(25))

    def mk(rows):
        return spark.createDataFrame(
            rows, "doc_id long, ts_s string, text string"
        ).select(
            "doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "text"
        )

    # (a) in-batch pair 1200s apart, horizon 600s: both survive...
    pair = [(1, "2024-01-01 00:00:00", text), (2, "2024-01-01 00:20:00", text)]
    one = near_dup_dedup_batch(
        mk(pair), str(tmp_path / "a1"), horizon_seconds=600
    )
    assert {r["doc_id"] for r in one.collect()} == {1, 2}
    # ...and slicing the same stream cannot change that
    s2 = str(tmp_path / "a2")
    first = near_dup_dedup_batch(mk(pair[:1]), s2, horizon_seconds=600)
    assert {r["doc_id"] for r in first.collect()} == {1}
    second = near_dup_dedup_batch(mk(pair[1:]), s2, horizon_seconds=600)
    assert {r["doc_id"] for r in second.collect()} == {2}

    # (b) store ref at 00:15, batch = dup X at 00:20 + unrelated Y at
    # 00:40: X's own horizon reaches back to 00:10, so X must drop —
    # a max-based cutoff (00:40 - 600s = 00:30) would admit it
    s3 = str(tmp_path / "b1")
    seeded = near_dup_dedup_batch(
        mk([(9, "2024-01-01 00:15:00", text)]), s3, horizon_seconds=600
    )
    assert {r["doc_id"] for r in seeded.collect()} == {9}
    mixed = near_dup_dedup_batch(
        mk([(10, "2024-01-01 00:20:00", text),
            (11, "2024-01-01 00:40:00", "completely different words here")]),
        s3,
        horizon_seconds=600,
    )
    assert {r["doc_id"] for r in mixed.collect()} == {11}
    # (c) same stream, X sliced alone: identical outcome
    s4 = str(tmp_path / "b2")
    near_dup_dedup_batch(
        mk([(9, "2024-01-01 00:15:00", text)]), s4, horizon_seconds=600
    ).collect()
    alone = near_dup_dedup_batch(
        mk([(10, "2024-01-01 00:20:00", text)]), s4, horizon_seconds=600
    )
    assert alone.count() == 0
    later = near_dup_dedup_batch(
        mk([(11, "2024-01-01 00:40:00", "completely different words here")]),
        s4,
        horizon_seconds=600,
    )
    assert {r["doc_id"] for r in later.collect()} == {11}


def test_range_join_bucketed_matches_nested_loop(spark):
    """Bucketed decomposition == brute-force BETWEEN join, including
    boundary values (exactly lo, exactly hi), overlapping ranges,
    hi_inclusive, and left-join unmatched facts."""
    from flink_project_spark.operators.rangejoin import range_join_bucketed

    facts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(
            [0.0, 4.9, 5.0, 9.99, 10.0, 14.5, 15.0, 25.0, 99.0, 100.0]
        )],
        "fid long, v double",
    )
    ranges = spark.createDataFrame(
        [(0, 0.0, 10.0), (1, 5.0, 15.0), (2, 5.0, 15.0), (3, 90.0, 100.0)],
        "rid long, lo double, hi double",
    )
    for hi_inc in (False, True):
        got = {
            (r["fid"], r["rid"])
            for r in range_join_bucketed(
                facts, ranges, "v", "lo", "hi", 4.0, hi_inclusive=hi_inc
            ).collect()
        }
        upper = (F.col("v") <= F.col("hi")) if hi_inc else (
            F.col("v") < F.col("hi")
        )
        ref = {
            (r["fid"], r["rid"])
            for r in facts.crossJoin(ranges)
            .filter((F.col("v") >= F.col("lo")) & upper)
            .collect()
        }
        assert got == ref, f"hi_inclusive={hi_inc}"
    # left join: every fact appears; unmatched carry NULL rid
    left = range_join_bucketed(
        facts, ranges, "v", "lo", "hi", 4.0, how="left"
    )
    rows = left.collect()
    assert {r["fid"] for r in rows} == set(range(10))
    assert any(r["rid"] is None for r in rows)  # v=25.0 matches nothing
    import pytest as _pt

    with _pt.raises(ValueError):
        range_join_bucketed(facts, ranges, "v", "lo", "hi", 0.0)
    with _pt.raises(ValueError):
        range_join_bucketed(facts, ranges, "v", "lo", "hi", 4.0, how="outer")


def test_order_price_bands_plans_hash_join_not_nested_loop(spark):
    """The reason the operator exists: the band query must plan the
    inequality join as a (broadcast) hash join on the bucket id, never
    BroadcastNestedLoopJoin/CartesianProduct."""
    import __spark_entry__ as E

    plan = (
        E.queries()["order_price_bands"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_global_rank_seeded_sweep(spark):
    """Seeded random frames (duplicate-heavy order values, skewed
    distributions, tiny and single-partition-sized inputs) — global
    rank equals the single-window reference on every draw."""
    import random

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        n = rng.choice([1, 7, 100, 2311])
        card = rng.choice([1, 2, 17])
        rows = [(i, rng.randrange(card)) for i in range(n)]
        df = spark.createDataFrame(rows, "id long, v long")
        order = [F.col("v").asc(), F.col("id").asc()]
        from flink_project_spark.operators.windows import global_rank

        got = global_rank(df, order, num_partitions=rng.choice([None, 3, 64]))
        ref = df.withColumn(
            "r", F.row_number().over(Window.orderBy(*order))
        )
        assert (
            got.join(ref, "id").filter(F.col("grank") != F.col("r")).count()
            == 0
        ), f"seed={seed}"


def test_range_join_seeded_sweep(spark):
    """Seeded random fact/range draws (negative values, zero-width and
    giant ranges, values exactly on bucket boundaries) vs the
    brute-force BETWEEN join, across bucket widths."""
    import random

    from flink_project_spark.operators.rangejoin import range_join_bucketed

    for seed in (11, 12):
        rng = random.Random(seed)
        facts = spark.createDataFrame(
            [
                (i, float(rng.randrange(-100, 101)) / rng.choice([1, 4]))
                for i in range(120)
            ],
            "fid long, v double",
        )
        ranges_rows = []
        for rid in range(15):
            lo = float(rng.randrange(-100, 101))
            width = rng.choice([0.0, 0.5, 7.0, 300.0])
            ranges_rows.append((rid, lo, lo + width))
        ranges = spark.createDataFrame(ranges_rows, "rid long, lo double, hi double")
        for w in (1.0, 13.0):
            got = {
                (r["fid"], r["rid"])
                for r in range_join_bucketed(
                    facts, ranges, "v", "lo", "hi", w, hi_inclusive=True
                ).collect()
            }
            ref = {
                (r["fid"], r["rid"])
                for r in facts.crossJoin(ranges)
                .filter((F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")))
                .collect()
            }
            assert got == ref, f"seed={seed} w={w}"


def test_funnel_matches_python_greedy_walk(spark):
    """funnel_times/funnel_steps vs a python greedy subsequence walk
    over the same events — with and without the horizon anchor."""
    from flink_project_spark.operators.funnel import (
        funnel_steps,
        funnel_times,
    )

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    steps = ["view", "click", "purchase"]
    rows = (
        ev.select("user_id", "event_type", "ts")
        .filter(F.col("event_type").isin(steps))
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["ts"], r["event_type"]))

    def walk(events_sorted, horizon=None):
        ts = [None] * len(steps)
        for t, typ in events_sorted:
            for i, s in enumerate(steps):
                if typ != s:
                    continue
                if i == 0:
                    if ts[0] is None:
                        ts[0] = t
                elif ts[i] is None and ts[i - 1] is not None and t > ts[i - 1]:
                    if horizon is None or (t - ts[0]).total_seconds() <= horizon:
                        ts[i] = t
                break
        return ts

    for horizon in (None, 3600):
        expected = {
            u: walk(sorted(evs), horizon) for u, evs in by_user.items()
        }
        got = {
            r["user_id"]: [r["t1"], r["t2"], r["t3"]]
            for r in funnel_times(
                ev, steps, horizon_seconds=horizon
            ).collect()
        }
        exp_nonempty = {u: t for u, t in expected.items() if t[0] is not None}
        assert got == exp_nonempty, f"horizon={horizon}"
        counts = {
            r["step"]: r["users"]
            for r in funnel_steps(ev, steps, horizon_seconds=horizon).collect()
        }
        for i in range(3):
            assert counts[i + 1] == sum(
                1 for t in expected.values() if t[i] is not None
            )
    # depth is monotone: users at step i+1 <= step i
    assert counts[3] <= counts[2] <= counts[1]
    import pytest as _pt

    with _pt.raises(ValueError):
        funnel_times(ev, [])


def test_streaming_near_dup_survives_restart(spark, tmp_path):
    """Checkpoint restart: stop the query mid-stream, start a NEW query
    on the same checkpoint + signature store — the admitted set equals
    the uninterrupted run (the store is the cross-restart state; the
    checkpoint guarantees whole-batch replay)."""
    from flink_project_spark.streaming.dedup import near_dup_foreach_batch

    df, _ = _mk_near_dup_corpus(spark)
    twin = _sequential_twin_survivors(spark, df)

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def sink(survivors, batch_id):
        survivors.write.mode("append").parquet(out)

    def start():
        stream = spark.readStream.schema(
            "doc_id long, ts timestamp, text string"
        ).parquet(str(src))
        return (
            stream.writeStream.foreachBatch(
                near_dup_foreach_batch(store, sink, horizon_seconds=3600)
            )
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    df.filter(F.col("doc_id") <= 4).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    q.processAllAvailable()
    q.stop()
    # restart on the same checkpoint; remaining docs arrive after
    q = start()
    df.filter(F.col("doc_id") > 4).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    q.processAllAvailable()
    q.stop()
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == twin


def test_cohort_retention_matches_python_twin(spark):
    """Weekly retention matrix vs a pandas recomputation (first-week
    cohorts, distinct user-week presence), plus the day-period arm and
    the offset-0 == cohort-size invariant."""
    import pandas as pd

    from flink_project_spark.operators.funnel import cohort_retention

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    for period, days in (("week", 7), ("day", 1)):
        got = {
            (str(r["cohort"]), r["period_offset"]): r["users"]
            for r in cohort_retention(ev, period=period).collect()
        }
        pdf = ev.select("user_id", "ts").toPandas()
        p = pdf["ts"].dt.to_period("W-SUN" if period == "week" else "D")
        # pandas weekly periods anchor differently; recompute via
        # Monday-floor like date_trunc
        ts = pdf["ts"].dt.normalize()
        if period == "week":
            ts = ts - pd.to_timedelta(ts.dt.dayofweek, unit="D")
        pdf = pdf.assign(p=ts.dt.date)
        first = pdf.groupby("user_id")["p"].min().rename("cohort")
        m = pdf.merge(first, on="user_id")
        m["off"] = m.apply(
            lambda r: (r["p"] - r["cohort"]).days // days, axis=1
        )
        exp = (
            m.drop_duplicates(["user_id", "cohort", "off"])
            .groupby(["cohort", "off"])
            .size()
        )
        expected = {
            (str(c), int(o)): int(n) for (c, o), n in exp.items()
        }
        assert got == expected, period
    # offset 0 rows sum to the number of distinct users
    week = cohort_retention(ev, period="week")
    z = (
        week.filter(F.col("period_offset") == 0)
        .agg(F.sum("users").alias("s"))
        .collect()[0]["s"]
    )
    assert z == ev.select("user_id").distinct().count()
    import pytest as _pt

    with _pt.raises(ValueError):
        cohort_retention(ev, period="hour")


def test_rolling_time_agg_matches_self_join(spark):
    """RANGE-framed rolling window vs the quadratic self-join spec,
    including timestamp TIES (frame includes all rows at the boundary
    instants) and window edges."""
    import datetime as dt

    from flink_project_spark.operators.windows import rolling_time_agg

    base = dt.datetime(2024, 1, 1)
    rows = []
    import random

    rng = random.Random(9)
    for i in range(300):
        rows.append(
            (
                i,
                rng.randrange(5),
                base + dt.timedelta(seconds=rng.randrange(0, 7200)),
                round(rng.uniform(-5, 5), 3),
            )
        )
    # forced exact-tie pairs
    rows.append((300, 1, base + dt.timedelta(seconds=100), 1.5))
    rows.append((301, 1, base + dt.timedelta(seconds=100), 2.5))
    df = spark.createDataFrame(rows, "eid long, k long, ts timestamp, v double")
    got = rolling_time_agg(df, ["k"], "ts", "v", 600)
    # brute force: for each row, aggregate same-key rows in (t-600, t]
    a = df.alias("a")
    b = df.alias("b")
    import pyspark.sql.functions as SF

    sec = lambda c: SF.unix_timestamp(SF.col(c))  # noqa: E731
    ref = (
        a.join(
            b,
            (SF.col("a.k") == SF.col("b.k"))
            & (sec("b.ts") <= sec("a.ts"))
            & (sec("b.ts") >= sec("a.ts") - 600),
        )
        .groupBy("a.eid")
        .agg(
            SF.count(SF.lit(1)).alias("r_count"),
            SF.sum(
                SF.floor(SF.col("b.v") * 1000000 + SF.lit(0.5)).cast("long")
            ).alias("r_qsum"),
        )
    )
    j = (
        got.join(df.select("eid", "k", "ts", "v"), ["k", "ts", "v"])
        .join(ref, "eid")
        .select(
            "eid",
            "w_count",
            "r_count",
            (F.col("w_sum") * 1000000).cast("long").alias("w_qsum"),
            "r_qsum",
        )
    )
    # the tie rows share (k, ts): joining back on (k, ts, v) keeps the
    # mapping unique because v differs; every row must agree
    bad = j.filter(
        (F.col("w_count") != F.col("r_count"))
        | (F.abs(F.col("w_qsum") - F.col("r_qsum")) > 1)
    ).count()
    assert bad == 0


def test_streaming_curation_gate_plus_admission(spark, tmp_path):
    """curation_foreach_batch: the streamed admitted set equals gate +
    sequential near-dup twin over the same arrivals — and a junk doc's
    signature never enters the store (a later near-dup of junk is
    judged only against the CURATED corpus)."""
    from flink_project_spark.streaming.dedup import curation_foreach_batch

    df, rows = _mk_near_dup_corpus(spark)
    # junk: too short to pass the gate, arriving FIRST; plus a later
    # near-dup of a kept doc (still removed) — junk's own near-dup
    # (doc 102, same junk text) must ALSO be admitted-or-gated purely
    # by the gate, not by matching junk's signature
    junk = spark.createDataFrame(
        [
            (101, "2023-12-31 23:58:00", "tiny junk"),
            (102, "2023-12-31 23:59:00", "tiny junk"),
        ],
        "doc_id long, ts_s string, text string",
    ).select(
        "doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "text"
    )
    full = df.union(junk)

    def gate(batch):
        from flink_project_spark.llm.text import words

        return batch.filter(F.size(words(F.col("text"))) >= 10)

    twin = _sequential_twin_survivors(spark, gate(full))

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    store = str(tmp_path / "store")

    def sink(survivors, batch_id):
        survivors.write.mode("append").parquet(out)

    stream = spark.readStream.schema(
        "doc_id long, ts timestamp, text string"
    ).parquet(str(src))
    q = (
        stream.writeStream.foreachBatch(
            curation_foreach_batch(store, sink, gate=gate, horizon_seconds=7200)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    slices = [
        full.filter(F.col("doc_id") > 100),  # junk arrives first
        full.filter(F.col("doc_id") <= 3),
        full.filter((F.col("doc_id") > 3) & (F.col("doc_id") <= 100)),
    ]
    for s in slices:
        s.coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    q.stop()
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == twin
    assert 101 not in got and 102 not in got


def test_streaming_near_dup_replay_is_idempotent(spark, tmp_path):
    """A replayed foreachBatch batch (same batch_id — sink failed after
    the signature write) must re-admit the SAME survivors, not match
    its own stored signatures and silently drop the whole batch; the
    replayed partition is rewritten, not appended a second time."""
    import glob as _glob

    from flink_project_spark.streaming.dedup import near_dup_dedup_batch

    store = str(tmp_path / "store")
    text = " ".join(f"w{i}" for i in range(25))
    batch = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", text)],
        "doc_id long, ts_s string, text string",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "text")

    first = near_dup_dedup_batch(store_dir=store, batch=batch, batch_id=7)
    assert {r["doc_id"] for r in first.collect()} == {1}
    # replay: same batch, same id — identical admission
    again = near_dup_dedup_batch(store_dir=store, batch=batch, batch_id=7)
    assert {r["doc_id"] for r in again.collect()} == {1}
    # exactly one batch=7 partition, no duplicate signature copies
    assert _glob.glob(f"{store}/batch=*") == [f"{store}/batch=7"]
    assert spark.read.parquet(store).count() == 1
    # a LATER batch still sees the stored signature and drops its dup
    later = spark.createDataFrame(
        [(2, "2024-01-01 00:01:00", text)],
        "doc_id long, ts_s string, text string",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "text")
    assert near_dup_dedup_batch(
        store_dir=store, batch=later, batch_id=8
    ).count() == 0


def test_streaming_near_dup_out_of_order_over_admits_only(spark, tmp_path):
    """An out-of-order arrival whose (ts, id) PRECEDES an
    already-admitted store match is admitted too (over-admission) —
    the admitted doc is never retroactively dropped, and the late doc
    is not penalized: the store match drops the new doc only when the
    STORED arrival is (ts, id)-earlier."""
    from flink_project_spark.streaming.dedup import near_dup_dedup_batch

    store = str(tmp_path / "store")
    text = " ".join(f"q{i}" for i in range(25))

    def mk(did, ts):
        return spark.createDataFrame(
            [(did, ts, text)], "doc_id long, ts_s string, text string"
        ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "text")

    # doc 2 admitted first; doc 1 arrives later with the SAME ts —
    # (ts, 1) < (ts, 2), so the stored row is NOT earlier: both kept
    assert near_dup_dedup_batch(
        mk(2, "2024-01-01 00:00:00"), store, batch_id=0
    ).count() == 1
    assert near_dup_dedup_batch(
        mk(1, "2024-01-01 00:00:00"), store, batch_id=1
    ).count() == 1
    # in-order same-ts tie in a later batch vs the stored id=1: the
    # stored row IS earlier by id -> the new doc 3 drops... but id 3 >
    # 1 only makes the stored row earlier; verify the drop
    assert near_dup_dedup_batch(
        mk(3, "2024-01-01 00:00:00"), store, batch_id=2
    ).count() == 0


def test_streaming_near_dup_null_ts_loses_and_not_stored(spark, tmp_path):
    """NULL event times order LAST: a null-ts near-dup loses its
    in-batch pair against a real timestamp, and null-ts signatures
    never enter the store (they could not age out of the horizon)."""
    from flink_project_spark.streaming.dedup import near_dup_dedup_batch

    store = str(tmp_path / "store")
    text = " ".join(f"z{i}" for i in range(25))
    batch = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", text), (2, None, text)],
        "doc_id long, ts_s string, text string",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "text")
    got = near_dup_dedup_batch(batch, store, batch_id=0)
    assert {r["doc_id"] for r in got.collect()} == {1}
    stored = spark.read.parquet(store)
    assert stored.filter(F.col("_ts").isNull()).count() == 0
    assert stored.count() == 1


def test_gap_fill_counts_null_key_series(spark):
    """A NULL key forms its own series: its real counts must appear in
    the dense grid (a non-null-safe join would zero-fill every
    NULL-key bucket while the events exist)."""
    from flink_project_spark.operators.windows import gap_fill_counts

    ev = spark.createDataFrame(
        [
            ("2024-01-01 00:05:00", None),
            ("2024-01-01 00:06:00", None),
            ("2024-01-01 02:10:00", "click"),
        ],
        "ts_s string, event_type string",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    out = gap_fill_counts(ev, "ts", "1 hour", ["event_type"])
    got = {
        (r.window_start.hour, r.event_type): r.cnt for r in out.collect()
    }
    # 3 calendar hours x 2 keys (null is a key) = 6 rows
    assert len(got) == 6
    assert got[(0, None)] == 2          # the fix: not zeroed
    assert got[(2, "click")] == 1
    assert got[(1, None)] == 0 and got[(0, "click")] == 0


def test_rolling_time_agg_null_values_use_sql_count_semantics(spark):
    """NULL values follow COUNT(value)/AVG: excluded from count, sum,
    and mean — count(*) would make the mean neither AVG nor row-mean."""
    from flink_project_spark.operators.windows import rolling_time_agg

    df = spark.createDataFrame(
        [
            ("k", "2024-01-01 00:00:00", 2.0),
            ("k", "2024-01-01 00:00:01", None),
        ],
        "k string, ts_s string, v double",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    got = {
        r.ts.second: (r.w_count, r.w_sum, r.w_mean)
        for r in rolling_time_agg(df, ["k"], "ts", "v", 600).collect()
    }
    assert got[0] == (1, 2.0, 2.0)
    assert got[1] == (1, 2.0, 2.0)      # null row joins window, adds 0/skips


def test_multi_resolution_day_alignment_keys_on_duration(spark):
    """A custom resolutions dict naming its 1-day entry anything gets
    the +8h day grid — the alignment keys on the duration, not the
    '1d' label."""
    from flink_project_spark.operators.windows import multi_resolution_counts

    ev = spark.createDataFrame(
        [("2024-01-01 10:00:00", "c")], "ts_s string, event_type string"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    custom = multi_resolution_counts(
        ev, "ts", ["event_type"], resolutions={"day": "1 day"}
    ).collect()
    default = multi_resolution_counts(ev, "ts", ["event_type"]).collect()
    d_custom = [r for r in custom if r.resolution == "day"][0]
    d_default = [r for r in default if r.resolution == "1d"][0]
    assert d_custom.window_start == d_default.window_start


def test_cdc_chunks_respect_min_clamp_mid_stream(spark):
    """Every chunk except the final tail lies in [min_chunk,
    max_chunk]: a content boundary just past a forced max split must
    be skipped, not emitted as a sub-min chunk."""
    import random

    from flink_project_spark.llm.multimodal import cdc_chunk_hashes

    rnd = random.Random(11)
    payload = bytes(rnd.randrange(256) for _ in range(20000))
    df = spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    rows = sorted(
        cdc_chunk_hashes(df, mask_bits=5, min_chunk=64, max_chunk=256).collect(),
        key=lambda r: r.chunk_idx,
    )
    assert rows
    for r in rows[:-1]:
        assert 64 <= r.chunk_len <= 256, (r.chunk_idx, r.chunk_len)
    assert rows[-1].chunk_len <= 256
    assert sum(r.chunk_len for r in rows) == 20000


def test_decode_media_udf_null_payload_matches_native(spark):
    """NULL payloads flow through BOTH decode paths identically:
    dims from doc_id, checksum NULL."""
    from flink_project_spark.llm import multimodal as MM

    docs = spark.createDataFrame(
        [(1, None, "s0"), (2, "hello world", "s0")],
        "doc_id long, text string, source string",
    )
    media = MM.attach_payload(docs)
    native = {tuple(r) for r in MM.decode_media(media).collect()}
    udf = {tuple(r) for r in MM.decode_media_udf(media).collect()}
    assert native == udf
    by_id = {r[0]: r for r in native}
    assert by_id[1][-1] is None      # checksum NULL for NULL payload
    assert by_id[2][-1] is not None


def test_duration_seconds_compound_and_weeks():
    """The duration parser accepts everything F.window does at
    whole-second granularity — compound strings and weeks."""
    from flink_project_spark.operators.windows import _duration_seconds

    assert _duration_seconds("1 hour 30 minutes") == 5400
    assert _duration_seconds("1 week") == 604800
    assert _duration_seconds("2 days 3 hours") == 2 * 86400 + 3 * 3600
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _duration_seconds("fortnight")


def test_multi_resolution_streams_day_alignment_keys_on_duration(spark):
    """The streaming twin keys the +8h day grid on the DURATION, like
    the batch form — a custom dict naming its 1-day entry 'daily'
    still gets the aligned grid (F.window is batch/stream-agnostic, so
    the check runs on a static frame)."""
    from flink_project_spark.streaming.windows import multi_resolution_streams

    ev = spark.createDataFrame(
        [("2024-01-01 10:00:00", "c")], "ts_s string, event_type string"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    custom = multi_resolution_streams(
        ev, "ts", ["event_type"], resolutions={"daily": "1 day"}
    )["daily"].collect()
    default = multi_resolution_streams(ev, "ts", ["event_type"])[
        "1d"
    ].collect()
    assert custom[0].window_start == default[0].window_start


def test_tumbling_stream_count_only_inputs(spark):
    """value_col=None flows through the stream wrapper — a stream with
    no numeric payload gets count-only windows instead of an
    unresolved-column failure."""
    from flink_project_spark.streaming.windows import tumbling_stream

    ev = spark.createDataFrame(
        [("2024-01-01 00:01:00", "a")], "ts_s string, k string"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "k")
    got = tumbling_stream(ev, "ts", "5 minutes", ["k"], value_col=None)
    rows = got.collect()
    assert rows and rows[0]["cnt"] == 1


def test_interval_join_rejects_right_side_suffix_coincidence(spark):
    """A right column that already ends in the suffix must be rejected
    when suffixing another right column produces its name — the full
    output name list is validated, not just suffixed-vs-left."""
    import pytest as _pytest

    from flink_project_spark.streaming.joins import interval_join_stream

    left = spark.createDataFrame(
        [("k", "2024-01-01 00:01:00", 1.0)], "k string, lts_s string, x double"
    ).select("k", F.col("lts_s").cast("timestamp").alias("lts"), "x")
    right = spark.createDataFrame(
        [("k", "2024-01-01 00:00:30", 2.0, 3.0)],
        "k string, rts_s string, x double, x_r double",
    ).select(
        "k", F.col("rts_s").cast("timestamp").alias("rts"), "x", "x_r"
    )
    with _pytest.raises(ValueError, match="duplicated"):
        interval_join_stream(
            left, right, ["k"], "lts", "rts", horizon="1 hour"
        )


def test_recall_log_fixture_covers_model_sentinel(spark):
    """FIXTURES.md requires predict_model_id='-2' rows (the reference's
    recall_score fallback path); effective_score swaps in recall_score
    exactly on those rows."""
    from flink_project_spark import fixtures as FX
    from flink_project_spark.operators.auc import effective_score

    rl = FX.fixture_df(spark, SF_SMOKE, "recall_log")
    n2 = rl.filter(F.col("predict_model_id") == "-2").count()
    assert n2 > 0
    assert rl.filter(F.col("predict_model_id") == "model_0").count() == 0

    eff = rl.withColumn("eff", effective_score()).collect()
    for r in eff:
        want = r.recall_score if r.predict_model_id == "-2" else r.score
        assert r.eff == want


def test_render_rejects_unknown_dialect():
    import pytest as _pytest

    from flink_project_spark import fixtures as FX

    with _pytest.raises(ValueError, match="unknown dialect"):
        FX.render("SELECT 1", "sparksql")


def test_compact_store_replay_equivalence_and_bounded_size(spark, tmp_path):
    """compact_store between micro-batches: the admitted sets match an
    uncompacted run batch for batch, fully-expired batch partitions are
    deleted, the partially-expired boundary partition is rewritten to
    its in-horizon rows, and the latest partition is never touched —
    so the store's on-disk row count is bounded by the horizon while a
    stream of any length runs."""
    import os

    from flink_project_spark.streaming.dedup import (
        compact_store,
        near_dup_dedup_batch,
    )

    horizon = 600

    def mk(rows):
        return spark.createDataFrame(
            rows, "doc_id long, ts_s string, text string"
        ).select(
            "doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "text"
        )

    def text(i):
        return " ".join(f"u{i}w{j}" for j in range(25))

    # batch k at t = k*400s: one fresh doc (admitted) + one exact copy
    # of the PREVIOUS batch's fresh doc (within horizon -> dropped,
    # which only works if the store still matches post-compaction) +
    # every third batch a straggler row 300s later (spans the eviction
    # cutoff inside one partition -> exercises the rewrite path)
    def batch(k):
        base = "2024-01-01 00:00:00"
        import datetime as dt

        t = dt.datetime.fromisoformat(base) + dt.timedelta(seconds=400 * k)
        rows = [(10 * k, t.strftime("%Y-%m-%d %H:%M:%S"), text(k))]
        if k > 0:
            rows.append(
                (10 * k + 1, t.strftime("%Y-%m-%d %H:%M:%S"), text(k - 1))
            )
        if k % 3 == 0:
            t2 = t + dt.timedelta(seconds=300)
            rows.append(
                (10 * k + 2, t2.strftime("%Y-%m-%d %H:%M:%S"), text(1000 + k))
            )
        return mk(rows)

    store_nc = str(tmp_path / "nc")
    store_c = str(tmp_path / "c")
    admitted_nc, admitted_c = [], []
    for k in range(6):
        admitted_nc.append(
            {r["doc_id"] for r in near_dup_dedup_batch(
                batch(k), store_nc, horizon_seconds=horizon, batch_id=k
            ).collect()}
        )
        admitted_c.append(
            {r["doc_id"] for r in near_dup_dedup_batch(
                batch(k), store_c, horizon_seconds=horizon, batch_id=k
            ).collect()}
        )
        compact_store(spark, store_c, horizon)
    assert admitted_c == admitted_nc  # eviction invisible to admission
    assert any(a for a in admitted_nc)

    dirs_nc = sorted(
        d for d in os.listdir(store_nc) if d.startswith("batch=")
    )
    dirs_c = sorted(
        d for d in os.listdir(store_c) if d.startswith("batch=")
    )
    assert len(dirs_nc) == 6
    # default watermark after batch 5 excludes the protected batch=5:
    # max committed _ts = 1600s (batch 4), cutoff = 1000s -> batches
    # 0-2 (<=900s incl stragglers) expire, batches 3-4 stay, batch 5
    # protected
    assert len(dirs_c) < len(dirs_nc)
    assert "batch=5" in dirs_c  # latest partition never touched
    rows_c = spark.read.parquet(store_c).count()
    rows_nc = spark.read.parquet(store_nc).count()
    assert rows_c < rows_nc

    # stats shape on a no-op follow-up call (idempotent maintenance)
    stats = compact_store(spark, store_c, horizon)
    assert stats["batches_deleted"] == 0 and stats["batches_rewritten"] == 0


def test_compact_store_rewrites_boundary_partition(spark, tmp_path):
    """A partition holding rows on BOTH sides of the eviction cutoff is
    rewritten with only the in-horizon rows (not deleted, not left
    whole)."""
    import os

    from flink_project_spark.streaming.dedup import compact_store

    store = str(tmp_path / "s")
    old = spark.createDataFrame(
        [(1, 100, "2024-01-01 00:00:00"), (2, 200, "2024-01-01 01:00:00")],
        "doc_id long, simhash long, ts_s string",
    ).select(
        "doc_id", "simhash", F.col("ts_s").cast("timestamp").alias("_ts")
    )
    old.write.parquet(f"{store}/batch=0")
    newer = spark.createDataFrame(
        [(3, 300, "2024-01-01 01:10:00")],
        "doc_id long, simhash long, ts_s string",
    ).select(
        "doc_id", "simhash", F.col("ts_s").cast("timestamp").alias("_ts")
    )
    newer.write.parquet(f"{store}/batch=1")

    # DEFAULT watermark excludes the newest partition (it may be an
    # uncommitted batch a replay still needs to match): max _ts over
    # batch=0 alone is 01:00, cutoff 00:50 -> doc 1 (00:00) evicted,
    # doc 2 (01:00) kept
    stats = compact_store(spark, store, horizon_seconds=600)
    assert stats["batches_rewritten"] == 1
    assert stats["batches_deleted"] == 0
    kept = {
        r["doc_id"] for r in spark.read.parquet(f"{store}/batch=0").collect()
    }
    assert kept == {2}
    assert os.path.isdir(f"{store}/batch=1")


def test_store_ops_reject_root_level_parquet_file(spark, tmp_path):
    """A store is one batch=<id> partition per micro-batch; a
    root-level *.parquet file belongs to no layout the engine reads.
    Both streaming twins and compact_store raise ValueError naming the
    file before writing anything: no new batch=N partition, and every
    file already in the store keeps its bytes (compact_store, given a
    watermark past every row, would otherwise delete batch=0)."""
    import datetime as dt
    import glob
    import os
    import shutil

    from flink_project_spark.streaming.dedup import (
        compact_store,
        near_dup_dedup_batch,
        semantic_dedup_batch,
    )

    docs = spark.createDataFrame(
        [
            (i, f"2024-01-01 00:0{i}:00", f"d{i} " * 12, [1.0, float(i)])
            for i in range(3)
        ],
        "doc_id long, ts_s string, text string, embedding array<double>",
    ).select(
        "doc_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "text",
        "embedding",
    )
    runs = {
        "simhash": lambda i, store: near_dup_dedup_batch(
            docs.filter(F.col("doc_id") == i).drop("embedding"),
            store,
            batch_id=i,
        ),
        "semantic": lambda i, store: semantic_dedup_batch(
            docs.filter(F.col("doc_id") == i).drop("text"),
            store,
            dim=2,
            batch_id=i,
        ),
    }

    def snapshot(store):
        out = {}
        for d, _, files in os.walk(store):
            for f in files:
                with open(os.path.join(d, f), "rb") as fh:
                    out[os.path.relpath(os.path.join(d, f), store)] = fh.read()
        return out

    for kind, run in runs.items():
        store = str(tmp_path / kind)
        for i in (0, 1):
            run(i, store).collect()
        shutil.copy(
            glob.glob(f"{store}/batch=0/*.parquet")[0],
            os.path.join(store, "stray.parquet"),
        )
        before = snapshot(store)
        with pytest.raises(ValueError, match="stray.parquet"):
            run(2, store)
        with pytest.raises(ValueError, match="stray.parquet"):
            compact_store(
                spark, store, horizon_seconds=600,
                watermark=dt.datetime(2030, 1, 1),
            )
        assert snapshot(store) == before, kind
        assert not os.path.exists(os.path.join(store, "batch=2"))


def test_streaming_near_dup_scale_config_matches_twin_and_slicing(
    spark, tmp_path
):
    """The 100 TB signature configuration (bits=60, shingle=3 — the one
    SCALING_r6.json measures linear) runs through the streaming twin:
    the 3-micro-batch admitted set == the single-batch run == the
    arrival-order greedy twin computed over the SAME 60-bit
    shingle-feature signatures."""
    from flink_project_spark.streaming.dedup import (
        near_dup_dedup_batch,
        near_dup_foreach_batch,
    )

    df, rows = _mk_near_dup_corpus(spark)
    # add an exact dup of doc 1 so the corpus has a guaranteed
    # near-dup under ANY signature construction (a 1-word edit moves
    # ~3 of 28 trigrams, which need not stay within hamming 3 at 60
    # bits — shingle features are deliberately stricter)
    extra = spark.createDataFrame(
        [(9, "2024-01-01 00:08:00", rows[0][2])],
        "doc_id long, ts_s string, text string",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "text")
    df = df.union(extra)
    twin = _sequential_twin_survivors(spark, df, bits=60, shingle=3)
    assert 9 not in twin  # the scale config really drops a near-dup
    assert 8 in twin  # reversed word order: same multiset, new trigrams

    store1 = str(tmp_path / "store1")
    got_single = {
        r["doc_id"]
        for r in near_dup_dedup_batch(
            df, store1, horizon_seconds=3600, bits=60, shingle=3
        ).collect()
    }
    assert got_single == twin

    # sliced run through the foreachBatch wiring (direct _process
    # calls: checkpoint/restart mechanics are covered elsewhere; this
    # pins that the knobs FORWARD and batch boundaries stay invisible)
    out: set[int] = set()
    process = near_dup_foreach_batch(
        str(tmp_path / "store2"),
        lambda surv, bid: out.update(r["doc_id"] for r in surv.collect()),
        horizon_seconds=3600,
        bits=60,
        shingle=3,
    )
    slices = [
        df.filter(F.col("doc_id") <= 3),
        df.filter((F.col("doc_id") > 3) & (F.col("doc_id") <= 6)),
        df.filter(F.col("doc_id") > 6),
    ]
    for i, s in enumerate(slices):
        process(s, i)
    assert out == twin


def test_streaming_near_dup_scale_config_replay_idempotent(
    spark, tmp_path
):
    """Replaying a batch id under the scale configuration rewrites its
    own store partition and admits the identical set — the replay
    contract holds with shingle signatures too."""
    from flink_project_spark.streaming.dedup import near_dup_dedup_batch

    df, _rows = _mk_near_dup_corpus(spark)
    store = str(tmp_path / "store")
    kw = dict(horizon_seconds=3600, bits=60, shingle=3, batch_id=7)
    first = {
        r["doc_id"]
        for r in near_dup_dedup_batch(df, store, **kw).collect()
    }
    again = {
        r["doc_id"]
        for r in near_dup_dedup_batch(df, store, **kw).collect()
    }
    assert again == first


def test_store_meta_guard_rejects_mismatched_signature_config(
    spark, tmp_path
):
    """The signature store records its (bits, shingle) / (dim,
    n_planes) contract on first write; a later batch with different
    knobs raises instead of silently banded-joining incompatible
    signature spaces (= admitting every near-dup)."""
    import pytest

    from flink_project_spark.streaming.dedup import (
        near_dup_dedup_batch,
        semantic_dedup_batch,
    )

    df, _rows = _mk_near_dup_corpus(spark)
    store = str(tmp_path / "sim")
    near_dup_dedup_batch(df, store, bits=60, shingle=3, batch_id=0).collect()
    # same config: fine (replay / next batch)
    near_dup_dedup_batch(df, store, bits=60, shingle=3, batch_id=1).collect()
    with pytest.raises(ValueError, match="incompatible"):
        near_dup_dedup_batch(df, store, bits=32, batch_id=2)

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], "2024-01-01 00:00:00")],
        "doc_id long, embedding array<double>, ts_s string",
    ).select(
        "doc_id", "embedding", F.col("ts_s").cast("timestamp").alias("ts")
    )
    sem_store = str(tmp_path / "sem")
    semantic_dedup_batch(emb, sem_store, dim=2, n_planes=4, batch_id=0).collect()
    with pytest.raises(ValueError, match="incompatible"):
        semantic_dedup_batch(emb, sem_store, dim=2, n_planes=8, batch_id=1)


def test_compact_every_bounds_store_inside_foreach_loop(spark, tmp_path):
    """compact_every=N wired into the foreachBatch loop: a long run's
    store stays horizon-bounded WITHOUT an external maintenance call,
    and the admitted sets match an uncompacted run batch for batch."""
    import datetime as dt
    import os

    from flink_project_spark.streaming.dedup import (
        near_dup_dedup_batch,
        near_dup_foreach_batch,
    )

    horizon = 600

    def mk(rows):
        return spark.createDataFrame(
            rows, "doc_id long, ts_s string, text string"
        ).select(
            "doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "text"
        )

    def text(i):
        return " ".join(f"u{i}w{j}" for j in range(25))

    def batch(k):
        t = dt.datetime(2024, 1, 1) + dt.timedelta(seconds=400 * k)
        rows = [(10 * k, t.strftime("%Y-%m-%d %H:%M:%S"), text(k))]
        if k > 0:  # exact copy of the previous fresh doc: in-horizon,
            # must still be dropped after in-loop compactions
            rows.append(
                (10 * k + 1, t.strftime("%Y-%m-%d %H:%M:%S"), text(k - 1))
            )
        return mk(rows)

    store_nc = str(tmp_path / "nc")
    store_c = str(tmp_path / "c")
    admitted_c: list[set] = []
    process = near_dup_foreach_batch(
        store_c,
        lambda surv, bid: admitted_c.append(
            {r["doc_id"] for r in surv.collect()}
        ),
        horizon_seconds=horizon,
        compact_every=2,
    )
    admitted_nc = []
    n_batches = 8
    for k in range(n_batches):
        admitted_nc.append(
            {
                r["doc_id"]
                for r in near_dup_dedup_batch(
                    batch(k), store_nc, horizon_seconds=horizon, batch_id=k
                ).collect()
            }
        )
        process(batch(k), k)
    assert admitted_c == admitted_nc
    assert any(a for a in admitted_nc)
    dirs_c = [d for d in os.listdir(store_c) if d.startswith("batch=")]
    dirs_nc = [d for d in os.listdir(store_nc) if d.startswith("batch=")]
    assert len(dirs_nc) == n_batches  # uncompacted store grows forever
    # horizon covers ~2 batch intervals (600s / 400s); with in-loop
    # compaction every 2 batches the store holds the last compaction
    # window's partitions only — bounded, far below n_batches
    assert len(dirs_c) <= 4


def test_norm_store_path_spellings(monkeypatch):
    """The local-filesystem store ops (`_next_store_batch_id`,
    `_check_store_meta`, `compact_store`) resolve every store_dir
    spelling to one driver-local directory via `_norm_store_path`. Pin
    the normalization contract for each spelling class:
    Hadoop-canonical ('file:/x'), triple-slash, authority URIs
    (authority dropped — only the path component is kept), plain
    absolute/relative paths, colon-containing POSIX relative paths
    (NOT URIs), and scheme-relative spellings of known filesystem
    schemes ('file:store' resolves like the engine does: against the
    cwd)."""
    import os

    from flink_project_spark.streaming.dedup import _norm_store_path

    monkeypatch.setattr(os, "getcwd", lambda: "/work")

    # one store, five spellings, one normal form
    assert _norm_store_path("file:/data/store") == "/data/store"
    assert _norm_store_path("file:///data/store") == "/data/store"
    assert _norm_store_path("/data/store") == "/data/store"
    assert _norm_store_path("/data//store/") == "/data/store"
    assert _norm_store_path("hdfs://nn:8020/data/store") == "/data/store"
    # authority spelling differences (port elided) cannot break the
    # relpath: both normalize to the same bare path
    assert _norm_store_path("hdfs://nn/data/store") == "/data/store"
    assert _norm_store_path("s3a://bucket/data/store") == "/data/store"
    # genuinely relative paths are cwd-joined
    assert _norm_store_path("store") == "/work/store"
    # a colon in the first segment of a relative POSIX path is NOT a
    # scheme ('logs:2024' would split-parse as scheme='logs')
    assert _norm_store_path("logs:2024/store") == "/work/logs:2024/store"
    # scheme-relative spelling of a KNOWN filesystem scheme resolves
    # the way the engine resolves it: path part against the cwd
    assert _norm_store_path("file:store") == "/work/store"
    # unknown scheme with no authority and a relative path stays a
    # plain path (never silently treated as a URI)
    assert _norm_store_path("myscheme:rel/path") == "/work/myscheme:rel/path"


def test_compact_store_crash_replay_does_not_over_admit(spark, tmp_path):
    """The in-loop cadence runs compaction between a batch's sink and
    Spark's checkpoint COMMIT. If the crash lands in that window, the
    batch is replayed against the already-compacted store — so a
    stored arrival the replayed batch matched the first time must
    still be there. Scenario pinned from the round-7 review: stored X
    (ts=500) drops A (ts=1000, horizon 600); the same batch's B
    (ts=2000) would, under a store-max watermark, set cutoff=1400 and
    evict X — and the replay would silently admit A. The default
    watermark excludes the newest (uncommitted) partition, so X
    survives and the replay admits exactly what the original run did."""
    import datetime as dt

    from flink_project_spark.streaming.dedup import (
        compact_store,
        near_dup_dedup_batch,
    )

    horizon = 600
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def mk(rows):
        return spark.createDataFrame(
            [
                (i, (base + dt.timedelta(seconds=s)).strftime(
                    "%Y-%m-%d %H:%M:%S"
                ), t)
                for i, s, t in rows
            ],
            "doc_id long, ts_s string, text string",
        ).select(
            "doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "text"
        )

    text_x = " ".join(f"xw{j}" for j in range(25))
    text_b = " ".join(f"bw{j}" for j in range(25))
    store = str(tmp_path / "s")

    # batch 0: X arrives at ts=500, admitted, stored
    b0 = {r["doc_id"] for r in near_dup_dedup_batch(
        mk([(1, 500, text_x)]), store, horizon_seconds=horizon, batch_id=0
    ).collect()}
    assert b0 == {1}

    # batch 1: A (near-dup of X, ts=1000 in [500, 1100]) + fresh B
    batch1 = mk([(2, 1000, text_x), (3, 2000, text_b)])
    first = {r["doc_id"] for r in near_dup_dedup_batch(
        batch1, store, horizon_seconds=horizon, batch_id=1
    ).collect()}
    assert first == {3}  # A dropped by stored X

    # the in-loop compaction fires here; then the process crashes
    # BEFORE the checkpoint commit
    compact_store(spark, store, horizon)

    # replay of batch 1 (same batch_id overwrites its own partition):
    # must admit the same set — X must not have been evicted
    replay = {r["doc_id"] for r in near_dup_dedup_batch(
        batch1, store, horizon_seconds=horizon, batch_id=1
    ).collect()}
    assert replay == first


def test_store_meta_path_classification(tmp_path, monkeypatch):
    """_check_store_meta must classify store_dir spellings with the
    SAME rules as _norm_store_path: the scheme-relative 'hdfs:store'
    is REMOTE (the old check makedirs'd a literal './hdfs:store/' on
    the driver and never guarded the real store), and the
    authority-carrying local spelling 'file://localhost/<dir>' lands
    the sidecar in <dir>, not '<cwd>/localhost/<dir>'."""
    import os

    from flink_project_spark.streaming.dedup import (
        _STORE_META_FILE,
        _check_store_meta,
    )

    monkeypatch.chdir(tmp_path)
    contract = {"kind": "simhash", "bits": 60, "shingle": 3}

    # remote spellings: guard not applicable, NOTHING created locally
    for remote in (
        "hdfs:store",
        "hdfs://nn:8020/data/store",
        "s3a://bucket/store",
        "s3a:relative/store",
    ):
        _check_store_meta(remote, contract)
    assert os.listdir(tmp_path) == []

    # authority-carrying file URI resolves to the real local dir
    target = tmp_path / "data" / "store"
    _check_store_meta(f"file://localhost{target}", contract)
    assert (target / _STORE_META_FILE).is_file()
    assert not (tmp_path / "localhost").exists()

    # scheme-relative file spelling cwd-joins like the engine does
    _check_store_meta("file:relstore", contract)
    assert (tmp_path / "relstore" / _STORE_META_FILE).is_file()

    # and the sidecar written under one spelling guards another
    # spelling of the SAME directory
    import pytest

    with pytest.raises(ValueError, match="incompatible"):
        _check_store_meta(str(target), {"kind": "simhash", "bits": 32,
                                        "shingle": None})


def test_store_ops_accept_file_scheme_and_reject_remote(spark, tmp_path):
    """Round-7 review: compact_store and _next_store_batch_id ran
    os-level calls on the RAW store_dir spelling, so the 'file:'
    spellings every other store entry point accepts either crashed the
    in-loop compaction (FileNotFoundError mid-stream) or silently
    reset the batch counter to 0 (= overwrite the real store's
    batch=0). Both now route through _norm_store_path; remote schemes
    raise loudly instead of normalizing to a driver-local path and
    rmtree-ing it."""
    import datetime as dt

    import pytest

    from flink_project_spark.streaming.dedup import (
        _next_store_batch_id,
        compact_store,
        near_dup_dedup_batch,
    )

    store = str(tmp_path / "s")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def mk(rows):
        return spark.createDataFrame(
            [
                (i, (base + dt.timedelta(seconds=s)).strftime(
                    "%Y-%m-%d %H:%M:%S"
                ), " ".join(f"d{i}w{j}" for j in range(25)))
                for i, s in rows
            ],
            "doc_id long, ts_s string, text string",
        ).select(
            "doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "text"
        )

    near_dup_dedup_batch(mk([(1, 0)]), store, batch_id=0).collect()
    near_dup_dedup_batch(mk([(2, 2000)]), store, batch_id=1).collect()

    # file:-scheme spelling of the SAME store: counter continues (no
    # silent reset) and compaction runs instead of crashing
    assert _next_store_batch_id(f"file:{store}") == 2
    stats = compact_store(spark, f"file:{store}", horizon_seconds=600)
    assert stats["batches_deleted"] + stats["rows_kept"] > 0

    with pytest.raises(ValueError, match="local-filesystem"):
        compact_store(spark, "hdfs://nn:8020/data/s", horizon_seconds=600)
    with pytest.raises(ValueError, match="local-filesystem"):
        compact_store(spark, "s3a:relative/store", horizon_seconds=600)


def test_bad_knobs_do_not_poison_empty_store(spark, tmp_path):
    """Round-7 review: the twins wrote the contract sidecar BEFORE the
    knobs were validated, so a first batch with a bad width recorded a
    bogus contract that blocked the corrected re-run until the meta
    file was hand-deleted. Validation now runs first."""
    import os

    import pytest

    from flink_project_spark.streaming.dedup import (
        near_dup_dedup_batch,
        semantic_dedup_batch,
    )

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "w1 w2 w3 w4 w5")],
        "doc_id long, ts_s string, text string",
    ).select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "text")

    store = str(tmp_path / "sim")
    with pytest.raises(ValueError, match="bits/shingle"):
        near_dup_dedup_batch(df, store, bits=60, shingle=2.5, batch_id=0)
    with pytest.raises(ValueError, match="bits"):
        near_dup_dedup_batch(df, store, bits=0, batch_id=0)
    assert not os.path.exists(store)  # nothing written, nothing poisoned
    # the corrected run proceeds without any manual cleanup
    out = near_dup_dedup_batch(
        df, store, bits=60, shingle=3, batch_id=0
    ).collect()
    assert len(out) == 1

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], "2024-01-01 00:00:00")],
        "doc_id long, embedding array<double>, ts_s string",
    ).select(
        "doc_id", "embedding", F.col("ts_s").cast("timestamp").alias("ts")
    )
    sem = str(tmp_path / "sem")
    with pytest.raises(ValueError, match="n_planes"):
        semantic_dedup_batch(emb, sem, dim=2, n_planes=True, batch_id=0)
    with pytest.raises(ValueError, match="dim"):
        semantic_dedup_batch(emb, sem, dim=0, n_planes=4, batch_id=0)
    assert not os.path.exists(sem)
    assert len(
        semantic_dedup_batch(emb, sem, dim=2, n_planes=4, batch_id=0).collect()
    ) == 1


def test_remote_store_guards_fail_at_wiring_time(spark, tmp_path):
    """Third review batch: remote stores must fail loudly and EARLY —
    _next_store_batch_id must not normalize 'hdfs://nn/store' to a
    driver-local '/store' listing (wrong counter = overwrite a real
    partition), and compact_every must reject a remote store when the
    foreachBatch hook is WIRED, not crash the stream at the Nth
    micro-batch."""
    import pytest

    from flink_project_spark.streaming.dedup import (
        _next_store_batch_id,
        near_dup_foreach_batch,
    )

    with pytest.raises(ValueError, match="batch_id explicitly"):
        _next_store_batch_id("hdfs://nn:8020/data/store")
    with pytest.raises(ValueError, match="local-filesystem"):
        near_dup_foreach_batch(
            "s3a://bucket/store",
            sink=lambda df, bid: None,
            compact_every=4,
        )
    # a remote store WITHOUT compaction still wires fine (the twins
    # support remote stores when batch_id comes from the checkpoint)
    hook = near_dup_foreach_batch(
        "s3a://bucket/store", sink=lambda df, bid: None
    )
    assert callable(hook)
