"""Item-based collaborative filtering — flink-itemcf parity.

The reference builds item->item neighbor lists in several generations of
jobs (ItemIdCf, ...Second, ...Version4/5, Petal* variants): per-user
time-ordered item histories -> pairwise co-occurrence (optionally with a
distance-decay weight exp((n-d)/(2n+1))) -> cosine normalization by
per-item user counts -> per-item neighbor lists sorted desc, truncated,
string-rendered, published to Redis.

Spark-first design (NOT the reference's groupBy+sortGroup+reduceGroup):
pair generation is a *self-equi-join on user* — a shuffle join Catalyst
can plan (sort-merge, AQE-skew-split), instead of an opaque per-group
O(n²) UDF. Positions for the decay variant come from one window pass.

Scale notes (100 TB):
- The self-join explodes quadratically per user: `max_history` caps a
  user's history (drop hyperactive users — same skew guard the reference
  applies by construction since its reduceGroup would OOM otherwise;
  SURVEY §4.1). With the cap, AQE's skew-join splitting handles residual
  hot users.
- Co-occurrence aggregation is map-side combinable: groupBy(item_a,
  item_b) with partial aggregation — shuffle carries one row per pair.
- The per-item counts table is tiny (|items|) -> broadcast join for the
  cosine step, zero extra shuffles.

Determinism: the decay weight follows the reference formula exactly —
score(d) = 1 for position distance d <= n, exp((n-d)/(2n+1)) otherwise,
with n the configured 'itemcf.itemid.distances' threshold
(ItemIdCfVersion5.java:46,160-167) — but the per-distance weights are
quantized to scaled int64 ONCE on the driver (`decay_lut`) and embedded
as literals in both the Spark plan and the DuckDB oracle, so pair sums
are exact integer arithmetic: order-independent and engine-independent.
`decay_pairs_exp` keeps the reference's raw float accumulation for
fidelity checks (a float sum over pairs is partition-order-dependent,
so it is pytest-verified, not oracle-hashed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DECAY_SCALE = 1_000_000

#: default for the reference's 'itemcf.itemid.distances' config
#: (ItemIdCfVersion5.java:46) — the properties file is not in the repo,
#: so the value is a documented choice, not recovered from the reference.
DECAY_N_DISTANCES = 5


def user_item_history(
    actions: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item_id",
    time_col: str = "action_time",
    max_history: int | None = 500,
) -> DataFrame:
    """Distinct (user, item) with first interaction time; per-user cap.

    Ref: ItemIdCf.java:102 (.distinct() before pair expansion — the
    'early dedup before O(n²)' optimization SURVEY §4 calls out as
    semantic). The cap drops users whose history exceeds max_history —
    the 100 TB skew guard.
    """
    h = actions.groupBy(user_col, item_col).agg(
        F.min(time_col).alias("first_time")
    )
    # per-user count as a window over the (user,item) aggregate: one
    # exchange on user_col instead of the count-groupBy + join-back form
    # (which costs two). Result is identical to joining a filtered count
    # table (the oracle CTE's form).
    w = Window.partitionBy(user_col)
    h = h.withColumn("n_items", F.count(F.lit(1)).over(w))
    if max_history is not None:
        h = h.filter(F.col("n_items") <= max_history)
    return h


def user_item_history_arrays(
    actions: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item_id",
    time_col: str = "action_time",
    max_history: int | None = 500,
) -> DataFrame:
    """(user, items) with items = time-sorted array of (ft, it) structs —
    the array twin of `user_item_history`, and the preferred SHARED
    intermediate for the item-CF chain.

    One shuffle (groupBy user) builds it; every downstream consumer is
    then shuffle-free until its own aggregation: positions are array
    indices (array_sort on the (ft, it) struct = the reference's
    sort-by-time-then-item order, ItemIdCfVersion5.java:147), the
    per-user cap is a size() filter instead of a count window, and pair
    expansion is a double posexplode (codegen'd generate) instead of a
    self-join — no join sort, no second exchange. At 100 TB the array
    row for a capped user is <= max_history structs (~8 KB), far below
    any row-size hazard.
    """
    h = actions.groupBy(user_col, item_col).agg(
        F.min(time_col).alias("ft")
    )
    arr = h.groupBy(user_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("ft"), F.col(item_col).alias("it")))
        ).alias("items")
    )
    if max_history is not None:
        arr = arr.filter(F.size("items") <= max_history)
    return arr


def history_from_arrays(
    arrays: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item_id",
) -> DataFrame:
    """Row-form history (user, item, first_time, n_items) from the array
    table — a pure generate+projection, no shuffle."""
    return arrays.select(
        F.col(user_col),
        F.size("items").alias("n_items"),
        F.explode("items").alias("e"),
    ).select(
        user_col,
        F.col("e.it").alias(item_col),
        F.col("e.ft").alias("first_time"),
        "n_items",
    )


def decay_pairs_from_arrays(
    arrays: DataFrame,
    user_col: str = "user_id",
    n_distances: int = DECAY_N_DISTANCES,
    scale: int = DECAY_SCALE,
    max_d: int | None = None,
) -> DataFrame:
    """Fused co-occurrence + decay aggregation over the array history —
    result identical to `decay_pairs(user_item_history(...))` (equality
    pytest-checked), plan one full exchange cheaper: the quadratic pair
    stream is generated by two stacked posexplodes inside the stage that
    reads the (persisted) array table, so the only shuffle this operator
    adds is the final map-side-combined groupBy on the canonical pair.

    Positions are 0-based array indices; only distances |i - j| enter
    the LUT, so they equal the 1-based row_number form exactly.

    Round 8 (guide §2.3 — shuffle/generate fewer rows): the pair
    stream is SYMMETRIC — cooc(a,b) == cooc(b,a) (items are distinct
    per user, so each unordered co-occurrence contributes one row per
    direction) and the decay weight depends only on |i - j| — so the
    second generate now emits only the LATER positions
    (slice(items, i + 2, ...), the `decay_pairs_gated` pattern),
    aggregation runs on the canonical (least, greatest) key, and both
    directed rows re-materialize by a post-aggregation explode. This
    HALVES the generated pair stream, the LUT lookups, and the hash-
    aggregate input — n(n-1)/2 instead of n(n-1) rows per user — while
    the exchange still carries one (now canonical) row per pair. The
    explode runs above the final aggregate, on |items|²/2 rows at
    most.
    """
    lut_vals = decay_lut(n_distances, scale, max_d)
    lut = _lut_expr(lut_vals)
    max_d = len(lut_vals)
    ex1 = arrays.select(
        user_col, "items", F.posexplode("items").alias("i", "sa")
    )
    ex2 = ex1.select(
        user_col,
        F.col("sa.it").alias("item_a"),
        F.posexplode(
            F.expr("slice(items, i + 2, size(items))")
        ).alias("j", "sb"),
    )
    # the slice's j is 0-based within the tail, so the original
    # position distance is j + 1
    d = F.col("j") + F.lit(1)
    canonical = (
        ex2.filter(F.col("item_a") != F.col("sb.it"))
        .select(
            F.least(F.col("item_a"), F.col("sb.it")).alias("lo"),
            F.greatest(F.col("item_a"), F.col("sb.it")).alias("hi"),
            F.element_at(lut, F.least(d, F.lit(max_d)).cast("int")).alias(
                "w_scaled"
            ),
        )
        .groupBy("lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("cooc"),
            F.sum("w_scaled").alias("decay_scaled"),
        )
    )
    return (
        canonical.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("lo").alias("item_a"),
                        F.col("hi").alias("item_b"),
                    ),
                    F.struct(
                        F.col("hi").alias("item_a"),
                        F.col("lo").alias("item_b"),
                    ),
                )
            ).alias("p"),
            "cooc",
            "decay_scaled",
        )
        .select("p.item_a", "p.item_b", "cooc", "decay_scaled")
        .withColumn(
            "decay_score",
            F.col("decay_scaled").cast("double") / F.lit(float(scale)),
        )
    )


def cooccurrence_pairs(history: DataFrame, user_col: str = "user_id",
                       item_col: str = "item_id") -> DataFrame:
    """A7 (plain variant): directed item pairs with co-occurrence counts.

    Ref: ItemIdCf.java:107-124 (groupBy(user).reduceGroup emitting all
    pairs, then groupBy(0,1).sum(2)). Spark: self-join on user — the
    join IS the pair expansion, and Catalyst handles distribution.
    """
    a = history.select(
        F.col(user_col), F.col(item_col).alias("item_a")
    )
    b = history.select(
        F.col(user_col), F.col(item_col).alias("item_b")
    )
    return (
        a.join(b, on=user_col, how="inner")
        .filter(F.col("item_a") != F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("cooc"))
    )


def item_user_counts(
    history: DataFrame, item_col: str = "item_id"
) -> DataFrame:
    """Per-item distinct-user counts (cosine denominator).

    Ref: ItemIdCf.java:130 (userId.count per item after distinct).
    """
    return history.groupBy(item_col).agg(F.count(F.lit(1)).alias("users"))


def cosine_scores(
    pairs: DataFrame, counts: DataFrame, item_col: str = "item_id"
) -> DataFrame:
    """J2+F3: attach per-item counts to both pair sides, cosine-normalize.

    score = cooc / sqrt(users_a * users_b). Ref: ItemIdCf.java:131-136
    (two joins against the aggregate) — here both joins broadcast the
    tiny counts table. sqrt is IEEE-correctly-rounded, so scores are
    bit-reproducible.
    """
    ca = F.broadcast(counts.select(F.col(item_col).alias("item_a"),
                                   F.col("users").alias("users_a")))
    cb = F.broadcast(counts.select(F.col(item_col).alias("item_b"),
                                   F.col("users").alias("users_b")))
    return (
        pairs.join(ca, on="item_a", how="inner")
        .join(cb, on="item_b", how="inner")
        .select(
            "item_a",
            "item_b",
            "cooc",
            (
                F.col("cooc").cast("double")
                / F.sqrt((F.col("users_a") * F.col("users_b")).cast("double"))
            ).alias("score"),
        )
    )


def _with_positions(history: DataFrame, user_col: str, item_col: str) -> DataFrame:
    w = Window.partitionBy(user_col).orderBy(
        F.col("first_time").asc(), F.col(item_col).asc()
    )
    return history.withColumn("pos", F.row_number().over(w))


def decay_lut(
    n_distances: int = DECAY_N_DISTANCES,
    scale: int = DECAY_SCALE,
    max_d: int | None = None,
) -> list[int]:
    """Quantized reference decay weights indexed by position distance.

    lut[d-1] = round(score(d) * scale) with score(d) = 1 for d <= n and
    exp((n-d)/(2n+1)) otherwise — exactly ItemIdCfVersion5.java:160-167.
    Computed once on the driver (like llm.hashing.plane_weights) and
    embedded as literals into BOTH the Spark plan and the DuckDB oracle,
    so the quantization — not libm — defines the value in every engine.

    max_d=None (default) sizes the table to the quantization zero point:
    the weight rounds to 0 once exp((n-d)/(2n+1)) * scale < 0.5, i.e.
    d > n + (2n+1) * ln(2 * scale) — 165 entries at the (n=5, scale=1e6)
    defaults. Larger distances clamp to the last (zero) entry, so the
    truncated table sums identically to any longer one while keeping the
    plan literal (and its codegen) ~3x smaller.
    """
    import math

    if max_d is None:
        max_d = max(
            n_distances + 1,
            math.ceil(
                n_distances + (2 * n_distances + 1) * math.log(2.0 * scale)
            ),
        )
    out = []
    for d in range(1, max_d + 1):
        s = (
            1.0
            if d <= n_distances
            else math.exp((n_distances - d) / (2 * n_distances + 1))
        )
        out.append(int(math.floor(s * scale + 0.5)))
    return out


def _lut_expr(lut_vals: list[int]):
    """The LUT as ONE parsed SQL array literal — 165 F.lit().cast()
    py4j round-trips cost ~0.3 s of driver time per plan (same
    rationale as llm.similarity._sq_l2_sql); values are exact integer
    literals either way."""
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in lut_vals) + ")")


def _pair_frame(history: DataFrame, user_col: str, item_col: str) -> DataFrame:
    pos = _with_positions(history, user_col, item_col)
    a = pos.select(
        F.col(user_col),
        F.col(item_col).alias("item_a"),
        F.col("pos").alias("pos_a"),
    )
    b = pos.select(
        F.col(user_col),
        F.col(item_col).alias("item_b"),
        F.col("pos").alias("pos_b"),
    )
    return a.join(b, on=user_col, how="inner").filter(
        F.col("item_a") != F.col("item_b")
    )


def decay_pairs(
    history: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item_id",
    n_distances: int = DECAY_N_DISTANCES,
    scale: int = DECAY_SCALE,
    max_d: int | None = None,
) -> DataFrame:
    """A7 (decay variant, deterministic form): reference decay weights,
    summed in exact scaled-integer arithmetic.

    Ref: ItemIdCfVersion5.java:147-192 — per user, items sorted by time;
    each pair (i, j) scores 1 if |pos_i - pos_j| <= n, else
    exp((n-d)/(2n+1)); pair scores sum over users. n is the configured
    distance threshold (java:46), NOT the history length. The weight for
    each distance comes from the driver-side `decay_lut`, so the
    aggregation is an order-independent int64 sum that any oracle
    reproduces bit-exactly; `decay_pairs_exp` is the float-faithful twin.

    Parity scope: the reference additionally max-gates repeated pair
    emissions through a per-user itemIdScoreMap (java ~168-186), which
    only matters when one user's history repeats an item. Our
    `user_item_history` is (user, item)-distinct by construction, so the
    gate is a no-op on every input this operator receives; callers
    with repeated-item histories (the reference's own triple-distinct
    path for multi-visit users) should use `decay_pairs_gated`, which
    implements the gate exactly.
    """
    lut_vals = decay_lut(n_distances, scale, max_d)
    lut = _lut_expr(lut_vals)
    max_d = len(lut_vals)
    d = F.abs(F.col("pos_a") - F.col("pos_b"))
    w_scaled = F.element_at(lut, F.least(d, F.lit(max_d)).cast("int"))
    return (
        _pair_frame(history, user_col, item_col)
        .withColumn("w_scaled", w_scaled)
        .groupBy("item_a", "item_b")
        .agg(
            F.count(F.lit(1)).alias("cooc"),
            F.sum("w_scaled").alias("decay_scaled"),
        )
        .withColumn(
            "decay_score", F.col("decay_scaled").cast("double") / F.lit(float(scale))
        )
    )


def decay_pairs_exp(
    history: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item_id",
    n_distances: int = DECAY_N_DISTANCES,
) -> DataFrame:
    """A7 reference-faithful float decay: score 1 for d <= n, else
    exp((n-d)/(2n+1)), summed per directed pair.

    Matches ItemIdCfVersion5.java:160-167 exactly, including float
    accumulation. Not oracle-checkable bit-for-bit (libm exp differs by
    ulps across engines and the sum is order-dependent) — covered by
    pytest invariants against the quantized variant and a Python
    re-execution of the reference's reduce loop.
    """
    n = F.lit(n_distances)
    d = F.abs(F.col("pos_a") - F.col("pos_b"))
    w = F.when(d <= n, F.lit(1.0)).otherwise(
        F.exp((n - d).cast("double") / (F.lit(2 * n_distances + 1)).cast("double"))
    )
    return (
        _pair_frame(history, user_col, item_col)
        .withColumn("w", w)
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("cooc"), F.sum("w").alias("decay_score"))
    )


def neighbor_lists(
    scored: DataFrame,
    k: int = 400,
    score_col: str = "score",
    render_decimals: int = 6,
    pre_truncate: bool = True,
) -> DataFrame:
    """A12/W3/O2: per-item neighbor list, score-desc, top-k, rendered
    'item:score,item:score,...' exactly like the reference's sink format.

    Ref: ItemIdCfVersion5.java:221-240 (sorted assembly + size),
    Hdfs2RedisVersion5.java:84-92 (truncate at 400). Deterministic order:
    score DESC, neighbor ASC (negated-score struct sort).

    pre_truncate=True (the DEFAULT — it is the path that survives 100x
    scale, so it is also the path the oracle checks): rows are cut to
    the top k per item BEFORE any collect_list, and total_candidates
    rides the same window pass as the cut: a plain single-window
    row_number (the salted two-phase top-K of round 2 tripled the
    group's wall time on an evenly-keyed pair table; a hot-key cut
    lives in `setops.top_k_per_group_salted`). pre_truncate=False
    collect_lists ALL candidates of an item into one task before
    slicing — kept only as the simple form for small inputs and as the
    reference the pre-truncated path is equivalence-tested against.
    Output is identical in both paths.
    """
    if pre_truncate:
        from pyspark.sql import Window

        entry = F.struct(
            (-F.col(score_col)).alias("neg_score"),
            F.col("item_b").alias("nb"),
        )
        neg = scored.withColumn("_neg", -F.col(score_col))
        # Round 8 (guide §2.4): total_candidates rides the SAME window
        # pass as the top-K row_number — a whole-partition count over
        # the item_a partitioning the rank window already establishes
        # (one Exchange + Sort, two Window ops) — instead of a separate
        # groupBy aggregate over the scored table plus a join back.
        # Identical value: the count over the unbounded frame is
        # exactly count(*) GROUP BY item_a.
        if "rn" in neg.columns or "_total" in neg.columns:
            raise ValueError(
                "input columns collide with the operator's working "
                "'rn'/'_total' columns; rename them first"
            )
        wr = Window.partitionBy("item_a").orderBy("_neg", "item_b")
        wt = Window.partitionBy("item_a")
        cut = (
            neg.withColumn("rn", F.row_number().over(wr))
            .withColumn("_total", F.count(F.lit(1)).over(wt))
            .filter(F.col("rn") <= k)
            .drop("rn", "_neg")
        )
        lists = cut.groupBy("item_a").agg(
            F.sort_array(F.collect_list(entry), asc=True).alias("entries"),
            F.first("_total").alias("_total"),
        )
        topk = F.col("entries")
        rendered = F.array_join(
            F.transform(
                topk,
                lambda x: F.concat(
                    x["nb"],
                    F.lit(":"),
                    F.format_string(f"%.{render_decimals}f", -x["neg_score"]),
                ),
            ),
            ",",
        )
        return lists.select(
            F.col("item_a").alias("item_id"),
            rendered.alias("neighbors"),
            F.size("entries").alias("n_neighbors"),
            F.col("_total").alias("total_candidates"),
        )
    entry = F.struct(
        (-F.col(score_col)).alias("neg_score"),
        F.col("item_b").alias("nb"),
    )
    lists = scored.groupBy("item_a").agg(
        F.sort_array(F.collect_list(entry), asc=True).alias("entries")
    )
    topk = F.slice(F.col("entries"), 1, k)
    rendered = F.array_join(
        F.transform(
            topk,
            lambda x: F.concat(
                x["nb"],
                F.lit(":"),
                F.format_string(f"%.{render_decimals}f", -x["neg_score"]),
            ),
        ),
        ",",
    )
    return lists.select(
        F.col("item_a").alias("item_id"),
        rendered.alias("neighbors"),
        F.least(F.size("entries"), F.lit(k)).alias("n_neighbors"),
        F.size("entries").alias("total_candidates"),
    )


def whitelist_flag(
    items: DataFrame,
    whitelist: DataFrame,
    item_col: str = "item_id",
    wl_col: str = "pin_id",
) -> DataFrame:
    """J6: left join against whitelist -> 0/1 flag.

    Ref: PetalDataSetUtils.java:142-153. Whitelist is broadcast.
    """
    wl = F.broadcast(
        whitelist.select(F.col(wl_col).alias(item_col)).distinct().withColumn(
            "_wl", F.lit(1)
        )
    )
    return items.join(wl, on=item_col, how="left").withColumn(
        "whitelisted", F.coalesce(F.col("_wl"), F.lit(0))
    ).drop("_wl")


def whitelist_semi(
    items: DataFrame,
    whitelist: DataFrame,
    item_col: str = "item_id",
    wl_col: str = "pin_id",
) -> DataFrame:
    """J7: keep only whitelisted rows (left semi join).

    Ref: ItemIdCfHuabanVersion4.java:134 (inner join on key list used as
    a semi join). left_semi never duplicates rows when the whitelist has
    multiplicity — closer to the reference's intent than its inner join.
    """
    wl = F.broadcast(whitelist.select(F.col(wl_col).alias(item_col)))
    return items.join(wl, on=item_col, how="left_semi")


def gated_history_arrays(
    actions: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item_id",
    time_col: str = "action_time",
) -> DataFrame:
    """(user, items) with items = the time-sorted DEDUPED (t, item)
    triple history — the shared intermediate of `decay_pairs_gated`
    (triple-distinct semantics: repeats of an item at distinct times
    stay, exact dup rows collapse — ItemIdCfVersion5.java:143's
    distinct()). ONE exchange builds it; a separate .distinct() before
    the groupBy would dedupe in codegen but costs a second shuffle —
    measured slower locally, where stage waves, not row volume,
    dominate."""
    return actions.select(user_col, item_col, time_col).groupBy(user_col).agg(
        F.array_sort(
            F.array_distinct(
                F.collect_list(
                    F.struct(
                        F.col(time_col).alias("t"),
                        F.col(item_col).alias("it"),
                    )
                )
            )
        ).alias("items")
    )


def decay_pairs_gated(
    actions: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item_id",
    time_col: str = "action_time",
    n_distances: int = DECAY_N_DISTANCES,
    scale: int = DECAY_SCALE,
    max_d: int | None = None,
    max_history: int | None = None,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """A7 decay variant with the reference's per-user max-gated
    repeat-pair emission — exact parity for histories where one user
    holds the SAME item at several positions.

    Ref: ItemIdCfVersion5.java:147-192. The reference dedupes the
    (userId, itemId, ts) TRIPLE (java:143), so a multi-visit user's
    sorted history repeats items; its reduce loop then keeps a per-user
    map keyed by the ordered pair (item[i], item[j]) storing the max
    score seen, emits the score only when it strictly improves that max
    (both emission directions gate on the same max — the two map slots
    always hold equal values in this version), and the global
    groupBy(0,1).sum(2) adds up every emission.

    Spark-first translation with NO floats in the gate: score(d) is
    constant 1 for d <= n and strictly decreasing for d > n, so
    "score strictly improves the stored max" is EXACTLY "clamped
    distance max(d, n) strictly undercuts the running min over earlier
    iteration-order pairs" — an integer window predicate, immune to
    quantization. The emitted scores then sum via the same driver-side
    integer LUT as `decay_pairs`, so the result is oracle-exact. The
    iteration order of the reference's nested loop is lexicographic
    (pos_a, pos_b), which the gate window reproduces.

    Plan shape: ONE groupBy(user) shuffle builds the per-user sorted
    deduped (t, item) array (array_distinct = the reference's triple
    distinct, array_sort = its sort-by-time order); pair expansion is a
    stacked posexplode (pos_a < pos_b) — no self-join, no position
    window; then the gate window on (user, item_a, item_b) and two
    map-side combined aggregations.

    ``max_history`` is the same skew guard as `user_item_history`'s:
    a user whose DEDUPED triple history exceeds the cap is dropped
    entirely (bot/crawler traffic, not organic signal) BEFORE the
    O(n²) pair expansion — without it one 100k-visit user emits 5e9
    pair rows into a single task at corpus scale. The reference's
    Version5 pipeline has no cap on the triple-distinct path, so the
    default None keeps exact parity; corpus-scale callers (and the
    contract query) pass the same 500 as `user_item_history`.

    ``arrays`` accepts a PRECOMPUTED `gated_history_arrays` table
    (persisted or landed) so a pipeline reuses the one exchange that
    builds it instead of rebuilding per run; the cap filter still
    applies (a size() predicate — idempotent on an already-capped
    table).
    """
    arr = (
        arrays
        if arrays is not None
        else gated_history_arrays(actions, user_col, item_col, time_col)
    )
    if max_history is not None:
        arr = arr.filter(F.size("items") <= max_history)
    ex1 = arr.select(user_col, "items", F.posexplode("items").alias("i", "sa"))
    # second generate emits only the LATER elements (slice from i+2,
    # 1-based) instead of all n and filtering pos_a < pos_b afterwards —
    # n(n-1)/2 generated rows instead of n², no filter pass
    ex2 = ex1.select(
        user_col,
        F.col("sa.it").alias("item_a"),
        F.col("i").alias("pos_a"),
        F.posexplode(
            F.expr("slice(items, i + 2, size(items))")
        ).alias("j", "sb"),
    )
    pairs = ex2.filter(F.col("item_a") != F.col("sb.it")).select(
        user_col,
        "item_a",
        F.col("sb.it").alias("item_b"),
        "pos_a",
        (F.col("pos_a") + F.col("j") + 1).alias("pos_b"),
    )
    d = F.col("pos_b") - F.col("pos_a")
    clamped = F.greatest(d, F.lit(n_distances))
    lut_vals = decay_lut(n_distances, scale, max_d)
    lut = _lut_expr(lut_vals)
    max_d = len(lut_vals)
    w_scaled = F.element_at(lut, F.least(d, F.lit(max_d)).cast("int"))
    gate_w = (
        Window.partitionBy(user_col, "item_a", "item_b")
        .orderBy("pos_a", "pos_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    emitted = (
        pairs.withColumn("_clamped", clamped)
        .withColumn("_prev_min", F.min("_clamped").over(gate_w))
        .filter(F.col("_prev_min").isNull() | (F.col("_clamped") < F.col("_prev_min")))
        .withColumn("w_scaled", w_scaled)
    )
    # The final (a, b) value sums BOTH orientations (the reference
    # emits each score into both map slots), so it is symmetric:
    # aggregate the emitted stream straight onto the canonical
    # (least, greatest) key — Spark's partial hash aggregation
    # map-side combines onto the small item-pair key space, so the one
    # exchange carries at most |items|²/2 rows per task regardless of
    # user count. A per-user pre-aggregation (the previous shape,
    # mirroring the reference's per-user map) was provably redundant:
    # grouping the same stream by the strictly-finer (user, a, b) key
    # first costs an extra full hash pass over every emission and
    # cannot shrink the canonical shuffle below what map-side combine
    # already achieves. A union of two directed selects instead of the
    # post-aggregation explode would evaluate the gate-window subtree
    # twice (ReuseExchange shares only the shuffle, not the sort +
    # filter above it).
    canonical = (
        emitted.select(
            F.least("item_a", "item_b").alias("lo"),
            F.greatest("item_a", "item_b").alias("hi"),
            "w_scaled",
        )
        .groupBy("lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("emissions"),
            F.sum("w_scaled").alias("decay_scaled"),
        )
    )
    return (
        canonical.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("lo").alias("item_a"), F.col("hi").alias("item_b")
                    ),
                    F.struct(
                        F.col("hi").alias("item_a"), F.col("lo").alias("item_b")
                    ),
                )
            ).alias("p"),
            "emissions",
            "decay_scaled",
        )
        .select("p.item_a", "p.item_b", "emissions", "decay_scaled")
        .withColumn(
            "decay_score",
            F.col("decay_scaled").cast("double") / F.lit(float(scale)),
        )
    )
