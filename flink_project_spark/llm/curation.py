"""Corpus-curation operators — the selection/splitting stages of a
training-data pipeline (downstream of cleaning/dedup, upstream of
tokenization).

The operators a 100 TB corpus build needs beyond dedup/similarity:

- `train_split`: deterministic content-independent hash split into
  train/val/test. Pure per-row projection — no shuffle, no state, and
  REPRODUCIBLE across runs/engines because the bucket derives from
  md5 (`llm.hashing.v32`), not from a partitioner or RNG.
- `source_quota`: cap documents per source/domain (anti-domination —
  one crawl domain must not swamp the mixture). Per-group top-K by a
  deterministic preference order; the skew story is the same as
  neighbor-list truncation (operators/setops.py): one plain window;
  `setops.top_k_per_group_salted` is the library's hot-key top-K.
- `decontaminate`: remove corpus documents whose fingerprints collide
  with a held-out benchmark set (train/test contamination). The join
  shape is the scale-critical part: OR-matching on two fingerprint
  columns is expressed as TWO equi-semi-joins + union — never an
  OR-condition join, which would plan as a nested loop.

All three are pure DataFrame transforms with exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_project_spark.llm.hashing import v32
from flink_project_spark.llm import text as TX

#: default corpus split: 98/1/1 over 100 hash buckets
DEFAULT_RATIOS: tuple[tuple[str, int], ...] = (
    ("train", 98),
    ("val", 1),
    ("test", 1),
)


def train_split(
    docs: DataFrame,
    key_col: str = "doc_id",
    salt: str = "split",
    ratios: tuple[tuple[str, int], ...] = DEFAULT_RATIOS,
) -> DataFrame:
    """Assign each row a deterministic split label.

    bucket = v32(salt ':' key) % 100; labels take consecutive bucket
    ranges in `ratios` order (percents must sum to 100). Salting the
    hash means re-splitting with a new salt is a one-line change and
    two different splits are independent. Content-independent (keyed on
    the id) so near-duplicate leakage across splits is handled by the
    dedup stage, not hidden by the splitter.
    """
    total = sum(p for _, p in ratios)
    if total != 100:
        raise ValueError(f"split percents must sum to 100, got {total}")
    bucket = (
        v32(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string")))
        % 100
    )
    expr = None
    lo = 0
    for name, pct in ratios:
        cond = bucket < F.lit(lo + pct)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo += pct
    return docs.withColumn("split", expr)


def source_quota(
    docs: DataFrame,
    quota: int,
    by: str = "source",
) -> DataFrame:
    """Keep at most `quota` documents per `by` group, preferring longer
    documents (n_chars DESC, doc_id ASC tie-break — a total order, so
    the kept set is deterministic). One plain per-group window, the
    same shape as neighbor-list top-K (operators/setops.py).
    """
    from flink_project_spark.operators.setops import top_k_per_group

    slim = docs.select("doc_id", by, "n_chars")
    return top_k_per_group(
        slim, [by], [F.col("n_chars").desc(), F.col("doc_id").asc()], quota
    )


def stratified_sample(
    docs: DataFrame,
    n_per_stratum: int,
    by: str = "lang",
    key_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Exactly-N-per-stratum deterministic sample: within each `by`
    group keep the `n_per_stratum` rows with the smallest
    ``md5(salt ':' key)`` — uniform-at-random in expectation (md5 is an
    avalanche hash of the key) yet fully reproducible across runs and
    engines, with no RNG state. Changing `salt` draws an independent
    sample.

    Plan: one hash-partitioned window per stratum (the same top-K shape
    as `source_quota`; for a hot stratum use the salted two-phase
    variant in operators/setops.py). When an exact count isn't required,
    prefer `sample_by_hash` — a pure filter with NO shuffle at all.
    """
    from pyspark.sql.window import Window

    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string")))
    w = Window.partitionBy(by).orderBy(h.asc(), F.col(key_col).asc())
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_stratum)
        .drop("_rn")
    )


def sample_by_hash(
    docs: DataFrame,
    rate_pct: int,
    key_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Bernoulli-style deterministic sample: keep rows whose
    ``v32(salt ':' key) % 100`` falls under `rate_pct`. A pure per-row
    projection + filter — zero shuffle, streams through the scan at any
    scale, and the same (salt, key) always lands in the same draw, so
    incremental corpus builds resample consistently. The percentage is
    exact only in expectation; use `stratified_sample` for exact-N.
    """
    if isinstance(rate_pct, float) or int(rate_pct) != rate_pct:
        # reject ALL floats, not just non-integral ones: 1.0 (a 0..1
        # fraction meaning keep-everything) would otherwise coerce to
        # 1 and silently keep ~1%
        raise ValueError(
            f"rate_pct is a WHOLE percent 0..100, got {rate_pct!r} — a 0..1 "
            "fraction would silently keep ~1% (use mixture_plan's "
            "keep_rate_pct column)"
        )
    rate_pct = int(rate_pct)
    if not 0 <= rate_pct <= 100:
        raise ValueError(f"rate_pct must be 0..100, got {rate_pct}")
    bucket = v32(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))) % 100
    return docs.filter(bucket < F.lit(rate_pct))


def chunk_spans(
    docs: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Sliding token-window chunking — the tokenization-prep stage that
    turns documents into fixed-size training windows (start offsets
    0, stride, 2*stride, ... while start < n_words; the last chunk is
    short, zero-token docs produce no chunks).

    Output: (doc_id, *carry_cols, chunk_idx, start_tok, n_tok,
    chunk_md5) — `carry_cols` rides metadata (source/lang/split labels)
    through the generate so downstream rollups need no join back to the
    corpus — with
    chunk_md5 = md5 of the space-joined token slice — a narrow,
    engine-reproducible fingerprint of the chunk content (the chunk
    text itself never shuffles).

    Scale: a pure per-row generate over the scan — the token array is
    split once per document, the start offsets come from a `sequence`
    literal-stepped by `stride`, and each chunk row carries only
    (3 ints + 32-byte md5). ZERO shuffles, so throughput is the scan
    rate; downstream chunk dedup is a groupBy(chunk_md5) away.
    """
    if chunk_tokens <= 0 or stride <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    ws = TX.words(F.col(text_col))
    n = F.size(ws)
    # last start = floor((n-1)/stride)*stride for n>0; empty docs emit
    # no start (explode of the empty array drops the row, mirroring the
    # oracle's unnest(range(0, 0)))
    starts = F.when(
        n > 0,
        F.sequence(
            F.lit(0),
            ((n - 1).cast("long") - ((n - 1) % stride)).cast("int"),
            F.lit(stride),
        ),
    ).otherwise(F.array().cast("array<int>"))
    ex = docs.select(
        "doc_id", *carry_cols, ws.alias("_ws"), F.explode(starts).alias("_start")
    )
    return ex.select(
        "doc_id",
        *carry_cols,
        # `div` = exact integral division (no double rounding at any
        # magnitude) — mirrors the oracle's `//`
        F.expr(f"_start div {stride}").cast("long").alias("chunk_idx"),
        F.col("_start").cast("long").alias("start_tok"),
        F.least(F.lit(chunk_tokens), F.size("_ws") - F.col("_start"))
        .cast("long")
        .alias("n_tok"),
        F.md5(
            F.array_join(F.slice("_ws", F.col("_start") + 1, chunk_tokens), " ")
        ).alias("chunk_md5"),
    )


def pack_plan(
    docs: DataFrame,
    budget: int = 512,
    n_buckets: int = 8,
    salt: str = "pack",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic concatenate-and-split sequence packing: assign each
    document a position in a fixed-size token-window stream (the layout
    pretraining uses — docs concatenated in a deterministic order, the
    stream cut every `budget` tokens).

    Docs are first scattered into `n_buckets` independent streams by
    ``v32(salt ':' doc_id) % n_buckets`` and ordered within a bucket by
    (md5(salt ':' doc_id), doc_id) — hash order, so adjacent corpus
    docs (same crawl/source) don't land adjacent in the stream. Output
    per doc: bucket, bin_id (the window its first token falls in),
    offset_in_bin, n_tok, bins_spanned.

    Scale: ONE running-sum window per bucket — the window partitions by
    bucket, so parallelism = n_buckets; size n_buckets to the cluster
    (each bucket's stream is packed independently, exactly how sharded
    tokenizer jobs pack per output shard). No joins, no explode; rows
    in flight are (ids + 3 ints).
    """
    if budget <= 0 or n_buckets <= 0:
        raise ValueError("budget and n_buckets must be positive")
    from pyspark.sql.window import Window

    key = F.concat(F.lit(f"{salt}:"), F.col("doc_id").cast("string"))
    tok = docs.select(
        "doc_id",
        F.size(TX.words(F.col(text_col))).cast("long").alias("n_tok"),
        (v32(key) % n_buckets).alias("bucket"),
        F.md5(key).alias("_h"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("_h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tok").over(w)
    out = tok.withColumn("_cum", cum).withColumn(
        "_start", F.col("_cum") - F.col("n_tok")
    )
    return out.select(
        "doc_id",
        "bucket",
        F.expr(f"_start div {budget}").cast("long").alias("bin_id"),
        (F.col("_start") % budget).cast("long").alias("offset_in_bin"),
        "n_tok",
        F.expr(
            f"(greatest(_cum - 1, _start) div {budget})"
            f" - (_start div {budget}) + 1"
        )
        .cast("long")
        .alias("bins_spanned"),
    )


def decontaminate(
    corpus: DataFrame | None,
    benchmark: DataFrame | None,
    text_col: str = "text",
    corpus_fp: DataFrame | None = None,
    benchmark_fp: DataFrame | None = None,
) -> DataFrame:
    """Corpus documents whose fingerprint collides with the benchmark
    set: (doc_id, match_type) with match_type 'exact' (normalized
    content md5) or 'ngram' (min-shingle-md5, a 1-permutation MinHash —
    winnowing-style coarse overlap). A doc matching both reports
    'exact' (min of the two tags).

    This is the flag list — callers drop it with an anti-join. The
    operator demonstrates the decontamination JOIN SHAPE at scale: the
    benchmark fingerprint sets are tiny (broadcast semi-joins), the
    corpus side streams, and the two match columns are separate
    equi-joins unioned — an `ON a.x = b.x OR a.y = b.y` join would be a
    nested loop. Production pipelines verify 'ngram' hits against the
    full near-dup pair table (llm.dedup) before dropping.

    ``corpus_fp`` / ``benchmark_fp`` accept PRECOMPUTED fingerprint
    tables (the `text.fingerprint` schema) — the pipeline path when a
    shared fingerprint table is already persisted/landed; fingerprints
    are per-doc, so a corpus/holdout split commutes with fingerprinting
    and both sides can be filters of one table. With frames instead,
    the fingerprints are computed inline (the benchmark side persisted,
    so its shingle pass isn't evaluated once per broadcast).
    """
    from flink_project_spark.cache import persist_tracked

    if (corpus is None) == (corpus_fp is None):
        raise ValueError("pass exactly one of corpus / corpus_fp")
    if (benchmark is None) == (benchmark_fp is None):
        raise ValueError("pass exactly one of benchmark / benchmark_fp")
    fp_c = (
        corpus_fp
        if corpus_fp is not None
        else TX.fingerprint(corpus, text_col)
    )
    fp_b = (
        benchmark_fp.select("content_md5", "min_shingle_md5")
        if benchmark_fp is not None
        else persist_tracked(
            TX.fingerprint(benchmark, text_col).select(
                "content_md5", "min_shingle_md5"
            ),
            label="decontaminate_benchmark_fp",
        )
    )
    b_exact = F.broadcast(
        fp_b.select("content_md5").distinct().withColumn("_e", F.lit(1))
    )
    b_ngram = F.broadcast(
        fp_b.select("min_shingle_md5").distinct().withColumn("_n", F.lit(1))
    )
    # ONE pass over the corpus fingerprints (the expensive shingle
    # explode + min aggregate) with both flag joins attached as
    # broadcast left joins — the union-of-semi-joins form evaluated the
    # fingerprint subtree once per match column. fingerprint() emits one
    # row per doc, so no regrouping is needed to dedup match types.
    return (
        fp_c.join(b_exact, "content_md5", "left")
        .join(b_ngram, "min_shingle_md5", "left")
        .filter(F.col("_e").isNotNull() | F.col("_n").isNotNull())
        .select(
            "doc_id",
            F.when(F.col("_e").isNotNull(), F.lit("exact"))
            .otherwise(F.lit("ngram"))
            .alias("match_type"),
        )
    )


def mixture_plan(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Mixture reweighting: per-source token counts -> the downsampling
    keep-rate that hits a target mixture, given that no source can be
    upsampled. With target share w_s and current tokens T_s, the
    largest achievable corpus is C = min_s(T_s / w_s); each source
    keeps keep_rate_s = C * w_s / T_s (= min_T / T_s for the uniform
    default). To materialize the draw, feed the integer
    `keep_rate_pct` column into `sample_by_hash` (which takes a WHOLE
    percent 0..100 — passing the 0..1 `keep_rate` fraction would
    validate but keep only ~1% of rows); whole-percent granularity is
    the documented resolution of the hash draw.

    Deterministic across engines: token counts are exact int64 sums and
    every rate is a fixed sequence of IEEE double ops on those sums.
    Scale: ONE groupBy(source) aggregation (map-side combined) + a
    1-row scalar broadcast — the plan never touches documents twice.
    """
    tok = (
        docs.select(by, F.size(TX.words(F.col(text_col))).alias("_nt"))
        .groupBy(by)
        .agg(F.sum("_nt").cast("long").alias("tokens"))
    )
    if weights is None:
        # a zero-token source has nothing to keep and must not poison
        # C: the min runs over positive token counts only, and the
        # empty source itself gets keep_rate 0.0 (not NULL/1.0 from a
        # 0/0 division)
        scalar = F.broadcast(
            tok.agg(
                F.min(F.when(F.col("tokens") > 0, F.col("tokens"))).alias(
                    "_min_tokens"
                ),
                F.count(F.lit(1)).alias("_n_sources"),
            )
        )
        out = tok.crossJoin(scalar).select(
            by,
            "tokens",
            (F.lit(1.0) / F.col("_n_sources")).alias("target_weight"),
            F.when(
                F.col("tokens") > 0,
                F.col("_min_tokens").cast("double")
                / F.col("tokens").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("keep_rate"),
        )
    else:
        if not weights:
            raise ValueError("weights must be a non-empty mapping (or None)")
        wexpr = None
        for name, wv in weights.items():
            wexpr = (
                F.when(F.col(by) == name, F.lit(float(wv)))
                if wexpr is None
                else wexpr.when(F.col(by) == name, F.lit(float(wv)))
            )
        wexpr = wexpr.otherwise(F.lit(0.0))
        ratio = F.when(
            (wexpr > 0) & (F.col("tokens") > 0),
            F.col("tokens").cast("double") / wexpr,
        )
        scored = tok.withColumn("_w", wexpr).withColumn("_ratio", ratio)
        scalar = F.broadcast(scored.agg(F.min("_ratio").alias("_c")))
        out = scored.crossJoin(scalar).select(
            by,
            "tokens",
            F.col("_w").alias("target_weight"),
            F.when(
                (F.col("_w") > 0) & (F.col("tokens") > 0),
                F.least(
                    F.lit(1.0),
                    F.col("_c") * F.col("_w") / F.col("tokens").cast("double"),
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("keep_rate"),
        )
    return _finalize_mixture(out)


def _finalize_mixture(out: DataFrame) -> DataFrame:
    """Shared tail of every mixture planner: kept_tokens and the
    integer keep_rate_pct that sample_by_hash/sample_by_rate_column
    consume (floor(x*100 + 0.5) = round-half-up). ONE definition so
    the two mixture modes can never quantize the draw differently."""
    return out.withColumn(
        "kept_tokens",
        F.floor(F.col("tokens").cast("double") * F.col("keep_rate")).cast(
            "long"
        ),
    ).withColumn(
        "keep_rate_pct",
        F.floor(F.col("keep_rate") * 100 + F.lit(0.5)).cast("long"),
    )


def mixture_temperature(
    docs: DataFrame,
    by: str = "source",
    text_col: str = "text",
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Temperature-scaled mixture reweighting at alpha = 0.5: target
    share w_s proportional to sqrt(T_s) — the standard smoothing that
    up-weights small sources relative to proportional sampling without
    flattening to uniform (Conneau & Lample '19 §3.1; T5 §3.4.2 use
    T_s^alpha with alpha<1; alpha=0.5 is the sqrt point). Downsampling
    only (no source upsampled): C = min_s(T_s / w_s), keep_rate_s =
    C * w_s / T_s, exactly `mixture_plan`'s rule with the smoothed
    targets.

    Engine-exact float discipline: sqrt(T_s) is quantized to an int64
    (floor(sqrt * 1e6)) BEFORE the cross-source sum, so the normalizer
    is an exact integer sum (order-independent — a raw double sum would
    depend on aggregation order and diverge between engines); every
    downstream value is a fixed sequence of IEEE ops on exact integers.

    Plan: one map-side-combined groupBy(source), then BOTH cross-source
    scalars (Σ_pwq normalizer, then C = min ratio) as unbounded windows
    over the per-source aggregate — a single-partition window, which is
    safe here BY CONSTRUCTION: the windowed frame is one row per
    source (the operator's own output cardinality), never data-scaled.
    The previous two sequential 1-row broadcast attaches computed the
    same values in two extra jobs; the window form is one pass and the
    IEEE op sequence per row is unchanged (integer window sum, then
    the identical double expressions), so results are bit-equal.

    ``tokens`` accepts a PRECOMPUTED per-`by` token-total frame
    (columns: by, tokens as int64 — e.g. summing a persisted quality
    table's n_words, which uses the identical `words` tokenization) so
    a pipeline that already tokenized the corpus doesn't re-tokenize
    it here; the integer sums are exact either way, so results are
    bit-equal.
    """
    from pyspark.sql.window import Window

    w_all = Window.partitionBy()
    if tokens is None:
        tokens = (
            docs.select(by, F.size(TX.words(F.col(text_col))).alias("_nt"))
            .groupBy(by)
            .agg(F.sum("_nt").cast("long").alias("tokens"))
        )
    tok = (
        tokens
        .withColumn(
            "_pwq",
            F.floor(F.sqrt(F.col("tokens").cast("double")) * 1000000).cast(
                "long"
            ),
        )
        .withColumn("_sum_pwq", F.sum("_pwq").over(w_all))
    )
    ratio = F.when(
        F.col("_pwq") > 0,
        F.col("tokens").cast("double")
        / (F.col("_pwq").cast("double") / F.col("_sum_pwq").cast("double")),
    )
    scored = tok.withColumn("_ratio", ratio).withColumn(
        "_c", F.min("_ratio").over(w_all)
    )
    # try_divide: an all-empty corpus (every source 0 tokens) has
    # _sum_pwq = 0 — target_weight is undefined there (NULL), and under
    # ANSI a plain division would throw instead
    tw = F.try_divide(
        F.col("_pwq").cast("double"), F.col("_sum_pwq").cast("double")
    )
    out = scored.select(
        by,
        "tokens",
        tw.alias("target_weight"),
        F.when(
            F.col("tokens") > 0,
            F.least(
                F.lit(1.0),
                F.col("_c") * tw / F.col("tokens").cast("double"),
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("keep_rate"),
    )
    return _finalize_mixture(out)


def token_budget_sample(
    docs: DataFrame,
    budget: int,
    by: str = "source",
    text_col: str = "text",
    salt: str = "budget",
    n_buckets: int = 1,
) -> DataFrame:
    """Cap each `by` group at a TOKEN budget (not a document count —
    the knob corpus recipes actually specify): admit documents in
    deterministic md5(salt:doc_id) order until the group's running
    token sum passes `budget`; the doc that crosses the line is kept
    (its predecessor sum was under budget), everything after is cut.
    Uniform-at-random admission in expectation, reproducible across
    runs and engines, no RNG state; changing `salt` redraws.

    Plan: one hash-partitioned window per group (running int64 sum in
    md5 order) + filter — the token-denominated twin of
    `source_quota`'s count top-K. Output: the kept (doc_id, by,
    n_tokens, cum_tokens) rows.

    `n_buckets` is the HOT-SOURCE escape hatch: with n_buckets = 1
    (default, oracle-exact) each group is one window partition — a
    single reducer serializes a dominant source at corpus scale. With
    n_buckets > 1, docs hash-scatter into buckets that each admit
    ~budget/n_buckets tokens (remainder spread one token-budget unit
    at a time over the first buckets), windows run per (group, bucket)
    — parallelism × n_buckets — and the union keeps per-group totals
    within one crossing doc PER BUCKET of the exact budget: exactness
    within n_buckets crossing-docs traded for bounded skew.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    from pyspark.sql.window import Window

    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col("doc_id").cast("string")))
    sized = docs.select(
        "doc_id",
        by,
        F.size(TX.words(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    if n_buckets == 1:
        w = (
            Window.partitionBy(by)
            .orderBy(h.asc(), F.col("doc_id").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return (
            sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
            .filter(F.col("cum_tokens") - F.col("n_tokens") < budget)
            .select("doc_id", by, "n_tokens", "cum_tokens")
        )
    bucket = F.pmod(
        v32(F.concat(F.lit(f"{salt}-bucket:"), F.col("doc_id").cast("string"))),
        F.lit(n_buckets),
    ).cast("int")
    base, rem = divmod(budget, n_buckets)
    bucket_budget = F.lit(base) + F.when(
        F.col("_bk") < rem, F.lit(1)
    ).otherwise(F.lit(0))
    w = (
        Window.partitionBy(by, "_bk")
        .orderBy(h.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        sized.withColumn("_bk", bucket)
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") - F.col("n_tokens") < bucket_budget)
        .select("doc_id", by, "n_tokens", "cum_tokens")
    )


#: Corpus size past which the 3-gram decontamination width stops being
#: viable: Zipfian TRIgrams collide between unrelated documents at a
#: constant per-pair rate, so the n=3 match volume is quadratic in
#: corpus size by construction (measured, SCALING_r6.json n-sweep:
#: 90.9k -> 9.4M -> 930.7M matched occurrences across 5k/50k/500k docs,
#: 747 s at the last). 8-gram shingles — the published-pipeline width
#: (Rae et al., Gopher) — are essentially never shared by unrelated
#: docs, making the volume the real contamination (linear: 3.7k -> 31k
#: -> 290k) at 93% of the n=3 recall. Same threshold as
#: `llm.dedup.SIMHASH_SATURATION_DOCS`: the wide config was already
#: FASTER at 5k docs, so flipping early costs nothing.
DECON_SATURATION_DOCS = 10_000

#: the published-pipeline decontamination width the auto policy flips
#: to (Gopher used 8-grams; GPT-3 13 — n=13 is stricter/faster still
#: but sheds more real contamination: 5,680 vs 6,485 of 6,998 pairs)
DECON_SCALE_NGRAM = 8


def auto_decon_ngram(expected_docs: int | None) -> int:
    """Decontamination shingle width for a training corpus of
    ``expected_docs`` documents — the size-driven policy behind
    ``n="auto"`` on `decontaminate_overlap`. Below
    `DECON_SATURATION_DOCS` (or with no hint): n=3, the
    reference-parity width the driver oracle pins; at or above:
    `DECON_SCALE_NGRAM`. An approximate hint is fine — the policy
    moves on decades."""
    if expected_docs is None or expected_docs < DECON_SATURATION_DOCS:
        return 3
    return DECON_SCALE_NGRAM


def decontaminate_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int | str = 3,
    min_overlap: float = 0.5,
    text_col: str = "text",
    expected_docs: int | None = None,
) -> DataFrame:
    """N-gram-overlap decontamination — the stronger, quantified form of
    `decontaminate`: for each (corpus doc, benchmark doc) pair report
    the fraction of the BENCHMARK doc's distinct n-gram shingles that
    also occur in the corpus doc, keeping pairs at or above
    `min_overlap` (the published-pipeline check that catches partial
    containment, e.g. a benchmark question quoted inside a larger
    page, which exact/min-shingle fingerprints miss).

    The fraction is normalized by the BENCHMARK doc's distinct
    shingles (n_common / bench_shingles): a short benchmark item fully
    quoted inside a long page scores 1.0 regardless of the page's
    length — normalizing by the corpus doc would dilute exactly that
    case to ~0. Zero-word docs emit no shingles (shingle_hashes drops
    them), so empty-vs-empty pairs can never report as contamination.

    `min_overlap` must be > 0: zero-overlap pairs never materialize —
    the intersection count comes from a shingle equi-join, exactly like
    llm.dedup.near_dup_pairs' verify stage, so the work is
    O(matching shingle occurrences), never the doc cross product.

    Scale: both sides explode to narrow (doc_id, shingle-md5) rows; the
    join is a shuffle equi-join on the 32-byte hash (benchmark sets
    small enough to broadcast will be broadcast by AQE); per-pair
    counts and the per-doc denominator are map-side-combinable
    aggregations.

    ``n="auto"`` resolves the width from ``expected_docs`` (the
    TRAINING corpus size) via `auto_decon_ngram` — n=3 for
    reference-parity small corpora, the published 8-gram width past
    the measured saturation threshold, where 3-gram match volume is
    quadratic in corpus size (SCALING_r6.json n-sweep).
    """
    if n == "auto":
        n = auto_decon_ngram(expected_docs)
    # bool is an int subclass (n=True would silently compute 1-gram
    # overlap — a drastically different contamination result)
    if not isinstance(n, int) or isinstance(n, bool) or n < 1:
        raise ValueError(f"n must be a positive int or 'auto', got {n!r}")
    if not 0 < min_overlap <= 1:
        raise ValueError(f"min_overlap must be in (0, 1], got {min_overlap}")
    from flink_project_spark.llm import dedup as DD

    # no pre-filter: shingle_hashes itself drops zero-word docs; a
    # separate size(words(text)) > 0 filter would re-tokenize the whole
    # corpus once just to re-apply the guarantee
    from pyspark.sql.window import Window

    sc = DD.shingle_hashes(corpus, text_col, n)
    sb = DD.shingle_hashes(benchmark, text_col, n).select(
        F.col("doc_id").alias("bench_id"), "hx"
    )
    # The denominator rides the gram rows as a window count instead of
    # a separate groupBy + final join: the old two-branch form
    # evaluated the benchmark gram build TWICE (once under matches,
    # once under n_sh — measured 3.6 s each at 500k docs, plus the
    # extra join), because nothing in an unpersisted plan shares the
    # subtree. The window's bench_id exchange is bounded (one row per
    # distinct gram of one benchmark doc — at most a few hundred per
    # partition key, no skew) and replaces BOTH the n_sh aggregation
    # exchange and the matches-side join. Interleaved A/B at sf10-open
    # (500k docs, n=8, min-of-3 same-session): 24.3 -> 21.2 s with
    # identical output; the corpus gram build (~16 s, scan-rate — the
    # codegen lead-window alternative measured a wash at 16.4 vs
    # 16.3 s and adds an exchange) is the dominant remaining stage.
    sb = sb.withColumn(
        "bench_shingles",
        F.count(F.lit(1)).over(Window.partitionBy("bench_id")),
    )
    return (
        sc.join(sb, "hx")
        .groupBy("doc_id", "bench_id")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("bench_shingles").alias("bench_shingles"),
        )
        .withColumn(
            "overlap_frac",
            F.col("n_common").cast("double")
            / F.col("bench_shingles").cast("double"),
        )
        .filter(F.col("overlap_frac") >= min_overlap)
        .select("doc_id", "bench_id", "n_common", "bench_shingles", "overlap_frac")
    )


def pack_spans(
    docs: DataFrame,
    budget: int = 512,
    n_buckets: int = 8,
    salt: str = "pack",
    text_col: str = "text",
) -> DataFrame:
    """The executable form of `pack_plan`: one row per (document piece,
    training window) — exactly what a packed-sequence writer consumes.
    A doc whose token stream crosses window boundaries is split into
    per-window pieces; within a window, pieces tile it end-to-end in
    stream order.

    Output: (bucket, bin_id, doc_id, doc_offset, piece_tokens,
    offset_in_bin) with doc_offset the piece's first token WITHIN the
    doc and offset_in_bin its position inside the window. Zero-token
    docs contribute no pieces. Pure integer arithmetic over the
    pack_plan cumulative sums — engine-exact.

    Scale: pack_plan's single per-bucket window plus one generate
    (explode over the doc's spanned bins — bounded by
    ceil(n_tok/budget)+1 rows per doc); no further shuffle, so a
    groupBy(bucket, bin_id) writer gets map-side-combinable input
    already clustered by bucket.
    """
    plan = pack_plan(docs, budget, n_buckets, salt, text_col)
    start = F.col("bin_id") * budget + F.col("offset_in_bin")
    ex = (
        plan.filter(F.col("n_tok") > 0)
        .withColumn("_start", start)
        .withColumn("_end", start + F.col("n_tok") - 1)
        .select(
            "bucket",
            "doc_id",
            "n_tok",
            "_start",
            "_end",
            F.explode(
                F.sequence(F.col("bin_id"), F.col("bin_id") + F.col("bins_spanned") - 1)
            ).alias("bin_id"),
        )
    )
    piece_lo = F.greatest(F.col("_start"), F.col("bin_id") * budget)
    piece_hi = F.least(F.col("_end"), (F.col("bin_id") + 1) * budget - 1)
    return ex.select(
        "bucket",
        "bin_id",
        "doc_id",
        (piece_lo - F.col("_start")).cast("long").alias("doc_offset"),
        (piece_hi - piece_lo + 1).cast("long").alias("piece_tokens"),
        (piece_lo - F.col("bin_id") * budget).cast("long").alias("offset_in_bin"),
    )


def curriculum_order(
    docs: DataFrame,
    k_stages: int = 4,
    text_col: str = "text",
    quality: DataFrame | None = None,
) -> DataFrame:
    """Curriculum staging: exact global quality rank -> NTILE stages.

    Curriculum-learning data prep orders the corpus by a quality signal
    and serves it in stages (easy/high-quality first). The ordering is
    the composite `text.quality_score`; the rank is EXACT and global —
    but computed with `operators.windows.global_rank` (range
    repartition + per-partition row_number + broadcast offsets), never
    a single-reducer `row_number() OVER (ORDER BY ...)`. Stages follow
    SQL NTILE semantics exactly — with n docs and k stages the first
    (n mod k) stages hold ceil(n/k) docs — computed arithmetically from
    the global rank and a 1-row corpus-count broadcast, so any SQL
    engine's NTILE reproduces the assignment bit-for-bit.

    Scale: quality is a pure projection over the scan; the rank is one
    range exchange + one parallel sort; the count attaches as a 1-row
    broadcast. Nothing global ever lands on one task.
    """
    from flink_project_spark.operators.windows import global_rank

    if k_stages < 1:
        raise ValueError("k_stages must be >= 1")
    # `quality` lets a caller pass an already-materialized metrics
    # table (the contract layer shares one persisted frame between the
    # quality and curriculum queries) — the rank machinery reads its
    # input twice (range-boundary sampling + the shuffle write), so a
    # cached input pays the regex-heavy tokenization once, not thrice
    qual = (
        quality if quality is not None else TX.quality_score(docs, text_col)
    ).select("doc_id", "quality")
    ranked = global_rank(
        qual, [F.col("quality").desc(), F.col("doc_id").asc()]
    )
    scalar = F.broadcast(ranked.agg(F.count(F.lit(1)).alias("_n")))
    k = int(k_stages)
    # NTILE(k) closed form from the 1-based rank: with q = n div k and
    # r = n % k, the first r tiles hold q+1 rows. `div` = exact
    # integral division (same rule as chunk/pack offsets — no double
    # rounding at any corpus size); q = 0 (n < k) only ever takes the
    # first branch, so the small-tile division never sees q = 0.
    stage = F.expr(
        f"CAST(CASE WHEN grank <= ((_n div {k}) + 1) * (_n % {k}) "
        f"THEN (grank - 1) div ((_n div {k}) + 1) + 1 "
        f"ELSE (_n % {k}) + (grank - 1 - ((_n div {k}) + 1) * (_n % {k})) "
        f"div (_n div {k}) + 1 END AS INT)"
    )
    return ranked.crossJoin(scalar).select(
        "doc_id", "quality", "grank", stage.alias("stage")
    )


def sample_by_rate_column(
    docs: DataFrame,
    rate_col: str,
    key_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """`sample_by_hash` with a PER-ROW rate (whole percent 0..100),
    e.g. the `keep_rate_pct` a broadcast-joined `mixture_plan` row
    carries. Identical hash rule, so `sample_by_hash(docs, p)` ==
    `sample_by_rate_column(docs.withColumn(c, lit(p)), c)` — the
    equivalence the composition test pins. Still a pure projection +
    filter: zero shuffle beyond whatever join attached the rate."""
    bucket = (
        v32(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))) % 100
    )
    return docs.filter(bucket < F.col(rate_col))


def interleave_order(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "interleave",
) -> DataFrame:
    """Source-interleaved global serving order: round-robin across
    groups so consecutive training rows come from DIFFERENT sources —
    the anti-correlated batch layout (one web page followed by one code
    file followed by one paper, ...), the complement of
    `curriculum_order`'s quality ordering.

    Rule: each doc gets a deterministic within-source rank (md5 order —
    content-independent, stable across engines/runs), then the global
    order sorts by (within-source rank, md5): all rank-1 docs from
    every source first, then every rank-2 doc, and so on. With k
    sources of equal size, positions i*k..i*k+k-1 hold one doc of each
    source; skewed sizes degrade gracefully (exhausted sources drop
    out of later rounds).

    Scale: NO per-source window — with few, huge sources,
    ``row_number() OVER (PARTITION BY source)`` puts an entire source
    on one task. Instead the within-source rank derives from ONE
    distributed `global_rank` over (source, h) minus a per-source
    offset (the broadcast-joined min rank per source), and the final
    order is a second `global_rank` — two range exchanges + two
    dimension-sized broadcasts, nothing global on a single task.

    Output: (id_col, group_col, source_rank, interleave_rank).
    NULL-group docs form their own round-robin lane (the offset join
    is null-safe, matching SQL's PARTITION BY null-grouping); `id_col`
    must be non-null (a null id nulls the md5 sort key, and engines
    disagree on null ordering).
    """
    from flink_project_spark.cache import persist_tracked
    from flink_project_spark.operators.windows import global_rank

    h = F.md5(
        F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))
    )
    base = docs.select(id_col, group_col).withColumn("_h", h)
    # both the per-source min aggregate and the offset join read this
    # rank table — persist it or the range-exchange + window + offsets
    # subplan runs twice
    by_src = persist_tracked(
        global_rank(
            base,
            [F.col(group_col).asc(), F.col("_h").asc(), F.col(id_col).asc()],
            rank_col="_gr",
        ),
        label="interleave_by_src",
    )
    first = by_src.groupBy(group_col).agg(F.min("_gr").alias("_g0"))
    within = by_src.join(
        F.broadcast(first.withColumnRenamed(group_col, "_g")),
        by_src[group_col].eqNullSafe(F.col("_g")),
    ).withColumn("source_rank", F.col("_gr") - F.col("_g0") + 1)
    ordered = global_rank(
        within.select(id_col, group_col, "_h", "source_rank"),
        [
            F.col("source_rank").asc(),
            F.col("_h").asc(),
            F.col(id_col).asc(),
        ],
        rank_col="interleave_rank",
    )
    return ordered.select(
        id_col, group_col, "source_rank", "interleave_rank"
    )
