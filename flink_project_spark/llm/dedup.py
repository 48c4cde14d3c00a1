"""Deduplication operators for document corpora.

Exact (content-hash groupBy), MinHash+LSH (shingle -> signature -> band
-> bucket self-join), SimHash (bit-majority + banded Hamming join), and
exact n-gram Jaccard verification — the standard public pipeline for
LLM training-data dedup (Broder '97 minhash; Charikar '02 simhash;
Lee et al. '21 "Deduplicating Training Data Makes Language Models
Better").

Design for 100 TB:
- Shingling, MinHash signatures and SimHash values are computed as
  nested *array expressions inside the scan projection* — no explode, no
  Python, no shuffle; WholeStageCodegen keeps it one pass over parquet.
- The only exchanges are (a) the LSH band table (docs x bands rows of
  ~50 bytes — orders of magnitude smaller than the corpus) and (b) the
  candidate-pair joins, whose cardinality LSH bounds by construction.
- Bucket skew (a degenerate band key collecting millions of docs) is the
  classic failure mode: `lsh_pairs` caps per-bucket membership with a
  deterministic row_number cutoff; `lsh_overflow` reports exactly which
  buckets dropped members and how many (no silent caps).
- The exact-Jaccard verify stage never joins shingle *arrays*: pair
  intersections come from an exploded (doc, shingle-md5) equi-join whose
  rows are three fixed-width values — the same narrow plan the DuckDB
  oracle uses — so candidate verification shuffles KBs, not documents.
- All hashes are md5-derived (see llm.hashing) so a DuckDB oracle
  reproduces every stage bit-exactly; minhash hashes each shingle ONCE
  (md5 -> 32-bit int) and derives the k permutations with universal
  hashing (a*h+b mod 2^31-1) — integer folds, not k md5 passes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_project_spark.llm.hashing import v32, v32_from_hex, v32_py, v60
from flink_project_spark.llm.text import words

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: group by content md5; keep min doc_id as canonical.

    One hash-aggregate shuffle on a 32-byte key — at 100 TB this is the
    cheapest possible exact dedup (the alternative, dropDuplicates on
    the full text, shuffles the documents themselves).

    NULL-text docs match NOTHING — md5(NULL) is NULL and groupBy would
    otherwise treat all NULL-text docs as mutual byte-identical copies
    (dropping all but one doc that shares no bytes with the survivor);
    each one comes back as its own single-member group, the same
    NULL-matches-nothing rule `incremental_dedup`'s exact stage uses.
    """
    hashed = docs.select(
        "doc_id", F.md5(F.col(text_col)).alias("content_md5")
    )
    return (
        hashed.filter(F.col("content_md5").isNotNull())
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .unionByName(
            hashed.filter(F.col("content_md5").isNull()).select(
                "content_md5",
                F.col("doc_id").alias("canonical_doc_id"),
                F.lit(1).cast("long").alias("n_copies"),
            )
        )
    )


# ---------------------------------------------------------------------------
# shingles + MinHash signatures (pure projection — no shuffle)
# ---------------------------------------------------------------------------


def _grams_from_words(ws: Column, n: int) -> Column:
    """Distinct word n-gram shingles from a words ARRAY column — the
    ONE definition of the gram construction (truncated single gram for
    1..n-1-word docs, ' '-joined, de-duplicated), shared by the MinHash
    shingles, the SimHash shingle features, and `shingle_array`, so the
    oracle-critical edge semantics can never drift between consumers.
    Callers on the explode path should materialize `words()` into its
    own projected column first (referenced twice below; an inlined
    words() re-evaluates per element — measured ~1.5x on shingle-sized
    docs, same hazard as the first winnow_fingerprints)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(ws) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(ws, i, n)),
        )
    )


def shingle_array(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array column.

    Zero-word documents get an EMPTY shingle set (not a synthetic ''
    shingle): an empty doc has no content to near-match — exact dedup
    still groups byte-identical ones — and a '' shingle would give all
    empty docs identical MinHash signatures, forming one degenerate
    all-empties LSH bucket (a real hot-bucket hazard at corpus scale)
    plus jaccard-1.0 pairs between e.g. '' and whitespace-only docs.
    Mirrors the oracle's list-comprehension shingles, which are
    likewise empty for zero-word docs.
    """
    w = words(text)
    return F.when(F.size(w) == 0, F.array().cast("array<string>")).otherwise(
        _grams_from_words(w, n)
    )


#: Mersenne prime 2^31-1 — the classic universal-hash modulus. All
#: arithmetic stays < 2^63 (a < P, h < 2^32 => a*h+b < 2^63), so the
#: expressions are safe under ANSI overflow checking in both engines.
MINHASH_P = 2147483647


def minhash_coeffs(k: int) -> tuple[list[int], list[int]]:
    """Deterministic (a, b) permutation coefficients, a in [1, P-1]."""
    a = [v32_py(f"mh:a:{s}") % (MINHASH_P - 1) + 1 for s in range(k)]
    b = [v32_py(f"mh:b:{s}") % MINHASH_P for s in range(k)]
    return a, b


def shingle_hashes(
    docs: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, hx) — one row per distinct shingle, hx = md5(shingle).

    The exploded narrow form is the workhorse of the whole MinHash
    pipeline: signatures derive v32 from hx, and the exact-Jaccard
    verify stage counts pair intersections by equi-joining hx — both
    without ever shuffling the shingle strings themselves.
    """
    # words materialized as a column FIRST (see _grams_from_words)
    base = docs.select("doc_id", words(F.col(text_col)).alias("_ws")).filter(
        # zero-word docs emit NO shingles (see shingle_array: avoids
        # the degenerate all-empties LSH bucket and '' jaccard-1 pairs;
        # mirrors the oracle's empty comprehension)
        F.size(F.col("_ws")) > 0
    )
    return (
        base.select(
            "doc_id", _grams_from_words(F.col("_ws"), n).alias("shingles")
        )
        .select("doc_id", F.explode("shingles").alias("sh"))
        .select("doc_id", F.md5(F.col("sh")).alias("hx"))
    )


def _sig_from_hashes(
    hashed: DataFrame, k: int, with_count: bool = False
) -> DataFrame:
    """(doc_id, sig[, n_sh]) from an exploded (doc_id, h) 32-bit-hash table.

    Explode -> codegen'd hash aggregate with k min() columns, NOT a
    higher-order-function fold: HOF lambdas evaluate interpreted per
    element, while a grouped min() runs inside WholeStageCodegen with
    map-side partial aggregation — the shuffle carries only
    |docs| x k longs regardless of corpus size.

    with_count=True fuses the per-doc shingle count (the exact-Jaccard
    union denominator) into the SAME aggregate — the near-dup pipeline
    needs both, and a fused pass saves a full second aggregation over
    the exploded table.
    """
    a, b = minhash_coeffs(k)
    aggs = [
        F.min(
            (F.lit(a[s]).cast("long") * F.col("h") + F.lit(b[s])) % MINHASH_P
        ).alias(f"_mh{s}")
        for s in range(k)
    ]
    if with_count:
        aggs.append(F.count(F.lit(1)).alias("n_sh"))
    out_cols = ["doc_id", F.array(*[f"_mh{s}" for s in range(k)]).alias("sig")]
    if with_count:
        out_cols.append(F.col("n_sh"))
    return hashed.groupBy("doc_id").agg(*aggs).select(*out_cols)


def doc_signatures(
    docs: DataFrame, text_col: str = "text", n: int = 3, k: int = 16
) -> DataFrame:
    """(doc_id, shingles, sig) — sig[s] = min over shingles of
    (a_s * v32(sh) + b_s) mod P. One md5 per shingle total.

    Kept for callers that want the shingle arrays alongside the
    signature; the near-dup pipeline itself uses the narrow
    `shingle_hashes` + `_sig_from_hashes` path and never materializes
    arrays into a join.

    Zero-shingle documents (empty/whitespace-only text) are
    DROPPED by design — a doc with no shingles has no MinHash
    signature and can never be a near-dup candidate; callers needing
    every doc back restore them with a left join (the contract
    queries' oracles mirror the same rule).
    """
    from flink_project_spark.cache import persist_tracked

    base = persist_tracked(
        docs.select(
            "doc_id", shingle_array(F.col(text_col), n).alias("shingles")
        ),
        "doc_signatures_base",
    )
    hashed = base.select("doc_id", F.explode("shingles").alias("sh")).select(
        "doc_id", v32(F.col("sh")).alias("h")
    )
    sig = _sig_from_hashes(hashed, k)
    return base.join(sig, "doc_id").select("doc_id", "shingles", "sig")


# ---------------------------------------------------------------------------
# LSH banding -> candidate pairs
# ---------------------------------------------------------------------------


def _check_banding(k: int, bands: int, rows: int) -> None:
    """bands * rows must fit in the k-element signature: an
    out-of-range F.slice returns an EMPTY array, so every overflowing
    band would key every doc to '' — one corpus-wide degenerate bucket
    per bad band, emitting up to max_bucket²/2 spurious candidates and
    a phantom corpus-sized overflow report, all silently."""
    if bands < 1 or rows < 1:
        raise ValueError(f"bands and rows must be >= 1, got {bands}x{rows}")
    if bands * rows > k:
        raise ValueError(
            f"bands*rows ({bands}*{rows}={bands * rows}) exceeds the "
            f"signature length k={k}: the out-of-range bands would hash "
            "every doc into one degenerate bucket"
        )


def _band_keys(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc_id, band, band_key) — one row per signature band; callers
    that know the signature length validate via `_check_banding`."""
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(F.col("sig"), b * rows + 1, rows),
                        lambda x: x.cast("string"),
                    ),
                ),
            )
        ).alias("band", "band_key"),
    )


def lsh_overflow(
    sigs: DataFrame,
    bands: int = 4,
    rows: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Buckets that hit `lsh_pairs`' cap: (band, band_key, members,
    dropped). Empty result = the cap dropped nothing.

    Companion to `lsh_pairs` so the cap is never silent: a pipeline run
    should aggregate/log this (the brief's "no silent caps" rule). At
    scale it is one extra map-side-combined count over the band table.
    """
    return (
        _band_keys(sigs, bands, rows)
        .groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("members"))
        .filter(F.col("members") > max_bucket)
        .select(
            "band",
            "band_key",
            "members",
            (F.col("members") - max_bucket).alias("dropped"),
        )
    )


def _ranked_band_keys(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """Band keys with a deterministic per-bucket rank (doc_id order) —
    the shared precursor of the capped candidate join and the overflow
    audit."""
    return _band_keys(sigs, bands, rows).withColumn(
        "bucket_rank",
        F.row_number().over(
            Window.partitionBy("band", "band_key").orderBy("doc_id")
        ),
    )


def _pairs_from_bands(ranked: DataFrame, max_bucket: int) -> DataFrame:
    """Distinct capped candidate pairs from a ranked band table — ONE
    definition of the cap/tie-break/pair semantics, used by lsh_pairs
    and near_dup_pairs so they can never drift apart."""
    capped = ranked.filter(F.col("bucket_rank") <= max_bucket)
    a = capped.select("band", "band_key", F.col("doc_id").alias("doc_a"))
    b = capped.select("band", "band_key", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def lsh_pairs(
    sigs: DataFrame,
    bands: int = 4,
    rows: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing >= 1 LSH band bucket.

    band key b = sig[b*rows+1 .. b*rows+rows] joined by ',' (the minhash
    values are already uniform 31-bit ints — no re-hash needed). The
    self-join runs per (band, key) bucket; `max_bucket` caps degenerate
    buckets (deterministically by doc_id order) so one hot bucket cannot
    produce O(n^2) pairs at scale. The cap's casualties are reported by
    `lsh_overflow` — run it alongside when the cap can plausibly bind.
    """
    return _pairs_from_bands(_ranked_band_keys(sigs, bands, rows), max_bucket)


def estimated_jaccard(pairs: DataFrame, sigs: DataFrame) -> DataFrame:
    """Attach the MinHash Jaccard estimate: mean(sig_a[i] == sig_b[i])."""
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    eq = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda z: z,
        )
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (eq.cast("double") / F.size(F.col("sig_a")).cast("double")).alias(
                "est_jaccard"
            ),
        )
    )


def exact_jaccard(pairs: DataFrame, shingle_df: DataFrame) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs via array intersection.

    Runs only on LSH survivors, so the expensive set intersection never
    touches the full cross product.
    """
    sa = shingle_df.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = shingle_df.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("inter"),
            union.alias("union"),
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
    )


def near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    rows: int = 4,
    threshold: float = 0.8,
    max_bucket: int = 1000,
    log_overflow: bool = True,
    audit_sink: list | None = None,
) -> DataFrame:
    """Full MinHash-LSH pipeline: pairs with exact Jaccard >= threshold.

    LSH recall at the (bands=4, rows=4) default: P(candidate) =
    1-(1-j^4)^4, ~0.98 at j=0.8 — the exact-verify stage then removes
    false positives, so the result equals brute-force Jaccard filtering
    up to LSH misses.

    `threshold` must be > 0: pair intersections come from an inner
    equi-join on shingle hashes, so candidate pairs with ZERO shingle
    overlap never reach the filter (they'd carry jaccard = 0.0). Callers
    who want every candidate's jaccard including zeros should use
    `exact_jaccard` over `lsh_pairs` instead.

    With log_overflow=True (default) the per-band bucket cap is never
    silent: when any bucket exceeds `max_bucket`, a WARNING with the
    dropped-member total is logged (one extra map-side-combined count
    over the persisted band table — negligible next to the verify join).
    The log's collect() is this plan's FIRST action, so in a cold
    session it pays the whole shingle->signature->band build up front.
    Callers that materialize the result later (e.g. a pipeline's
    cache-build phase) should pass `audit_sink=[]` instead: the audit
    aggregate DataFrame is appended to the list un-executed, to be
    materialized AFTER the pair table — at that point it reads the
    already-persisted band table and costs one tiny aggregate.
    `audit_sink` takes precedence over log_overflow.

    Plan shape (the 100 TB-safe one): everything derives from the
    exploded (doc_id, shingle-md5) table — persisted because the
    signature aggregate and the verify join both consume it. Pair
    intersections are an exploded equi-join on the 32-byte shingle hash
    (candidates ⋈ shingles_a ⋈ shingles_b on hash equality, then a
    grouped count) — rows in flight are (doc_a, doc_b, hx), never the
    shingle arrays, so candidate verification shuffles three fixed-width
    columns instead of KB-wide documents. Shingle sizes and the MinHash
    estimate ride on narrow per-doc side tables. (At cluster scale the
    persists become checkpoints of the exploded table to parquet.)
    """
    if threshold <= 0:
        raise ValueError(
            f"threshold must be > 0, got {threshold} — zero-overlap pairs "
            "never materialize here; use exact_jaccard over lsh_pairs for "
            "jaccard-including-zeros"
        )
    _check_banding(k, bands, rows)
    from flink_project_spark.cache import persist_tracked

    ex = persist_tracked(shingle_hashes(docs, text_col, n), "neardup_shingles")
    # ONE aggregate over the exploded table produces both the signature
    # and the shingle count (union denominator) — the old separate
    # `sizes` aggregate ran twice more (once per join side)
    sigs = persist_tracked(
        _sig_from_hashes(
            ex.select("doc_id", v32_from_hex(F.col("hx")).alias("h")),
            k,
            with_count=True,
        ),
        "neardup_sigs",
    )
    # banded table computed ONCE and persisted (|docs| x bands tiny
    # rows): both sides of the candidate self-join AND the overflow
    # audit read it, where calling lsh_pairs + lsh_overflow separately
    # would run the band-window subtree three times
    bandt = persist_tracked(
        _ranked_band_keys(sigs, bands, rows), "neardup_bands"
    )
    # the capped candidate table feeds TWO join subtrees (the shingle
    # intersection and the signature enrichment) — persist it so the
    # per-bucket self-join + distinct (the largest exchange before the
    # verify join) executes once, not once per consumer; correctness/
    # cost must not hang on ReuseExchange firing
    cand = persist_tracked(
        _pairs_from_bands(bandt, max_bucket), "neardup_cand"
    )
    over_df = (
        bandt.filter(F.col("bucket_rank") > max_bucket)
        .groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("dropped"))
        .agg(
            F.count(F.lit(1)).alias("buckets"),
            F.coalesce(F.sum("dropped"), F.lit(0)).alias("dropped"),
        )
    )
    if audit_sink is not None:
        audit_sink.append(over_df)
    elif log_overflow:
        over = over_df.collect()[0]
        if over["buckets"]:
            import logging

            logging.getLogger(__name__).warning(
                "lsh_pairs bucket cap bound: %d buckets over max_bucket=%d, "
                "%d memberships dropped (run lsh_overflow() for the list)",
                over["buckets"],
                max_bucket,
                over["dropped"],
            )
    ea = ex.select(F.col("doc_id").alias("doc_a"), "hx")
    eb = ex.select(F.col("doc_id").alias("doc_b"), "hx")
    inter = (
        cand.join(ea, "doc_a")
        .join(eb, ["doc_b", "hx"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    # one enrichment join pass: signature AND shingle count ride the
    # same persisted per-doc table, so the MinHash estimate and the
    # union denominator attach in two joins instead of four
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sig").alias("sig_a"),
        F.col("n_sh").alias("n_a"),
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sig").alias("sig_b"),
        F.col("n_sh").alias("n_b"),
    )
    eq = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda z: z,
        )
    )
    enriched = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            (
                eq.cast("double") / F.size(F.col("sig_a")).cast("double")
            ).alias("est_jaccard"),
        )
    )
    jac = F.col("i").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("i")
    ).cast("double")
    return (
        inter.join(enriched, ["doc_a", "doc_b"])
        .select("doc_a", "doc_b", jac.alias("jaccard"), "est_jaccard")
        .filter(F.col("jaccard") >= threshold)
    )


def _cc_round(edges: DataFrame) -> DataFrame:
    """ONE alternating large-star/small-star round over a canonical
    (u, v) edge set — the loop body of `connected_components`, split
    out so `tools/explain_plans.py` can capture a round-body plan
    (explain on the full loop only shows the last round's scan behind
    the per-round localCheckpoint).

    Each star is ONE window pass (min over the neighborhood) instead
    of a groupBy + join-back — half the shuffles per round. No distinct
    between the stars (round 7): the small-star min is
    duplicate-insensitive and the END-of-round distinct is what
    canonicalizes the edge set for the convergence signature, so the
    mid-round distinct only traded shuffle volume — and it never
    reduced total bytes moved: it re-shuffled the same E large-star
    output rows the small-star exchange now receives directly (3E
    rows/round either way), while costing a full extra exchange + AQE
    stage barrier per round. Interleaved A/B at sf0.1 (6-round
    convergence, identical 363-row output): emb_semantic_dedup
    43 -> 37 Spark jobs, 4.26 -> 3.61 s / 4.14 -> 4.02 s on paired
    passes; the CC kernel alone 41 -> 35 jobs. Tradeoff at scale: the
    small-star window key sees deg(u) duplicate (v, m) rows for hot
    roots instead of their distinct-m collapse — a longer sorted run
    in the same task the window already owned (sort-based, spills
    gracefully), not a new skew axis.
    """
    # large-star: point u's larger neighbors at its neighborhood min
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    large = (
        sym.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    # small-star: point u's smaller neighbors AND u at that min
    dirn = large.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    dm = dirn.withColumn(
        "m", F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    )
    # both star edges via one generate — a union of two selects
    # would evaluate the large-star + window subtree twice per round
    return (
        dm.select(
            F.explode(
                F.array(
                    F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                    F.struct(F.col("u"), F.col("m").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 50,
) -> DataFrame:
    """(doc_id, component) — component = min doc_id reachable in the
    undirected dup-pair graph.

    Alternating large-star / small-star (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond" — the standard
    shuffle-based CC for graphs too large for one machine):

    - large-star: every node points its LARGER neighbors at the minimum
      of its neighborhood (incl. itself);
    - small-star: every node points its smaller neighbors and itself at
      that minimum.

    Each round is two groupBy/join passes over the edge list; the edge
    list only shrinks toward the star graph (node -> component min), so
    rounds converge in O(log n) in practice. Convergence is detected
    with a count + order-independent xxhash64 checksum of the edge set
    computed as OBSERVED METRICS of the round's own checkpoint
    materialization (no separate aggregate job, no full EXCEPT
    shuffle), and every round is localCheckpoint()ed to truncate
    lineage (cluster analog: checkpoint the edge list to the DFS each
    round).

    Isolated nodes never appear in `pairs` and are their own component;
    callers union them in (see `dedup_keep_canonical`).
    """
    from pyspark.sql import Observation

    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev_sig: tuple[int, int] | None = None
    for _ in range(max_rounds):
        # Round 8: the convergence signature rides the round's own
        # materialization as OBSERVED METRICS (CollectMetrics
        # accumulators evaluated while the checkpoint rows stream)
        # instead of a separate post-checkpoint aggregation job. The
        # previous shape — lazy checkpoint + `edges.agg(count,
        # hash).collect()` — paid one extra single-partition exchange
        # and its AQE stage per round purely to read back what the
        # materialization pass had just computed. The eager checkpoint
        # is now the only per-round action; the signature expressions
        # are unchanged, so round counts and results are identical.
        # (Verified equivalent on this Spark: Observation values match
        # the direct agg bit-for-bit, incl. the pmod/xxhash64 sum.)
        obs = Observation()
        edges = (
            _cc_round(edges)
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                # 31-bit-reduced hashes: the sum stays far below 2^63
                # under ANSI overflow checking for any realistic edge
                # count
                F.coalesce(
                    F.sum(
                        F.pmod(F.xxhash64("u", "v"), F.lit(2147483647))
                    ),
                    F.lit(0),
                ).alias("h"),
            )
            .localCheckpoint(eager=True)
        )
        vals = obs.get
        sig = (vals["n"], vals["h"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    else:
        converged = False
    if not converged:
        # the module's no-silent-caps rule: an exhausted round budget
        # means the components below may still be merged incorrectly
        import logging

        logging.getLogger(__name__).warning(
            "connected_components: star contraction did NOT converge "
            "within max_rounds=%d; results may split true components — "
            "raise max_rounds (rounds needed grow ~log(diameter))",
            max_rounds,
        )
    # converged star graph: every edge is (node, component-min); roots
    # appear only on the v side
    comp = edges.select(F.col("u").alias("doc_id"), F.col("v").alias("component"))
    roots = (
        edges.select(F.col("v").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
    )
    return comp.union(roots).groupBy("doc_id").agg(
        F.min("component").alias("component")
    )


def dedup_keep_canonical(
    docs: DataFrame, dup_pairs: DataFrame, mode: str = "single_link"
) -> DataFrame:
    """Keep one representative per duplicate group.

    mode="single_link" (the greedy rule): drop every doc that is the
    larger side of any dup pair — a doc survives iff it is a LOCAL
    minimum among its pairs. Cheap (one anti join), removes every
    duplicate, but on transitive structures it can keep more than one
    doc per connected component (e.g. pairs (1,3),(2,3): both 1 and 2
    survive although they share component {1,2,3}).

    mode="cc" (the principled rule): iterative large-star/small-star
    connected components over the pair graph; exactly ONE doc — the
    component-minimum doc_id — survives per component, so transitive
    chains A~B~C collapse to a single representative.
    """
    if mode == "cc":
        comp = connected_components(dup_pairs)
        losers = comp.filter(F.col("doc_id") != F.col("component")).select(
            "doc_id"
        )
    elif mode == "single_link":
        losers = dup_pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    else:
        raise ValueError(f"unknown dedup mode: {mode!r}")
    return docs.join(losers, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

#: Corpus size at which 32-bit word-feature SimHash signatures stop
#: being a usable near-dup notion. Measured (SCALING_r6.json signature
#: sweep): on a 50k-token Zipf natural-text corpus the hamming<=3 pair
#: density is CONSTANT (~4-5e-4 — pure n² output) at 32 bits, already
#: 279k pairs at 5k docs and 28.1M at 50k; on the saturating legacy
#: corpus 500k docs emit 684M pairs. 60-bit shingle-feature signatures
#: keep the pair output linear (56/490/4,795 across the same three
#: decades). The threshold sits at the low end of the measured 10^4-10^5
#: saturation band so the auto policy flips BEFORE the blowup, not
#: after.
SIMHASH_SATURATION_DOCS = 10_000


def validate_simhash_knobs(bits, shingle) -> None:
    """Strictly validate a RESOLVED (bits, shingle) pair — loud
    ValueError instead of a silently wrong width or a later opaque
    analysis error. bool is an int subclass and floats slip past bare
    comparisons, so the TYPE check is strict. Shared by `doc_simhash`
    and the streaming twins — the twins validate BEFORE writing the
    store's contract sidecar, so a first batch with bad knobs can't
    poison an empty store with a contract only a hand-deleted meta
    file would unblock."""

    def _is_int(v):
        return isinstance(v, int) and not isinstance(v, bool)

    if not _is_int(bits) or not (shingle is None or _is_int(shingle)):
        raise ValueError(
            f"bits/shingle must be plain ints here, got "
            f"{bits!r}/{shingle!r} — 'auto' resolves only where a "
            "corpus-size hint exists (doc_simhash/auto_simhash_config); "
            "the streaming twins pin the store contract and take "
            "resolved ints"
        )
    if not 1 <= bits <= 60:
        raise ValueError(
            f"bits must be in [1, 60] (signed-long bit weights), got {bits}"
        )
    if shingle is not None and shingle < 1:
        raise ValueError(f"shingle must be >= 1, got {shingle}")


def auto_simhash_config(
    expected_docs: int | None,
) -> tuple[int, int | None]:
    """(bits, shingle) for a corpus of ``expected_docs`` documents —
    the size-driven default policy behind ``bits="auto"`` /
    ``shingle="auto"`` on `doc_simhash`.

    Below `SIMHASH_SATURATION_DOCS` (or with no hint): the reference
    construction (32-bit word-occurrence features — bit-exact parity
    with the driver oracle and the reference job). At or above it: the
    measured 100 TB configuration, bits=60 + distinct 3-gram shingle
    features (SCALING_r6.json: linear pair output and a 6.1 s banded
    join at 500k docs, where the 32-bit default took 280 s on 684M
    pairs). An approximate hint is fine — the policy moves on decades.

    Resolve ONCE per corpus and pass the resolved ints everywhere the
    signature flows (banding via `simhash_near_dups`, stores via the
    streaming twins): signatures from different configurations occupy
    incompatible key spaces, which is also why the streaming twins pin
    the configuration in their store's `_check_store_meta` sidecar
    rather than accepting "auto".
    """
    if expected_docs is None or expected_docs < SIMHASH_SATURATION_DOCS:
        return 32, None
    return 60, 3


def simhash_from_hashes(
    ids: DataFrame, hashed: DataFrame, bits: int = 32
) -> DataFrame:
    """(doc_id, simhash) bit-majority aggregate from an exploded
    (doc_id, h) 32-bit-hash table — the shared core of `doc_simhash`
    (word hashes) and `multimodal.payload_simhash` (byte-chunk hashes).

    Runs as `bits` codegen'd conditional sums with map-side partial
    aggregation — the shuffle carries |ids| x bits longs. Ids with no
    hash rows are restored with simhash = 0 via the left join (the
    fold semantics; oracles apply the identical COALESCE).
    """
    aggs = [
        F.sum(
            F.when(
                F.col("h").bitwiseAND(F.lit(1 << j).cast("long")) != 0, 1
            ).otherwise(-1)
        ).alias(f"_s{j}")
        for j in range(bits)
    ]
    sim_val = None
    for j in range(bits):
        term = F.when(
            F.col(f"_s{j}") > 0, F.lit(2**j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sim_val = term if sim_val is None else sim_val + term
    simdf = hashed.groupBy("doc_id").agg(*aggs).select(
        "doc_id", sim_val.alias("simhash")
    )
    return ids.select("doc_id").join(simdf, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("simhash"), F.lit(0).cast("long")).alias("simhash"),
    )


def doc_simhash(
    docs: DataFrame,
    text_col: str = "text",
    bits: int | str = 32,
    shingle: int | str | None = None,
    expected_docs: int | None = None,
) -> DataFrame:
    """(doc_id, simhash) via explode -> grouped bit-sum aggregate
    (see `simhash_from_hashes` for the aggregate's shape). Documents
    with zero whitespace tokens report simhash = 0.

    ``shingle``: None (default) uses word-occurrence features (the
    reference construction — multiset bit majority over words);
    ``shingle=n`` switches the feature set to DISTINCT word n-gram
    shingles (the `shingle_array` construction MinHash uses). Word
    features are the weak link at corpus scale: Zipfian word
    frequencies make SHORT documents' majority profiles collide, so
    the hamming<=3 "near-dup" relation itself becomes quadratic in
    corpus size — measured on the round-6 open-vocabulary corpus at a
    CONSTANT ~4x10^-4 pair density even at 60 bits (the pairs are
    true positives of a bad similarity notion, not engine artifacts).
    Shingle features occupy a space two random documents essentially
    never share, so only genuinely overlapping text collides and the
    near-dup output stays linear in the corpus — the configuration a
    100 TB pipeline should run (bits=60, shingle=3).

    ``bits`` is the SCALE knob that actually matters for this operator:
    32-bit word-level signatures saturate on natural-text corpora
    around 10^4-10^5 documents — Zipfian word frequencies make distinct
    documents' bit-majority profiles collide, so the hamming<=3 pair
    count (and with it every downstream join) grows quadratically in
    corpus size no matter how the banding is keyed (measured on the
    open-vocabulary scale corpus: ~3.4x the legacy pair density at
    5k docs and degenerating from there). bits > 32 switches the word
    hash to the 60-bit `v60` (md5-prefix, oracle-reproducible); 60-bit
    signatures keep random-pair collisions negligible out to ~10^8+
    docs, which is the 100 TB default. The 32-bit default is kept for
    driver-oracle and reference parity.

    ``bits="auto"`` / ``shingle="auto"`` resolve both knobs from
    ``expected_docs`` via `auto_simhash_config` — the size-driven
    policy that makes the measured 100 TB settings the default past
    the saturation threshold instead of runbook knowledge. Callers
    that band or store the signatures downstream should resolve via
    `auto_simhash_config` themselves and pass explicit ints (the
    resolved width drives the banding and the store contract)."""
    if bits == "auto" or shingle == "auto":
        abits, ashingle = auto_simhash_config(expected_docs)
        if bits == "auto":
            bits = abits
        if shingle == "auto":
            shingle = ashingle
    validate_simhash_knobs(bits, shingle)
    if shingle is None:
        feats = docs.select(
            "doc_id", F.explode(words(F.col(text_col))).alias("_f")
        )
    else:
        base = docs.select(
            "doc_id", words(F.col(text_col)).alias("_ws")
        ).filter(F.size("_ws") > 0)
        feats = base.select(
            "doc_id",
            F.explode(_grams_from_words(F.col("_ws"), shingle)).alias("_f"),
        )
    hash_fn = v32 if bits <= 32 else v60
    wh = feats.select("doc_id", hash_fn(F.col("_f")).alias("h"))
    return simhash_from_hashes(docs, wh, bits)


def _block_specs(bits: int, blocks: int) -> list[tuple[int, int]]:
    """(offset, width) of each of `blocks` contiguous bit blocks
    covering `bits`, widest blocks first (bits % blocks of them get the
    extra bit)."""
    base, extra = divmod(bits, blocks)
    specs, off = [], 0
    for i in range(blocks):
        w = base + (1 if i < extra else 0)
        specs.append((off, w))
        off += w
    return specs


def simhash_anchor_rows(
    sim: DataFrame, bits: int, blocks: int, max_hamming: int
) -> DataFrame:
    """Combination-banded (doc_id, simhash, band, slice) rows — the
    block-permutation candidate scheme of Manku/Jain/Sarma, "Detecting
    Near-Duplicates for Web Crawling" (WWW '07): split the signature
    into `blocks` bit blocks; a pair within Hamming distance
    max_hamming corrupts at most max_hamming blocks, so it agrees
    ENTIRELY on some (blocks - max_hamming)-subset of them. Emitting
    one row per C(blocks, anchor) subset keyed by the concatenated
    anchor-block bits makes the equi-join on (band=subset, slice=key)
    complete, with ~(anchor * bits/blocks)-bit keys.

    Why not single-slice bands (the t=1 pigeonhole): an 8-bit slice
    key has 256 buckets per band, so the banded self-join output grows
    as n²/2^8 regardless of corpus — measured super-linear (exponent
    ~2.1 over sf1→sf10, 399 s) once n >> 256. Anchors of ~bits/2 key
    bits cut candidate volume by ~2^(key-slice) ≈ 2^8 for a combo-count
    factor of C(6,3)/4 = 5 — ~50x net at the default, and the knob
    scales: wider signatures at 100 TB get proportionally wider keys.
    """
    from itertools import combinations

    # manual common-subexpression elimination: extract each block value
    # ONCE in a projection, then assemble the C(blocks, anchor) subset
    # keys from the block COLUMNS (2 ops per block vs re-deriving every
    # block inside every key). Without this the explode array carries
    # ~blocks x combos duplicated shift/mask subtrees and the stage's
    # generated code exceeds the JIT fallback threshold — whole-stage
    # codegen silently turns off and the downstream banded JOIN runs
    # interpreted, ~60x slower per probed row (measured at sf1: the
    # same join volume at 3M rows/s interpreted vs 200M rows/s
    # codegen'd).
    _validate_blocks(bits, blocks, max_hamming)
    anchor = blocks - max_hamming
    specs = _block_specs(bits, blocks)
    with_blocks = sim.select(
        "doc_id",
        "simhash",
        *[
            F.shiftright(F.col("simhash"), off)
            .bitwiseAND(F.lit((1 << w) - 1))
            .alias(f"_blk{i}")
            for i, (off, w) in enumerate(specs)
        ],
    )
    keys = []
    for combo in combinations(range(blocks), anchor):
        key = None
        for bi in combo:
            _, w = specs[bi]
            v = F.col(f"_blk{bi}")
            key = v if key is None else F.shiftleft(key, w).bitwiseOR(v)
        keys.append(key.cast("long"))
    return with_blocks.select(
        "doc_id",
        "simhash",
        F.posexplode(F.array(*keys)).alias("band", "slice"),
    )


#: combo-count budget: C(blocks, blocks - max_hamming) anchor keys per
#: row. Beyond ~64 the banded stage's generated code crosses the JVM's
#: 64 KB method limit — whole-stage codegen silently falls back to
#: interpreted evaluation (measured ~15x slower at C=165) and Janino
#: compilation can OOM the driver (observed at C=220) — so the cap is a
#: hard validation error, not a soft knob.
_MAX_COMBOS = 64


def _n_combos(blocks: int, max_hamming: int) -> int:
    from math import comb

    return comb(blocks, blocks - max_hamming)


def _max_anchor_key_bits(bits: int, blocks: int, max_hamming: int) -> int:
    """Width of the WIDEST anchor-subset key: the sum of the largest
    (blocks - max_hamming) block widths (block widths differ by at most
    one bit when bits % blocks != 0)."""
    widths = sorted((w for _, w in _block_specs(bits, blocks)), reverse=True)
    return sum(widths[: blocks - max_hamming])


def _validate_blocks(bits: int, blocks: int, max_hamming: int) -> None:
    if blocks <= max_hamming:
        raise ValueError(
            f"blocks ({blocks}) must exceed max_hamming ({max_hamming}): "
            "the pigeonhole guarantee needs at least one clean anchor "
            "block, else qualifying pairs are silently missed"
        )
    if blocks < 1:
        raise ValueError(f"blocks must be >= 1, got {blocks}")
    if blocks > bits:
        raise ValueError(f"blocks ({blocks}) must be <= bits ({bits})")
    # anchor keys are assembled by shiftleft/OR into ONE signed long,
    # and block masks are (1 << w) - 1 long literals, so no anchor
    # subset may exceed 63 bits (bits=64 with max_hamming=0 puts the
    # whole signature in the anchor — (1 << 64) - 1 overflows LongType
    # and the operator would silently compare garbage keys)
    key_bits = _max_anchor_key_bits(bits, blocks, max_hamming)
    if key_bits > 63:
        raise ValueError(
            f"blocks={blocks} with max_hamming={max_hamming} puts "
            f"{key_bits} signature bits in an anchor key, above the "
            "63-bit long limit; use more blocks (narrower anchors), a "
            "larger max_hamming, or exact_dedup for hamming=0 on "
            "64-bit signatures"
        )
    if _n_combos(blocks, max_hamming) > _MAX_COMBOS:
        raise ValueError(
            f"blocks={blocks} with max_hamming={max_hamming} enumerates "
            f"C({blocks},{blocks - max_hamming})="
            f"{_n_combos(blocks, max_hamming)} anchor subsets > "
            f"{_MAX_COMBOS}: the banded stage's generated code would "
            "exceed the JVM method limit and silently run interpreted "
            "(or OOM the compiler); use fewer blocks — key width per "
            "combo grows anyway"
        )


def _first_agreeing_band(
    sim_a, sim_b, bits: int, blocks: int, max_hamming: int
):
    """Index of the FIRST anchor subset on which two signatures agree —
    row-local (both signatures are present in the joined row), so
    keeping only rows where `band == first_agreeing_band` emits every
    qualifying pair EXACTLY ONCE and the downstream `distinct()`
    exchange disappears. This matters on dup-dense corpora: each true
    near-dup pair otherwise re-enters the distinct once per agreeing
    subset (up to C(blocks, anchor) times), and with pair volume
    quadratic in the dup-group sizes that shuffle dominates the whole
    operator (measured: the sf10 synthetic corpus emits ~1e8 true
    pairs).

    Evaluated as XOR -> per-block cleanliness bitmask -> ONE string
    literal of 2^blocks chars indexed by substring (combo containment
    resolved in PYTHON, once): ~4 bitwise ops per block plus a
    constant-string index per candidate row, Catalyst-pushable into
    the join condition while staying inside whole-stage codegen. The
    naive forms — recomputing both sides' C(blocks, anchor) subset
    keys with a 20-branch when-chain, or a 2^blocks CreateArray
    element_at — grow the join stage's generated code past the JIT
    fallback threshold; the whole stage silently drops to interpreted
    expression evaluation and the join runs ~15x slower (measured at
    sf1: 44 s vs 3 s)."""
    from itertools import combinations

    _validate_blocks(bits, blocks, max_hamming)
    if blocks > 12:
        raise ValueError(
            f"blocks ({blocks}) > 12 would need a {1 << blocks}-char "
            "lookup literal; split wider signatures into more bits per "
            "block instead"
        )
    anchor = blocks - max_hamming
    combos = list(combinations(range(blocks), anchor))
    lut_chars = []
    for mask in range(1 << blocks):
        first = next(
            (
                j
                for j, c in enumerate(combos)
                if all((mask >> bi) & 1 for bi in c)
            ),
            None,
        )
        # '.' (ascii 46 -> band -19) is unreachable from a joined row:
        # the row only exists because ITS combo agreed, so lut[mask]
        # always names a combo; the sentinel just keeps the literal
        # total
        lut_chars.append("." if first is None else chr(65 + first))
    xor = sim_a.bitwiseXOR(sim_b)
    agree_mask = None
    for j, (off, w) in enumerate(_block_specs(bits, blocks)):
        clean = (
            F.shiftright(xor, off).bitwiseAND(F.lit((1 << w) - 1)) == 0
        )
        bit = F.when(clean, F.lit(1 << j)).otherwise(F.lit(0))
        agree_mask = bit if agree_mask is None else agree_mask + bit
    return (
        F.ascii(
            F.substring(
                F.lit("".join(lut_chars)),
                (agree_mask + F.lit(1)).cast("int"),
                F.lit(1),
            )
        )
        - F.lit(65)
    ).cast("int")


def _auto_blocks(
    bands: int,
    max_hamming: int,
    bits: int,
    expected_docs: int | None = None,
) -> int:
    """Default block count for the combination scheme.

    Without a size hint: 2*max_hamming blocks put ~half the signature
    bits in every anchor key (the Manku sweet spot), clamped to the bit
    width, the LUT limit (12), the 63-bit key-width limit, and the
    combo-count budget (the legacy `bands` argument only gates
    validation — a caller tuned to many narrow slices gets the
    equivalent-guarantee combination scheme, not a hard error).

    With ``expected_docs`` = n: pick the block count minimizing the
    candidate-volume model  C·n + C·n²/2^key_bits  over every valid
    block count, where C = C(blocks, max_hamming) anchor rows per doc
    (generation + shuffle, linear) and n²/2^key_bits the expected
    random key collisions per combo under a uniform-key model. More
    blocks widen the anchor keys (collisions shrink by 2^Δbits) but
    multiply the combo count (linear-polynomial) — so small corpora
    favor few blocks (replication dominates) and large corpora wide
    anchors. The choice only affects COST: any valid block count emits
    the identical exact hamming <= max_hamming pair set (pigeonhole
    completeness + row-local verify).

    The model is CAPPED at the static 2*max_hamming sweet spot: going
    beyond it only pays when RANDOM key collisions dominate TRUE
    matches, and a true pair at hamming h is regenerated
    C(blocks - dirty, anchor) times before the first-agreeing-band
    filter — on match-dense corpora more blocks multiply exactly the
    dominant term (measured round 6, sf10 saturating corpus, 32-bit:
    blocks=8 → 378 s vs blocks=6 → 280 s, identical 684M-pair output).
    When the 32-bit signature space itself saturates, the fix is the
    `bits`/`shingle` knobs on `doc_simhash` (684M → 1.7M pairs,
    280 → 14.5 s at bits=60 on the same corpus), not wider anchors.
    """
    if max_hamming + 1 > 12:
        raise ValueError(
            f"max_hamming ({max_hamming}) needs at least "
            f"{max_hamming + 1} blocks, above the 12-block band-lookup "
            "limit; use MinHash-LSH for radii that wide"
        )

    def _valid(b: int) -> bool:
        return (
            _n_combos(b, max_hamming) <= _MAX_COMBOS
            and _max_anchor_key_bits(bits, b, max_hamming) <= 63
        )

    lo, hi = max_hamming + 1, min(bits, 12)
    candidates = [b for b in range(lo, hi + 1) if _valid(b)]
    if not candidates:
        raise ValueError(
            f"no valid block count for bits={bits}, "
            f"max_hamming={max_hamming}: every choice in [{lo}, {hi}] "
            "breaks the combo-count or 63-bit key-width budget"
        )
    if expected_docs is None:
        static = max(min(hi, 2 * max_hamming), lo)
        at_or_below = [c for c in candidates if c <= static]
        return max(at_or_below) if at_or_below else candidates[0]
    n = max(int(expected_docs), 1)

    def est_cost(b: int) -> float:
        anchor_bits = (b - max_hamming) * (bits // b)
        c = _n_combos(b, max_hamming)
        return c * n + c * (float(n) * n) / (2.0 ** min(anchor_bits, 60))

    static = max(min(hi, 2 * max_hamming), lo)
    sized = [b for b in candidates if b <= static] or candidates
    return min(sized, key=est_cost)


def simhash_near_dups(
    sim: DataFrame,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    blocks: int | None = None,
    expected_docs: int | None = None,
) -> DataFrame:
    """Near-dup pairs by Hamming distance <= max_hamming.

    Combination banding (see `simhash_anchor_rows`): any pair within
    `max_hamming` agrees entirely on some anchor-block subset, so a
    self-join per subset key finds all such pairs without a cross
    product, with far fewer bucket collisions than single-slice bands.
    `bands` is the legacy slice-count knob: it still gates the
    pigeonhole validation (max_hamming < bands); `blocks` overrides the
    block count directly (validated against the combo-count budget —
    see `_MAX_COMBOS`). ``expected_docs`` (approximate corpus size —
    an exact count is NOT needed, the block choice moves on decades)
    lets `_auto_blocks` size the anchor keys to the corpus instead of
    using the static sweet spot; any choice returns the identical
    pair set, only cost changes, so a stale or rounded hint is safe.

    Precondition: `sim` carries ONE row per doc_id (what `doc_simhash`
    produces). Each qualifying pair is emitted exactly once via the
    first-agreeing-band rule instead of a distinct(), so duplicate
    doc_id rows would multiply their pairs in the output rather than
    collapse.
    """
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}): the "
            "pigeonhole guarantee needs at least one agreeing slice, else "
            "qualifying pairs are silently missed"
        )
    n_blocks = (
        blocks if blocks is not None
        else _auto_blocks(bands, max_hamming, bits, expected_docs)
    )
    banded = simhash_anchor_rows(sim, bits, n_blocks, max_hamming)
    a = banded.select(
        "band", "slice", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a")
    )
    b = banded.select(
        "band", "slice", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b")
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    # both row-local filters run INSIDE the join stage: the hamming
    # post-filter kills false candidates, and the first-agreeing-band
    # filter emits each qualifying pair exactly once — so there is NO
    # pair-level distinct/exchange at all; nothing pair-shaped ever
    # shuffles (see _first_agreeing_band for why that matters on
    # dup-dense corpora)
    return (
        a.join(b, ["band", "slice"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(hamming <= max_hamming)
        .filter(
            F.col("band")
            == _first_agreeing_band(
                F.col("sim_a"), F.col("sim_b"), bits, n_blocks, max_hamming
            )
        )
        .select("doc_a", "doc_b", hamming.alias("hamming"))
    )


def simhash_cross_matches(
    new_sim: DataFrame,
    ref_sim: DataFrame,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    keep_ref_id: bool = False,
    blocks: int | None = None,
    expected_docs: int | None = None,
) -> DataFrame:
    """doc_ids from `new_sim` having ANY `ref_sim` signature within
    Hamming distance <= max_hamming — the cross-frame (new-vs-store)
    twin of `simhash_near_dups`' self-join, same combination-banding
    completeness guarantee (see `simhash_anchor_rows`).

    With ``keep_ref_id`` the result is the distinct (doc_id,
    ref_doc_id) MATCH PAIRS instead of just the new-side ids — the
    form a caller needs to apply an arrival-order rule against the
    matched store row (streaming admission joins the stored (ts, id)
    back on ref_doc_id).

    Scale: the join is per (band, slice) bucket — never new x ref; the
    ref side carries only (id, simhash, band, slice) — fixed-width
    longs per stored signature. Used by the streaming ingest near-dup
    path, where ref_sim is the bounded signature store.
    """
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}): the "
            "pigeonhole guarantee needs at least one agreeing slice, else "
            "qualifying pairs are silently missed"
        )
    n_blocks = (
        blocks if blocks is not None
        else _auto_blocks(bands, max_hamming, bits, expected_docs)
    )
    a = simhash_anchor_rows(new_sim, bits, n_blocks, max_hamming).select(
        "band", "slice", F.col("doc_id"), F.col("simhash").alias("sim_a")
    )
    # without keep_ref_id the store side needs no identity — only
    # (simhash, band, slice); a constant id satisfies the projection
    ref_proj = (
        ref_sim.select(F.col("doc_id"), "simhash")
        if keep_ref_id
        else ref_sim.select(F.lit(0).cast("long").alias("doc_id"), "simhash")
    )
    b = simhash_anchor_rows(ref_proj, bits, n_blocks, max_hamming).select(
        "band",
        "slice",
        F.col("doc_id").alias("ref_doc_id"),
        F.col("simhash").alias("sim_b"),
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    # first-agreeing-band filter: each (new, ref-signature) match
    # survives from exactly one band, so the distinct below only has
    # to collapse duplicate SOURCE rows (e.g. a legacy store holding
    # several arrivals of one signature), not the combo multiplicity
    matched = (
        a.join(b, ["band", "slice"])
        .filter(hamming <= max_hamming)
        .filter(
            F.col("band")
            == _first_agreeing_band(
                F.col("sim_a"), F.col("sim_b"), bits, n_blocks, max_hamming
            )
        )
    )
    if keep_ref_id:
        return matched.select("doc_id", "ref_doc_id").distinct()
    return matched.select("doc_id").distinct()


# ---------------------------------------------------------------------------
# exact duplicate-substring spans (suffix-array dedup, k-gram form)
# ---------------------------------------------------------------------------


def _positional_grams(docs: DataFrame, n: int, text_col: str) -> DataFrame:
    """(doc_id, n_tok, pos, h) — hash of every positional word n-gram.

    Same lead-window gram build as `text.winnow_fingerprints` (one
    exchange of narrow (doc, pos, word) rows, codegen end to end; the
    transform/slice form is O(words²) per doc). Docs with fewer than n
    words emit their single truncated gram at pos 0; empty docs emit
    nothing (callers restore them with a left join). The key is the
    full 32-hex-char md5, bit-exact with the oracle.
    """
    w = words(F.col(text_col))
    wl = docs.select(
        "doc_id",
        F.size(w).alias("n_tok"),
        F.greatest(F.size(w) - (n - 1), F.lit(1)).alias("_n_g"),
        F.posexplode(w).alias("pos", "_w"),
    )
    order = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.concat_ws(
        " ", F.col("_w"), *[F.lead("_w", i).over(order) for i in range(1, n)]
    )
    return (
        wl.withColumn("h", F.md5(gram))
        .filter(F.col("pos") < F.col("_n_g"))
        .select("doc_id", "n_tok", "pos", "h")
    )


def dup_span_islands(docs: DataFrame, n: int, text_col: str) -> DataFrame:
    """(doc_id, n_tok, span_start, span_end) — maximal contiguous runs
    of duplicated tokens (0-based, end inclusive, clamped to the doc)."""
    if n < 1:  # n=0 would mark every corpus-repeated WORD a dup gram
        raise ValueError(f"n must be >= 1, got {n}")
    grams = _positional_grams(docs, n, text_col)
    # a gram is duplicated iff its hash occurs more than once in the
    # corpus (cross-doc or a repeat within the same doc — the Lee '21
    # rule). groupBy + inner join beats count() OVER (PARTITION BY h):
    # the window form shuffles the full positional stream by h AND
    # cannot map-side-combine; the aggregate ships one row per distinct
    # gram and the join back is hash-partitioned on the same key.
    dup_h = grams.groupBy("h").count().filter(F.col("count") > 1).select("h")
    dup_pos = grams.join(dup_h, "h").select("doc_id", "n_tok", "pos")
    # island merge: gram spans are [pos, pos+n-1], all the same length,
    # so ends are monotone in pos and two spans chain into one
    # contiguous duplicated region iff next_pos <= prev_pos + n
    order = Window.partitionBy("doc_id").orderBy("pos")
    run = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    islands = (
        dup_pos.withColumn(
            "_new",
            F.when(
                F.col("pos") > F.lag("pos").over(order) + n, F.lit(1)
            ).otherwise(
                F.when(F.lag("pos").over(order).isNull(), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ),
        )
        .withColumn("_isl", F.sum("_new").over(run))
        .groupBy("doc_id", "_isl")
        .agg(
            F.first("n_tok").alias("n_tok"),
            F.min("pos").alias("span_start"),
            F.least(F.max("pos") + (n - 1), F.first("n_tok") - 1).alias(
                "span_end"
            ),
        )
        .select("doc_id", "n_tok", "span_start", "span_end")
    )
    return islands


def dup_gram_spans(
    docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    spans: DataFrame | None = None,
) -> DataFrame:
    """Exact duplicate-substring span statistics per document — the
    k-gram form of suffix-array substring dedup (Lee et al. '21
    "Deduplicating Training Data Makes Language Models Better", §4.1
    ExactSubstr; ref analog: none — the reference stops at whole-doc
    dedup, this is the span-level extension its corpus jobs would need).

    A positional word n-gram is *duplicated* iff the identical gram
    occurs more than once in the corpus (another doc, or a repeat in the
    same doc). A token is duplicated iff some duplicated gram covers it;
    maximal contiguous runs of duplicated tokens are the spans. Any
    substring of >= n tokens shared by two documents is covered wall to
    wall (every one of its grams repeats), so span boundaries are exact
    for matches of length >= n; shorter incidental overlaps are below
    the detection threshold by construction.

    Output per doc: n_tokens, n_dup_spans, dup_tokens, max_span_tokens,
    dup_ratio. Docs with no duplicated gram (or no tokens) report zeros.

    Design for 100 TB: the gram stream is (int, int, int, md5) — fixed
    width, never the documents. Two exchanges: the per-doc lead window
    (reused by the island merge — same partitioning) and the global
    gram-count hash aggregate, which map-side-combines (partial counts
    per task) so the shuffle carries one row per distinct gram per task,
    not per occurrence. The key is full-width md5 for bit-exact
    oracle parity.

    `spans`: a precomputed `dup_span_islands` table (doc_id, n_tok,
    span_start, span_end) — pass it when `strip_dup_spans` shares the
    same islands (one gram build serves both); `n`/`text_col` must
    match the values it was built with.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if spans is None:
        spans = dup_span_islands(docs, n, text_col)
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias(
            "dup_tokens"
        ),
        F.max(F.col("span_end") - F.col("span_start") + 1).alias(
            "max_span_tokens"
        ),
    )
    base = docs.select(
        "doc_id", F.size(words(F.col(text_col))).cast("long").alias("n_tokens")
    )
    dup_tok = F.coalesce("dup_tokens", F.lit(0)).cast("long")
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        dup_tok.alias("dup_tokens"),
        F.coalesce("max_span_tokens", F.lit(0))
        .cast("long")
        .alias("max_span_tokens"),
        (
            dup_tok.cast("double")
            / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
        ).alias("dup_ratio"),
    )


def strip_dup_spans(
    docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    spans: DataFrame | None = None,
) -> DataFrame:
    """Rebuild each document with its duplicated spans removed — the
    executable companion of `dup_gram_spans` (what ExactSubstr dedup
    actually does to the corpus). Returns (doc_id, n_tokens,
    kept_tokens, clean_text); docs made empty keep clean_text = ''.

    Shape: the span table joins back to the positional word stream as
    an exploded (doc_id, dup position) anti-join — rows proportional to
    duplicated tokens, never tokens x spans — and the surviving words
    reassemble with an order-preserving sort_array over (pos, word)
    structs. Reassembly shuffles the surviving words once, grouped by
    doc; at 100 TB this is the unavoidable rewrite of the corpus
    itself, so the exchange is the payload, not overhead.

    `spans`: optional precomputed `dup_span_islands` table shared with
    `dup_gram_spans` (same contract as there).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if spans is None:
        spans = dup_span_islands(docs, n, text_col)
    dup_positions = spans.select(
        "doc_id",
        F.explode(F.sequence("span_start", "span_end")).alias("pos"),
    )
    w = words(F.col(text_col))
    tokens = docs.select("doc_id", F.posexplode(w).alias("pos", "word"))
    kept = tokens.join(dup_positions, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("kept_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
        ).alias("clean_text"),
    )
    base = docs.select(
        "doc_id", F.size(w).cast("long").alias("n_tokens")
    )
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# incremental (snapshot-vs-corpus) dedup
# ---------------------------------------------------------------------------


def incremental_dedup(
    new_docs: DataFrame,
    base_docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.8,
    pairs: DataFrame | None = None,
    **lsh_kwargs,
) -> DataFrame:
    """Verdict per INCOMING doc against an EXISTING corpus — the
    continuously-ingested-corpus path (a new crawl snapshot arrives;
    dedupe it against the 100 TB store without re-deduping the store):
    (doc_id, verdict) with verdict 'exact_dup' (byte-identical content
    exists in the base), 'near_dup' (exact Jaccard >= threshold with
    some base doc via MinHash-LSH candidates), else 'new'. doc_ids must
    be globally unique across the two frames.

    Stages: (1) exact — incoming content-md5 semi-matched against the
    distinct base md5 set (32-byte keys, never text); (2) near —
    MinHash-LSH banding over the union, candidate pairs restricted to
    CROSS-side before the exact-Jaccard verify join (base-base pairs
    are the store's own dedup problem, not this snapshot's; new-new
    pairs belong to a within-snapshot pass). Precedence exact > near.

    Scale note: this computes base-side signatures inline for oracle
    exactness. In production the base corpus's (doc_id, band, band_key)
    table and signature table are PRECOMPUTED and stored (parquet,
    bucketed by band key) — an incoming snapshot minhashes only itself
    and equi-joins the stored band table, exactly the pattern
    `simhash_cross_matches` implements for the streaming store. The
    per-stage shuffles are otherwise identical to `near_dup_pairs`.
    `lsh_kwargs` pass through (n, k, bands, rows, max_bucket,
    audit_sink, ...).

    `pairs`: a precomputed verified near-dup pair table covering the
    union of the two frames (doc_a, doc_b, jaccard >= threshold) — pass
    it when the store already maintains one (the shared persisted pair
    table in a pipeline, or the stored band-join output in production)
    to skip the inline MinHash build entirely; `threshold`/`lsh_kwargs`
    are then unused for the near stage.
    """
    if pairs is None:
        cols = ["doc_id", text_col]
        union = base_docs.select(*cols).unionByName(new_docs.select(*cols))
        pairs = near_dup_pairs(
            union, text_col=text_col, threshold=threshold, **lsh_kwargs
        )
    new_ids = new_docs.select("doc_id")
    na = new_ids.select(
        F.col("doc_id").alias("doc_a"), F.lit(True).alias("a_new")
    )
    nb = new_ids.select(
        F.col("doc_id").alias("doc_b"), F.lit(True).alias("b_new")
    )
    cross = (
        pairs.join(na, "doc_a", "left")
        .join(nb, "doc_b", "left")
        .filter(
            F.coalesce("a_new", F.lit(False))
            != F.coalesce("b_new", F.lit(False))
        )
    )
    near = (
        cross.select(
            F.when(F.coalesce("a_new", F.lit(False)), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_id")
        )
        .distinct()
        .withColumn("_near", F.lit(True))
    )
    base_md5 = (
        base_docs.select(F.md5(F.col(text_col)).alias("m"))
        .distinct()
        .withColumn("_exact", F.lit(True))
    )
    flagged = (
        new_docs.select("doc_id", F.md5(F.col(text_col)).alias("m"))
        .join(base_md5, "m", "left")
        .join(near, "doc_id", "left")
    )
    return flagged.select(
        "doc_id",
        F.when(F.coalesce("_exact", F.lit(False)), F.lit("exact_dup"))
        .when(F.coalesce("_near", F.lit(False)), F.lit("near_dup"))
        .otherwise(F.lit("new"))
        .alias("verdict"),
    )
