"""M5 LLM-pipeline operator tests: dedup recall on planted near-dups,
canonical-keep semantics, similarity-search ranking invariants, and
multimodal plumbing (batch shapes, deterministic fake decode).

The oracle-parity of every query is covered by test_entry_contract; these
tests check the *semantic* properties the oracles can't express.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_project_spark import fixtures as FX
from flink_project_spark.llm import dedup as DD
from flink_project_spark.llm import multimodal as MM
from flink_project_spark.llm import similarity as SIM
from flink_project_spark.llm import text as TX
from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module")
def docs(spark):
    return FX.load_tables(spark, SF_CORRECT)["documents"].cache()


@pytest.fixture(scope="module")
def emb(spark):
    return FX.load_tables(spark, SF_CORRECT)["embeddings"].cache()


def test_minhash_lsh_finds_planted_neardups(spark, docs):
    """The sf0.01 corpus plants 25 shuffled near-dup pairs (3-gram
    jaccard > 0.8, cleanly separated from the background) — the
    MinHash+LSH pipeline must recover them with exact-verify filtering.
    """
    pairs = DD.near_dup_pairs(docs, threshold=0.8).collect()
    assert len(pairs) == 25
    assert all(r.jaccard >= 0.8 and 0 <= r.est_jaccard <= 1.0 for r in pairs)


def test_dedup_keep_canonical_drops_only_losers(spark, docs):
    pairs = DD.near_dup_pairs(docs, threshold=0.8)
    kept = DD.dedup_keep_canonical(docs, pairs)
    n_docs = docs.count()
    n_losers = pairs.select("doc_b").distinct().count()
    assert kept.count() == n_docs - n_losers
    survivors = {r.doc_id for r in kept.select("doc_id").collect()}
    losers = {r.doc_b for r in pairs.select("doc_b").collect()}
    assert survivors.isdisjoint(losers)
    # the smaller side of every pair survives unless it lost elsewhere
    for r in pairs.select("doc_a").collect():
        assert r.doc_a in survivors or r.doc_a in losers


def test_shuffled_duplicates_have_identical_simhash(spark, docs):
    """Word-multiset-preserving shuffles leave SimHash unchanged, so
    planted near-dup pairs must collide at hamming ~0."""
    sh = DD.doc_simhash(docs)
    pairs = DD.near_dup_pairs(docs, threshold=0.8)
    joined = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("simhash", "sim_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("simhash", "sim_b"), "doc_b")
        .select(F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("h"))
        .collect()
    )
    assert len(joined) == 25
    # shuffles keep the multiset identical (h=0); planted pairs also have
    # small edits, so allow a few flipped bits — far below the ~16
    # expected for unrelated 32-bit hashes
    assert all(r.h <= 8 for r in joined), sorted(r.h for r in joined)


def test_brute_force_topk_invariants(spark, emb):
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    topk = SIM.brute_force_topk(emb, queries, k=5).collect()
    by_q: dict = {}
    for r in topk:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == queries.count()
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        sims = [r.cos_sim for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(-1.0001 <= s <= 1.0001 for s in sims)
        assert all(r.neighbor_id != q for r in rows)


def test_ivf_is_subset_quality_of_brute_force(spark, emb):
    """Single-probe IVF's best hit can't beat brute force's best hit."""
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    bf = {
        (r.query_id, r.rank): r.cos_sim
        for r in SIM.brute_force_topk(emb, queries, k=1).collect()
    }
    ivf = {
        (r.query_id, r.rank): r.cos_sim
        for r in SIM.ivf_topk(emb, queries, k=1).collect()
    }
    for key, sim in ivf.items():
        assert sim <= bf[key] + 1e-12


def test_quantization_preserves_cosine_closely(spark, emb):
    """Fixed-point 1e-6 quantization changes cosine by < 1e-4."""
    two = emb.limit(2).collect()
    import math

    a, b = [r.embedding for r in two]
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    exact = dot / (na * nb)
    qa = [math.floor(x * 1e6 + 0.5) for x in a]
    qb = [math.floor(x * 1e6 + 0.5) for x in b]
    qdot = sum(x * y for x, y in zip(qa, qb))
    qcos = qdot / math.sqrt(sum(x * x for x in qa) * sum(x * x for x in qb))
    assert abs(exact - qcos) < 1e-4


def test_language_id_deterministic_und_fallback(spark):
    df = spark.createDataFrame(
        [(1, "xyzzy plugh qwerty", "xx"), (2, "the cat and the hat", "en")],
        "doc_id long, text string, lang string",
    )
    got = {r.doc_id: r.pred_lang for r in TX.language_id(df).collect()}
    assert got[1] == "und"
    assert got[2] == "en"


def test_multimodal_decode_batch_shapes(spark, docs):
    media = MM.attach_payload(docs)
    decoded = MM.decode_media(media)
    rows = decoded.collect()
    assert len(rows) == docs.count()
    for r in rows[:20]:
        assert r.modality in ("image", "audio", "video")
        assert 16 <= r.width <= 16 + 1023 and 16 <= r.height <= 16 + 1023
        assert (r.n_frames == 1) == (r.modality == "image")
        assert len(r.checksum) == 32
    # decode is deterministic: same input -> same output
    again = {r.doc_id: (r.width, r.height) for r in MM.decode_media(media).collect()}
    assert all(again[r.doc_id] == (r.width, r.height) for r in rows)


def test_decode_media_udf_matches_native(spark, docs):
    """The Arrow-batched codec hook and the native stub produce
    identical frames (same fake dims, same checksum)."""
    media = MM.attach_payload(docs.limit(60))
    native = {tuple(r) for r in MM.decode_media(media).collect()}
    udf = {tuple(r) for r in MM.decode_media_udf(media).collect()}
    assert native == udf


def test_simhash_zero_token_docs_get_zero(spark):
    df = spark.createDataFrame(
        [(1, "   "), (2, "hello world hello")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.simhash for r in DD.doc_simhash(df).collect()}
    assert got[1] == 0
    assert got[2] != 0


def test_lsh_overflow_reports_capped_buckets(spark):
    """5 identical docs collide in every band; cap at 3 -> each bucket
    reports 2 dropped, and pairs only form among the 3 kept doc_ids."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta") for i in range(5)],
        "doc_id long, text string",
    )
    sigs = DD.doc_signatures(docs).select("doc_id", "sig")
    over = DD.lsh_overflow(sigs, max_bucket=3).collect()
    assert over
    assert all(r.members == 5 and r.dropped == 2 for r in over)
    pairs = DD.lsh_pairs(sigs, max_bucket=3).collect()
    ids = {x for r in pairs for x in (r.doc_a, r.doc_b)}
    assert ids == {0, 1, 2}
    assert not DD.lsh_overflow(sigs, max_bucket=5).collect()


def test_frame_sample_stride(spark, docs):
    decoded = MM.decode_media(MM.attach_payload(docs))
    frames = MM.frame_sample(decoded, every=30)
    per_doc = (
        frames.groupBy("doc_id", "n_frames")
        .agg(F.count(F.lit(1)).alias("n"), F.max("frame_idx").alias("mx"))
        .collect()
    )
    assert len(per_doc) > 0
    for r in per_doc:
        assert r.n == (r.n_frames - 1) // 30 + 1
        assert r.mx <= r.n_frames - 1


def test_resize_preserves_aspect_and_bounds(spark, docs):
    plan = MM.resize_plan(MM.decode_media(MM.attach_payload(docs)), max_side=256)
    for r in plan.collect():
        assert max(r.target_width, r.target_height) <= 256
        if max(r.width, r.height) <= 256:
            assert (r.target_width, r.target_height) == (r.width, r.height)
        else:
            # aspect ratio preserved within integer truncation
            assert abs(
                r.target_width / r.target_height - r.width / r.height
            ) < 0.05 or min(r.target_width, r.target_height) >= 1


def test_connected_components_chain_and_islands(spark):
    """A~B~C chain plus a separate D~E island plus isolated F:
    components are min-labeled; exactly one survivor per component."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    comp = {
        r.doc_id: r.component
        for r in DD.connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dedup_cc_keeps_exactly_one_per_component(spark):
    """Transitive chain A~B~C (A and C NOT paired directly) must
    collapse to ONE survivor under mode='cc'. single_link also happens
    to keep one here; the star case below is where they diverge."""
    docs = spark.createDataFrame(
        [(i, "en", "web") for i in range(1, 7)], ["doc_id", "lang", "source"]
    )
    chain = spark.createDataFrame([(1, 2), (2, 3)], ["doc_a", "doc_b"])
    kept_cc = {
        r.doc_id
        for r in DD.dedup_keep_canonical(docs, chain, mode="cc").collect()
    }
    assert kept_cc == {1, 4, 5, 6}


def test_dedup_cc_vs_single_link_divergence(spark):
    """Star into a shared dup (1~3, 2~3): single_link keeps both local
    minima 1 AND 2; cc keeps only the component minimum 1."""
    docs = spark.createDataFrame(
        [(i, "en", "web") for i in range(1, 5)], ["doc_id", "lang", "source"]
    )
    star = spark.createDataFrame([(1, 3), (2, 3)], ["doc_a", "doc_b"])
    kept_sl = {
        r.doc_id
        for r in DD.dedup_keep_canonical(docs, star, mode="single_link").collect()
    }
    kept_cc = {
        r.doc_id
        for r in DD.dedup_keep_canonical(docs, star, mode="cc").collect()
    }
    assert kept_sl == {1, 2, 4}
    assert kept_cc == {1, 4}


def test_connected_components_empty_pairs(spark):
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert DD.connected_components(empty).count() == 0


# ---------------------------------------------------------------------------
# curation operators (train split / source quota / decontamination)
# ---------------------------------------------------------------------------


def test_train_split_deterministic_and_complete(spark):
    from flink_project_spark.llm import curation as CUR

    docs = spark.createDataFrame(
        [(i, f"text {i}", "en", "web", 10) for i in range(500)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    a = CUR.train_split(docs).groupBy("split").count().collect()
    b = CUR.train_split(docs).groupBy("split").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    counts = {r["split"]: r["count"] for r in a}
    assert sum(counts.values()) == 500          # every row labeled
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] > 400                # ~98% of 500

    import pytest

    with pytest.raises(ValueError, match="sum to 100"):
        CUR.train_split(docs, ratios=(("train", 50), ("val", 10)))


def test_source_quota_caps_and_prefers_longer(spark):
    from flink_project_spark.llm import curation as CUR

    rows = [(i, f"t{i}", "en", f"s{i % 2}", 100 + i) for i in range(10)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    kept = CUR.source_quota(docs, quota=3).collect()
    by_source = {}
    for r in kept:
        by_source.setdefault(r["source"], []).append(r["n_chars"])
    assert all(len(v) == 3 for v in by_source.values())
    # longest docs of each source survive
    assert sorted(by_source["s0"]) == [104, 106, 108]
    assert sorted(by_source["s1"]) == [105, 107, 109]


def test_decontaminate_flags_exact_and_near_matches(spark):
    from flink_project_spark.llm import curation as CUR

    bench_text = "the quick brown fox jumps over the lazy dog every day"
    near_text = "the quick brown fox jumps over the lazy dog every night"
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    benchmark = spark.createDataFrame(
        [(0, bench_text, "en", "bench", len(bench_text))], schema
    )
    corpus = spark.createDataFrame(
        [
            (1, bench_text.upper(), "en", "web", len(bench_text)),  # exact after normalization
            (2, near_text, "en", "web", len(near_text)),            # shares the min shingle
            (3, "completely unrelated words here", "en", "web", 31),
        ],
        schema,
    )
    flags = {r["doc_id"]: r["match_type"] for r in
             CUR.decontaminate(corpus, benchmark).collect()}
    assert flags.get(1) == "exact"
    assert 3 not in flags
    # doc 2 may or may not share the 1-perm min shingle; if flagged it
    # must be the coarse ngram tag, never exact
    assert flags.get(2) in (None, "ngram")


def test_v32_hash_parity_across_engines(spark):
    """The md5-derived v32 hash is the determinism foundation of every
    dedup/LSH/split operator — prove Spark, DuckDB and the Python twin
    agree on a diverse corpus (ascii, unicode, whitespace, empty-ish)."""
    import duckdb

    from flink_project_spark.llm import hashing as H

    samples = (
        [f"plain_{i}" for i in range(50)]
        + [f"sp ace\t{i}\n" for i in range(10)]
        + [f"uni_ü_漢_{i}" for i in range(10)]
        + ["", " ", "|", "a|b", "0", "split:42"]
    )
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {
        r["s"]: r["h"]
        for r in df.select("s", H.v32(F.col("s")).alias("h")).collect()
    }
    py = {s: H.v32_py(s) for s in samples}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(s,) for s in samples])
    duck = dict(con.execute(f"SELECT s, {H.v32_sql('s')} FROM t").fetchall())
    assert got == py
    assert {k: int(v) for k, v in duck.items()} == py


def test_connected_components_random_graphs_vs_union_find(spark):
    """Property check: on seeded random graphs the large-star/small-star
    result equals an independent driver-side union-find."""
    import random

    for seed in (7, 23, 91):
        rng = random.Random(seed)
        n = 60
        edges = sorted(
            {
                tuple(sorted((rng.randrange(n), rng.randrange(n))))
                for _ in range(45)
            }
        )
        edges = [(f"d{a:03d}", f"d{b:03d}") for a, b in edges if a != b]

        parent: dict[str, str] = {}

        def find(x: str) -> str:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {x: find(x) for x in parent}

        pairs = spark.createDataFrame(edges, "doc_a string, doc_b string")
        got = {
            r.doc_id: r.component
            for r in DD.connected_components(pairs).collect()
        }
        assert got == expected, (seed, got, expected)


# ---------------------------------------------------------------------------
# repetition signals, PII counting, sampling
# ---------------------------------------------------------------------------


def test_repetition_stats_flags_degenerate_text(spark):
    from flink_project_spark.llm import text as TX

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam", "en", "web", 19),     # 1 word repeated
            (2, "a b a b a b", "en", "web", 11),             # repeated bigram
            (3, "all words here differ", "en", "web", 21),   # no repetition
            (4, "", "en", "web", 0),                         # empty doc
            (5, "solo", "en", "web", 4),                     # no bigrams
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["doc_id"]: r.asDict() for r in TX.repetition_stats(docs).collect()}
    assert got[1]["n_words"] == 4
    assert got[1]["dup_word_frac"] == 0.75          # 1 distinct of 4
    assert got[1]["top_word_frac"] == 1.0
    assert got[1]["top_bigram_frac"] == 1.0         # "spam spam" x3
    assert got[2]["top_bigram_frac"] == 0.6         # "a b" 3 of 5 bigrams
    assert got[3]["dup_word_frac"] == 0.0
    assert got[3]["top_word_frac"] == 0.25
    assert got[4]["n_words"] == 0 and got[4]["top_bigram_frac"] == 0.0
    assert got[5]["n_words"] == 1 and got[5]["top_bigram_frac"] == 0.0


def test_pii_stats_counts_patterns(spark):
    from flink_project_spark.llm import text as TX

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.com and c.d+e@f-g.org here", "en", "web", 30),
            (2, "server at 10.0.0.1 and 192.168.1.255", "en", "web", 30),
            (3, "call +4915112345678 now", "en", "crawl", 23),
            (4, "no pii at all", "en", "crawl", 13),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["source"]: r.asDict() for r in TX.pii_stats(docs).collect()}
    assert got["web"]["email_matches"] == 2
    assert got["web"]["ipv4_matches"] == 2
    assert got["web"]["phone_matches"] == 0
    assert got["web"]["docs_with_pii"] == 2
    assert got["crawl"]["phone_matches"] == 1
    assert got["crawl"]["docs_with_pii"] == 1
    assert got["crawl"]["n_docs"] == 2


def test_stratified_sample_exact_n_and_salt_independence(spark):
    from flink_project_spark.llm import curation as CUR

    docs = spark.createDataFrame(
        [(i, f"t{i}", ["en", "de", "fr"][i % 3], "web", 10) for i in range(300)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    s1 = CUR.stratified_sample(docs, 10, by="lang").collect()
    per_lang: dict[str, int] = {}
    for r in s1:
        per_lang[r["lang"]] = per_lang.get(r["lang"], 0) + 1
    assert per_lang == {"en": 10, "de": 10, "fr": 10}
    # deterministic: the same call returns the identical id set
    s2 = CUR.stratified_sample(docs, 10, by="lang").collect()
    assert sorted(r["doc_id"] for r in s1) == sorted(r["doc_id"] for r in s2)
    # a different salt draws a (near-certainly) different set
    s3 = CUR.stratified_sample(docs, 10, by="lang", salt="other").collect()
    assert sorted(r["doc_id"] for r in s3) != sorted(r["doc_id"] for r in s1)


def test_sample_by_hash_rate_and_stability(spark):
    import pytest

    from flink_project_spark.llm import curation as CUR

    docs = spark.createDataFrame(
        [(i, f"t{i}", "en", "web", 10) for i in range(1000)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    kept = CUR.sample_by_hash(docs, 10).select("doc_id").collect()
    # ~10% in expectation; avalanche hash keeps it in a loose band
    assert 50 <= len(kept) <= 150
    # subset stability: the 10% draw is a subset of the 20% draw
    kept20 = {r["doc_id"] for r in CUR.sample_by_hash(docs, 20).collect()}
    assert {r["doc_id"] for r in kept} <= kept20
    assert len(CUR.sample_by_hash(docs, 0).collect()) == 0
    assert len(CUR.sample_by_hash(docs, 100).collect()) == 1000
    with pytest.raises(ValueError, match="0..100"):
        CUR.sample_by_hash(docs, 101)


def test_kmeans_matches_numpy_lloyd(spark):
    """Full-pipeline cross-check: the DataFrame Lloyd loop reproduces a
    pure-numpy Lloyd run from the identical deterministic init."""
    import hashlib
    import random

    import numpy as np

    from flink_project_spark.llm import similarity as SIM

    rnd = random.Random(3)
    centers = [[0.0] * 8, [10.0] * 8, [-10.0, 10.0] * 4]
    rows = []
    for i in range(120):
        c = centers[i % 3]
        rows.append((i, [float(c[d] + rnd.uniform(-1, 1)) for d in range(8)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    k, iters = 3, 4
    got = SIM.kmeans_train(emb, k=k, iters=iters)

    # numpy twin with the same md5-order init and same update rule
    by_id = dict(rows)
    order = sorted(
        by_id, key=lambda i: hashlib.md5(f"kmeans:{i}".encode()).hexdigest()
    )
    cent = np.array([by_id[i] for i in order[:k]])
    X = np.array([by_id[i] for i in sorted(by_id)])
    for _ in range(iters):
        d2 = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for ci in range(k):
            pts = X[assign == ci]
            if len(pts):
                cent[ci] = pts.mean(axis=0)
    assert np.allclose(np.array(got), cent, rtol=1e-9, atol=1e-9)

    # the assignment operator agrees with the numpy argmin on the
    # trained model (ties impossible here: clusters are separated)
    d2 = ((X[:, None, :] - np.array(got)[None, :, :]) ** 2).sum(axis=2)
    exp_assign = {i: int(c) for i, c in zip(sorted(by_id), d2.argmin(axis=1))}
    got_assign = {
        r["vec_id"]: r["cell"]
        for r in SIM.kmeans_assign(emb, got).select("vec_id", "cell").collect()
    }
    assert got_assign == exp_assign


def test_kmeans_empty_cell_keeps_centroid(spark):
    from flink_project_spark.llm import similarity as SIM

    # two tight points far from nothing: k=3 leaves >=1 cell empty
    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.1, 0.0]), (3, [0.2, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = SIM.kmeans_train(emb, k=3, iters=2)
    assert len(cents) == 3 and all(len(c) == 2 for c in cents)


def test_ivf_multiprobe_recall_monotone_and_exact_at_full_probe(spark):
    """Recall@k vs brute force grows monotonically in `probes` (each
    extra probe only adds candidates) and equals 1.0 when every cell is
    probed — the knob that makes IVF tunable between the single-probe
    scale path and the exact baseline."""
    import random

    from flink_project_spark.llm import similarity as SIM

    rnd = random.Random(42)
    dim, n, k_cells = 8, 300, 6
    vecs = [
        (i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(n)
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") % 37 == 0)
    model = SIM.kmeans_train(emb, k=k_cells, iters=3)

    exact = {
        (r.query_id, r.neighbor_id)
        for r in SIM.brute_force_topk(emb, queries, k=5).collect()
    }

    def recall(probes):
        got = {
            (r.query_id, r.neighbor_id)
            for r in SIM.ivf_topk_probed(
                emb, queries, model, k=5, probes=probes
            ).collect()
        }
        return len(got & exact) / len(exact)

    r1, r2, rall = recall(1), recall(2), recall(k_cells)
    assert r1 <= r2 <= rall
    assert rall == 1.0
    assert r1 > 0.3  # single probe still finds the home-cell neighbors


def test_ivf_probed_accepts_prebucketed_corpus(spark):
    """The 100 TB path: a corpus already carrying its cell assignment
    (parquet partitioned by cell) skips the reassignment scan and
    returns identical results."""
    import random

    from flink_project_spark.llm import similarity as SIM

    rnd = random.Random(7)
    vecs = [(i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(120)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") % 29 == 0)
    model = SIM.kmeans_train(emb, k=4, iters=2)
    inline = {
        tuple(r)
        for r in SIM.ivf_topk_probed(emb, queries, model, k=3, probes=2).collect()
    }
    pre = SIM.kmeans_assign(emb, model).withColumnRenamed("cell", "my_cell")
    bucketed = {
        tuple(r)
        for r in SIM.ivf_topk_probed(
            pre, queries, model, k=3, probes=2, corpus_cell_col="my_cell"
        ).collect()
    }
    assert inline == bucketed and len(inline) > 0


def test_dup_gram_spans_exact_boundaries(spark):
    """ExactSubstr k-gram semantics on a hand-built corpus: a 6-token
    run shared by two docs is flagged wall to wall (and nothing else),
    whole-doc duplicates report ratio 1.0, unique docs report zeros,
    and sub-n incidental overlaps stay below the detection threshold."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta unique one two three"),
            (2, "prefix words alpha beta gamma delta epsilon zeta sfx tail"),
            (3, "totally different content here nothing shared at all"),
            (4, ""),
            (5, "alpha beta gamma delta epsilon zeta unique one two three"),
            (6, "alpha beta only"),  # 3-token overlap < n: not flagged
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in DD.dup_gram_spans(docs, n=5).collect()
    }
    assert len(out) == 6
    # docs 1/5 are identical: every token duplicated, one span
    for d in (1, 5):
        assert out[d]["n_dup_spans"] == 1
        assert out[d]["dup_tokens"] == 10
        assert out[d]["max_span_tokens"] == 10
        assert out[d]["dup_ratio"] == 1.0
    # doc 2 shares exactly the 6-token run alpha..zeta (positions 2-7):
    # two 5-grams of that run repeat in docs 1/5, covering 6 tokens
    assert out[2]["n_dup_spans"] == 1
    assert out[2]["dup_tokens"] == 6
    assert out[2]["max_span_tokens"] == 6
    # unique / empty / below-threshold docs report zeros
    for d in (3, 4, 6):
        assert out[d]["n_dup_spans"] == 0
        assert out[d]["dup_tokens"] == 0
        assert out[d]["dup_ratio"] == 0.0


def test_strip_dup_spans_rebuilds_survivors(spark):
    """The rewrite keeps exactly the un-flagged tokens in order, and
    stripping is idempotent-safe for fully-duplicated docs (empty)."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta unique one two three"),
            (2, "prefix words alpha beta gamma delta epsilon zeta sfx tail"),
            (3, "totally different content here nothing shared at all"),
            (5, "alpha beta gamma delta epsilon zeta unique one two three"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in DD.strip_dup_spans(docs, n=5).collect()}
    assert out[2]["clean_text"] == "prefix words sfx tail"
    assert out[2]["kept_tokens"] == 4
    assert out[3]["clean_text"] == docs.filter(
        F.col("doc_id") == 3
    ).head()["text"]
    assert out[1]["clean_text"] == "" and out[1]["kept_tokens"] == 0
    assert out[5]["clean_text"] == "" and out[5]["kept_tokens"] == 0
    # conservation: kept + flagged = total per doc
    spans = {
        r["doc_id"]: r for r in DD.dup_gram_spans(docs, n=5).collect()
    }
    for d, r in out.items():
        assert r["kept_tokens"] + spans[d]["dup_tokens"] == r["n_tokens"]


def test_incremental_dedup_verdicts(spark):
    """Snapshot-vs-corpus: exact copies flag exact_dup, high-Jaccard
    variants flag near_dup, unrelated docs stay new — and base-base
    duplicates never leak into the incoming verdicts."""
    base_text = " ".join(f"tok{i}" for i in range(40))
    near_text = " ".join(f"tok{i}" for i in range(39)) + " changed"
    base = spark.createDataFrame(
        [
            (100, base_text),
            (101, "base only content entirely different " * 5),
            # base-internal duplicate pair — must not affect verdicts
            (102, "repeated base doc " * 10),
            (103, "repeated base doc " * 10),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, base_text),  # exact copy of base 100
            (2, near_text),  # near dup of base 100
            (3, "completely unrelated fresh material nothing shared"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["verdict"]
        for r in DD.incremental_dedup(new, base).collect()
    }
    assert out == {1: "exact_dup", 2: "near_dup", 3: "new"}


def test_heuristic_rules_c4_and_gopher(spark):
    """Page-level C4 and Gopher rules on hand-built docs covering the
    branches the synthetic corpus can't (punctuation, braces, lorem
    ipsum, symbol-heavy and non-alpha pages)."""
    good = (
        "The quick brown fox jumps over the lazy dog and runs to be "
        "free of all that noise with great joy and have speed. " * 4
        + "It works. It really does."
    )
    docs = spark.createDataFrame(
        [
            (1, good),  # passes both gates
            (2, "Short. Text. Here."),  # C4 ok count, gopher too short
            (3, good + " {"),  # brace: c4 fails
            (4, good.replace("fox", "Lorem Ipsum dolor")),  # lorem
            (5, "no terminal punctuation at all " * 20),  # c4 fails
            (6, "### " * 60 + "."),  # symbol-heavy, non-alpha words
            (7, ""),  # empty: everything false/zero
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TX.heuristic_rules(docs).collect()}
    assert out[1]["c4_keep"] and out[1]["gopher_keep"]
    assert out[1]["stop_hits"] >= 2 and out[1]["ends_terminal"]
    assert out[2]["n_sentences"] == 3 and not out[2]["gopher_keep"]
    assert out[3]["has_brace"] and not out[3]["c4_keep"]
    assert out[4]["has_lorem"] and not out[4]["c4_keep"]
    assert not out[5]["ends_terminal"] and not out[5]["c4_keep"]
    assert out[6]["symbol_ratio"] > 0.1 and out[6]["alpha_word_ratio"] < 0.8
    assert not out[6]["gopher_keep"]
    assert out[7]["n_words"] == 0 and not out[7]["c4_keep"]
    assert not out[7]["gopher_keep"]


def test_dup_gram_spans_random_sweep_vs_python_twin(spark):
    """Seeded random corpora (tiny vocab => organic gram collisions,
    plus planted cross-doc copies): engine spans must equal a
    brute-force covered-token-run reference exactly, and strip must
    keep exactly the uncovered tokens in order."""
    import random

    n = 4
    for seed in (11, 23, 47):
        rnd = random.Random(seed)
        vocab = [f"w{i}" for i in range(12)]
        texts = {}
        for d in range(30):
            texts[d] = " ".join(
                rnd.choice(vocab) for _ in range(rnd.randint(0, 25))
            )
        # plant a shared 9-token run in three docs
        run = " ".join(rnd.choice(vocab) for _ in range(9))
        for d in (3, 7, 19):
            texts[d] = texts[d] + " " + run

        grams: dict[str, int] = {}
        split = {d: t.split() for d, t in texts.items()}
        for ws in split.values():
            ng = max(len(ws) - n + 1, 1) if ws else 0
            for i in range(ng):
                g = " ".join(ws[i : i + n])
                grams[g] = grams.get(g, 0) + 1
        expected = {}
        kept_expected = {}
        for d, ws in split.items():
            covered = set()
            ng = max(len(ws) - n + 1, 1) if ws else 0
            for i in range(ng):
                if grams[" ".join(ws[i : i + n])] > 1:
                    covered.update(range(i, min(i + n, len(ws))))
            spans = []
            for j in sorted(covered):
                if spans and j == spans[-1][1] + 1:
                    spans[-1][1] = j
                else:
                    spans.append([j, j])
            expected[d] = (
                len(spans),
                sum(e - s + 1 for s, e in spans),
                max((e - s + 1 for s, e in spans), default=0),
            )
            kept_expected[d] = " ".join(
                w for j, w in enumerate(ws) if j not in covered
            )

        docs = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (
                r["n_dup_spans"],
                r["dup_tokens"],
                r["max_span_tokens"],
            )
            for r in DD.dup_gram_spans(docs, n=n).collect()
        }
        assert got == expected, f"seed {seed}"
        stripped = {
            r["doc_id"]: r["clean_text"]
            for r in DD.strip_dup_spans(docs, n=n).collect()
        }
        assert stripped == kept_expected, f"seed {seed}"


def test_gap_fill_counts_dense_calendar(spark):
    """Every (key, bucket) pair of the observed range is present, zeros
    where no events fall, sparse counts preserved, NULL timestamps
    ignored, and the dense row count is exactly |keys| x |buckets|."""
    from flink_project_spark.operators.windows import gap_fill_counts

    rows = [
        (1, "2024-01-01 00:05:00", "a"),
        (2, "2024-01-01 00:07:00", "a"),
        (3, "2024-01-01 03:30:00", "a"),  # hours 1-2 empty for 'a'
        (4, "2024-01-01 01:10:00", "b"),
        (5, None, "b"),  # NULL ts: counted nowhere
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_s string, event_type string"
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    out = gap_fill_counts(ev, "ts", "1 hour", ["event_type"]).collect()
    # range: 00:00..03:00 -> 4 buckets x 2 keys = 8 rows
    assert len(out) == 8
    got = {(str(r["window_start"]), r["event_type"]): r["cnt"] for r in out}
    assert got[("2024-01-01 00:00:00", "a")] == 2
    assert got[("2024-01-01 01:00:00", "a")] == 0
    assert got[("2024-01-01 02:00:00", "a")] == 0
    assert got[("2024-01-01 03:00:00", "a")] == 1
    assert got[("2024-01-01 01:00:00", "b")] == 1
    assert sum(v for (_, k), v in got.items() if k == "b") == 1


def test_payload_near_dups_byte_edits(spark):
    """Blob near-dup: a small byte edit keeps the pair within the
    Hamming budget, unrelated payloads never pair, empty blobs report
    simhash 0 and do not near-match non-empty ones."""
    import random

    rnd = random.Random(5)
    blob = bytes(rnd.randrange(32, 127) for _ in range(4000))
    edited = blob[:1000] + b"X" + blob[1001:]  # 1-byte substitution
    other = bytes(rnd.randrange(32, 127) for _ in range(4000))
    media = spark.createDataFrame(
        [(1, blob), (2, edited), (3, other), (4, b"")],
        "doc_id long, payload binary",
    )
    sims = {
        r["doc_id"]: r["simhash"]
        for r in MM.payload_simhash(media).collect()
    }
    assert sims[4] == 0
    assert sims[1] != sims[3]
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in MM.payload_near_dups(media).collect()
    }
    assert (1, 2) in pairs
    assert all(4 not in p and 3 not in p for p in pairs)


def test_cdc_chunks_insertion_robust(spark):
    """Content-defined chunking: deterministic across runs; covers the
    blob exactly (lens sum to n, contiguous indices); chunk sizes
    respect the clamps; and — the property fixed-stride chunking lacks
    — a single-byte INSERTION preserves the vast majority of chunk
    hashes."""
    import random

    rnd = random.Random(13)
    blob = bytes(rnd.randrange(256) for _ in range(20000))
    mutated = blob[:9000] + b"Z" + blob[9000:]
    media = spark.createDataFrame(
        [(1, blob), (2, mutated), (3, b"")],
        "doc_id long, payload binary",
    )
    rows = MM.cdc_chunk_hashes(media).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_doc  # empty blob: no chunks
    for d, rs in by_doc.items():
        rs.sort(key=lambda r: r["chunk_idx"])
        assert [r["chunk_idx"] for r in rs] == list(range(len(rs)))
        total = sum(r["chunk_len"] for r in rs)
        assert total == (20000 if d == 1 else 20001)
        # every chunk within clamps except possibly the final tail
        for r in rs[:-1]:
            assert MM.CDC_MIN_CHUNK <= r["chunk_len"] <= MM.CDC_MAX_CHUNK
        assert rs[-1]["chunk_len"] <= MM.CDC_MAX_CHUNK
    # determinism
    again = {
        (r["doc_id"], r["chunk_idx"], r["chunk_md5"])
        for r in MM.cdc_chunk_hashes(media).collect()
    }
    assert again == {
        (r["doc_id"], r["chunk_idx"], r["chunk_md5"]) for r in rows
    }
    # insertion robustness: >= 80% of the original chunk hashes survive
    h1 = [r["chunk_md5"] for r in sorted(by_doc[1], key=lambda r: r["chunk_idx"])]
    h2 = {r["chunk_md5"] for r in by_doc[2]}
    survived = sum(1 for h in h1 if h in h2)
    assert survived / len(h1) >= 0.8, (survived, len(h1))


def test_blob_chunk_overlap_pairs_mutated_blobs(spark):
    """CDC chunk-overlap pairing: an inserted-byte mutant pairs with
    its original on many shared chunks; an unrelated blob pairs with
    neither."""
    import random

    rnd = random.Random(29)
    blob = bytes(rnd.randrange(256) for _ in range(20000))
    mutated = blob[:5000] + b"QQ" + blob[5000:]
    other = bytes(rnd.randrange(256) for _ in range(20000))
    media = spark.createDataFrame(
        [(1, blob), (2, mutated), (3, other)],
        "doc_id long, payload binary",
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["shared_chunks"]
        for r in MM.blob_chunk_overlap(
            MM.cdc_chunk_hashes(media), min_shared=3
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 10
    assert all(3 not in p for p in pairs)


def test_incremental_dedup_precomputed_pairs_equivalence(spark, docs):
    """Passing the precomputed union pair table (the production/store
    path the contract query uses) yields exactly the inline-minhash
    verdicts."""
    new = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    union = base.unionByName(new)
    pairs = DD.near_dup_pairs(union, log_overflow=False)
    via_pairs = {
        (r["doc_id"], r["verdict"])
        for r in DD.incremental_dedup(new, base, pairs=pairs).collect()
    }
    inline = {
        (r["doc_id"], r["verdict"])
        for r in DD.incremental_dedup(new, base, log_overflow=False).collect()
    }
    assert via_pairs == inline and len(inline) > 0


def test_pq_adc_exact_on_codeword_corpus(spark):
    """ADC is exact when every corpus vector IS a codeword combination:
    the lookup-table distance then equals the true squared L2, so PQ
    top-1 must return the brute-force nearest neighbor. Built by
    training codebooks, snapping the corpus to its own reconstruction,
    and searching the snapped corpus."""
    import random

    from flink_project_spark.llm import similarity as SIM

    rnd = random.Random(7)
    dim, n, m, kc = 8, 120, 4, 4
    vecs = [(i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(n)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    books = SIM.pq_train(emb, m=m, k=kc, dim=dim, iters=2)
    sub = dim // m

    # snap: reconstruct each vector from its codes (driver-side twin of
    # pq_assign on 120 rows)
    codes = {
        r.vec_id: list(r.codes)
        for r in SIM.pq_assign(emb, books).select("vec_id", "codes").collect()
    }
    snapped = [
        (
            i,
            [
                float(books[s][codes[i][s]][d])
                for s in range(m)
                for d in range(sub)
            ],
        )
        for i, _ in vecs
    ]
    semb = spark.createDataFrame(
        snapped, "vec_id long, embedding array<float>"
    )
    queries = semb.filter(F.col("vec_id") % 29 == 0)

    got = {
        (r.query_id, r.neighbor_id)
        for r in SIM.pq_topk(semb, queries, books, k=1).collect()
    }
    # brute-force L2 twin in python over the snapped corpus
    sn = dict(snapped)
    want = set()
    for qid in sn:
        if qid % 29 != 0:
            continue
        best = min(
            ((sum((a - b) ** 2 for a, b in zip(sn[i], sn[qid])), i)
             for i in sn if i != qid),
        )
        want.add((qid, best[1]))
    assert got == want


def test_pq_topk_recall_and_precoded_corpus(spark):
    """PQ ADC top-k recall vs exact L2 brute force is well above chance
    on gaussian data, and a pre-encoded corpus (the stored compressed
    index — the 100 TB path) returns IDENTICAL results to inline
    encoding."""
    import random

    from flink_project_spark.llm import similarity as SIM

    rnd = random.Random(13)
    dim, n = 8, 300
    vecs = [(i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(n)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") % 37 == 0)
    books = SIM.pq_train(emb, m=4, k=8, dim=dim, iters=2)

    got = SIM.pq_topk(emb, queries, books, k=10)
    pairs = {(r.query_id, r.neighbor_id) for r in got.collect()}

    # exact L2 top-10 twin
    v = dict(vecs)
    hits = 0
    total = 0
    for qid in v:
        if qid % 37 != 0:
            continue
        d = sorted(
            (sum((a - b) ** 2 for a, b in zip(v[i], v[qid])), i)
            for i in v if i != qid
        )[:10]
        want = {(qid, i) for _, i in d}
        hits += len(want & pairs)
        total += len(want)
    assert hits / total > 0.4, hits / total  # m=4,k=8 codes, 10-NN

    pre = SIM.pq_assign(emb, books).select("vec_id", "codes")
    got2 = SIM.pq_topk(
        pre, queries, books, k=10, corpus_codes_col="codes"
    )
    assert {(r.query_id, r.neighbor_id, r.rank) for r in got2.collect()} == {
        (r.query_id, r.neighbor_id, r.rank) for r in got.collect()
    }


def test_ivfpq_full_probe_equals_pq_topk_and_precoded(spark):
    """IVFADC with probes = n_cells scores every candidate pq_topk
    scores, so the rankings must be IDENTICAL (cell pruning removes
    nothing when every cell is probed); and the fully-precomputed
    stored-index path (cell + codes columns) matches inline
    assignment exactly."""
    import random

    from flink_project_spark.llm import similarity as SIM

    rnd = random.Random(17)
    dim, n, n_cells = 8, 200, 4
    vecs = [(i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(n)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") % 41 == 0)
    cents = SIM.kmeans_train(emb, k=n_cells, iters=2)
    books = SIM.pq_train(emb, m=4, k=8, dim=dim, iters=2)

    unpruned = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in SIM.pq_topk(emb, queries, books, k=8).collect()
    }
    full_probe = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in SIM.ivfpq_topk(
            emb, queries, cents, books, k=8, probes=n_cells
        ).collect()
    }
    assert full_probe == unpruned and len(unpruned) > 0

    # stored-index path: (cell, id, codes) precomputed
    stored = SIM.pq_assign(
        SIM.kmeans_assign(emb, cents), books
    ).select("vec_id", "cell", "codes")
    got_pre = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in SIM.ivfpq_topk(
            stored, queries, cents, books, k=8, probes=n_cells,
            corpus_cell_col="cell", corpus_codes_col="codes",
        ).collect()
    }
    assert got_pre == unpruned


def test_ivfpq_pruned_recall_and_candidate_containment(spark):
    """With probes < n_cells: (a) every returned neighbor REALLY lives
    in one of its query's probed cells (the pruning contract), (b)
    per-query results are a rank-consistent prefix of the candidates
    pq_topk would rank within those cells, and (c) recall@k vs the
    unpruned ADC ranking is well above chance on gaussian data."""
    import random

    from flink_project_spark.llm import similarity as SIM

    rnd = random.Random(23)
    dim, n, n_cells, probes = 8, 300, 6, 2
    vecs = [(i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(n)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") % 37 == 0)
    cents = SIM.kmeans_train(emb, k=n_cells, iters=2)
    books = SIM.pq_train(emb, m=4, k=8, dim=dim, iters=2)

    got = SIM.ivfpq_topk(
        emb, queries, cents, books, k=10, probes=probes
    ).collect()
    assert len(got) > 0

    # (a) containment: neighbor's cell must be among the query's probes
    cell_of = {
        r.vec_id: r.cell
        for r in SIM.kmeans_assign(emb, cents).select("vec_id", "cell").collect()
    }
    probed = {}
    for r in SIM.kmeans_assign_probes(
        queries, cents, probes
    ).select("vec_id", "cell").collect():
        probed.setdefault(r.vec_id, set()).add(r.cell)
    for r in got:
        assert cell_of[r.neighbor_id] in probed[r.query_id], r

    # (b)+(c) vs the unpruned ADC ranking
    unpruned = SIM.pq_topk(emb, queries, books, k=10).collect()
    got_pairs = {(r.query_id, r.neighbor_id) for r in got}
    un_pairs = {(r.query_id, r.neighbor_id) for r in unpruned}
    assert len(got_pairs & un_pairs) / len(un_pairs) > 0.4

    # (b) rank consistency: restricting the unpruned ranking to probed
    # cells and re-ranking must reproduce the pruned result exactly
    re_ranked = {}
    by_q = {}
    for r in sorted(
        SIM.pq_topk(emb, queries, books, k=n).collect(),
        key=lambda r: (r.query_id, r.rank),
    ):
        if cell_of[r.neighbor_id] in probed[r.query_id]:
            by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    for qid, ids in by_q.items():
        for rank, nid in enumerate(ids[:10], start=1):
            re_ranked[(qid, nid)] = rank
    assert {(r.query_id, r.neighbor_id): r.rank for r in got} == re_ranked


def test_ivfpq_empty_models_return_typed_empty(spark):
    from flink_project_spark.llm import similarity as SIM

    emb = spark.createDataFrame(
        [(1, [0.1] * 8)], "vec_id long, embedding array<float>"
    )
    for cents, books in [([], [[[0.0] * 2] * 4] * 4), ([[0.0] * 8], [[]] * 4)]:
        out = SIM.ivfpq_topk(emb, emb, cents, books, k=3)
        assert out.count() == 0
        assert out.columns == ["query_id", "neighbor_id", "adc_dist", "rank"]


def test_interleave_order_round_robin_and_window_twin(spark):
    """interleave_order: (a) equals the naive single-window twin
    (row_number per source, then a global row_number) — the
    distributed rank-minus-offset construction changes the plan, not
    the ranks; (b) each full round of k positions covers k distinct
    sources while every source still has docs left (round-robin)."""
    from pyspark.sql.window import Window

    from flink_project_spark.llm import curation as CUR

    rows = [(i, f"s{i % 3}") for i in range(40)] + [
        (100 + i, "s_big") for i in range(20)
    ] + [(200 + i, None) for i in range(5)]  # null source = its own lane
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    got = CUR.interleave_order(docs).collect()
    assert len(got) == len(rows)  # null-source docs are NOT dropped

    h = F.md5(F.concat(F.lit("interleave:"), F.col("doc_id").cast("string")))
    tw = docs.withColumn("_h", h).withColumn(
        "source_rank",
        F.row_number().over(
            Window.partitionBy("source").orderBy("_h", "doc_id")
        ),
    ).withColumn(
        "interleave_rank",
        F.row_number().over(
            Window.orderBy("source_rank", "_h", "doc_id")
        ),
    )
    want = {
        (r.doc_id, r.source_rank, r.interleave_rank) for r in tw.collect()
    }
    assert {(r.doc_id, r.source_rank, r.interleave_rank) for r in got} == want

    # round-robin: the first 4 rounds (all 5 lanes still alive: s_big
    # has 20, s0/s1/s2 have >=13, null-lane has 5) each cover all 5
    # lanes (null counts as a lane)
    by_rank = sorted(got, key=lambda r: r.interleave_rank)
    for round_i in range(4):
        chunk = by_rank[round_i * 5:(round_i + 1) * 5]
        assert len({r.source for r in chunk}) == 5, (round_i, chunk)


def test_pq_null_vectors_excluded_from_results(spark):
    """NULL embeddings must not poison ADC ranking: a NULL-code corpus
    row would rank FIRST for every query under Spark's NULLS FIRST asc
    if it weren't excluded; a NULL-embedding query has no LUT and must
    return no rows; training ignores NULL vectors entirely."""
    import random

    from flink_project_spark.llm import similarity as SIM

    rnd = random.Random(3)
    dim = 8
    rows = [(i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(60)]
    rows += [(900, None), (901, None)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = SIM.pq_train(emb, m=2, k=4, dim=dim, iters=1)
    assert all(len(b) == 4 for b in books)

    queries = emb.filter(F.col("vec_id").isin(0, 900))
    got = SIM.pq_topk(emb, queries, books, k=5).collect()
    assert {r.query_id for r in got} == {0}        # null query: no rows
    assert all(r.neighbor_id not in (900, 901) for r in got)
    assert sorted(r.rank for r in got) == [1, 2, 3, 4, 5]
    assert all(r.adc_dist is not None for r in got)

    enc = SIM.pq_assign(emb, books)
    null_codes = {r.vec_id for r in enc.collect() if r.codes is None}
    assert null_codes == {900, 901}                # rows kept, codes NULL


def test_signlsh_zero_planes_single_bucket(spark):
    """n_planes=0 degrades to ONE global bucket (exact all-pairs
    comparison — the brute-force end of the recall sweep) instead of a
    parse error; the oracle twin emits the matching constant."""
    from flink_project_spark.llm import similarity as SIM
    from flink_project_spark.llm.contract import _plane_bucket_sql

    emb = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [1.0] * 8), (3, [-1.0] * 8)],
        "vec_id long, embedding array<float>",
    )
    pairs = SIM.embedding_near_dups(
        emb, dim=8, threshold=0.99, n_planes=0
    ).collect()
    # with one bucket the exact pair (1,2) is found despite never
    # colliding under any hyperplane split
    assert {(r.vec_a, r.vec_b) for r in pairs} == {(1, 2)}
    assert _plane_bucket_sql(0) == "CAST(0 AS BIGINT)"


def test_exact_dedup_null_text_matches_nothing(spark):
    """NULL-text docs are each their own single-member group — md5(NULL)
    grouping would otherwise drop all but one doc that shares no bytes
    with the survivor (incremental_dedup's exact stage already treats
    NULL as matching nothing; the two rules now agree)."""
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, None), (4, None)],
        "doc_id long, text string",
    )
    got = {
        r.canonical_doc_id: (r.content_md5, r.n_copies)
        for r in DD.exact_dedup_groups(df).collect()
    }
    assert got[1][1] == 2 and got[1][0] is not None
    assert got[3] == (None, 1) and got[4] == (None, 1)


def test_lsh_banding_validates_signature_length(spark):
    """bands*rows > k would silently key every doc into one degenerate
    ''-bucket per overflowing band — rejected up front."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="exceeds the"):
        DD.near_dup_pairs(docs, k=8, bands=4, rows=4)
    with pytest.raises(ValueError, match=">= 1"):
        DD.near_dup_pairs(docs, k=16, bands=0, rows=4)


def test_dup_span_n_validated_everywhere(spark):
    """n=0 must raise in every span entry point (it would mark every
    corpus-repeated single WORD a dup gram and emit inverted spans that
    strip the token BEFORE each repeat)."""
    docs = spark.createDataFrame(
        [(1, "a b a b")], "doc_id long, text string"
    )
    for fn in (DD.dup_gram_spans, DD.strip_dup_spans, DD.dup_span_islands):
        with pytest.raises(ValueError, match="n must be >= 1"):
            if fn is DD.dup_span_islands:
                fn(docs, 0, "text")
            else:
                fn(docs, n=0)


def test_multi_resolution_rejects_nonpositive_duration(spark):
    from flink_project_spark.operators.windows import (
        _duration_seconds,
        multi_resolution_counts,
    )

    assert _duration_seconds("1 Hour 30 Minutes") == 5400  # case-insensitive
    for bad in ("0 minutes", "-5 minutes"):
        with pytest.raises(ValueError, match="positive"):
            _duration_seconds(bad)
    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "id long, ts_s string"
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))
    with pytest.raises(ValueError, match="positive"):
        multi_resolution_counts(ev, "ts", ["id"], resolutions={"x": "0 minutes"})


def test_similarity_survives_degenerate_vectors(spark):
    """A zero-norm, empty, or NULL embedding must neither crash the job
    (ANSI DIVIDE_BY_ZERO — Spark 4 default, incl. the driver's vanilla
    session) nor appear as a ranked neighbor with a NULL score."""
    emb = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),
            (2, [0.0, 0.0]),   # zero norm
            (3, [2.0, 1.0]),
            (4, None),         # NULL embedding
            (5, [1e-8, 1e-8]),  # quantizes to zeros
        ],
        "vec_id long, embedding array<float>",
    )
    queries = emb.filter(F.col("vec_id") == 1)
    got = SIM.brute_force_topk(emb, queries, k=5).collect()
    assert {r.neighbor_id for r in got} == {3}
    assert all(r.cos_sim is not None for r in got)
    # the near-dup threshold path is NULL-safe too (NULL >= t is false)
    pairs = SIM.embedding_near_dups(emb, dim=2, threshold=0.5).collect()
    assert all(
        r.vec_a not in (2, 4, 5) and r.vec_b not in (2, 4, 5) for r in pairs
    )


def test_adc_corrupt_stored_codes_excluded_not_fatal(spark):
    """A stored code outside the codebook range (index corruption, or a
    table encoded with a larger k) excludes that row instead of
    throwing INVALID_ARRAY_INDEX for the whole scan under ANSI."""
    import random

    rnd = random.Random(5)
    dim = 8
    emb = spark.createDataFrame(
        [(i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    books = SIM.pq_train(emb, m=2, k=4, dim=dim, iters=1)
    pre = SIM.pq_assign(emb, books).select("vec_id", "codes")
    corrupt = pre.withColumn(
        "codes",
        F.when(F.col("vec_id") == 7, F.array(F.lit(99), F.lit(0))).otherwise(
            F.col("codes")
        ),
    )
    queries = emb.filter(F.col("vec_id") == 0)
    got = SIM.pq_topk(
        corrupt, queries, books, k=50, corpus_codes_col="codes"
    ).collect()
    ids = {r.neighbor_id for r in got}
    assert 7 not in ids and len(ids) == 28  # 30 - self - corrupt


def test_with_quantized_rejects_foreign_q_nrm_columns(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 2.0], 0.9, 1.0)],
        "vec_id long, embedding array<float>, q double, nrm double",
    )
    with pytest.raises(ValueError, match="not this"):
        SIM.with_quantized(emb)


def test_frame_sample_validates_every(spark):
    decoded = spark.createDataFrame(
        [(1, "video", 16, 16, 90, "c" * 32)],
        "doc_id long, modality string, width int, height int, "
        "n_frames int, checksum string",
    )
    with pytest.raises(ValueError, match="every must be >= 1"):
        MM.frame_sample(decoded, every=0)


def test_auto_blocks_size_aware_and_guards(spark):
    """_auto_blocks: the expected_docs cost model widens anchors for
    large corpora and keeps replication low for small ones; the result
    set is invariant to the choice (exactness is the property test's
    job — here we pin equality between the sized and default plans on a
    real near-dup corpus). Validation guards: 64-bit signatures with
    max_hamming=0 put 64 bits in every anchor key (> 63-bit long) and
    fail loud; max_hamming=12 needs 13 blocks, over the band-lookup
    limit."""
    import pytest as _pytest

    from flink_project_spark.llm.dedup import _auto_blocks, _validate_blocks

    small = _auto_blocks(4, 3, 32, expected_docs=1000)
    big = _auto_blocks(4, 3, 32, expected_docs=500_000)
    assert small <= big
    assert _auto_blocks(4, 3, 32) == 6  # static sweet spot unchanged
    # the sized choices stay inside every budget
    for b in (small, big):
        _validate_blocks(32, b, 3)

    with _pytest.raises(ValueError, match="63-bit"):
        _validate_blocks(64, 1, 0)
    with _pytest.raises(ValueError, match="12"):
        _auto_blocks(20, 12, 64)
    with _pytest.raises(ValueError, match="no valid block count"):
        _auto_blocks(4, 0, 64, expected_docs=10)

    sigs = [0b1111, 0b1011, 0b1000_1111, 1 << 30, (1 << 30) | 3, 12345]
    sim = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sigs)], "doc_id long, simhash long"
    )

    def pairs(**kw):
        return {
            (r.doc_a, r.doc_b)
            for r in DD.simhash_near_dups(sim, **kw).collect()
        }

    want = pairs()
    assert pairs(expected_docs=10) == want
    assert pairs(expected_docs=10_000_000) == want


def test_auto_n_planes_and_near_dup_hint(spark):
    """auto_n_planes targets ~256 vectors per bucket with a floor of 4;
    embedding_near_dups(n_planes=None) demands the size hint and the
    explicit default stays plane-for-plane reproducible."""
    import pytest as _pytest

    from flink_project_spark.llm.similarity import (
        auto_n_planes,
        embedding_near_dups,
    )

    assert auto_n_planes(0) == 4
    assert auto_n_planes(1000) == 4
    assert auto_n_planes(1 << 20) == 12   # 1M vectors -> 4096 buckets
    assert auto_n_planes(1 << 28) == 20
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="expected_vectors"):
        embedding_near_dups(emb, dim=2, n_planes=None)
    got = embedding_near_dups(
        emb, dim=2, n_planes=None, expected_vectors=100
    ).collect()
    assert len(got) == 1  # auto floor = the historical 4-plane default
    # semantic_dedup forwards the hint to the same pair stage: the
    # auto-sized run keeps the identical survivors as the explicit
    # 4-plane default (floor region, so the plans coincide)
    from flink_project_spark.llm.similarity import semantic_dedup

    auto = semantic_dedup(
        emb, dim=2, n_planes=None, expected_vectors=100
    )
    explicit = semantic_dedup(emb, dim=2, n_planes=4)
    assert sorted(r.vec_id for r in auto.collect()) == sorted(
        r.vec_id for r in explicit.collect()
    )
    with _pytest.raises(ValueError, match="expected_vectors"):
        semantic_dedup(emb, dim=2, n_planes=4, expected_vectors=100)


def test_doc_simhash_60bit_width(spark):
    """bits=60 signatures: match the v60 python twin bit for bit,
    reject bits > 60 (signed-long bit weights), and the banded near-dup
    search stays exact at the wider width. 32-bit default signatures are untouched (oracle/
    reference parity)."""
    import pytest as _pytest

    from flink_project_spark.llm.hashing import v60_py, v60_sql

    rows = [(1, "hello world"), (2, ""), (3, "a b a"), (4, "hello world")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in DD.doc_simhash(docs, bits=60).collect()}

    def twin(text, bits=60):
        sums = [0] * bits
        for w in text.split():
            h = v60_py(w)
            for j in range(bits):
                sums[j] += 1 if (h >> j) & 1 else -1
        return sum((1 << j) for j in range(bits) if sums[j] > 0)

    for did, t in rows:
        assert got[did] == twin(t)
    with _pytest.raises(ValueError, match="60"):
        DD.doc_simhash(docs, bits=64)

    import duckdb

    assert (
        duckdb.connect().execute("SELECT " + v60_sql("'hello'")).fetchone()[0]
        == v60_py("hello")
    )

    # exactness of the banded search at 60 bits: brute force over the
    # signature table == simhash_near_dups(bits=60)
    sim = DD.doc_simhash(docs, bits=60)
    sigs = {r.doc_id: r.simhash for r in sim.collect()}
    want = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got_pairs = {
        (r.doc_a, r.doc_b)
        for r in DD.simhash_near_dups(sim, bits=60).collect()
    }
    assert got_pairs == want and (1, 4) in got_pairs


def test_doc_simhash_shingle_features(spark):
    """shingle=n switches simhash features to DISTINCT word n-gram
    shingles (the scale configuration): matches a python twin built on
    the exact `shingle_array` construction, ignores word multiplicity
    (distinct shingles), keeps empty docs at 0, and a one-word edit of
    a long doc stays within a small hamming radius while unrelated
    docs land far apart."""
    from flink_project_spark.llm.hashing import v60_py

    base = " ".join(f"w{i}" for i in range(40))
    edited = " ".join(
        f"w{i}" if i != 17 else "XX" for i in range(40)
    )
    rows = [
        (1, base),
        (2, edited),
        (3, " ".join(f"z{i}" for i in range(40))),
        (4, ""),
        (5, "a b a b a b"),  # repeats collapse to 2 distinct shingles + edge
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.simhash
        for r in DD.doc_simhash(docs, bits=60, shingle=3).collect()
    }

    def twin(text, n=3, bits=60):
        ws = text.split()
        if not ws:
            return 0
        upper = max(len(ws) - (n - 1), 1)
        shingles = sorted({" ".join(ws[i : i + n]) for i in range(upper)})
        sums = [0] * bits
        for sh in shingles:
            h = v60_py(sh)
            for j in range(bits):
                sums[j] += 1 if (h >> j) & 1 else -1
        return sum((1 << j) for j in range(bits) if sums[j] > 0)

    for did, t in rows:
        assert got[did] == twin(t), did
    d12 = bin(got[1] ^ got[2]).count("1")
    d13 = bin(got[1] ^ got[3]).count("1")
    assert d12 < d13 and d13 > 15
    import pytest as _pytest

    with _pytest.raises(ValueError, match="shingle"):
        DD.doc_simhash(docs, shingle=0)


def test_auto_simhash_config_policy_and_doc_simhash_auto(spark):
    """bits="auto"/shingle="auto" resolve from expected_docs via the
    measured saturation threshold: reference parity below it, the
    60-bit/shingle 100 TB configuration at or above — and doc_simhash
    under "auto" is bit-identical to the explicitly-configured run."""
    import pytest

    from flink_project_spark.llm import dedup as DD

    assert DD.auto_simhash_config(None) == (32, None)
    assert DD.auto_simhash_config(DD.SIMHASH_SATURATION_DOCS - 1) == (
        32,
        None,
    )
    assert DD.auto_simhash_config(DD.SIMHASH_SATURATION_DOCS) == (60, 3)

    docs = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff"), (2, "aa bb cc dd ee gg"), (3, "zz yy")],
        "doc_id long, text string",
    )
    small = {r["doc_id"]: r["simhash"] for r in DD.doc_simhash(
        docs, bits="auto", shingle="auto", expected_docs=100
    ).collect()}
    legacy = {r["doc_id"]: r["simhash"] for r in DD.doc_simhash(docs).collect()}
    assert small == legacy
    big = {r["doc_id"]: r["simhash"] for r in DD.doc_simhash(
        docs, bits="auto", shingle="auto", expected_docs=1_000_000
    ).collect()}
    scale = {r["doc_id"]: r["simhash"] for r in DD.doc_simhash(
        docs, bits=60, shingle=3
    ).collect()}
    assert big == scale
    with pytest.raises(ValueError, match="auto"):
        DD.doc_simhash(docs, bits="wide")


def test_auto_decon_ngram_policy_and_overlap_auto(spark):
    """n="auto" on decontaminate_overlap resolves the shingle width
    from the training-corpus size hint and matches the explicit-width
    run exactly."""
    import pytest

    from flink_project_spark.llm import curation as CUR

    assert CUR.auto_decon_ngram(None) == 3
    assert CUR.auto_decon_ngram(CUR.DECON_SATURATION_DOCS - 1) == 3
    assert CUR.auto_decon_ngram(CUR.DECON_SATURATION_DOCS) == 8

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, base + " padding words here"), (2, "totally unrelated text")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, base)], "doc_id long, text string")

    def rows(df):
        return {
            (r["doc_id"], r["bench_id"], r["n_common"]) for r in df.collect()
        }

    got_small = rows(
        CUR.decontaminate_overlap(
            corpus, bench, n="auto", min_overlap=0.3, expected_docs=10
        )
    )
    assert got_small == rows(
        CUR.decontaminate_overlap(corpus, bench, n=3, min_overlap=0.3)
    )
    got_big = rows(
        CUR.decontaminate_overlap(
            corpus, bench, n="auto", min_overlap=0.3, expected_docs=10**6
        )
    )
    assert got_big == rows(
        CUR.decontaminate_overlap(corpus, bench, n=8, min_overlap=0.3)
    )
    assert got_big  # the 8-gram pass really flags the quoted benchmark
    with pytest.raises(ValueError, match="auto"):
        CUR.decontaminate_overlap(corpus, bench, n="wide")


def test_scale_knob_validation_rejects_bool_and_float(spark):
    """bool is an int subclass and floats pass bare comparisons — both
    must raise loudly instead of silently running a wrong width
    (n=True would compute 1-gram 'contamination') or dying in an
    opaque analysis error (shingle=2.5)."""
    import pytest

    from flink_project_spark.llm import curation as CUR
    from flink_project_spark.llm import dedup as DD

    docs = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="bits/shingle"):
        DD.doc_simhash(docs, shingle=2.5)
    with pytest.raises(ValueError, match="bits/shingle"):
        DD.doc_simhash(docs, bits=True)
    with pytest.raises(ValueError, match="bits/shingle"):
        DD.doc_simhash(docs, bits=60.0)
    bench = docs
    with pytest.raises(ValueError, match="positive int"):
        CUR.decontaminate_overlap(docs, bench, n=True)
    with pytest.raises(ValueError, match="positive int"):
        CUR.decontaminate_overlap(docs, bench, n=3.0)
