"""Unit tests for the LLM-data-pipeline operators (dedup/similarity/text/
multimodal)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from onetable_spark.functions.dedup import (
    exact_dedup,
    minhash_lsh_dedup_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_dup_pairs,
)
from onetable_spark.functions.multimodal import decode_images, sample_video_frames, synth_media_table
from onetable_spark.functions.similarity import (
    ann_lsh_topk,
    brute_force_near_dup_pairs,
    cosine_topk,
    embedding_near_dup_pairs,
)
from onetable_spark.functions.text import (
    fingerprint,
    predicted_lang,
    quality_score,
    token_count,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "der hund und die katze sind nicht da"),
        (4, "completely different text about spark engines"),
        (5, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (6, "dog lazy the over jumps fox brown quick the"),  # reorder of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r["keep_id"]: r["n_copies"] for r in exact_dedup(docs).collect()}
    assert out[1] == 2  # docs 1 and 5 collapse
    assert sum(out.values()) == 6


def test_fingerprint_reorder_invariant(docs):
    fp = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", fingerprint("text").alias("fp")).collect()}
    assert fp[1] == fp[5] == fp[6]  # exact dup AND reorder collapse
    assert fp[1] != fp[2]


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert (1, 5) in pairs and pairs[(1, 5)] == 1.0
    assert (1, 2) in pairs and 0.3 <= pairs[(1, 2)] < 1.0
    assert (1, 4) not in pairs


def test_minhash_agrees_with_exact_on_strong_pairs(docs):
    exact = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in minhash_lsh_dedup_pairs(docs, threshold=0.5).collect()}
    # verification step guarantees no false positives
    assert lsh <= exact
    # high-similarity pairs are (probabilistically) caught; (1,5) is identical
    assert (1, 5) in lsh


def test_simhash_identical_and_near(spark, docs):
    sigs = {r["doc_id"]: r["s"] for r in docs.select("doc_id", simhash64("text").alias("s")).collect()}
    assert sigs[1] == sigs[5]
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_dup_pairs(docs, max_hamming=16).collect()}
    assert pairs[(1, 5)] == 0
    assert (1, 2) in pairs  # one word changed → few bits flip


def test_cosine_topk_and_near_dups(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal
        (3, [1.0, 0.01, 0.0]),  # nearly identical to 0
        (4, [-1.0, 0.0, 0.0]),  # opposite
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = cosine_topk(emb.filter(F.col("vec_id") != 0), [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in top] == [3, 1]
    assert top[0]["cos_sim"] > 0.99

    exact_pairs = {(r["id_a"], r["id_b"]) for r in brute_force_near_dup_pairs(emb, 0.95).collect()}
    assert (0, 3) in exact_pairs and (0, 4) not in exact_pairs
    lsh_pairs = {(r["id_a"], r["id_b"]) for r in embedding_near_dup_pairs(emb, 0.95, dim=3).collect()}
    assert lsh_pairs <= exact_pairs
    assert (0, 3) in lsh_pairs  # identical sign pattern → same bucket


def test_ann_lsh_subset_of_exact(spark, sf_dir):
    from onetable_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = list(emb.first()["embedding"])
    approx = ann_lsh_topk(emb, q, k=5)
    rows = approx.collect()
    assert 0 < len(rows) <= 5
    # approximate scores are true cosine values (verified path), so the top
    # hit must appear in the exact top-k for a reasonable k
    exact_ids = {r["vec_id"] for r in cosine_topk(emb, q, k=100).collect()}
    assert rows[0]["vec_id"] in exact_ids


def test_text_features_basic(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of to is"), (2, "der hund und die katze nicht das")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            token_count("text").alias("n"),
            quality_score("text").alias("q"),
            predicted_lang("text").alias("lang"),
        ).collect()
    }
    assert out[1]["n"] == 8 and out[1]["lang"] == "en"
    assert out[2]["lang"] == "de"
    assert 0.0 <= out[1]["q"] <= 1.0


def test_predicted_lang_zh_and_und(spark):
    df = spark.createDataFrame([(1, "你好 世界"), (2, "xyzzy plugh")], "doc_id long, text string")
    out = {r["doc_id"]: r["l"] for r in df.select("doc_id", predicted_lang("text").alias("l")).collect()}
    assert out[1] == "zh" and out[2] == "und"


def test_multimodal_decode_deterministic(spark):
    media = synth_media_table(spark, 30)
    images = media.filter(F.col("kind") == "image")
    feats1 = sorted((r["media_id"], r["width"], tuple(r["feature"])) for r in decode_images(images).collect())
    feats2 = sorted((r["media_id"], r["width"], tuple(r["feature"])) for r in decode_images(images).collect())
    assert feats1 == feats2  # stub decode is content-deterministic
    assert all(64 <= w <= 320 for _, w, _ in feats1)
    assert all(len(f) == 8 for _, _, f in feats1)


def test_video_frame_sampling_grid(spark):
    media = synth_media_table(spark, 9).filter(F.col("kind") == "video")
    frames = sample_video_frames(media, every_ms=1000)
    counts = {r["media_id"]: r["n"] for r in frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    durations = {r["media_id"]: r["meta"]["duration_ms"] for r in media.collect()}
    for mid, n in counts.items():
        assert n == durations[mid] // 1000 + 1  # inclusive grid


def test_bpe_token_count_and_rolling_fingerprint(spark):
    from onetable_spark.functions.text import bpe_token_count, rolling_fingerprint

    df = spark.createDataFrame(
        [
            (1, "Hello, world! 42x"),
            (2, "the quick brown fox"),
            (3, "quick the brown fox"),  # reorder of 2
            (4, "the quick brown fox"),  # exact dup of 2
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            bpe_token_count("text").alias("bpe"),
            rolling_fingerprint("text").alias("fp"),
        ).collect()
    }
    # Hello , world ! 42 x → 6 BPE-ish tokens (vs 3 whitespace tokens)
    assert out[1]["bpe"] == 6
    assert out[2]["fp"] == out[4]["fp"]  # identical text → identical fp
    assert out[2]["fp"] != out[3]["fp"]  # reorder changes the ROLLING hash


def test_audio_decode_deterministic(spark):
    from onetable_spark.functions.multimodal import decode_audio

    media = synth_media_table(spark, 30).filter(F.col("kind") == "audio")
    out1 = sorted((r["media_id"], r["sample_rate"], tuple(r["feature"])) for r in decode_audio(media).collect())
    out2 = sorted((r["media_id"], r["sample_rate"], tuple(r["feature"])) for r in decode_audio(media).collect())
    assert out1 == out2 and len(out1) == 10
    assert all(sr in (8000, 16000, 22050, 44100) for _, sr, _ in out1)
    assert all(len(f) == 8 for _, _, f in out1)


def test_ann_recall_bounds(spark, sf_dir):
    """VERDICT r1 #7: quantitative recall vs the exact scan with pinned
    seeds.

    The sf embeddings are near-random (best cosine ≈ 0.33 — no true
    neighbors exist), which is exactly the regime LSH makes no promise
    about; its contract is HIGH-cosine retrieval. So recall is measured on
    planted near-duplicates of the query (cos > 0.99) mixed into the real
    corpus — deterministic because every seed is pinned."""
    import math

    from onetable_spark.functions.similarity import ivf_topk
    from onetable_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    corpus = emb.filter(F.col("vec_id") != 0)

    # plant 10 jittered copies of the query: ids 1_000_000+j, one coordinate
    # nudged by 1% — cosine to q stays > 0.99
    planted_rows = []
    for j in range(10):
        v = list(q)
        v[j % len(v)] = v[j % len(v)] * 1.01 + 0.001
        planted_rows.append((1_000_000 + j, [float(x) for x in v]))
    planted_ids = {r[0] for r in planted_rows}
    spiked = corpus.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(planted_rows, "vec_id long, embedding array<float>")
    )

    exact = [r["vec_id"] for r in cosine_topk(spiked, q, k=10).collect()]
    assert set(exact) == planted_ids  # sanity: planted dominate the top-10

    lsh = {r["vec_id"] for r in ann_lsh_topk(spiked, q, k=10, probes=4).collect()}
    ivf = {r["vec_id"] for r in ivf_topk(spiked, q, k=10).collect()}
    lsh_recall = len(lsh & planted_ids) / 10
    ivf_recall = len(ivf & planted_ids) / 10
    assert lsh_recall >= 0.8, f"LSH recall {lsh_recall}"
    assert ivf_recall >= 0.8, f"IVF recall {ivf_recall}"

    # on the raw near-random corpus, IVF@nprobe=4/16 still recovers a
    # useful fraction of the true top-10 (pinned k-means → deterministic)
    exact_raw = [r["vec_id"] for r in cosine_topk(corpus, q, k=10).collect()]
    ivf_raw = {r["vec_id"] for r in ivf_topk(corpus, q, k=10).collect()}
    assert len(ivf_raw & set(exact_raw)) / 10 >= 0.4


def test_minhash_recall_vs_exact(docs):
    """MinHash-LSH must recover a known fraction of exact-Jaccard pairs at
    the same threshold (pinned seeds → deterministic)."""
    exact = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in minhash_lsh_dedup_pairs(docs, threshold=0.5).collect()}
    assert exact, "exact pair set must be non-empty for recall to mean anything"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.8, f"minhash recall {recall} over {exact}"


def test_ngram_jaccard_heavy_regime_matches_light(spark, sf_dir):
    """The hot-shingle (prefix-filtered) regime must produce EXACTLY the
    same pair set as the pure count regime: force it by dropping heavy_df
    to 0 so every shared shingle lands in the hot tier."""
    from onetable_spark.functions.dedup import ngram_jaccard_pairs

    docs_df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    light = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, threshold=0.4).collect()
    }
    heavy = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, threshold=0.4, heavy_df=0).collect()
    }
    assert light == heavy
    assert light, "pair set must be non-empty for the equivalence to mean anything"


def test_semdedup_recall_vs_exact(spark, sf_dir):
    """SemDeDup (cluster-then-pair) must report ONLY true pairs (subset of
    the exact scan — every candidate is verified with the real cosine) and
    recover a pinned fraction of them (seeded k-means → deterministic)."""
    from onetable_spark.functions.similarity import semdedup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in brute_force_near_dup_pairs(emb, threshold=0.45).collect()
    }
    sem = {
        (r["id_a"], r["id_b"])
        for r in semdedup_pairs(emb, n_clusters=8, threshold=0.45).collect()
    }
    assert exact, "exact pair set must be non-empty for recall to mean anything"
    assert sem <= exact, f"semdedup reported non-pairs: {sem - exact}"
    recall = len(sem & exact) / len(exact)
    assert recall >= 0.7, f"semdedup recall {recall}"


def test_knn_topk_neighbors_matches_numpy(spark):
    """Checkerboard kNN must equal a numpy brute force under the same
    order (rounded cosine desc, neighbor id asc) — including across-block
    candidates and diagonal self-masking."""
    import numpy as np

    from onetable_spark.functions.similarity import knn_topk_neighbors

    rng = np.random.default_rng(7)
    n, dim, k = 23, 6, 4
    mat = rng.normal(size=(n, dim))
    rows = [(i, int(i % 3), [float(x) for x in mat[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")

    got = {}
    for r in knn_topk_neighbors(df, k=k, n_blocks=3).collect():
        got.setdefault(r["id"], []).append((r["nbr_id"], r["nbr_label"], r["cos_sim"]))

    # float32 storage: Spark holds array<float>; replay the same truncation
    unit32 = np.asarray(mat, dtype=np.float32).astype(np.float64)
    unit32 /= np.linalg.norm(unit32, axis=1, keepdims=True)
    sims = np.round(unit32 @ unit32.T, 4)
    np.fill_diagonal(sims, -2.0)
    for i in range(n):
        order = np.lexsort((np.arange(n), -sims[i]))[:k]
        want = [(int(j), int(j % 3), float(sims[i, j])) for j in order]
        have = sorted(got[i], key=lambda t: (-t[2], t[0]))
        assert have == want, f"row {i}: {have} != {want}"


def test_ngram_hash_rows_shape(docs):
    """6-gram hashes: doc 1 and its exact dup 5 share every gram; the
    9-token docs carry 4 distinct 6-grams each."""
    from onetable_spark.functions.text import ngram_hash_rows

    rows = ngram_hash_rows(docs, n=6).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["id"], set()).add(r["gh"])
    assert per_doc[1] == per_doc[5]
    assert len(per_doc[1]) == 4
    assert per_doc[1] != per_doc[2]


def test_connected_components_shapes(spark):
    from onetable_spark.functions.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 1)], "id_a long, id_b long"
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    # chain 9-1-2-3 collapses to min=1; 5-6 to min=5
    assert comp[1] == comp[2] == comp[3] == comp[9] == 1
    assert comp[5] == comp[6] == 5


def test_connected_components_long_chain_converges(spark):
    from onetable_spark.functions.dedup import connected_components

    n = 30  # longer than a casual diameter but within max_iter rounds
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], "id_a long, id_b long")
    comp = connected_components(edges, max_iter=40).collect()
    assert {r["component"] for r in comp} == {0}
    assert len(comp) == n + 1


def test_connected_components_matches_union_find(spark):
    """Randomized cross-check: Spark CC must equal a plain union-find on
    the same edges (20 pinned-seed random graphs)."""
    import random

    from onetable_spark.functions.dedup import connected_components

    rng = random.Random(7)
    for _ in range(20):
        n = rng.randint(2, 24)
        m = rng.randint(1, 30)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {x for e in edges for x in e}
        want = {x: find(x) for x in touched}

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["node"]: r["component"] for r in connected_components(df).collect()}
        assert got == want, (edges, got, want)


def test_resize_images_real_gather_math(spark):
    """The resize is real index-map math: identity-size resize reproduces
    the raster mean exactly; a 1×1 resize picks pixel (0,0) = digest[0]."""
    import hashlib

    from onetable_spark.functions.multimodal import (
        _decode_raster_impl,
        resize_images,
        synth_media_table,
    )

    media = synth_media_table(spark, 9).filter(F.col("kind") == "image")
    rows = {r["media_id"]: r for r in resize_images(media, 32, 32).collect()}
    assert all(r["out_width"] == 32 and r["out_height"] == 32 for r in rows.values())

    one = media.limit(1).collect()[0]
    raster = _decode_raster_impl(bytes(one["content"]))
    h, w = raster.shape
    # identity resize == full-raster mean
    ident = resize_images(media.limit(1), w, h).collect()[0]
    assert abs(ident["mean_intensity"] - float(raster.mean())) < 1e-12
    # 1x1 nearest-neighbor == top-left pixel == digest[0]
    tiny = resize_images(media.limit(1), 1, 1).collect()[0]
    digest = hashlib.sha256(bytes(one["content"])).digest()
    assert tiny["mean_intensity"] == float(digest[0])


def test_repetition_metrics_matches_python_reference(spark):
    """repetition_metrics' sorted-run aggregate equals a brute-force
    Counter-based reference on adversarial docs (all-same, all-distinct,
    single-token, alternating, repeated-bigram block)."""
    from collections import Counter

    from onetable_spark.functions.text import repetition_metrics

    docs = [
        (1, "a a a a a a"),
        (2, "a b c d e f g"),
        (3, "solo"),
        (4, "x y x y x y x y"),
        (5, "p q r p q r s t p q"),
        (6, "m n m n o o o m n"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    for doc_id, text in docs:
        t = text.split(" ")
        n = len(t)
        dup = round(1.0 - len(set(t)) / n, 4)
        if n >= 2:
            bg = Counter(zip(t, t[1:]))
            top = round(max(bg.values()) / (n - 1), 4)
        else:
            top = 0.0
        r = got[doc_id]
        assert r["n_tokens"] == n
        assert abs(r["dup_token_frac"] - dup) < 1e-9, (doc_id, r, dup)
        assert abs(r["top_bigram_frac"] - top) < 1e-9, (doc_id, r, top)
        assert r["kept"] == (top <= 0.18)


def test_repetition_metrics_property(spark):
    """Random word-stream docs: Spark metrics == Python reference."""
    import random
    from collections import Counter

    rng = random.Random(5)
    vocab = ["aa", "bb", "cc", "dd"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_rows(df)}
    for doc_id, text in docs:
        t = text.split(" ")
        n = len(t)
        exp_top = (
            round(max(Counter(zip(t, t[1:])).values()) / (n - 1), 4) if n >= 2 else 0.0
        )
        assert abs(got[doc_id]["top_bigram_frac"] - exp_top) < 1e-9


def repetition_rows(df):
    from onetable_spark.functions.text import repetition_metrics

    return repetition_metrics(df).collect()


def test_approx_distinct_bound_holds_both_sfs(spark):
    """The within_5pct flag q_approx_distinct asserts in-plan must be True
    at every test sf (deterministic — HLL++ has no RNG)."""
    from onetable_spark.queries.analytics import q_approx_distinct

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = q_approx_distinct(spark, sf).collect()
        assert rows and all(r["within_5pct"] for r in rows), (sf, rows)


def test_spread_if_narrow_conditional(spark):
    """Narrow inputs are spread to full parallelism; already-wide inputs
    keep their partitioning (no gratuitous corpus shuffle at scale)."""
    from onetable_spark.functions.text import spread_if_narrow

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(100).coalesce(1)
    assert spread_if_narrow(narrow).rdd.getNumPartitions() == par
    wide = spark.range(100).repartition(par)
    assert spread_if_narrow(wide).rdd.getNumPartitions() == par  # untouched, not re-shuffled
    # identity of results either way
    assert sorted(r[0] for r in spread_if_narrow(narrow).collect()) == list(range(100))


def test_ivf_centroids_cached_per_session(spark):
    """q_ann_ivf_topk reuses one trained quantizer per (session, sf) — the
    index-reuse contract — and repeated calls return identical rows."""
    from onetable_spark.queries.ann import q_ann_ivf_topk
    from onetable_spark.queries.common import _CORPUS_CACHE

    sf = "/root/testdata/sf0.001"
    a = q_ann_ivf_topk(spark, sf).collect()
    c1 = _CORPUS_CACHE[("ivf", id(spark), sf, 16)]
    b = q_ann_ivf_topk(spark, sf).collect()
    c2 = _CORPUS_CACHE[("ivf", id(spark), sf, 16)]
    assert c1 is c2
    assert a == b


# --------------------------------------------- no-silent-caps counters (r8)


def test_bounded_members_split_stats_counts_hot_groups(spark):
    """The counter must report exactly the groups over cap (where pair
    recall degrades to star-through-anchor) and how many members sit in
    them — and certify recall-exactness with zeros when nothing is hot."""
    from onetable_spark.functions.dedup import bounded_members_split_stats

    rows = [("hot", i) for i in range(25)] + [("warm", i) for i in range(10)] + [("cold", 1)]
    df = spark.createDataFrame(rows, "bucket string, id long")
    got = bounded_members_split_stats(df, ["bucket"], cap=10).first()
    assert (got["groups_split"], got["members_affected"]) == (1, 25)
    exact = bounded_members_split_stats(df, ["bucket"], cap=100).first()
    assert (exact["groups_split"], exact["members_affected"]) == (0, 0)


def test_pair_recall_stats_reports_semdedup_misses(spark, sf_dir):
    """n_missed must equal |exact| - |semdedup ∩ exact| — the straddle
    pairs the n_assign bound dropped (subset invariant makes that
    |exact| - |semdedup|)."""
    from onetable_spark.functions.similarity import pair_recall_stats, semdedup_pairs
    from onetable_spark.queries.ann import _corpus_embedding_neardups
    from onetable_spark.session import load_table

    exact = _corpus_embedding_neardups(spark, sf_dir, threshold=0.45)
    sem = semdedup_pairs(
        load_table(spark, sf_dir, "embeddings"), n_clusters=8, threshold=0.45
    )
    got = pair_recall_stats(exact, sem).first()
    n_exact, n_sem = exact.count(), sem.count()
    assert got["n_exact"] == n_exact
    assert got["n_found"] == n_sem  # subset invariant: every sem pair is exact
    assert got["n_missed"] == n_exact - n_sem
    assert 0 <= got["n_missed"] <= n_exact


def test_substring_dedup_exposes_df_cap_cost(spark, sf_dir):
    """The windows_dropped_by_df_cap column equals total window
    occurrences minus surviving ones (the boilerplate the df<=20 cap
    removed before the join)."""
    from onetable_spark.queries.text import (
        _corpus_gram_arrays,
        _corpus_window_hits,
        q_substring_dedup,
    )

    out = q_substring_dedup(spark, sf_dir)
    dropped = out.select("windows_dropped_by_df_cap").first()[0]
    total = _corpus_gram_arrays(spark, sf_dir, n=8).agg(
        F.sum(F.size("ghs"))
    ).first()[0]
    kept = _corpus_window_hits(spark, sf_dir, n=8, max_df=20).count()
    assert dropped == total - kept >= 0


def test_pq_compression_recall_and_determinism(spark, sf_dir):
    """Product quantization (r10): codes are m=8 ints per 64-dim vector
    (32x smaller than float32), encoding is deterministic, the ADC+rerank
    pipeline retrieves all planted near-duplicates, and raw-corpus
    overlap with the exact top-10 clears the contract bound."""
    from onetable_spark.functions.similarity import (
        pq_encode,
        pq_topk,
        pq_train_codebooks,
    )
    from onetable_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    corpus = emb.filter(F.col("vec_id") != 0)
    books = pq_train_codebooks(corpus)
    assert books.shape == (8, 16, 8)  # m x n_codes x (64/m)

    codes = pq_encode(corpus, books).collect()
    assert all(len(r["codes"]) == 8 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r["codes"])
    # deterministic encode: a second run is bit-identical
    again = {r["id"]: r["codes"] for r in pq_encode(corpus, books).collect()}
    assert all(again[r["id"]] == r["codes"] for r in codes)

    planted_rows = []
    for j in range(10):
        v = list(q)
        v[j % len(v)] = v[j % len(v)] * 1.01 + 0.001
        planted_rows.append((1_000_000 + j, [float(x) for x in v]))
    spiked = corpus.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(planted_rows, "vec_id long, embedding array<float>")
    )
    got = {r["vec_id"] for r in pq_topk(spiked, q, k=10, codebooks=books).collect()}
    assert len(got & {r[0] for r in planted_rows}) >= 8  # measured 10/10

    exact = {r["vec_id"] for r in cosine_topk(corpus, q, k=10).collect()}
    raw = {r["vec_id"] for r in pq_topk(corpus, q, k=10, codebooks=books).collect()}
    assert len(exact & raw) >= 6  # measured 8 at sf0.001


def test_ivfpq_residual_recall_and_probe_pruning(spark, sf_dir):
    """IVF-PQ (r10): residual encoding retrieves every planted
    near-duplicate through the probe+ADC+rerank pipeline, and the probe
    filter actually prunes (rows outside the probed clusters never reach
    the candidate set)."""
    from onetable_spark.functions.similarity import (
        ivf_assign,
        ivfpq_topk,
        ivfpq_train,
    )
    from onetable_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    corpus = emb.filter(F.col("vec_id") != 0)
    index = ivfpq_train(corpus)
    centroids, books = index
    assert books.shape == (8, 16, 8)

    planted_rows = []
    for j in range(10):
        v = list(q)
        v[j % len(v)] = v[j % len(v)] * 1.01 + 0.001
        planted_rows.append((1_000_000 + j, [float(x) for x in v]))
    spiked = corpus.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(planted_rows, "vec_id long, embedding array<float>")
    )
    got = {r["vec_id"] for r in ivfpq_topk(spiked, q, k=10, index=index).collect()}
    assert len(got & {r[0] for r in planted_rows}) >= 8  # measured 10/10

    # probe pruning: with n_probe=1 every result must live in the single
    # probed cluster
    import numpy as np

    qv = np.asarray(q, dtype=np.float64)
    qv /= np.linalg.norm(qv)
    top_cluster = int((np.asarray(centroids) @ qv).argmax())
    one = ivfpq_topk(corpus, q, k=10, n_probe=1, index=index)
    assigned = {
        r["id"]: r["cluster"]
        for r in ivf_assign(corpus, centroids).select("id", "cluster").collect()
    }
    for r in one.collect():
        assert assigned[r["vec_id"]] == top_cluster


def test_ivfpq_persisted_codes_table_prunes_partitions(spark, sf_dir, tmp_path):
    """The persisted IVFADC lifecycle (r11): encode once into a
    cluster-partitioned codes table (m bytes a row), search it with
    ivfpq_topk_from_codes — the probe predicate must surface as
    PartitionFilters on the parquet scan (literal partition pruning),
    results must match the fused-path ivfpq_topk exactly (same index,
    same corpus, same deterministic order)."""
    import numpy as np

    from onetable_spark.functions.similarity import (
        ivfpq_encode_codes,
        ivfpq_topk,
        ivfpq_topk_from_codes,
        ivfpq_train,
    )
    from onetable_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    corpus = emb.filter(F.col("vec_id") != 0)
    index = ivfpq_train(corpus)

    tbl = str(tmp_path / "codes")
    codes = ivfpq_encode_codes(corpus, index)
    codes.write.partitionBy("cluster").parquet(tbl)
    back = spark.read.parquet(tbl)
    assert back.count() == corpus.count()
    # 16 clusters -> 16 hive dirs; codes are m=8 bytes
    assert len(back.select("cluster").distinct().collect()) <= 16
    assert back.agg(F.max(F.length("codes")).alias("n")).first()["n"] == 8

    fused = [tuple(r) for r in ivfpq_topk(corpus, q, k=10, index=index).collect()]
    persisted = [
        tuple(r) for r in ivfpq_topk_from_codes(back, corpus, q, index, k=10).collect()
    ]
    assert persisted == fused

    # the probe is partition pruning, not a post-scan filter
    cents = np.asarray(index[0], dtype=np.float64)
    qv = np.asarray(q, dtype=np.float64)
    qv /= np.linalg.norm(qv)
    probe = [int(c) for c in np.argsort(-(cents @ qv))[:4]]
    plan = (
        back.where(F.col("cluster").isin(probe))
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]+)\]", plan)
    assert pf and "cluster" in pf.group(1), plan[:800]


# property test: each hypothesis example spins Spark jobs — a dozen covers the shapes
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5000),
            st.integers(min_value=0, max_value=1000),
        ),
        min_size=3,
        max_size=40,
    )
)
def test_ols_closed_form_matches_numpy(spark, xy):
    # degenerate var(x)=0 inputs are legal SQL (inf/nan) but not OLS — skip
    xs = [x for x, _ in xy]
    if len(set(xs)) < 2:
        return
    df = spark.createDataFrame(
        [("s", x, y) for x, y in xy], "source string, x long, y long"
    )
    dec = "decimal(38,0)"
    xc, yc = F.col("x").cast("long"), F.col("y").cast("long")
    stats = df.groupBy("source").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(xc.cast(dec)).alias("sx"),
        F.sum(yc.cast(dec)).alias("sy"),
        F.sum((xc * yc).cast(dec)).alias("sxy"),
        F.sum((xc * xc).cast(dec)).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    var_x = (n * sxx - sx * sx).cast("double")
    row = stats.select(
        ((n * sxy - sx * sy).cast("double") / var_x).alias("slope"),
        ((sy * sxx - sx * sxy).cast("double") / var_x).alias("intercept"),
    ).first()

    A = np.array([[x, 1.0] for x, _ in xy])
    b = np.array([y for _, y in xy], dtype=float)
    slope, intercept = np.linalg.lstsq(A, b, rcond=None)[0]
    assert abs(row["slope"] - slope) < 1e-7 * max(1.0, abs(slope))
    assert abs(row["intercept"] - intercept) < 1e-6 * max(1.0, abs(intercept))
