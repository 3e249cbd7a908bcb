"""Training-data ops: dedup, similarity, text stats, scoring — small
deterministic inputs with hand-computable expectations."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from phonlp_spark.ops import dedup, scoring, similarity, textstats

from tests.spark_fixtures import spark  # noqa: F401


@pytest.fixture(scope="module")
def docs(spark):  # noqa: F811
    rows = [
        (1, "a b c d e f"),
        (2, "a b c d e f"),            # exact dup of 1
        (3, "a b c d e g"),            # near dup of 1 (5/7 jaccard on 3-grams)
        (4, "x y z w v u"),
        (5, "the cat sat on the mat"),
        (6, "và của là not much else"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):  # noqa: F811
    got = {r["keep_id"]: r["n_dupes"] for r in dedup.exact_dedup(docs).collect()}
    assert got[1] == 2  # doc 2 collapsed into doc 1
    assert 2 not in got
    assert got[3] == 1


def test_jaccard_pairs(spark, docs):  # noqa: F811
    got = {(r["a"], r["b"]): (r["common"], r["na"], r["nb"])
           for r in dedup.jaccard_pairs(docs, min_pct=30).collect()}
    assert (1, 2) in got and got[(1, 2)] == (4, 4, 4)   # identical shingle sets
    assert (1, 3) in got                                 # near dup
    assert all(a != 4 and b != 4 for a, b in got)


def test_minhash_identical_docs_share_signature(spark, docs):  # noqa: F811
    sig = {r["key"]: tuple(r[f"mh{j}"] for j in range(dedup.N_MINHASH))
           for r in dedup.minhash_signatures(docs).collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[4]


def test_lsh_pairs_catch_exact_dups(spark, docs):  # noqa: F811
    pairs = {(r["a"], r["b"]) for r in dedup.lsh_candidate_pairs(docs).collect()}
    assert (1, 2) in pairs


def test_simhash_stability_and_range(spark, docs):  # noqa: F811
    got = {r["key"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert got[1] == got[2]
    assert all(0 <= v < (1 << dedup.SIMHASH_BITS) for v in got.values())


def test_cosine_topk_matches_numpy(spark):  # noqa: F811
    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(30, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<float>")
    got = similarity.cosine_topk(df, query_ids=[0, 1], k=3)
    res = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in got.collect()}
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = vn @ vn.T
    for q in (0, 1):
        order = [i for i in np.argsort(-sims[q]) if i != q][:3]
        assert [res[(q, r)] for r in (1, 2, 3)] == order


def test_lsh_buckets_partition_space(spark):  # noqa: F811
    rng = np.random.default_rng(6)
    vecs = rng.normal(size=(64, 64)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(64)],
        "vec_id long, embedding array<float>")
    got = similarity.lsh_buckets(df).collect()
    assert len(got) == 64
    buckets = {r["bucket"] for r in got}
    assert len(buckets) > 1 and all(0 <= b < 16 for b in buckets)


def test_textstats(spark, docs):  # noqa: F811
    q = {r["doc_id"]: r for r in textstats.quality_score(docs).collect()}
    assert q[5]["n_tokens"] == 6
    assert q[5]["stopword_permille"] == 333  # 'the' twice / 6 tokens
    lang = {r["doc_id"]: r["lang_pred"] for r in textstats.lang_id(docs).collect()}
    assert lang[5] == "en" and lang[6] == "vi" and lang[4] == "unknown"
    fp = {r["doc_id"]: r["fingerprint"] for r in textstats.fingerprint(docs).collect()}
    assert fp[1] == fp[2] and fp[1] != fp[3]


def _ann_df(spark, rows):  # noqa: F811
    return spark.createDataFrame(
        rows, "doc_id string, sent_id int, token_id int, upos string, "
              "ner string, head int, deprel string")


def test_scoring_aggregates(spark):  # noqa: F811
    gold = _ann_df(spark, [
        ("d", 0, 1, "N", "B-PER", 2, "sub"),
        ("d", 0, 2, "V", "O", 0, "root"),
        ("d", 0, 3, "N", "S-LOC", 2, "dob"),
    ])
    pred = _ann_df(spark, [
        ("d", 0, 1, "N", "B-PER", 2, "sub"),
        ("d", 0, 2, "V", "O", 0, "vmod"),
        ("d", 0, 3, "A", "S-PER", 3, "dob"),
    ])
    acc = scoring.pos_accuracy(pred, gold).collect()[0]
    assert (acc["n_tokens"], acc["n_correct"], acc["accuracy_permille"]) == (3, 2, 666)
    ul = scoring.uas_las(pred, gold).collect()[0]
    assert ul["uas_permille"] == 666 and ul["las_permille"] == 333
    tags = {r["tag"]: r for r in scoring.token_prf_by_tag(pred, gold).collect()}
    assert tags["B-PER"]["correct"] == 1
    assert tags["S-LOC"]["gold"] == 1 and tags["S-LOC"]["guessed"] == 0


def test_entity_prf_reference_semantics(spark):  # noqa: F811
    """Micro P/R over exact (span, type) matches — semantics of the
    reference entity scorer (ner/scorer.py:41-65): guessed=3, gold=3,
    correct=2 -> P=R=2/3."""
    cols = "doc_id string, sent_id int, start int, end int, type string"
    gold = spark.createDataFrame(
        [("d", 0, 0, 1, "PER"), ("d", 0, 3, 3, "LOC"), ("d", 1, 0, 0, "ORG")], cols)
    pred = spark.createDataFrame(
        [("d", 0, 0, 1, "PER"), ("d", 0, 3, 3, "PER"), ("d", 1, 0, 0, "ORG")], cols)
    row = scoring.entity_prf(pred, gold).collect()[0]
    assert (row["guessed"], row["gold"], row["correct"]) == (3, 3, 2)
    assert row["precision_permille"] == row["recall_permille"] == 666


def test_nfd_normalize_matches_unicodedata(spark):  # noqa: F811
    """NFD scalar (reference common/utils.py:124-125): engine output ==
    unicodedata.normalize('NFD', ...) including Vietnamese diacritics."""
    import unicodedata

    texts = ["Hà_Nội rất đẹp", "café naïve", "plain ascii", "Đà_Nẵng", ""]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: r["text_nfd"]
           for r in textstats.nfd_normalize(df).collect()}
    for i, t in enumerate(texts):
        want = unicodedata.normalize("NFD", t)
        assert got[i] == want
        assert unicodedata.normalize("NFC", got[i]) == unicodedata.normalize("NFC", t)
    # NFD actually decomposes: the accented samples must grow
    assert len(got[0]) > len(texts[0])


def test_sketch_parameters_scale(spark, docs):  # noqa: F811
    """Wide sketch parameters flow end to end (32 minhashes / 8 bands,
    6 hyperplanes) — the production-sized configuration."""
    sig = dedup.minhash_signatures(docs, n_minhash=32)
    assert [c for c in sig.columns if c.startswith("mh")] == [f"mh{j}" for j in range(32)]
    got = {(r["a"], r["b"])
           for r in dedup.lsh_candidate_pairs(docs, n_minhash=32, band=4).collect()}
    assert (1, 2) in got  # exact dups collide in every band configuration
    b = similarity.lsh_buckets(
        spark.createDataFrame(
            [(i, [float(i % 7) - 3.0] * 64) for i in range(20)],
            "vec_id long, embedding array<float>"), planes=6)
    assert b.agg(F.max("bucket")).collect()[0][0] < 64


def test_media_resize_and_frames(spark):  # noqa: F811
    """Resize/frame-sample plumbing: Arrow batch shape, video-only
    frames, deterministic stub checksums."""
    from phonlp_spark.ops.multimodal import (
        attach_fake_payload, resize_media, sample_frames)

    rows = [("d1", 0, "image", "media://aaa"), ("d1", 1, "video", "media://bbb"),
            ("d2", 0, "audio", "media://ccc")]
    m = attach_fake_payload(spark.createDataFrame(
        rows, "doc_id string, span_idx int, kind string, media_ref string"))

    rs = resize_media(m, width=32, height=16).collect()
    assert len(rs) == 3
    assert all((r["width"], r["height"]) == (32, 16) for r in rs)
    assert len({r["thumb_checksum"] for r in rs}) == 3  # payload-derived

    fr = sample_frames(m).collect()
    assert fr and all(r["media_ref"] == "media://bbb" for r in fr)
    idxs = sorted(r["frame_idx"] for r in fr)
    assert idxs == list(range(len(idxs)))  # contiguous from 0
    assert len(sample_frames(m, every_n=2).collect()) == (len(fr) + 1) // 2


def test_ivf_cells_and_topk(spark):  # noqa: F811
    """IVF: cells partition the corpus; same-cell search returns valid
    ranked neighbors; cell count respects n_cells."""
    import numpy as np
    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=64)]) for i in range(80)],
        "vec_id long, embedding array<float>")
    cells = similarity.ivf_cells(emb, n_cells=4)
    got = cells.collect()
    assert len(got) == 80
    assert {r["cell"] for r in got} <= set(range(4))
    topk = similarity.ann_topk_ivf(emb, query_ids=[0, 1, 2], k=3, n_cells=4).collect()
    by_q = {}
    for r in topk:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
        assert r["neighbor_id"] != r["query_id"]
    for q_ranks in by_q.values():
        assert sorted(q_ranks) == list(range(1, len(q_ranks) + 1))


def _clustered_emb(spark, n=120, dim=64, n_clusters=6, seed=9):
    """Embeddings with real cluster structure (what ANN indexes exploit)."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim)) * 3
    rows = [(i, [float(x) for x in centers[i % n_clusters]
                 + rng.normal(size=dim) * 0.4]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_centroids_deterministic_across_partitioning(spark):  # noqa: F811
    """The integer-grid fit is partitioning-invariant: exact integer
    sums and floor-division means leave no float-order freedom."""
    emb = _clustered_emb(spark)
    a = dict(similarity.trained_centroids_rows(emb, n_cells=4))
    b = dict(similarity.trained_centroids_rows(emb.repartition(13), n_cells=4))
    assert a == b
    assert len(a) == 4  # empty cells keep their previous centroid


def test_trained_ivf_beats_seeded_recall(spark):  # noqa: F811
    """The point of training: recall@k under k-means centroids with
    n_probe=2 must beat the seeded random partitioner at n_probe=1."""
    emb = _clustered_emb(spark)
    qids = list(range(8))
    exact = similarity.cosine_topk(emb, qids, k=5)
    seeded = similarity.recall_vs_exact(
        exact, similarity.ann_topk_ivf(emb, qids, k=5, n_cells=4), "s").collect()[0]
    trained = similarity.recall_vs_exact(
        exact, similarity.ann_topk_ivf_trained(
            emb, qids, k=5, n_probe=2, n_cells=4, sample_mod=2), "t").collect()[0]
    assert trained["recall_permille"] >= seeded["recall_permille"]
    assert trained["recall_permille"] >= 800  # clustered data: near-exact
    assert trained["total"] == len(qids) * 5


def test_lsh_multi_table_amplifies_recall(spark):  # noqa: F811
    """OR-amplification: L tables' candidate union must retrieve at
    least as much of the exact top-k as any single table."""
    emb = _clustered_emb(spark)
    qids = list(range(8))
    exact = similarity.cosine_topk(emb, qids, k=5)
    single = similarity.recall_vs_exact(
        exact, similarity.ann_topk_lsh_multi(
            emb, qids, k=5, n_tables=1, planes=6), "1").collect()[0]
    multi = similarity.recall_vs_exact(
        exact, similarity.ann_topk_lsh_multi(
            emb, qids, k=5, n_tables=4, planes=6), "m").collect()[0]
    assert multi["recall_permille"] >= single["recall_permille"]
    assert multi["hits"] >= single["hits"]


def test_recall_vs_exact_counts(spark):  # noqa: F811
    exact = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 2), (1, 3, 1), (1, 4, 2)],
        "query_id long, neighbor_id long, rank int")
    approx = spark.createDataFrame(
        [(0, 1, 1), (0, 9, 2), (1, 3, 1), (1, 4, 2)],
        "query_id long, neighbor_id long, rank int")
    row = similarity.recall_vs_exact(exact, approx, "m").collect()[0]
    assert (row["method"], row["hits"], row["total"],
            row["recall_permille"]) == ("m", 3, 4, 750)


def test_lsh_verified_pairs_subset_of_exact(spark, docs):  # noqa: F811
    """The composed production path (LSH candidates -> exact Jaccard
    verify) returns exactly the exact-verifier rows for pairs LSH
    collided — never a pair the exact rule rejects."""
    exact = {(r["a"], r["b"]): (r["common"], r["na"], r["nb"])
             for r in dedup.jaccard_pairs(docs, min_pct=5).collect()}
    cand = {(r["a"], r["b"])
            for r in dedup.lsh_candidate_pairs(docs).collect()}
    got = {(r["a"], r["b"]): (r["common"], r["na"], r["nb"])
           for r in dedup.lsh_verified_pairs(docs, min_pct=5).collect()}
    assert set(got) == set(exact) & cand
    for k, v in got.items():
        assert v == exact[k]
    assert got  # fixtures contain near-dups that LSH catches


def test_length_percentiles_inverted_cdf(spark, docs):  # noqa: F811
    """Exact inverted-CDF percentiles: engine result == numpy sorted
    pick at ceil(n*p/100), computed over the same corpus."""
    import math
    lens = sorted(len(r["text"].split(" ")) for r in docs.collect())
    got = {r["pct"]: r["n_tokens"]
           for r in textstats.length_percentiles(docs).collect()}
    n = len(lens)
    for p in (50, 90, 99):
        assert got[p] == lens[math.ceil(n * p / 100) - 1]


def test_simhash_pairs_complete_vs_brute_force(spark, docs):  # noqa: F811
    """Pigeonhole completeness: with max_hamming <= n_bands - 1 the
    banded join must find EVERY pair within the Hamming budget, so the
    result equals the all-pairs brute force."""
    sigs = {r["key"]: r["simhash"]
            for r in dedup.simhash(docs, bits=32).collect()}
    keys = sorted(sigs)
    want = {(a, b): bin(sigs[a] ^ sigs[b]).count("1")
            for i, a in enumerate(keys) for b in keys[i + 1:]
            if bin(sigs[a] ^ sigs[b]).count("1") <= 3}
    got = {(r["a"], r["b"]): r["hamming"]
           for r in dedup.simhash_pairs(docs, max_hamming=3, n_bands=4,
                                        bits=32).collect()}
    assert got == want
    assert any(h == 0 for h in got.values())  # exact dupes in fixtures


def test_simhash_pairs_rejects_incomplete_params(spark, docs):  # noqa: F811
    with pytest.raises(AssertionError, match="pigeonhole"):
        dedup.simhash_pairs(docs, max_hamming=4, n_bands=4)


def test_embedding_near_dup_candidates_improve(spark):  # noqa: F811
    """Candidate-generation ladder on clustered embeddings: trained-IVF
    cells must retrieve at least as many true near-dup pairs as
    multi-table LSH, which must beat a single table; every variant's
    output is a subset of the brute-force threshold pairs."""
    emb = _clustered_emb(spark, n=90, n_clusters=5)
    thr = 800
    left = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    right = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    cos = similarity.dot(F.col("va"), F.col("vb")) / (
        similarity.norm(F.col("va")) * similarity.norm(F.col("vb")))
    exact = {(r["a"], r["b"]) for r in
             left.join(right, F.col("a") < F.col("b"))
             .filter(F.round(cos * 1000) >= thr).collect()}
    single = {(r["a"], r["b"]) for r in similarity.embedding_near_dups_multi(
        emb, min_cos_x1000=thr, n_tables=1, planes=6).collect()}
    multi = {(r["a"], r["b"]) for r in similarity.embedding_near_dups_multi(
        emb, min_cos_x1000=thr, n_tables=4, planes=6).collect()}
    ivf = {(r["a"], r["b"]) for r in similarity.embedding_near_dups_ivf(
        emb, min_cos_x1000=thr, n_cells=5).collect()}
    assert single <= exact and multi <= exact and ivf <= exact
    assert len(multi) >= len(single)
    assert len(ivf) >= len(multi)
    assert exact  # the fixture actually contains near-dups


def test_events_sessionization_rule(spark):  # noqa: F811
    """30-minute gap rule on a hand-computed fixture: sessions split
    exactly at gaps > 1800s, per user, ordered by event time."""
    import datetime as dt
    import __spark_entry__ as entry
    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, t0, 7, "a", 0.0, ""),                                  # u7 s1
        (2, t0 + dt.timedelta(minutes=29), 7, "a", 0.0, ""),       # u7 s1
        (3, t0 + dt.timedelta(minutes=61), 7, "a", 0.0, ""),       # u7 s2 (32m gap)
        (4, t0, 9, "a", 0.0, ""),                                  # u9 s1
        (5, t0 + dt.timedelta(minutes=31), 9, "a", 0.0, ""),       # u9 s2
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    import tempfile, os
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    got = {(r["user_id"], r["session_no"]): (r["n_events"], r["first_event"],
                                             r["duration_sec"])
           for r in entry.queries()["events_sessions"](spark, d).collect()}
    assert got == {(7, 1): (2, 1, 1740), (7, 2): (1, 3, 0),
                   (9, 1): (1, 4, 0), (9, 2): (1, 5, 0)}


def test_hot_bucket_guard_bounds_pair_explosion(spark):  # noqa: F811
    """Adversarial corpus: 40 identical embeddings all but guarantee
    ONE LSH bucket / IVF cell, so unguarded pair generation is
    quadratic (780 pairs).  With max_bucket_size below the corpus size
    the hot group must be dropped entirely -> zero pairs; with the cap
    above it, the full quadratic set returns (guard is inert)."""
    vec = [float((i % 7) - 3) / 3.0 for i in range(similarity.EMB_DIM)]
    emb = spark.createDataFrame([(i, vec) for i in range(40)],
                                "vec_id long, embedding array<double>")
    guarded = similarity.embedding_near_dups_multi(
        emb, min_cos_x1000=300, n_tables=1, planes=4, max_bucket_size=10)
    assert guarded.count() == 0
    open_ = similarity.embedding_near_dups_multi(
        emb, min_cos_x1000=300, n_tables=1, planes=4, max_bucket_size=1000)
    assert open_.count() == 40 * 39 // 2

    g_multi = similarity.embedding_near_dups_multi(
        emb, min_cos_x1000=300, max_bucket_size=10)
    assert g_multi.count() == 0

    g_ivf = similarity.embedding_near_dups_ivf(
        emb, min_cos_x1000=300, max_bucket_size=10)
    assert g_ivf.count() == 0


def test_simhash_hot_bucket_guard(spark):  # noqa: F811
    """Identical documents share every simhash band; a small cap must
    drop the hot (band, chunk) groups and bound the candidate count,
    while a large cap reproduces the unguarded pairs."""
    rows = [(i, "a b c d e f g") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    guarded = dedup.simhash_pairs(docs, max_bucket_size=10)
    assert guarded.count() == 0
    open_ = dedup.simhash_pairs(docs, max_bucket_size=1000)
    assert open_.count() == 30 * 29 // 2


def test_text_profile_matches_component_ops(spark, docs):  # noqa: F811
    """The one-pass profile must agree column-for-column with the four
    single-purpose operators it fuses."""
    prof = {r["doc_id"]: r for r in textstats.profile(docs).collect()}
    ts = {r["doc_id"]: r for r in textstats.token_stats(docs).collect()}
    qs = {r["doc_id"]: r for r in textstats.quality_score(docs).collect()}
    li = {r["doc_id"]: r for r in textstats.lang_id(docs).collect()}
    fp = {r["doc_id"]: r for r in textstats.fingerprint(docs).collect()}
    for d, p in prof.items():
        assert p["n_tokens"] == ts[d]["n_tokens"]
        assert p["n_distinct_tokens"] == ts[d]["n_distinct_tokens"]
        assert p["n_chars"] == ts[d]["n_chars"]
        for c in ("avg_token_len_x100", "stopword_permille",
                  "punct_permille", "ttr_permille", "n_stopword_types"):
            assert p[c] == qs[d][c], c
        assert p["lang_pred"] == li[d]["lang_pred"]
        assert (p["en_hits"], p["vi_hits"]) == (li[d]["en_hits"], li[d]["vi_hits"])
        assert p["fingerprint"] == fp[d]["fingerprint"]


def test_ivf_probed_cells_superset_of_home_cells(spark):  # noqa: F811
    """n_probe=1 must equal ivf_cells_trained exactly; n_probe=2 must
    contain it and assign every vector to exactly two distinct cells."""
    emb = _clustered_emb(spark, n=60, n_clusters=4)
    home = {(r["vec_id"], r["cell"]) for r in
            similarity.ivf_cells_trained(emb, n_cells=4).collect()}
    p1 = {(r["vec_id"], r["cell"]) for r in
          similarity.ivf_probed_cells_trained(emb, n_probe=1,
                                              n_cells=4).collect()}
    assert p1 == home
    p2 = [(r["vec_id"], r["cell"]) for r in
          similarity.ivf_probed_cells_trained(emb, n_probe=2,
                                              n_cells=4).collect()]
    assert home <= set(p2)
    assert len(p2) == len(set(p2)) == 2 * 60


def test_ivf_near_dup_probing_lifts_candidate_recall(spark):  # noqa: F811
    """The r4-measured miss mode: true pairs straddling a cell
    boundary.  n_probe=2 must retrieve a superset of n_probe=1's pairs
    and stay a subset of the brute-force threshold set.

    n_cells=7 > n_clusters=5 is what makes the premise TRUE: with one
    cell per cluster, k-means recovers the clusters exactly and every
    same-cluster pair is already same-cell at n_probe=1 (zero
    straddlers — the r5 fixture's failure).  Over-provisioned cells
    split clusters, so within-cluster cos>=0.8 pairs land in sibling
    cells whose centroids are each other's second-nearest — measured
    here: p1 retrieves 748 of the 765 exact pairs, p2 all 765."""
    emb = _clustered_emb(spark, n=90, n_clusters=5)
    thr = 800
    n_cells = 7
    left = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    right = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    cos = similarity.dot(F.col("va"), F.col("vb")) / (
        similarity.norm(F.col("va")) * similarity.norm(F.col("vb")))
    exact = {(r["a"], r["b"]) for r in
             left.join(right, F.col("a") < F.col("b"))
             .filter(F.round(cos * 1000) >= thr).collect()}
    p1 = {(r["a"], r["b"]) for r in similarity.embedding_near_dups_ivf(
        emb, min_cos_x1000=thr, n_cells=n_cells, n_probe=1).collect()}
    p2 = {(r["a"], r["b"]) for r in similarity.embedding_near_dups_ivf(
        emb, min_cos_x1000=thr, n_cells=n_cells, n_probe=2).collect()}
    assert p1 <= p2 <= exact
    assert len(p2) > len(p1)  # the fixture has boundary-straddlers


def test_lsh_multiprobe_expands_hamming1_neighborhood(spark):  # noqa: F811
    """Every query row expands to exactly planes+1 probe buckets — its
    own plus each single-bit flip — and multiprobe retrieval must
    dominate plain multi-table recall on the same parameters."""
    emb = _clustered_emb(spark, n=80, n_clusters=4)
    planes = 6
    probes = similarity.lsh_buckets_multiprobe(
        emb.filter(F.col("vec_id") == 0), n_tables=2, planes=planes).collect()
    by_table = {}
    for r in probes:
        by_table.setdefault(r["table_id"], []).append(r["bucket"])
    for t, buckets in by_table.items():
        assert len(buckets) == planes + 1
        base = [b for b in buckets
                if sum(1 for o in buckets if bin(b ^ o).count("1") == 1)
                == planes]
        assert len(base) == 1  # one center, all others 1 flip away

    qids = list(range(10))
    exact = similarity.cosine_topk(emb, qids, k=5)
    multi = similarity.ann_topk_lsh_multi(emb, qids, k=5,
                                          n_tables=4, planes=planes)
    mprobe = similarity.ann_topk_lsh_multiprobe(emb, qids, k=5,
                                                n_tables=4, planes=planes)
    r_multi = similarity.recall_vs_exact(exact, multi, "m").collect()[0]
    r_probe = similarity.recall_vs_exact(exact, mprobe, "p").collect()[0]
    assert r_probe["recall_permille"] >= r_multi["recall_permille"]


def test_jaccard_posting_list_formulation_matches_self_join(spark):  # noqa: F811
    """r7 internals change: jaccard_pairs now expands per-shingle
    posting lists instead of self-joining the shingle table.  On a
    randomized corpus the output must equal the straightforward
    self-join formulation row for row (including the stop-shingle
    guard interacting with sizes)."""
    import random
    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(10)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(8, 20))))
            for i in range(80)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # max_shingle_freq=4 makes the stop-shingle guard actually fire on
    # this corpus (max df is 5), so the sizes/posting interaction with
    # dropped shingles is exercised, not just the happy path
    got = {tuple(r) for r in dedup.jaccard_pairs(
        docs, min_pct=5, max_shingle_freq=4).collect()}

    # reference formulation: shingle self-join + join-back sizes
    sh = dedup.token_shingles(docs)
    hot = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")) \
        .filter(F.col("df") > 4).select("shingle")
    shf = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = shf.groupBy("key").agg(F.count(F.lit(1)).alias("sz"))
    pairs = (shf.alias("l").join(shf.alias("r"), "shingle")
             .filter(F.col("l.key") < F.col("r.key"))
             .groupBy(F.col("l.key").alias("a"), F.col("r.key").alias("b"))
             .agg(F.count(F.lit(1)).alias("common")))
    want = {tuple(r) for r in (
        pairs.join(sizes.withColumnRenamed("key", "a")
                   .withColumnRenamed("sz", "na"), "a")
        .join(sizes.withColumnRenamed("key", "b")
              .withColumnRenamed("sz", "nb"), "b")
        .filter(F.lit(100) * F.col("common")
                >= F.lit(5) * (F.col("na") + F.col("nb") - F.col("common")))
        .select("a", "b", "common", "na", "nb")).collect()}
    assert got == want and got  # non-empty by construction


def test_lsh_shared_wide_sketch_projects_to_narrow(spark, docs):  # noqa: F811
    """r7 internals change: dedup_lsh_pairs bands the 8-hash sketch
    off a shared 32-hash signature table.  Valid because _h64's salt
    is the hash index: banding mh0..7 of the 32-hash table must give
    exactly lsh_candidate_pairs' own 8-hash output."""
    sig32 = dedup._signatures_from_shingles(dedup.token_shingles(docs), 32)
    via_shared = {(r["a"], r["b"]) for r in dedup.lsh_pairs_from_signatures(
        sig32, n_minhash=8, band=2).collect()}
    direct = {(r["a"], r["b"])
              for r in dedup.lsh_candidate_pairs(docs).collect()}
    assert via_shared == direct and direct


def test_fan_out_is_noop_on_wide_input(spark):  # noqa: F811
    from phonlp_spark.ops.fanout import fan_out, fan_width
    df = spark.range(1000)
    w = fan_width(df)
    wide = df.repartition(w + 3)
    assert fan_out(wide) is wide                  # already wide: no-op
    narrow = df.coalesce(1)
    out = fan_out(narrow)
    assert out.rdd.getNumPartitions() == w        # fanned to width
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))
