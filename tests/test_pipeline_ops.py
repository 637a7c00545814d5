"""Training-data pipeline ops: textops, dedup, similarity, multimodal
(SURVEY brief extensions). Correctness vs numpy/pure-Python references
on the driver tables at sf0.001."""

import hashlib
import math
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def docs_pdf(docs):
    return docs.toPandas().sort_values("doc_id").reset_index(drop=True)


@pytest.fixture(scope="module")
def emb_pdf(emb):
    return emb.toPandas().sort_values("vec_id").reset_index(drop=True)


# ---------------- textops ----------------

def test_token_counts(docs, docs_pdf):
    from engine.textops import token_counts, BPE_PATTERN
    got = {r.doc_id: (r.n_tokens, r.n_bpe_tokens, r.n_chars)
           for r in token_counts(docs).collect()}
    rx = re.compile(r"[a-z0-9]+")
    rxb = re.compile(BPE_PATTERN)
    for _, row in docs_pdf.head(50).iterrows():
        t = row.text.lower()
        assert got[row.doc_id] == (len(rx.findall(t)), len(rxb.findall(t)),
                                   len(row.text))


def test_quality_and_langid_run(docs):
    from engine.textops import quality_features, lang_id
    q = quality_features(docs).collect()
    assert len(q) == docs.count()
    assert all(0.0 <= r.quality <= 1.0 for r in q)
    l = lang_id(docs).collect()
    assert {r.lang_pred for r in l} <= {"en", "es", "de", "fr", "und"}


def test_fingerprint_rolling_matches_python(docs, docs_pdf, spark):
    from engine.textops import fingerprint_rolling
    got = {r.doc_id: r.fp64 for r in fingerprint_rolling(docs).collect()}
    # pure-python reimplementation with Spark's own xxhash64 (fetched once)
    rx = re.compile(r"[a-z0-9]+")
    sample = docs_pdf.head(10)
    toks = sorted({t for txt in sample.text for t in rx.findall(txt.lower())})
    hdf = spark.createDataFrame([(t,) for t in toks], "t string").select(
        "t", F.pmod(F.xxhash64("t"), F.lit((1 << 31) - 1)).alias("h")).collect()
    H = {r.t: r.h for r in hdf}
    M, B = (1 << 31) - 1, 1000003
    for _, row in sample.iterrows():
        fp = 0
        for t in rx.findall(row.text.lower()):
            fp = (fp * B + H[t]) % M
        assert got[row.doc_id] == fp, row.doc_id


# ---------------- dedup ----------------

def _pyshingles(text, n=3):
    toks = re.findall(r"[a-z0-9]+", text.lower())
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def test_exact_dedup(spark):
    from engine.dedup import exact_dedup_groups, exact_dedup_keep
    pdf = [(0, "a b c"), (1, "a  b C!"), (2, "different text"), (3, "a b c")]
    df = spark.createDataFrame(pdf, "doc_id long, text string")
    groups = {r.rep_doc_id: r.n_dups for r in exact_dedup_groups(df).collect()}
    assert groups == {0: 3, 2: 1}  # 0,1,3 identical after normalization
    kept = sorted(r.doc_id for r in exact_dedup_keep(df).collect())
    assert kept == [0, 2]


def test_minhash_lsh_finds_near_dups(spark):
    rows = [(0, "the quick brown fox jumps over the lazy dog today ok"),
            (1, "the quick brown fox jumps over the lazy dog today yes"),
            (2, "completely unrelated content about spark and parquet io"),
            (3, "the quick brown fox jumps over the lazy dog today ok")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from engine.dedup import lsh_candidate_pairs, ngram_jaccard_pairs
    pairs = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(df).collect()}
    assert (0, 3) in pairs            # identical docs always collide
    assert (0, 1) in pairs or (1, 3) in pairs  # near-dup likely collides
    assert not any(2 in p for p in pairs)      # unrelated doc never pairs
    j = {(r.doc_a, r.doc_b): r.jaccard
         for r in ngram_jaccard_pairs(df, threshold=0.3).collect()}
    assert j[(0, 3)] == 1.0
    want = len(_pyshingles(rows[0][1]) & _pyshingles(rows[1][1])) / \
        len(_pyshingles(rows[0][1]) | _pyshingles(rows[1][1]))
    assert abs(j[(0, 1)] - want) < 1e-6


def test_simhash_similarity(spark):
    rows = [(0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "alpha beta gamma delta epsilon zeta eta iota"),
            (2, "totally different words here now ok fine sure")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from engine.dedup import simhash
    sig = {r.doc_id: r.simhash for r in simhash(df).collect()}
    d01 = bin(sig[0] ^ sig[1]).count("1")
    d02 = bin(sig[0] ^ sig[2]).count("1")
    assert d01 < d02  # near-dup pair closer in hamming space


def test_embedding_near_dups_and_knn(spark, emb):
    from engine.dedup import embedding_near_dups
    # plant an exact duplicate vector pair
    v = emb.filter(F.col("vec_id") == 1).first()["embedding"]
    extra = spark.createDataFrame([(100001, v, 0)],
                                  "vec_id long, embedding array<float>, label int")
    df = emb.select("vec_id", "embedding", "label").union(extra)
    dups = {(r.id_a, r.id_b): r.cos
            for r in embedding_near_dups(df, threshold=0.999).collect()}
    assert (1, 100001) in dups and dups[(1, 100001)] >= 0.999999


# ---------------- similarity ----------------

def test_cosine_topk_exact(emb, emb_pdf):
    from engine.similarity import cosine_topk
    q = np.array(emb_pdf.embedding.iloc[0], dtype=np.float64)
    got = cosine_topk(emb, q, k=5, exclude_id=0).collect()
    M = np.stack([np.asarray(e, dtype=np.float64) for e in emb_pdf.embedding])
    cos = (M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q))
    cos[0] = -np.inf
    order = np.lexsort((emb_pdf.vec_id.values, -np.round(cos, 6)))[:5]
    assert [r.vec_id for r in got] == emb_pdf.vec_id.values[order].tolist()
    for r, i in zip(got, order):
        assert abs(r.cos - round(cos[i], 6)) <= 1e-6


def test_ann_lsh_matches_numpy_reference(emb, emb_pdf):
    """ANN correctness is exactness GIVEN the bucket restriction: the
    result must equal a numpy reimplementation of bucket-filter + cosine
    top-k. (Recall on near-random vectors is data-dependent and low by
    nature — only sanity-checked.)"""
    from engine.similarity import ann_lsh_topk, cosine_topk, _planes
    q = np.array(emb_pdf.embedding.iloc[7], dtype=np.float64)
    got = [(r.vec_id, r.cos) for r in
           ann_lsh_topk(emb, q, k=10, n_planes=8, radius=2,
                        exclude_id=7).collect()]
    planes = _planes(64, 8, 42)
    M = np.stack([np.asarray(e, dtype=np.float64) for e in emb_pdf.embedding])
    buckets = ((M @ planes.T) > 0).astype(np.int64) @ (1 << np.arange(8))
    qb = int(((planes @ q) > 0).astype(np.int64) @ (1 << np.arange(8)))
    ham = np.array([bin(b ^ qb).count("1") for b in buckets])
    mask = (ham <= 2) & (emb_pdf.vec_id.values != 7)
    cos = np.round((M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q)), 6)
    idx = np.flatnonzero(mask)
    order = idx[np.lexsort((emb_pdf.vec_id.values[idx], -cos[idx]))][:10]
    want = [(int(emb_pdf.vec_id.values[i]), cos[i]) for i in order]
    assert [(v, round(c, 6)) for v, c in got] == [(v, round(c, 6)) for v, c in want]
    # loose recall sanity vs exact top-10
    exact = {r.vec_id for r in cosine_topk(emb, q, k=10, exclude_id=7).collect()}
    assert len(exact & {v for v, _ in got}) >= 1


def test_knn_join(spark):
    from engine.similarity import knn_join_lsh
    rows = [(i, [float(i == j) for j in range(8)], 0) for i in range(4)]
    rows.append((4, [1.0, 0.01, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0], 0))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = knn_join_lsh(df, k=2, n_planes=4)
    got = {(r.id, r.neighbor) for r in out.collect()}
    assert (0, 4) in got or (4, 0) in got  # the aligned pair found


# ---------------- multimodal ----------------

def test_multimodal_plumbing(spark):
    from engine.multimodal import (FEATURE_DIM, extract_features,
                                   resize_images, sample_frames,
                                   synthetic_media)
    media = synthetic_media(spark, n=30)
    feats = extract_features(media).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r.features) == FEATURE_DIM
        assert r.n_bytes > 0
    # determinism across runs
    f2 = extract_features(media).collect()
    assert [list(r.features) for r in feats] == [list(r.features) for r in f2]
    resized = resize_images(media, 8, 8).collect()
    assert resized and all(r.meta.width == 8 for r in resized)
    frames = sample_frames(media, every_n=10).collect()
    assert frames and all(r.frame_idx % 10 == 0 for r in frames)
    vids = media.filter("kind = 'video'").count()
    assert len(frames) == vids * 3  # 30 frames / every 10


def test_media_md5_features_portable(spark):
    """The fake decoder is md5(payload)-derived (byte/256 — exact in
    float32), so an engine-external oracle can reproduce features from
    the same bytes; media_from_documents ties payloads to a shared table."""
    import hashlib
    from engine.multimodal import extract_features, media_from_documents
    docs = spark.createDataFrame(
        [(0, "hello world"), (1, ""), (2, "Zwölf Boxkämpfer!")],
        "doc_id long, text string")
    rows = {r.media_id: r for r in
            extract_features(media_from_documents(docs)).collect()}
    for i, txt in [(0, "hello world"), (1, ""), (2, "Zwölf Boxkämpfer!")]:
        dig = hashlib.md5(txt.encode("utf-8")).digest()
        assert [round(x * 256) for x in rows[i].features] == list(dig), i
        assert rows[i].n_bytes == len(txt.encode("utf-8"))
    assert rows[0].kind == "image" and rows[1].kind == "audio" \
        and rows[2].kind == "video"


def test_multimodal_raise_stub(spark):
    from engine.multimodal import extract_features, synthetic_media
    media = synthetic_media(spark, n=3)
    with pytest.raises(Exception, match="decode requires"):
        extract_features(media, decode_stub="raise").collect()


def test_ivf_learned_codebook(spark):
    """Learned-kmeans IVF: cells cover all vectors, k-means is
    deterministic, and nprobe=n_cells degenerates to exact brute force."""
    import numpy as np
    from pyspark.sql import functions as F
    from engine.similarity import cosine_topk, ivf_centroids, ivf_topk
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sample = np.stack([r.embedding for r in
                       emb.orderBy("vec_id").limit(128).collect()])
    cb = ivf_centroids(sample, n_cells=4)
    assert np.allclose(cb, ivf_centroids(sample, n_cells=4))  # deterministic
    qv = emb.filter(F.col("vec_id") == 0).first().embedding
    exact = [(r.vec_id, r.cos) for r in
             cosine_topk(emb, qv, k=5, exclude_id=0).collect()]
    full_probe = [(r.vec_id, r.cos) for r in
                  ivf_topk(emb, qv, cb, k=5, nprobe=4, exclude_id=0).collect()]
    assert full_probe == exact  # probing every cell == brute force
    approx = ivf_topk(emb, qv, cb, k=5, nprobe=1, exclude_id=0).collect()
    assert 0 < len(approx) <= 5


def test_ngram_jaccard_candidate_pushdown_and_hot_cap(spark):
    """Scale controls of the shingle self-join (VERDICT r1 #5):
    (a) restricting to candidate pairs prunes the shingle stream BEFORE
    the quadratic join yet returns the exact same pairs;
    (b) a planted boilerplate shingle shared by every doc is dropped by
    max_shingle_df, bounding pair counts, while true near-dups survive."""
    from engine.dedup import ngram_jaccard_pairs
    boiler = "copyright footer text"
    rows = [(i, f"unique body {i} alpha beta gamma delta {i} " + boiler)
            for i in range(20)]
    # two true near-dups sharing their whole body
    rows += [(100, "spark engine index query merge pack score " + boiler),
             (101, "spark engine index query merge pack score " + boiler)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # (b) no cap: the boilerplate shingles connect EVERY doc pair
    uncapped = ngram_jaccard_pairs(df, threshold=0.0).count()
    assert uncapped == (22 * 21) // 2
    # capped: only pairs sharing non-boilerplate shingles remain, and the
    # true near-dup pair keeps jaccard 1.0 over the filtered universe
    capped = ngram_jaccard_pairs(df, threshold=0.0, max_shingle_df=5)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in capped.collect()}
    assert (100, 101) in got and got[(100, 101)] == 1.0
    assert len(got) < uncapped

    # (a) candidate pushdown: exact same result as post-filtering
    cand = spark.createDataFrame([(100, 101), (0, 1)],
                                 "doc_a long, doc_b long")
    via_push = ngram_jaccard_pairs(df, threshold=0.0, candidates=cand)
    full = ngram_jaccard_pairs(df, threshold=0.0)
    want = {(r.doc_a, r.doc_b): r.jaccard for r in
            full.join(cand, ["doc_a", "doc_b"], "left_semi").collect()}
    assert {(r.doc_a, r.doc_b): r.jaccard
            for r in via_push.collect()} == want


def test_adaptive_lsh_planes_bound_bucket_size(spark):
    """Data-scaled LSH (VERDICT r1 #6): plane count grows with N so the
    max bucket population stays bounded on a 10x corpus instead of
    degenerating toward all-pairs."""
    from engine.similarity import adaptive_n_planes, lsh_bucket_expr

    # the knob scales: 10x rows -> more planes, expected bucket ~target
    assert adaptive_n_planes(1000, target_bucket=64) == 4
    assert adaptive_n_planes(10_000, target_bucket=64) == 8
    assert adaptive_n_planes(100_000, target_bucket=64) == 11
    assert adaptive_n_planes(10**11, target_bucket=256) == 29

    rng = np.random.default_rng(7)
    for n in (400, 4000):  # 10x scale-up
        pdf = [(int(i), [float(x) for x in rng.standard_normal(16)])
               for i in range(n)]
        df = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
        p = adaptive_n_planes(n, target_bucket=32)
        counts = (df.select(lsh_bucket_expr(F.col("embedding"), p, dim=16)
                            .alias("bkt"))
                  .groupBy("bkt").count().agg(F.max("count")).first()[0])
        # gaussian data + random hyperplanes: buckets stay near target
        assert counts <= 32 * 8, (n, p, counts)


@pytest.mark.parametrize("k", ["10**9", "TOPK_COUNT_FROM + 1",
                               "TOPK_COUNT_FROM"])
def test_cosine_topk_whole_ranking_k_is_clipped(spark, emb, k):
    """A k above TOPK_COUNT_FROM (a whole ranking, or just above it) on
    a small frame is clipped to its row count instead of sizing
    TakeOrderedAndProject's buffers from k; a k at the threshold is
    planned as asked. Either returns every row, ranked."""
    from engine import similarity as S
    k = {"10**9": 10**9, "TOPK_COUNT_FROM + 1": S.TOPK_COUNT_FROM + 1,
         "TOPK_COUNT_FROM": S.TOPK_COUNT_FROM}[k]
    limit = 50 if k > S.TOPK_COUNT_FROM else k
    small = emb.limit(50).cache()
    q = [1.0] * len(small.first()["embedding"])
    got = S.cosine_topk(small, q, k=k)
    assert f"limit={limit}," in \
        got._jdf.queryExecution().executedPlan().toString()
    rows = got.collect()
    assert len(rows) == 50
    assert [r.cos for r in rows] == sorted((r.cos for r in rows),
                                           reverse=True)
