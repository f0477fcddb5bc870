"""LLM-pipeline operator tests: dedup correctness on constructed
duplicates, recall@k edge cases, text-analysis semantics,
multimodal plumbing determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.dedup import (
    exact_dedup_groups,
    near_dup_pairs,
    normalized_dedup_groups,
    simhash_near_dup_pairs,
)
from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.multimodal import (
    decode_image_features,
    with_media_meta,
)
from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.similarity import (
    cosine_topk,
    with_recall_at_k,
)
from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.text import (
    lang_id,
    quality_score,
    word_shingles,
)
from cloudwatch_sematext_aws_lambda_log_shipper_spark.plans.registry import load


def docs_df(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


BASE = "the quick brown fox jumps over the lazy dog again and again today"


def test_exact_dedup_groups(spark):
    df = docs_df(spark, [BASE, BASE, "something else entirely here now"])
    got = {r.canonical_id: r.n_copies for r in exact_dedup_groups(df).collect()}
    assert got == {0: 2, 2: 1}


def test_normalized_dedup_catches_case_and_punct(spark):
    df = docs_df(spark, [BASE, BASE.upper() + "!!", "unrelated text body"])
    got = {r.canonical_id: r.n_copies for r in normalized_dedup_groups(df).collect()}
    assert got == {0: 2, 2: 1}


def test_minhash_near_dup_finds_planted_pair(spark):
    near = BASE.replace("dog", "cat")  # one word differs -> high Jaccard
    far = "completely different content with no overlap at all whatsoever ok"
    df = docs_df(spark, [BASE, near, far])
    pairs = near_dup_pairs(df, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got
    assert all(p[1] != 2 and p[0] != 2 for p in got)


def test_minhash_lsh_full_recall_vs_bruteforce(spark, sf_dir):
    """LSH candidates must recover every brute-force pair >= tau."""
    docs = load(spark, sf_dir, "documents")
    lsh = {(r.id_a, r.id_b) for r in near_dup_pairs(docs, threshold=0.8).collect()}

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.dedup import (
        verify_jaccard,
        with_shingles,
    )

    sh = with_shingles(docs).select("doc_id", "shingles")
    a = sh.selectExpr("doc_id AS id_a", "shingles AS s_a")
    b = sh.selectExpr("doc_id AS id_b", "shingles AS s_b")
    all_pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    brute = {
        (r.id_a, r.id_b)
        for r in verify_jaccard(all_pairs, with_shingles(docs), threshold=0.8).collect()
    }
    assert brute  # dataset contains planted near-dups
    assert lsh == brute


def test_simhash_pairs_are_true_near_dups(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    sim = {(r.id_a, r.id_b) for r in simhash_near_dup_pairs(docs).collect()}
    assert sim
    jacc = {
        (r.id_a, r.id_b)
        for r in near_dup_pairs(docs, threshold=0.5).collect()
    }
    # hamming<=3 on 64-bit simhash implies strong similarity: every pair
    # must also clear Jaccard 0.5
    assert sim <= jacc


def test_hot_bucket_cap_bounds_quadratic_blowup(spark):
    # 5k copies of one doc -> every LSH band / SimHash chunk bucket is
    # hot; uncapped that is ~12.5M candidate pairs per bucket. With the
    # cap, hot buckets are thinned to ~cap members (id-hash thinning:
    # EXPECTED cap, binomially concentrated — 2*cap is a >5-sigma
    # bound), so candidate work stays ~cap^2/2 per bucket and the job
    # stays small. (Identical copies are the EXACT dedup pass's job —
    # corpus_prep runs it before near-dup.)
    cap = 50
    bound = (2 * cap) * (2 * cap - 1) // 2
    texts = [BASE] * 5000 + [f"totally unrelated document number {i} qq" for i in range(3)]
    df = docs_df(spark, texts)

    sim = simhash_near_dup_pairs(df, max_bucket_size=cap)
    n_sim = sim.count()
    assert 0 < n_sim <= bound

    mh = near_dup_pairs(df, threshold=0.8, max_bucket_size=cap)
    n_mh = mh.count()
    assert 0 < n_mh <= bound

    # normal (no oversized bucket) corpus: capped == uncapped, bit-identical
    small = docs_df(spark, [BASE, BASE + " extra", "something else entirely here now"])
    capped = sorted(tuple(r) for r in near_dup_pairs(small, threshold=0.5).collect())
    uncapped = sorted(
        tuple(r)
        for r in near_dup_pairs(small, threshold=0.5, max_bucket_size=None).collect()
    )
    assert capped == uncapped


def test_identical_docs_have_equal_simhash(spark):
    df = docs_df(spark, [BASE, BASE])
    pairs = simhash_near_dup_pairs(df, max_hamming=0)
    [r] = pairs.collect()
    assert (r.id_a, r.id_b, r.hamming) == (0, 1, 0)


def test_simhash_matches_documented_digit_definition(spark):
    """The Arrow signature pass must equal an INDEPENDENT brute force of
    the documented sketch: sketch bit i = sign of summed votes on bit
    i%4 of 1-indexed md5 hex digit 16 - i//4 (the form the DuckDB
    oracle replicates). Guards the unpackbits bit-order mapping."""
    import hashlib

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.dedup import (
        simhash_signatures,
        with_shingles,
    )

    texts = [BASE, BASE + " tail change", "totally different words here now",
             "unicode café naïve über doc text more words pad"]
    df = docs_df(spark, texts)
    sh = with_shingles(df, "text", 3).select("doc_id", "shingles")
    got = {r.doc_id: r.simhash for r in simhash_signatures(sh).collect()}

    def brute(shingles):
        votes = [0] * 64
        for s in shingles:
            hx = hashlib.md5(s.encode()).hexdigest()
            for i in range(64):
                d = int(hx[16 - i // 4 - 1], 16)  # 1-indexed digit 16-i//4
                votes[i] += 1 if d & (1 << (i % 4)) else -1
        u = sum(1 << i for i in range(64) if votes[i] > 0)
        return u - (1 << 64) if u >= 1 << 63 else u

    for r in sh.collect():
        assert got[r.doc_id] == brute(r.shingles), f"doc {r.doc_id}"


def test_cosine_topk_self_is_nearest(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    # query vectors included in corpus -> each query's top hit is itself
    res = cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=1)
    for r in res.collect():
        assert r.neighbor_id == r.query_id
        assert r.cosine == pytest.approx(1.0, abs=1e-6)


def test_with_recall_at_k_edge_cases(spark):
    # all-miss: ann found neighbors, none in the exact top-k -> 0.0
    ann = spark.createDataFrame(
        [(1, 100, 0.9, 1), (1, 101, 0.8, 2)],
        "query_id long, neighbor_id long, cosine double, rnk int",
    )
    exact = spark.createDataFrame(
        [(1, 200, 0.99, 1), (1, 201, 0.98, 2), (2, 300, 0.97, 1)],
        "query_id long, neighbor_id long, cosine double, rnk int",
    )
    out = with_recall_at_k(ann, exact, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    # query 1: both ann rows kept, recall 0.0 (no overlap with exact)
    assert len(by_q[1]) == 2
    assert all(r.recall_at_k == 0.0 for r in by_q[1])
    # query 2: fully missed by ann -> surfaces as one null-neighbor row
    # with recall 0.0 instead of disappearing
    [missed] = by_q[2]
    assert missed.neighbor_id is None and missed.recall_at_k == 0.0

    # partial hit: 1 of k=2 found -> 0.5 on every row of that query
    ann2 = spark.createDataFrame(
        [(1, 200, 0.9, 1), (1, 101, 0.8, 2)],
        "query_id long, neighbor_id long, cosine double, rnk int",
    )
    out2 = with_recall_at_k(ann2, exact.filter("query_id = 1"), k=2).collect()
    assert all(r.recall_at_k == 0.5 for r in out2)


def test_lang_id_marker_semantics(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="the cat of a house is here"),
            Row(doc_id=1, text="der hund und die katze ist da"),
            Row(doc_id=2, text="xyzzy plugh foobar"),
            Row(doc_id=3, text="la de le"),  # fr/es markers tie -> und
        ]
    )
    got = {r.doc_id: r.lang for r in df.select("doc_id", lang_id(F.col("text")).alias("lang")).collect()}
    assert got == {0: "en", 1: "de", 2: "und", 3: "und"}


def test_quality_score_bounds_and_ordering(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    stats = docs.select(quality_score(F.col("text")).alias("q")).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")
    ).collect()[0]
    assert 0.0 <= stats.lo <= stats.hi <= 1.0
    # punctuation soup scores below clean prose of the same length
    probe = spark.createDataFrame(
        [Row(text="a clean readable sentence with plenty of ordinary words in it"),
         Row(text='!!!###$$$%%%^^^&&&***((()))___+++===[[[]]]{{{}}};;;:::"""')]
    ).select(quality_score(F.col("text")).alias("q")).collect()
    assert probe[0].q > probe[1].q


def test_word_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([Row(text="two words")])
    [r] = df.select(word_shingles(F.col("text")).alias("s")).collect()
    assert r.s == []


def test_multimodal_decode_plumbing(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").limit(50)
    media = with_media_meta(
        docs.select(F.col("doc_id").alias("media_id"),
                    F.encode(F.col("text"), "utf-8").alias("media"))
    )
    [m] = media.limit(1).collect()
    assert m.media_meta.modality == "image"
    assert m.media_meta.n_bytes == len(bytes(m.media))

    feats = decode_image_features(media)
    rows1 = {r.media_id: (r.width, r.height, r.channels, r.sha) for r in feats.collect()}
    rows2 = {r.media_id: (r.width, r.height, r.channels, r.sha) for r in feats.collect()}
    assert rows1 == rows2  # deterministic fake decode
    assert len(rows1) == 50
    assert all(16 <= v[0] < 1040 and 1 <= v[2] <= 4 for v in rows1.values())

    # codec-less formats resize to null media (DLQ-routable), not a crash
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.multimodal import (
        resize_images,
    )
    [rz] = resize_images(media.limit(1), width=8, height=8).collect()
    assert rz.media is None and rz.width is None


def test_connected_components_chain_and_clique(spark):
    """A 5-node chain (diameter 4 — needs multiple propagation rounds),
    a triangle, and an isolated pair must each collapse to min-id."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [
            # chain 10-11-12-13-14
            Row(id_a=10, id_b=11),
            Row(id_a=11, id_b=12),
            Row(id_a=12, id_b=13),
            Row(id_a=13, id_b=14),
            # triangle 20-21-22
            Row(id_a=20, id_b=21),
            Row(id_a=21, id_b=22),
            Row(id_a=20, id_b=22),
            # pair
            Row(id_a=30, id_b=31),
        ]
    )
    got = {r.node: r.comp for r in connected_components(pairs).collect()}
    assert got == {
        10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
        20: 20, 21: 20, 22: 20,
        30: 30, 31: 30,
    }


def test_near_dup_clusters_keep_one_per_cluster(spark, sf_dir):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.dedup import (
        near_dup_clusters,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.plans.llmops import _docs

    res = near_dup_clusters(_docs(spark, sf_dir)).collect()
    by_cluster: dict[int, list] = {}
    for r in res:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        keeps = [m for m in members if m.keep]
        assert len(keeps) == 1
        assert keeps[0].doc_id == cid == min(m.doc_id for m in members)


def test_with_split_deterministic_and_proportional(spark, sf_dir):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.sampling import (
        with_split,
    )

    docs = load(spark, sf_dir, "documents")
    s1 = with_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1}, salt="x")
    s2 = with_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1}, salt="x")
    # pure function of (id, salt): identical across evaluations
    assert (
        s1.select("doc_id", "split").exceptAll(s2.select("doc_id", "split")).count()
        == 0
    )
    counts = {r["split"]: r["n"] for r in s1.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    total = sum(counts.values())
    assert set(counts) == {"train", "val", "test"}  # no null holdout
    assert counts["train"] / total == pytest.approx(0.8, abs=0.1)
    # a different salt re-rolls assignments
    s3 = with_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1}, salt="y")
    moved = (
        s1.select("doc_id", "split")
        .exceptAll(s3.select("doc_id", "split"))
        .count()
    )
    assert moved > 0


def test_cross_group_near_dup_report_excludes_intra_group(spark):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.dedup import (
        cross_group_near_dup_report,
    )
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [
            Row(doc_id=0, text=BASE, source="train"),
            Row(doc_id=1, text=BASE + " tail", source="bench"),  # cross pair
            Row(doc_id=2, text=BASE + " tail", source="train"),  # cross + intra
            Row(doc_id=3, text="completely different words in this one now ok",
                source="bench"),
        ]
    )
    rows = cross_group_near_dup_report(df, threshold=0.5).collect()
    [r] = rows  # intra-group (1,? same source) pairs excluded
    assert (r.group_a, r.group_b) == ("bench", "train")
    assert r.n_pairs >= 1 and r.max_jaccard >= 0.5


def _ppm(w, h, pixel_fn):
    body = bytes(
        v for y in range(h) for x in range(w) for v in pixel_fn(x, y)
    )
    return f"P6\n{w} {h}\n255\n".encode() + body


def test_resize_images_nearest_neighbor_exact(spark):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.multimodal import (
        resize_images,
    )
    from pyspark.sql import Row

    # 4x4 image whose pixel (x,y) = (x*10, y*10, 0): downscale to 2x2
    # must pick source pixels (0,0),(2,0),(0,2),(2,2) exactly
    img = _ppm(4, 4, lambda x, y: (x * 10, y * 10, 0))
    df = spark.createDataFrame([Row(media_id=1, media=bytearray(img)),
                                Row(media_id=2, media=bytearray(b"not ppm"))])
    out = {r.media_id: r for r in resize_images(df, 2, 2).collect()}
    r = out[1]
    assert (r.width, r.height) == (2, 2)
    assert bytes(r.media) == b"P6\n2 2\n255\n" + bytes(
        [0, 0, 0, 20, 0, 0, 0, 20, 0, 20, 20, 0]
    )
    # non-PPM row survives with null media (DLQ-routable), not an error
    assert out[2].media is None and out[2].width is None


def test_sample_frames_every_n(spark):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.multimodal import (
        sample_frames,
    )
    from pyspark.sql import Row

    frames = [_ppm(2, 1, lambda x, y, i=i: (i, i, i)) for i in range(5)]
    video = b"".join(frames)
    df = spark.createDataFrame([Row(media_id=7, media=bytearray(video))])
    got = sorted(
        (r.frame_idx, bytes(r.frame)) for r in sample_frames(df, every_n=2).collect()
    )
    assert [i for i, _ in got] == [0, 2, 4]
    assert all(f == frames[i] for i, f in got)


def test_char_shingles_semantics(spark):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.text import (
        char_shingles,
    )

    df = spark.createDataFrame(
        [(0, "abcdef"), (1, "abc"), (2, "  AbCdEf  ")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.s
        for r in df.select("doc_id", char_shingles(F.col("text"), 5).alias("s")).collect()
    }
    assert got[0] == ["abcde", "bcdef"]
    assert got[1] == []  # shorter than n -> empty, not an error
    assert got[2] == ["abcde", "bcdef"]  # lower(trim()) normalization


def test_chargram_near_dup_catches_typo_word_shingles_miss(spark):
    # one-char typo: 3 of 10 word-3-shingles change (J ~ 0.54, below
    # 0.7) but only ~5 of ~50 char-5-grams change (J ~ 0.83, above it
    # and comfortably inside the b=16/r=4 LSH s-curve)
    a = "the quick brown fox jumps over the lazy dog again and again"
    b = a.replace("quick", "quack")
    df = docs_df(spark, [a, b])
    word_pairs = near_dup_pairs(df, threshold=0.7).count()
    char_pairs = near_dup_pairs(
        df, threshold=0.7, shingle_unit="char", shingle_n=5
    ).count()
    assert word_pairs == 0
    assert char_pairs == 1
