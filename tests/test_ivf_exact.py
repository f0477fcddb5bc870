"""Engine-exact (oracle-replayable) IVF / IVF-PQ / LSH: persisted index
== one-shot bit-equality, frozen-quantizer append + compaction,
partition pruning, the format sidecar, layout-invariant fits,
recall-gate behavior, planted-duplicate retrieval."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (
    ann_topk_ivf_exact,
    ann_topk_ivfpq_exact,
    build_ivf_index_exact,
    build_ivfpq_index_exact,
    fit_centroids_exact,
    query_ivf_index_exact,
    query_ivfpq_index_exact,
)
from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.similarity import (
    cosine_topk,
    with_recall_at_k,
)


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ivf_exact_index_matches_oneshot_and_prunes(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivfx")
    build_ivf_index_exact(corpus, path)
    via_index = query_ivf_index_exact(spark, path, queries, k=5)
    oneshot = ann_topk_ivf_exact(corpus=corpus, queries=queries, k=5)
    assert _rows(via_index) == _rows(oneshot)
    # probed clusters partition-prune the index scan
    plan = via_index._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan


def test_ivfpq_exact_index_matches_oneshot(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivfpqx")
    build_ivfpq_index_exact(corpus, path)
    via_index = query_ivfpq_index_exact(spark, path, queries, k=5)
    oneshot = ann_topk_ivfpq_exact(corpus=corpus, queries=queries, k=5)
    assert _rows(via_index) == _rows(oneshot)


def _codes_rows(spark, path):
    return sorted(
        (r["neighbor_id"], r["cluster"], tuple(r["_ts"]))
        for r in spark.read.parquet(f"{path}/codes").collect()
    )


def _scan_prunes_cluster(df):
    """The code-table scan (the one reading the ``_ts`` code arrays —
    its Location string may be abbreviated) carries a cluster
    PartitionFilter."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln and "_ts" in ln]
    return bool(scans) and any(
        "PartitionFilters" in ln and "cluster" in ln for ln in scans
    )


def test_ivfpq_exact_append_equals_frozen_rebuild(spark, sf_dir, tmp_path):
    """append(batch 2) after build(batch 1) holds exactly the codes of
    the union encoded with the batch-1 quantizer (the FAISS
    add-with-fixed-quantizer contract), and querying the grown index
    equals the one-shot search with those artifacts. Re-delivering the
    append is a no-op (dynamic partition overwrite); compaction folds
    both tables to one leaf without changing codes or results or
    losing the cluster PartitionFilter."""
    import os

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (  # noqa: E501
        _load_ivfpq_artifacts,
        _unit,
        append_ivfpq_index_exact,
        compact_ivfpq_index_exact,
        encode_codes_arrays,
    )

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    b1 = corpus.filter(F.col("vec_id") % 3 != 0)
    b2 = corpus.filter(F.col("vec_id") % 3 == 0)

    inc = str(tmp_path / "inc")
    build_ivfpq_index_exact(b1, inc)
    append_ivfpq_index_exact(b2, inc, batch_id=1)

    centers, books = _load_ivfpq_artifacts(spark, inc)
    cn = _unit(corpus, "vec_id", "embedding", "neighbor_id", 64)
    ref_codes = encode_codes_arrays(cn, centers, books).localCheckpoint()
    want_codes = sorted(
        (r["neighbor_id"], r["_cl"], tuple(r["_ts"]))
        for r in ref_codes.collect()
    )
    assert _codes_rows(spark, inc) == want_codes and want_codes

    expected = _rows(
        ann_topk_ivfpq_exact(
            corpus, queries, k=5, nprobe=4,
            artifacts=(centers, books, ref_codes),
        )
    )
    assert _rows(
        query_ivfpq_index_exact(spark, inc, queries, k=5, nprobe=4)
    ) == expected and expected

    # retry the same batch: dynamic overwrite makes it exactly-once
    append_ivfpq_index_exact(b2, inc, batch_id=1)
    assert _codes_rows(spark, inc) == want_codes

    def n_files(table):
        return sum(
            1
            for _r, _d, files in os.walk(f"{inc}/{table}")
            for fn in files
            if fn.startswith("part-")
        )

    before = {f"{inc}/{t}": n_files(t) for t in ("codes", "vectors")}
    assert compact_ivfpq_index_exact(spark, inc) == before
    for t in ("codes", "vectors"):
        assert n_files(t) < before[f"{inc}/{t}"]
        assert [
            d for d in os.listdir(f"{inc}/{t}") if d.startswith("ingest_batch=")
        ] == ["ingest_batch=-1"]
    assert _codes_rows(spark, inc) == want_codes
    res = query_ivfpq_index_exact(spark, inc, queries, k=5, nprobe=4)
    assert _rows(res) == expected
    assert _scan_prunes_cluster(res)


def test_fit_centroids_exact_layout_invariant(spark, sf_dir):
    """DECIMAL-exact dimension sums mean the partition layout cannot
    move a centroid by an ulp — the property the SQL replay relies on."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") >= 10)
    a = fit_centroids_exact(emb, n_clusters=8, iters=2)
    b = fit_centroids_exact(emb.repartition(17), n_clusters=8, iters=2)
    c = fit_centroids_exact(emb.coalesce(1), n_clusters=8, iters=2)
    assert a == b == c


def test_ivf_exact_recall_floor_and_gate_flip(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(corpus, queries, 5)
    good = with_recall_at_k(
        ann_topk_ivf_exact(corpus, queries, 5), exact, 5, min_mean_recall=0.45
    )
    assert all(r["recall_ok"] for r in good.collect())
    # degraded config (single probe, unconverged centroids) flips the
    # gate at a floor the production config clears
    bad = with_recall_at_k(
        ann_topk_ivf_exact(corpus, queries, 5, nprobe=1, iters=0),
        exact,
        5,
        min_mean_recall=0.95,
    )
    assert not any(r["recall_ok"] for r in bad.collect())


def test_ivf_exact_planted_duplicate_rank1(spark, sf_dir):
    """A corpus vector identical to the query must come back at rank 1
    with cosine 1.0 — the IVF probe always includes the assigned
    cluster of an exact duplicate (it is the query's nearest centroid
    too)."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") >= 10)
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).cast("long").alias("vec_id"), "embedding"
    )
    planted = corpus.unionByName(
        q0.select(F.lit(999_999).cast("long").alias("vec_id"), "embedding")
    )
    out = ann_topk_ivf_exact(corpus=planted, queries=q0, k=3).collect()
    top = [r for r in out if r["rnk"] == 1][0]
    assert top["neighbor_id"] == 999_999
    assert top["cosine"] == pytest.approx(1.0, abs=1e-6)


def test_ivfpq_exact_refine_returns_exact_cosines(spark, sf_dir):
    """Every cosine IVF-PQ emits equals the brute-force value for that
    (query, neighbor) pair — ADC can only affect WHICH pairs surface,
    never the reported similarity (the refine contract)."""
    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    got = ann_topk_ivfpq_exact(corpus=corpus, queries=queries, k=5).collect()
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(corpus, queries, k=10_000).collect()
    }
    assert got
    for r in got:
        assert brute[(r["query_id"], r["neighbor_id"])] == r["cosine"]


def test_knn_graph_ivf_exact_excludes_self_and_finds_planted(spark, sf_dir):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (
        ann_knn_graph_ivf_exact,
    )

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    v0 = emb.filter(F.col("vec_id") == 0)
    planted = emb.unionByName(
        v0.select(F.lit(777_777).cast("long").alias("vec_id"), "embedding")
    )
    out = ann_knn_graph_ivf_exact(planted, k=3).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in out)
    # the exact duplicate is vector 0's rank-1 neighbor (and vice versa)
    top0 = [r for r in out if r["query_id"] == 0 and r["rnk"] == 1][0]
    assert top0["neighbor_id"] == 777_777
    topd = [r for r in out if r["query_id"] == 777_777 and r["rnk"] == 1][0]
    assert topd["neighbor_id"] == 0


def test_semdedup_exact_finds_planted_duplicates(spark, sf_dir):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (
        semdedup_pairs_exact,
    )

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 888_000).alias("vec_id"), "embedding"
    )
    planted = emb.unionByName(dups)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in semdedup_pairs_exact(planted, threshold=0.95).collect()
    }
    for i in range(5):  # every planted duplicate pair is found
        assert (i, i + 888_000) in pairs
    # no pair ordering violations, no self-pairs
    assert all(a < b for a, b in pairs)


def test_lsh_exact_identical_vector_same_bucket(spark, sf_dir):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (
        ann_topk_lsh_exact,
        lsh_plane_weights_exact,
    )

    # plane weights are deterministic and reproducible
    w1 = lsh_plane_weights_exact(4, 64)
    w2 = lsh_plane_weights_exact(4, 64)
    assert w1 == w2 and len(w1) == 4 and len(w1[0]) == 64
    assert all(-1.0 <= x <= 1.0 for row in w1 for x in row)

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") >= 10)
    q0 = emb.filter(F.col("vec_id") == 0)
    planted = corpus.unionByName(
        q0.select(F.lit(555_555).cast("long").alias("vec_id"), "embedding")
    )
    # an identical vector lands in the SAME bucket (same sign pattern)
    # so multiprobe-or-not it must surface at rank 1 with cosine 1
    out = ann_topk_lsh_exact(corpus=planted, queries=q0, k=3).collect()
    top = [r for r in out if r["rnk"] == 1][0]
    assert top["neighbor_id"] == 555_555
    assert top["cosine"] == pytest.approx(1.0, abs=1e-6)


def test_lsh_index_matches_oneshot_and_prunes(spark, sf_dir, tmp_path):
    """opt r15: the persisted LSH bucket index (bucketed normalized
    corpus + driver-side probe derivation) must be bit-equal to the
    one-shot multiprobe search, and the probed buckets must
    partition-prune the index scan."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (  # noqa: E501
        ann_topk_lsh_exact,
        build_lsh_index_exact,
        query_lsh_index_exact,
    )

    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "lshx")
    build_lsh_index_exact(corpus, path, num_planes=4, dim=64)
    via_index = query_lsh_index_exact(
        spark, path, queries, k=5, num_planes=4, dim=64
    )
    oneshot = ann_topk_lsh_exact(
        corpus=corpus, queries=queries, k=5, num_planes=4, dim=64
    )
    assert _rows(via_index) == _rows(oneshot)
    plan = via_index._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_b" in plan


def test_index_without_current_format_sidecar_fails_fast(
    spark, sf_dir, tmp_path
):
    """Every persisted index carries a format sidecar; a query (or an
    append) on an index whose sidecar is missing, old or of another
    kind raises the rebuild error up front instead of a deep
    AnalysisException on a column the old layout lacks."""
    import os

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (  # noqa: E501
        append_ivfpq_index_exact,
        build_lsh_index_exact,
        index_format_current,
        query_lsh_index_exact,
    )

    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "lshx")
    build_lsh_index_exact(corpus, path, num_planes=4, dim=64)
    assert index_format_current(path) and index_format_current(path, "lsh")
    assert not index_format_current(path, "ivf")

    rebuild = r"rebuild the index \(layout v\d+\)"
    with pytest.raises(ValueError, match=rebuild):
        query_ivf_index_exact(spark, path, queries, k=5)
    with pytest.raises(ValueError, match=rebuild):
        query_ivfpq_index_exact(spark, path, queries, k=5)
    with pytest.raises(ValueError, match=rebuild):
        append_ivfpq_index_exact(corpus, path, batch_id=1)

    sidecar = os.path.join(path, "_FORMAT")
    with open(sidecar, "w") as fh:
        fh.write("lsh v0\n")  # an older layout
    assert not index_format_current(path)
    with pytest.raises(ValueError, match=rebuild):
        query_lsh_index_exact(spark, path, queries, k=5, num_planes=4)
    os.remove(sidecar)  # an index written before the sidecar existed
    with pytest.raises(ValueError, match=rebuild):
        query_lsh_index_exact(spark, path, queries, k=5, num_planes=4)


def test_lsh_index_matches_oneshot_wide_dim(spark, sf_dir, tmp_path):
    """Same bit-parity pin at a wide dim (the Arrow fold-kernel bucket
    path + driver-side numpy probe bits)."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (  # noqa: E501
        ann_topk_lsh_exact,
        build_lsh_index_exact,
        query_lsh_index_exact,
    )

    dim = 192  # > DOT_UNROLL_MAX_DIM (128) -> wide kernels
    emb = _emb(spark, sf_dir).select(
        "vec_id",
        F.expr(
            "transform(sequence(0, 191), d -> "
            "element_at(cast(embedding as array<double>), (d % 64) + 1))"
        ).alias("embedding"),
    )
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "lshx80")
    build_lsh_index_exact(corpus, path, num_planes=4, dim=dim)
    via_index = query_lsh_index_exact(
        spark, path, queries, k=5, num_planes=4, dim=dim
    )
    oneshot = ann_topk_lsh_exact(
        corpus=corpus, queries=queries, k=5, num_planes=4, dim=dim
    )
    assert _rows(via_index) == _rows(oneshot)
