"""Streaming ANN maintenance on the exact-arith family: the foreachBatch
IVF-PQ ingest (streaming/annindex.py) and the streaming SemDeDup guard
(streaming/semdedup.py) must equal their batch operators."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (
    _load_ivfpq_artifacts,
    _unit,
    ann_topk_ivfpq_exact,
    encode_codes_arrays,
    fit_centroids_exact,
    semdedup_pairs_exact,
)
from cloudwatch_sematext_aws_lambda_log_shipper_spark.plans.registry import load


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_ivfpq_ingest_matches_frozen_build(spark, sf_dir, tmp_path):
    """Real Structured Streaming run (file source, maxFilesPerTrigger=1,
    foreachBatch): batch 0 bootstraps the index (its quantizer is fit
    on batch 0 alone), later batches append with the quantizer frozen.
    The code rows equal the union encoded with it — after the first
    run, and after a restart from the same checkpoint that ingests only
    a new file. After checkpoint-aware compaction to one leaf, codes
    are unchanged and queries equal the one-shot search with the same
    quantizer, with the cluster PartitionFilter on the code scan."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.streaming.annindex import (  # noqa: E501
        StreamingIVFPQIngest,
    )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    parts = [corpus.filter(F.col("vec_id") % 4 == i) for i in range(4)]

    inp = tmp_path / "in"
    inp.mkdir()

    def land_file(i):
        stage = str(tmp_path / f"stage{i}")
        parts[i].coalesce(1).write.mode("overwrite").parquet(stage)
        src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = str(inp / f"b{i}.parquet")
        shutil.move(src, dst)
        # file-source ordering is by mod time: pin a strict order
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    for i in range(3):
        land_file(i)

    idx = str(tmp_path / "idx")
    ingest = StreamingIVFPQIngest(idx)
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(str(inp / "b0.parquet")).schema

    def run_stream():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(inp))
            .writeStream.foreachBatch(ingest.process_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        assert not q.isActive

    run_stream()

    # the quantizer is fit on the first delivery alone ...
    centers, books = _load_ivfpq_artifacts(spark, idx)
    assert centers == fit_centroids_exact(parts[0], ingest.n_clusters)

    def codes_rows():
        return sorted(
            (r["neighbor_id"], r["cluster"], tuple(r["_ts"]))
            for r in spark.read.parquet(f"{idx}/codes").collect()
        )

    # the union encoded one-shot with the frozen quantizer; parts 0-2
    # are its first three quarters
    cn = _unit(corpus, "vec_id", "embedding", "neighbor_id", 64)
    ref_codes = encode_codes_arrays(
        cn, centers, books, m=ingest.m
    ).localCheckpoint()
    want = sorted(
        (r["neighbor_id"], r["_cl"], tuple(r["_ts"]))
        for r in ref_codes.collect()
    )
    first3 = codes_rows()
    assert first3 == [r for r in want if r[0] % 4 != 3] and first3

    # restart with one new file: the checkpoint replays nothing, the
    # new file becomes batch 3, and the index holds the 4-part union
    # (still fit-frozen on part 0)
    land_file(3)
    run_stream()
    # ... and frozen from then on
    assert _load_ivfpq_artifacts(spark, idx) == (centers, books)
    assert codes_rows() == want

    # checkpoint-aware compaction: folds all committed leafs of both
    # tables; codes, results and the code-scan PartitionFilter survive
    assert ingest.compact(spark, checkpoint_dir=ckpt)
    for table in ("codes", "vectors"):
        leafs = [
            d
            for d in os.listdir(os.path.join(idx, table))
            if d.startswith("ingest_batch=")
        ]
        assert leafs == ["ingest_batch=-1"]
    assert codes_rows() == want
    expected = _rows(
        ann_topk_ivfpq_exact(
            corpus, queries, k=5, nprobe=4, m=ingest.m,
            artifacts=(centers, books, ref_codes),
        )
    )
    res = ingest.query(spark, queries, k=5, nprobe=4)
    assert _rows(res) == expected and expected
    plan = res._jdf.queryExecution().executedPlan().toString()
    # the code-table scan reads the _ts code arrays (its Location
    # string may be abbreviated)
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln and "_ts" in ln]
    assert scans and any(
        "PartitionFilters" in ln and "cluster" in ln for ln in scans
    )


def test_streaming_semdedup_matches_batch(spark, sf_dir, tmp_path):
    """Two micro-batches' alert union equals the batch
    semdedup_pairs_exact pair set at the same threshold and pinned
    centers — bit for bit, cosines included. Re-delivery adds nothing
    new, and compaction folds the store."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.streaming.semdedup import (  # noqa: E501
        StreamingSemDedup,
    )

    emb = load(spark, sf_dir, "embeddings")
    centers = fit_centroids_exact(emb, n_clusters=16)
    # the synthetic embeddings have no >0.9-cosine semantic dups; 0.3
    # yields a few hundred pairs, making the set equality non-vacuous
    thr = 0.3

    batch = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in semdedup_pairs_exact(
            emb, threshold=thr, centers=centers
        ).collect()
    )
    assert batch  # threshold chosen so the equality is non-vacuous

    guard = StreamingSemDedup(
        str(tmp_path / "sem"), threshold=thr, centers=centers
    )
    a0 = guard.process_batch(emb.filter(F.col("vec_id") % 2 == 0), 0)
    a1 = guard.process_batch(emb.filter(F.col("vec_id") % 2 == 1), 1)
    streamed = sorted(
        {
            (min(r.new_id, r.old_id), max(r.new_id, r.old_id), r.cosine)
            for r in a0.unionByName(a1).collect()
        }
    )
    assert streamed == batch

    # re-delivery of batch 1 adds nothing new (store self-match guard)
    a1_retry = guard.process_batch(emb.filter(F.col("vec_id") % 2 == 1), 1)
    retried = {
        (min(r.new_id, r.old_id), max(r.new_id, r.old_id), r.cosine)
        for r in a1_retry.collect()
    }
    assert retried <= set(batch)

    # compaction folds the store's committed leafs into one
    assert guard.compact(spark, up_to_batch=1)
    leafs = [
        d
        for d in os.listdir(str(tmp_path / "sem" / "vectors"))
        if d.startswith("ingest_batch=")
    ]
    assert leafs == ["ingest_batch=-1"]
