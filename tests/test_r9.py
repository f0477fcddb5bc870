"""Round-9 additions: ADVICE-fix regressions + new operators."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_pagerank_empty_edges(spark):
    """ADVICE r8: an empty edge set (fully-filtered corpus) must yield
    an empty frame with the contract schema, not ZeroDivisionError."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    out = pagerank(empty, n_iter=3)
    assert out.columns == ["node", "pr_scaled", "pr"]
    assert out.count() == 0


class _FakeState:
    """Minimal GroupState stand-in to drive the timeout branch of the
    streaming-multiline fold deterministically (real processing-time
    timeouts are wall-clock dependent)."""

    def __init__(self, value, timed_out):
        self._value = value
        self.hasTimedOut = timed_out
        self.exists = value is not None
        self.removed = False
        self.updated = None

    @property
    def get(self):
        return self._value

    def remove(self):
        self.removed = True

    def update(self, v):
        self.updated = v
        self._value = v
        self.exists = True

    def setTimeoutDuration(self, ms):
        pass


def test_streaming_multiline_timeout_keeps_counter():
    """ADVICE r8: a quiet-stream timeout flush must NOT reset the
    running event_no — the next head on the stream continues the
    counter instead of duplicating (stream, event_no) pairs."""
    import pandas as pd

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.streaming.multiline import (
        _reassemble_factory,
    )

    fold = _reassemble_factory("  ", 1000)

    # stream has emitted 4 events; event 5 is open when the timeout fires
    st = _FakeState((["head5", "  cont"], True, 4), timed_out=True)
    out = list(fold(("s1",), iter([]), st))
    assert len(out) == 1 and out[0]["event_no"].tolist() == [5]
    assert not st.removed and st.updated == ([], False, 5)

    # the next line after the flush continues at 6, not 1
    st2 = _FakeState(([], False, 5), timed_out=False)
    batch = pd.DataFrame({"line_no": [10, 11, 12],
                          "line": ["head6", "  c", "head7"]})
    out2 = pd.concat(list(fold(("s1",), iter([batch]), st2)),
                     ignore_index=True)
    assert out2["event_no"].tolist() == [6]
    assert st2.updated == (["head7"], True, 6)

    # timeout with an EMPTY re-seeded state emits nothing, keeps counter
    st3 = _FakeState(([], False, 5), timed_out=True)
    assert list(fold(("s1",), iter([]), st3)) == []
    assert st3.updated == ([], False, 5)


def test_signature_store_band_join_exchange_free(spark, sf_dir):
    """The persisted (band, key)-bucketed signature table makes the LSH
    band self-join Exchange-free on BOTH sides (SortMergeJoin over
    co-located buckets); the only remaining exchange is the candidate
    distinct. Also pins store-backed == one-shot pair identity."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.dedup import (
        banded_candidate_pairs,
        near_dup_pairs,
        near_dup_pairs_from_store,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.plans.registry import load
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.plans.sigstore import (
        signature_tables,
    )

    sh, bk = signature_tables(spark, sf_dir)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cands = banded_candidate_pairs(bk, "doc_id", None)
        plan = cands._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    ex = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert not any("band" in ln for ln in ex)  # join sides co-located
    assert len(ex) == 1  # the candidate-pair distinct only

    stored = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in near_dup_pairs_from_store(sh, bk, max_bucket_size=None).collect()
    )
    docs = load(spark, sf_dir, "documents")
    oneshot = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in near_dup_pairs(docs, max_bucket_size=None).collect()
    )
    assert stored == oneshot and len(stored) > 0


def test_streaming_neardup_store_compaction(spark, sf_dir, tmp_path):
    """N micro-batches then compaction: identical alerts on the next
    batch, identical store contents, bounded file count; a retried
    batch after compaction stays exactly-once (its leaf was not folded
    because it was not yet committed)."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.plans.registry import load
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.streaming.neardup import (
        StreamingNearDup,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    batches = [docs.filter(F.col("doc_id") % 4 == i) for i in range(4)]

    def alerts_set(df):
        return sorted((r.new_id, r.old_id, r.jaccard) for r in df.collect())

    plain = StreamingNearDup(str(tmp_path / "plain"), max_bucket_size=None)
    comp = StreamingNearDup(str(tmp_path / "comp"), max_bucket_size=None)
    for i in range(3):
        a = alerts_set(plain.process_batch(batches[i], i))
        b = alerts_set(comp.process_batch(batches[i], i))
        assert a == b

    # batches 0..2 committed -> foldable; nothing in flight
    folded = comp.compact(spark, up_to_batch=2)
    assert folded  # something was actually folded
    for tbl in ("bands", "shingled"):
        p = str(tmp_path / "comp" / tbl)
        leafs = [d for d in os.listdir(p) if d.startswith("ingest_batch=")]
        assert leafs == ["ingest_batch=-1"]
        n_files = sum(
            1
            for _r, _d, files in os.walk(p)
            for f in files
            if f.startswith("part-")
        )
        assert n_files <= 1

    # identical store contents after the fold
    for tbl in ("bands", "shingled"):
        rows = lambda root: sorted(  # noqa: E731
            map(
                tuple,
                spark.read.parquet(str(tmp_path / root / tbl))
                .drop("ingest_batch")
                .collect(),
            )
        )
        assert rows("plain") == rows("comp")

    # next batch alerts identical; a RETRY of it (dynamic overwrite of
    # its own un-folded leaf) changes nothing
    a3 = alerts_set(plain.process_batch(batches[3], 3))
    b3 = alerts_set(comp.process_batch(batches[3], 3))
    b3_retry = alerts_set(comp.process_batch(batches[3], 3))
    assert a3 == b3 == b3_retry
    for tbl in ("bands", "shingled"):
        rows = lambda root: sorted(  # noqa: E731
            map(
                tuple,
                spark.read.parquet(str(tmp_path / root / tbl))
                .drop("ingest_batch")
                .collect(),
            )
        )
        assert rows("plain") == rows("comp")

    # second compaction folds the folded leaf + batch 3 into -2
    comp.compact(spark, up_to_batch=3)
    leafs = [
        d
        for d in os.listdir(str(tmp_path / "comp" / "bands"))
        if d.startswith("ingest_batch=")
    ]
    assert leafs == ["ingest_batch=-2"]


def test_tokenize_pack_single_exchange(spark, sf_dir):
    """corpus_tokenize_pack's only shuffle beyond the test-data fan-out
    (_docs' explicit repartition) is the packing window's
    partition-by-source exchange — encode is a narrow Arrow pass."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.plans.llmops import (
        corpus_tokenize_pack,
    )

    df = corpus_tokenize_pack(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    ex = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(ex) == 2
    assert sum("hashpartitioning(source" in ln for ln in ex) == 1
    assert sum("REPARTITION_BY_NUM" in ln for ln in ex) == 1
    assert "CartesianProduct" not in plan

    # bin arithmetic sanity on real output: offsets are the running sum
    # of n_tokens in doc_id order within each source
    rows = df.collect()
    by_src = {}
    for r in sorted(rows, key=lambda r: (r.source, r.doc_id)):
        off = by_src.get(r.source, 0)
        assert r.bin_offset == off and r.bin_id == off // 128
        by_src[r.source] = off + r.n_tokens
