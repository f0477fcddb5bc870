"""Round-10 additions: curation-pipeline composition + plan audit."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_curate_e2e_plan_and_invariants(spark, sf_dir):
    """corpus_curate_e2e plan audit (the docstring's no-re-shuffle
    claim) + output invariants the oracle can't see:

    - the curated set is persisted and REUSED by its consumers
      (InMemoryTableScan appears for dsir/encode/packing) instead of
      replaying the six-stage spine per consumer;
    - exactly one per-source packing-window exchange, no cartesian
      product anywhere in the composed plan;
    - benchmark members (doc_id % 50 == 0) are excluded;
    - no two output docs share a content hash (stage 2 held);
    - bin offsets are the running token sum in doc_id order per source
      (stage 6 held);
    - every row carries a finite DSIR weight.
    """
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.plans.llmops import (
        corpus_curate_e2e,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.plans.registry import load

    df = corpus_curate_e2e(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the curated spine is materialized ONCE and reused by its
    # consumers: r10-r14 via persist() (InMemoryTableScan per reader),
    # opt r15 via localCheckpoint (each reader scans the same
    # ExistingRDD and the six-stage spine appears in NO reader's plan)
    assert (
        plan.count("InMemoryTableScan") >= 3
        or plan.count("Scan ExistingRDD") >= 3
    )
    # one packing-window exchange on source; InMemoryRelation reprints
    # its child plan per scan, so count OUTSIDE those reprinted blocks
    # is what matters — the window sits above the cache, printed once.
    assert sum("hashpartitioning(source" in ln for ln in plan.splitlines()) == 1

    rows = df.collect()
    assert len(rows) > 0
    assert all(r.doc_id % 50 != 0 for r in rows)
    assert all(r.dsir_logratio is not None for r in rows)

    # stage-2 invariant: distinct content hashes among survivors
    out_ids = [r.doc_id for r in rows]
    docs = load(spark, sf_dir, "documents")
    n_hashes = (
        docs.filter(F.col("doc_id").isin(out_ids))
        .select(F.md5("text"))
        .distinct()
        .count()
    )
    assert n_hashes == len(out_ids)

    # stage-6 invariant: running offsets per source
    by_src: dict[str, int] = {}
    for r in sorted(rows, key=lambda r: (r.source, r.doc_id)):
        off = by_src.get(r.source, 0)
        assert r.bin_offset == off and r.bin_id == off // 128
        by_src[r.source] = off + r.n_tokens


def test_curate_e2e_monotone_stages(spark, sf_dir):
    """Each stage only removes documents: the curated set is a subset
    of the lang/quality survivors, which are a subset of the corpus —
    and the near-dup stage kept at most one doc per multi-member
    cluster."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.dedup import (
        near_dup_clusters_from_store,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.plans.llmops import (
        corpus_curate_e2e,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.plans.sigstore import (
        signature_tables,
    )

    out_ids = {r.doc_id for r in corpus_curate_e2e(spark, sf_dir).collect()}
    sh, bk = signature_tables(spark, sf_dir)
    clusters = near_dup_clusters_from_store(sh, bk, max_bucket_size=None)
    per_cluster: dict[int, int] = {}
    for r in clusters.collect():
        if r.doc_id in out_ids:
            per_cluster[r.cluster_id] = per_cluster.get(r.cluster_id, 0) + 1
    assert per_cluster and max(per_cluster.values()) == 1


def test_jpeg_codec_roundtrip_and_multimodal_paths(spark):
    """Vendored baseline-JPEG codec (public ITU T.81 spec, pure numpy)
    un-stubs the multimodal JPEG path: near-lossless round-trip at flat
    quant=1 in 4:4:4 / 4:2:0 / with restart markers, SOF-header dims,
    and the Spark-side decode/resize/dHash stages consuming real JPEG
    bytes end-to-end."""
    import numpy as np

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.jpeg_baseline import (
        decode_baseline_jpeg,
        encode_baseline_jpeg,
        jpeg_dims,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.multimodal import (
        decode_image_features,
        dhash_images,
        resize_images,
    )

    yy, xx = np.mgrid[0:37, 0:45]
    img = (
        np.stack([(yy * 3 + xx) % 256, (xx * 2) % 256, (yy * 5) % 256], axis=2)
        .astype(np.uint8)
        // 4
        * 4
    )

    # codec round trips: 4:4:4, 4:2:0 (luma-tight), restart markers
    out = decode_baseline_jpeg(encode_baseline_jpeg(img, quant=1))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2
    jb420 = encode_baseline_jpeg(img, quant=1, subsampling="420",
                                 restart_interval=2)
    out420 = decode_baseline_jpeg(jb420)
    luma = lambda a: 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
    assert np.abs(luma(out420) - luma(img)).max() <= 2.0
    assert jpeg_dims(jb420) == (45, 37, 3)
    g = np.tile(np.arange(0, 160, 10, dtype=np.uint8), (16, 1))
    gout = decode_baseline_jpeg(encode_baseline_jpeg(g, quant=1))
    assert (gout[:, :, 0] == g).all()  # grayscale exact at flat quant

    # Spark stages over real JPEG bytes (+ one PPM row, one junk row)
    ppm = b"P6\n16 16\n255\n" + bytes(16 * 16 * 3)
    rows = [
        (1, bytearray(encode_baseline_jpeg(img, quant=1))),
        (2, bytearray(jb420)),
        (3, bytearray(ppm)),
        (4, bytearray(b"\x89PNG....not-a-real-png")),
    ]
    df = spark.createDataFrame(rows, "media_id long, media binary")
    feats = {r.media_id: r for r in decode_image_features(df).collect()}
    assert (feats[1].width, feats[1].height, feats[1].channels) == (45, 37, 3)
    assert (feats[2].width, feats[2].height) == (45, 37)
    assert (feats[3].width, feats[3].height) == (16, 16)

    rz = {r.media_id: r for r in resize_images(df, 16, 16).collect()}
    assert rz[1].media is not None and bytes(rz[1].media)[:2] == b"P6"
    assert rz[4].media is None  # PNG-class: null, not a crash

    dh = {r.media_id: (r.dh_hi, r.dh_lo) for r in dhash_images(df).collect()}
    assert dh[1][0] is not None and dh[4][0] is None
    # 4:2:0 re-encode of the same scene: a near-dup, few bits apart
    dist = bin(
        (dh[1][0] ^ dh[2][0]) | ((dh[1][1] ^ dh[2][1]) << 32)
    ).count("1")
    assert dist <= 8


# --- RIFF/AVI Motion-JPEG container (vendored, public spec) -------------


def _mk_jpeg(w, h, val=128):
    import numpy as np

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.jpeg_baseline import (
        encode_baseline_jpeg,
    )

    return encode_baseline_jpeg(np.full((h, w, 3), val, dtype=np.uint8))


def test_avi_mjpeg_roundtrip_bit_exact():
    """encode -> decode returns the exact frame payloads in order,
    including odd-length payloads (word padding must not leak into the
    frame bytes), and the headers carry the declared geometry."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.avi_mjpeg import (
        avi_meta,
        decode_avi_frames,
        encode_avi_mjpeg,
    )

    frames = [_mk_jpeg(16, 8, v) for v in (0, 128, 255)]
    # force an odd-length payload to exercise the pad-byte path
    frames.append(frames[0] + b"\x00" if len(frames[0]) % 2 == 0
                  else frames[0])
    assert any(len(f) % 2 == 1 for f in frames)
    avi = encode_avi_mjpeg(frames, 16, 8, fps=24)

    meta = avi_meta(avi)
    assert (meta["width"], meta["height"]) == (16, 8)
    assert meta["n_frames"] == len(frames)
    assert meta["fps"] == 24
    assert meta["handler"] == "MJPG"

    out = list(decode_avi_frames(avi))
    assert [i for i, _ in out] == list(range(len(frames)))
    assert [f for _, f in out] == frames  # bit-exact

    # frame payloads are standalone baseline JPEGs at the right dims
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.jpeg_baseline import (
        decode_baseline_jpeg,
    )

    img = decode_baseline_jpeg(out[1][1])
    assert img.shape == (8, 16, 3)


def test_avi_mjpeg_rec_list_and_db_chunks():
    """Spec corners the writer doesn't emit but real files contain:
    'rec ' grouping LISTs inside movi, and '00db' (uncompressed DIB
    fourcc) video chunks — both must still yield frames in order."""
    import struct

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators import (
        avi_mjpeg as am,
    )

    f0, f1, f2 = (_mk_jpeg(8, 8, v) for v in (10, 20, 30))
    base = am.encode_avi_mjpeg([f0], 8, 8)
    # splice a rec LIST holding two more chunks (one tagged 00db) into
    # the movi list of a writer-produced file
    extra = am._list(
        b"rec ", am._chunk(b"00dc", f1) + am._chunk(b"00db", f2)
    )
    movi_at = base.find(b"LIST") and base.index(b"movi") - 8
    (movi_size,) = struct.unpack_from("<I", base, movi_at + 4)
    patched = (
        base[: movi_at + 4]
        + struct.pack("<I", movi_size + len(extra))
        + base[movi_at + 8 : movi_at + 8 + movi_size]
        + extra
        + base[movi_at + 8 + movi_size :]
    )
    patched = patched[:4] + struct.pack(
        "<I", len(patched) - 8
    ) + patched[8:]
    out = list(am.decode_avi_frames(patched))
    assert [f for _, f in out] == [f0, f1, f2]
    assert [i for i, _ in out] == [0, 1, 2]


def test_avi_mjpeg_rejects_unknown_codec_and_non_avi():
    import pytest as _pytest

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.avi_mjpeg import (
        avi_meta,
        decode_avi_frames,
        encode_avi_mjpeg,
    )

    avi = encode_avi_mjpeg([_mk_jpeg(8, 8)], 8, 8)
    h264 = avi.replace(b"vidsMJPG", b"vidsH264")
    with _pytest.raises(ValueError, match="H264"):
        avi_meta(h264)
    with _pytest.raises(ValueError):
        list(decode_avi_frames(h264))
    with _pytest.raises(ValueError, match="RIFF"):
        avi_meta(b"\x00" * 64)
    with _pytest.raises(ValueError):
        avi_meta(b"RIFF\x04\x00\x00\x00WAVE")  # RIFF but not AVI


def test_sample_frames_avi_dispatch(spark):
    """sample_frames over a mixed media column: AVI/MJPEG containers,
    raw concatenated-PPM, nulls and garbage coexist in one batch; the
    AVI rows keep every 2nd frame as decodable JPEG bytes, PPM rows
    keep the PPM walk, junk yields nothing."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.avi_mjpeg import (
        encode_avi_mjpeg,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.jpeg_baseline import (
        decode_baseline_jpeg,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.multimodal import (
        sample_frames,
    )

    jpg = _mk_jpeg(16, 8)
    avi3 = encode_avi_mjpeg([jpg] * 3, 16, 8)   # keeps frames 0, 2
    avi1 = encode_avi_mjpeg([jpg], 16, 8)       # keeps frame 0
    ppm2 = b"P6\n4 2\n255\n" + b"y" * 24
    rows = [
        (1, avi3),
        (2, avi1),
        (3, ppm2 * 2),   # 2-frame raw PPM video -> keeps frame 0
        (4, None),
        (5, b"not media at all"),
    ]
    df = spark.createDataFrame(rows, "media_id long, media binary")
    got = {
        (r.media_id, r.frame_idx): bytes(r.frame)
        for r in sample_frames(df, every_n=2).collect()
    }
    assert set(got) == {(1, 0), (1, 2), (2, 0), (3, 0)}
    assert got[(1, 2)] == jpg
    assert decode_baseline_jpeg(got[(1, 0)]).shape == (8, 16, 3)
    assert got[(3, 0)] == ppm2


def test_sentence_boilerplate_removal_semantics(spark):
    """Crafted corpus pins: the distinct-doc threshold (>=3 docs, not
    >=3 occurrences), the min-normalized-length guard, normalization
    equivalence ('Enable JS!' == 'enable js'), ordered reassembly, and
    the all-boiler -> empty-string case."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.text import (
        sentence_boilerplate_removal,
    )

    B = "Please enable javascript right now"
    rows = [
        # boiler appears in 3 distinct docs, with case/punct variants
        (1, "a", f"{B}. Unique one here today ok. Thanks."),
        (2, "a", f"{B.upper()}! Unique two here today ok. Thanks."),
        (3, "b", f"Unique three here today ok? {B.lower()}."),
        # repeated twice in ONE doc elsewhere: distinct-doc count for
        # 'twice repeated sentence...' is 2 -> NOT boiler
        (4, "b", "Twice repeated sentence body. Twice repeated "
                 "sentence body. Unique four here."),
        (5, "b", "Twice repeated sentence body. Solo five."),
        # all-boiler document
        (6, "b", f"{B}."),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    out = {
        r.doc_id: r
        for r in sentence_boilerplate_removal(
            docs, min_docs=3, min_norm_len=12
        ).collect()
    }
    assert out[1].n_removed == 1
    assert out[1].clean_text == "Unique one here today ok Thanks."
    assert out[2].n_removed == 1
    assert out[2].clean_text == "Unique two here today ok Thanks."
    assert out[3].n_removed == 1
    assert out[3].clean_text == "Unique three here today ok"
    # two occurrences in one doc + one in another = 2 distinct docs
    assert out[4].n_removed == 0 and out[5].n_removed == 0
    assert out[4].clean_text == (
        "Twice repeated sentence body Twice repeated sentence body "
        "Unique four here."
    )
    # everything stripped -> empty string, row still present
    assert out[6].n_removed == 1 and out[6].clean_text == ""
    # short repeated 'Thanks' (norm 6 chars, 2 docs) never boiler
    assert "Thanks" in out[1].clean_text


# --- ISO-BMFF/MP4 Motion-JPEG container (vendored, public spec) ----------


def test_mp4_mjpeg_roundtrip_bit_exact():
    """Encode -> decode round-trips every frame byte-for-byte across
    chunk layouts: single-chunk, one-sample-per-chunk, and a ragged
    2-per-chunk tail (multi-entry stsc run expansion). Output is
    deterministic; meta reads dims/counts without touching payloads."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.mp4_mjpeg import (
        decode_mp4_frames,
        encode_mp4_mjpeg,
        mp4_meta,
    )

    frames = [_mk_jpeg(16, 8, val=40 + 30 * i) for i in range(5)]
    for fpc in (0, 1, 2, 3):
        data = encode_mp4_mjpeg(frames, 16, 8, fps=10, frames_per_chunk=fpc)
        assert [f for _, f in decode_mp4_frames(data)] == frames, fpc
        m = mp4_meta(data)
        assert (m["codec"], m["width"], m["height"], m["n_frames"]) == (
            "jpeg", 16, 8, 5,
        )
        assert (m["timescale"], m["duration"]) == (10, 5)
    assert encode_mp4_mjpeg(frames, 16, 8) == encode_mp4_mjpeg(frames, 16, 8)


def test_mp4_mjpeg_rejects_unknown_codec_and_non_mp4():
    """An avc1 sample entry raises the documented ValueError (inter-
    frame codecs are a library gap, not silently-empty output); AVI
    bytes and junk raise the not-an-mp4 error; a truncated mdat stops
    at the cut instead of throwing."""
    import struct

    import pytest as _pytest

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.mp4_mjpeg import (
        decode_mp4_frames,
        encode_mp4_mjpeg,
    )

    frames = [_mk_jpeg(8, 8)] * 2
    data = encode_mp4_mjpeg(frames, 8, 8)

    # surgically retag the stsd sample entry: locate 'stsd' then the
    # entry fourcc 8 bytes into its payload (after version/flags+count)
    i = data.find(b"stsd")
    entry_fourcc_at = i + 4 + 8 + 4  # fourcc, ver+flags+count, entry size
    assert data[entry_fourcc_at : entry_fourcc_at + 4] == b"jpeg"
    bad = data[:entry_fourcc_at] + b"avc1" + data[entry_fourcc_at + 4 :]
    with _pytest.raises(ValueError, match="avc1"):
        list(decode_mp4_frames(bad))

    for junk in (b"RIFF\x00\x00\x00\x00AVI LIST", b"hello world" * 4, b""):
        with _pytest.raises(ValueError, match="ftyp|moov"):
            list(decode_mp4_frames(junk))

    # a truncated file whose mdat size field overshoots EOF: the box
    # walk stops cleanly, moov is unreachable -> loud error, no crash
    ftyp_size = struct.unpack_from(">I", data, 0)[0]
    cut = data[: ftyp_size + 8 + len(frames[0]) + 3]
    with _pytest.raises(ValueError):
        list(decode_mp4_frames(cut))

    # a sample whose (offset, size) extends past EOF (lying stsz, the
    # torn-write case): that sample is dropped silently, prior samples
    # still decode — one rogue entry cannot poison the batch
    j = data.find(b"stsz")
    n_payload_at = j + 4 + 4 + 4  # fourcc, ver+flags, fixed_size
    (n,) = struct.unpack_from(">I", data, n_payload_at)
    assert n == 2
    last_size_at = n_payload_at + 4 + 4 * (n - 1)
    lying = (
        data[:last_size_at]
        + struct.pack(">I", 0x7FFFFFFF)
        + data[last_size_at + 4 :]
    )
    got = [f for _, f in decode_mp4_frames(lying)]
    assert got == frames[:1]


def test_sample_frames_mp4_dispatch(spark):
    """sample_frames over a mixed media column: MP4 and AVI Motion-JPEG
    containers, raw PPM, nulls and an avc1-tagged MP4 coexist in one
    batch; the magic dispatch routes each correctly and the rogue
    codec yields zero rows instead of poisoning the Arrow batch."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.avi_mjpeg import (
        encode_avi_mjpeg,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.jpeg_baseline import (
        decode_baseline_jpeg,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.mp4_mjpeg import (
        encode_mp4_mjpeg,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.multimodal import (
        sample_frames,
    )

    jpg = _mk_jpeg(16, 8)
    mp43 = encode_mp4_mjpeg([jpg] * 3, 16, 8, frames_per_chunk=2)
    avi1 = encode_avi_mjpeg([jpg], 16, 8)
    data = encode_mp4_mjpeg([jpg] * 2, 16, 8)
    i = data.find(b"stsd")
    at = i + 4 + 8 + 4
    rogue = data[:at] + b"avc1" + data[at + 4 :]
    rows = [
        (1, mp43),   # keeps frames 0, 2
        (2, avi1),   # keeps frame 0
        (3, rogue),  # unsupported codec -> no rows
        (4, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, media binary")
    got = {
        (r.media_id, r.frame_idx): bytes(r.frame)
        for r in sample_frames(df, every_n=2).collect()
    }
    assert set(got) == {(1, 0), (1, 2), (2, 0)}
    assert got[(1, 2)] == jpg
    assert decode_baseline_jpeg(got[(1, 0)]).shape == (8, 16, 3)


def test_phrase_search_semantics_and_pruning(spark):
    """Crafted-corpus pins for the positional index: 3-term phrases,
    OVERLAPPING occurrences, a repeated-token phrase ('ba ba'), 1-based
    position-1 matches, case folding, and no false positive when the
    words appear non-adjacent. The phrase's terms must prune the index
    scan to a tok_bucket PartitionFilter."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.text import (
        build_positional_index,
        phrase_search,
    )

    rows = [
        (1, "alpha beta gamma delta"),        # 'beta gamma' at 2
        (2, "beta gamma beta gamma"),         # at 1 and 3
        (3, "beta delta gamma"),              # non-adjacent -> no match
        (4, "BETA Gamma"),                    # case folded -> at 1
        (5, "ba ba ba"),                      # 'ba ba' overlaps: 1 and 2
        (6, ""),                              # empty doc
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx_df = build_positional_index(docs, n_buckets=8)
    # persist partitioned like the query does, so pruning is observable
    import tempfile

    path = tempfile.mkdtemp(prefix="posidx_")
    (
        idx_df.repartition("tok_bucket")
        .write.mode("overwrite")
        .partitionBy("tok_bucket")
        .parquet(path)
    )
    index = spark.read.parquet(path)

    def occs(phrase):
        res = phrase_search(index, phrase, n_buckets=8)
        return sorted((r.doc_id, r.start) for r in res.collect())

    assert occs(["beta", "gamma"]) == [(1, 2), (2, 1), (2, 3), (4, 1)]
    assert occs(["alpha", "beta", "gamma"]) == [(1, 1)]
    assert occs(["ba", "ba"]) == [(5, 1), (5, 2)]
    assert occs(["ba", "ba", "ba"]) == [(5, 1)]
    assert occs(["gamma", "beta"]) == [(2, 2)]
    assert occs(["delta", "beta"]) == []

    res = phrase_search(index, ["beta", "gamma"], n_buckets=8)
    plan = res._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans and any(
        "PartitionFilters" in ln and "tok_bucket" in ln for ln in scans
    )


def test_hybrid_rrf_plan_shape(spark, sf_dir):
    """doc_hybrid_search_rrf stays scale-safe by construction: both
    rankers cap with TakeOrderedAndProject(100) BEFORE any rank window
    (plus the final top-10 — >= 3 TakeOrderedAndProject nodes), there
    are exactly the two rank windows, the query-side embedding joins
    the corpus side via broadcast, and nothing in the plan is a
    cartesian product."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.plans.llmops import (
        doc_hybrid_search_rrf,
    )

    df = doc_hybrid_search_rrf(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("TakeOrderedAndProject") >= 3
    assert plan.count("Window") == 2
    assert "BroadcastHashJoin" in plan
    rows = df.collect()
    assert 0 < len(rows) <= 10
    # fused score is consistent with the emitted ranks
    for r in rows:
        expect = (1.0 / (60 + r.lex_rank) if r.lex_rank else 0.0) + (
            1.0 / (60 + r.sem_rank) if r.sem_rank else 0.0
        )
        assert abs(r.rrf_score - round(expect, 9)) < 1e-12


def test_proximity_search_semantics(spark):
    """Crafted pins for NEAR(a, b, window): either-order matches, the
    |distance| == window boundary is INclusive, window+1 is out, pairs
    near position 1 survive the bucket-range clamp (trunc-toward-zero
    on the negative lower bound), multiple pairs per doc all emit, and
    same-term NEAR is rejected toward phrase_search."""
    import pytest as _pytest

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.text import (
        build_positional_index,
        proximity_search,
    )

    rows = [
        (1, "aa x x x bb"),       # dist 4 == window -> in
        (2, "aa x x x x bb"),     # dist 5 -> out
        (3, "bb aa"),             # either order, dist 1, positions 1/2
        (4, "aa bb x aa"),        # pairs: (1,2)=1 and (4,2)=2
        (5, "aa only here"),
        (6, "x bb x"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    index = build_positional_index(docs, n_buckets=8)

    got = sorted(
        (r.doc_id, r.pos_a, r.pos_b, r.distance)
        for r in proximity_search(index, "aa", "bb", window=4,
                                  n_buckets=8).collect()
    )
    assert got == [
        (1, 1, 5, 4),
        (3, 2, 1, 1),
        (4, 1, 2, 1),
        (4, 4, 2, 2),
    ]

    with _pytest.raises(ValueError, match="differ"):
        proximity_search(index, "aa", "AA", window=3)
    with _pytest.raises(ValueError, match="window"):
        proximity_search(index, "aa", "bb", window=0)
