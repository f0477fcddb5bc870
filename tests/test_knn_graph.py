"""Exact k-NN graph: brute-force parity, incl. the multi-chunk path."""

from __future__ import annotations

import numpy as np

from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.similarity import (
    knn_graph,
)


def _vectors(n=80, dim=16, seed=7):
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n, dim)).round(3)


def _brute_force(mat, k):
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = norm @ norm.T
    np.fill_diagonal(sims, -np.inf)
    out = set()
    for i in range(len(mat)):
        # sort by (-cos, neighbor) to mirror the operator's tie-break
        order = sorted(range(len(mat)), key=lambda j: (-sims[i, j], j))
        for rank, j in enumerate(order[:k], start=1):
            out.add((i, j, rank))
    return out


def test_knn_graph_matches_brute_force(spark):
    mat = _vectors()
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r.vec_id, r.neighbor_id, r.rank)
        for r in knn_graph(df, k=3).collect()
    }
    assert got == _brute_force(mat, 3)


def test_knn_graph_chunked_equals_single_chunk(spark):
    mat = _vectors(n=60)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<double>",
    )
    one = {
        (r.vec_id, r.neighbor_id, r.rank, r.cosine)
        for r in knn_graph(df, k=4).collect()
    }
    many = {
        (r.vec_id, r.neighbor_id, r.rank, r.cosine)
        for r in knn_graph(df, k=4, chunk_size=17).collect()
    }
    assert one == many
    assert {(a, b, r) for a, b, r, _ in one} == _brute_force(mat, 4)


def test_hard_negatives_are_cross_label_and_exact(spark):
    import numpy as np

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.similarity import (
        hard_negatives,
    )

    mat = _vectors(n=50, dim=10, seed=5)
    labels = [f"L{i % 3}" for i in range(50)]
    df = spark.createDataFrame(
        [
            (i, [float(x) for x in row], labels[i])
            for i, row in enumerate(mat)
        ],
        "vec_id long, embedding array<double>, label string",
    )
    got = hard_negatives(df, k=2, chunk_size=13).collect()  # multi-chunk
    by_src = {}
    for r in got:
        assert labels[r.vec_id] != labels[r.negative_id]  # cross-label only
        by_src.setdefault(r.vec_id, []).append((r.rank, r.negative_id))

    # brute-force the exact cross-label top-2 with the same tie-break
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = norm @ norm.T
    for i in range(50):
        order = sorted(
            (j for j in range(50) if labels[j] != labels[i]),
            key=lambda j: (-sims[i, j], j),
        )
        expect = [(r + 1, j) for r, j in enumerate(order[:2])]
        assert sorted(by_src[i]) == expect


def test_kcenter_picks_spread_and_radius_shrinks(spark):
    import numpy as np

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.similarity import (
        kcenter_sample,
    )

    # three tight blobs far apart: the first 3 selections after the
    # seed must cover all three blobs before refining within any one
    rng = np.random.default_rng(2)
    blobs = []
    for b, center in enumerate([(10, 0, 0), (0, 10, 0), (0, 0, 10)]):
        for i in range(20):
            v = np.array(center, dtype=float) + rng.normal(scale=0.05, size=3)
            blobs.append((b * 100 + i, [float(x) for x in v]))
    df = spark.createDataFrame(blobs, "vec_id long, embedding array<double>")
    sel = kcenter_sample(df, m=5)
    assert [s[0] for s in sel] == [1, 2, 3, 4, 5]
    blob_of = lambda cid: cid // 100  # noqa: E731
    # after 3 selections every blob has a center
    assert {blob_of(cid) for _, cid, _ in sel[:3]} == {0, 1, 2}
    # coverage radius is non-increasing from step 2 on
    dists = [d for _, _, d in sel[1:]]
    assert all(a >= b for a, b in zip(dists, dists[1:]))
    # determinism under repartitioning
    sel2 = kcenter_sample(df.repartition(7), m=5)
    assert sel == sel2


def test_hard_negatives_null_labels_excluded(spark):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.similarity import (
        hard_negatives,
    )

    mat = _vectors(n=12, dim=6, seed=9)
    rows = [
        (i, [float(x) for x in row], None if i < 3 else f"L{i % 2}")
        for i, row in enumerate(mat)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    got = hard_negatives(df, k=2).collect()
    # SQL label <> label semantics: NULL-label rows are neither sources
    # nor candidates
    ids = {r.vec_id for r in got} | {r.negative_id for r in got}
    assert ids and not (ids & {0, 1, 2})


def test_kcenter_zero_vector_and_empty_edges(spark):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.similarity import (
        kcenter_sample,
    )

    rows = [
        (0, [0.0, 0.0, 0.0]),  # zero vector must not poison the argmax
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sel = kcenter_sample(df, m=3)
    assert len(sel) == 3
    assert all(d is None or not (d != d) for _, _, d in sel)  # no NaN dists
    assert len({cid for _, cid, _ in sel}) == 3  # never re-selects

    assert kcenter_sample(df, m=0) == []
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert kcenter_sample(empty, m=4) == []


def test_kcenter_stops_when_all_points_selected(spark):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.similarity import (
        kcenter_sample,
    )

    rows = [(i, [float(i == j) for j in range(3)]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sel = kcenter_sample(df, m=6)  # m > n: must stop at 3 distinct
    assert len(sel) == 3
    assert len({cid for _, cid, _ in sel}) == 3
