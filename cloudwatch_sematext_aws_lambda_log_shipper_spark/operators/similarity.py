"""Embedding similarity primitives and the exact operators built on
them: the dot/cosine expression builders (the sequential-fold dot
contract that the ANN family in :mod:`.ivf_exact` relies on), exact
cosine top-k, exact threshold pairs, recall@k audits, int8 quantized
search, the blocked-GEMM k-NN graph and hard negatives, and k-center /
MMR diversity sampling. Approximate search (IVF, IVF-PQ, LSH, the IVF
k-NN graph, SemDeDup) lives in :mod:`.ivf_exact`.

The exact top-k broadcasts the (small) query set and scans the corpus
once — at 100 TB that is a single narrow pass, the right brute-force
shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product (matches DuckDB list_dot_product
    evaluation order, so oracle values are bit-comparable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# Above this dimension the unrolled fold is a net loss: janino FAILS to
# compile the generated method (observed at dim=768: "Failed to compile
# the generated Java code", with multi-second compile attempts per
# stage before each fallback), so every stage pays a doomed compile and
# then runs interpreted anyway. The HOF fold evaluates the identical
# left-fold sequence without codegen involvement, so values are
# unchanged — only the execution strategy flips.
DOT_UNROLL_MAX_DIM = 128

# The measured break-even (PROFILE_r12): each distinct unrolled-dot
# stage costs ~2-4 s of driver-side Catalyst/janino compile before the
# first row scores, and the per-row win over the interpreted HOF fold
# is ~1-2 us — so the unrolled form only pays for itself when a stage
# scores >= ~10^6-10^7 rows. We flip at 5e6, the geometric middle of
# the measured band; at bench scale (10^4-10^5 scored rows/stage) the
# fold wins 3-10x end-to-end (sf0.1: one-shot IVF 19.5 s unrolled vs
# 1.9 s HOF; IVF-PQ 7.9 vs 4.2; LSH 5.3 vs 1.7), while at a real
# 100 TB deployment (10^9+ scored rows) the codegen'd form is the
# right side and the rule picks it automatically from the caller's
# row estimate.
DOT_UNROLL_CROSSOVER_ROWS = 5_000_000

_logged_strategies: set = set()

# r15 (r14 verdict #6): the cost rule fires silently at deployment
# scale — record every (dim, est_rows, strategy, why) decision so the
# bench/PROFILE artifacts carry per-ANN-query pairs and a future
# crossover drift is visible in the committed record. Bounded ring so
# a pathological caller can't grow driver memory; bench drains it per
# query via drain_dot_decisions().
_DOT_DECISIONS_MAX = 512
DOT_DECISIONS: list[dict] = []
_dot_decisions_dropped = 0


def drain_dot_decisions() -> list[dict]:
    """Return and clear the recorded cost-rule decisions (one dict per
    dot_cols call: dim / est_rows / strategy / why). When the bounded
    ring overflowed since the last drain, the list ends with a
    ``{"dropped": k}`` sentinel — a truncated record must never read
    as a complete one."""
    global _dot_decisions_dropped
    out = list(DOT_DECISIONS)
    if _dot_decisions_dropped:
        out.append({"dropped": _dot_decisions_dropped})
        _dot_decisions_dropped = 0
    DOT_DECISIONS.clear()
    return out


def _log_dot_strategy(
    strategy: str, dim: int, why: str, est_rows: int | None = None
) -> None:
    """One-time (per strategy x dim x reason) observability line so the
    active physical form is visible in driver logs (ADVICE r12: an env
    var silently flipping every caller's plan was unobservable) — plus
    the per-call decision record above."""
    if len(DOT_DECISIONS) < _DOT_DECISIONS_MAX:
        DOT_DECISIONS.append(
            {
                "dim": dim,
                "est_rows": est_rows,
                "strategy": strategy,
                "why": why,
            }
        )
    else:
        global _dot_decisions_dropped
        _dot_decisions_dropped += 1
    key = (strategy, dim, why)
    if key not in _logged_strategies:
        _logged_strategies.add(key)
        import logging

        logging.getLogger(__name__).info(
            "dot_cols strategy=%s dim=%d (%s)", strategy, dim, why
        )


def _unroll_override() -> bool | None:
    """SPARK_GRAFT_DOT_UNROLL forces the strategy when set: 1/true/on
    forces the unrolled form, 0/false/off forces the HOF fold. Unset
    (the default) lets the cost rule below decide per call site."""
    import os

    raw = os.environ.get("SPARK_GRAFT_DOT_UNROLL", "").strip().lower()
    if raw in ("1", "true", "on", "yes"):
        return True
    if raw in ("0", "false", "off", "no"):
        return False
    return None


def dot_cols(
    a: Column, b: Column, dim: int, est_rows: int | None = None
) -> Column:
    """:func:`dot` UNROLLED into the flat expression
    ``0.0 + a[0]*b[0] + a[1]*b[1] + ...`` — the exact left-fold tree
    the HOF builds (acc starts 0.0, one ``acc + x*y`` per element), so
    every double is bit-identical to ``dot`` and to DuckDB's
    list_dot_product, but the expression whole-stage-codegens (HOF
    lambdas never do): ~an order of magnitude faster in hot scoring
    paths. ``dim`` must equal the array length (shorter arrays null
    out — the caller owns the schema). Keep expression TREES in mind
    when stacking these: see ivf_exact._unit for the CollapseProject
    blowup this can trigger when the operands are themselves wide
    derived expressions.

    For ``dim > DOT_UNROLL_MAX_DIM`` this returns the HOF fold
    instead — bit-identical values (pinned in
    tests/test_audit_sampling.py / test_dim768.py), because past that
    width the unrolled method defeats janino and the "fast path" would
    be a per-stage compile failure plus interpreted eval.

    Below that width the form is a COST RULE (r13, replacing the r12
    env-only knob): callers that know roughly how many rows the stage
    will score pass ``est_rows``, and the unrolled form is chosen only
    when ``est_rows >= DOT_UNROLL_CROSSOVER_ROWS`` — the measured
    point where the ~2-4 s/stage Catalyst+janino compile tax
    amortizes against the ~1-2 us/row interpreted-fold overhead
    (PROFILE_r12). With no estimate the fold is the default (right at
    bench scale, measured 3-10x). SPARK_GRAFT_DOT_UNROLL=1/0 remains
    an explicit override either way; the active strategy logs once
    per (strategy, dim) so the physical form is observable."""
    if dim > DOT_UNROLL_MAX_DIM:
        _log_dot_strategy(
            "hof-fold", dim, "dim > DOT_UNROLL_MAX_DIM", est_rows
        )
        return dot(a, b)
    forced = _unroll_override()
    if forced is False:
        _log_dot_strategy(
            "hof-fold", dim, "SPARK_GRAFT_DOT_UNROLL=0", est_rows
        )
        return dot(a, b)
    if forced is None:
        if est_rows is None or est_rows < DOT_UNROLL_CROSSOVER_ROWS:
            _log_dot_strategy(
                "hof-fold",
                dim,
                "est_rows below crossover"
                if est_rows is not None
                else "no row estimate",
                est_rows,
            )
            return dot(a, b)
        _log_dot_strategy("unrolled", dim, "est_rows >= crossover", est_rows)
    else:
        _log_dot_strategy(
            "unrolled", dim, "SPARK_GRAFT_DOT_UNROLL=1", est_rows
        )
    z: Column = F.lit(0.0)
    for i in range(dim):
        z = z + a.getItem(i) * b.getItem(i)
    return z


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    exclude_self: bool = False,
    staged: bool = False,
) -> DataFrame:
    """Exact top-k: broadcast queries x scan corpus, rank per query.

    Scale: BroadcastNestedLoopJoin with a tiny query side is a single
    corpus scan; the window partitions by query id over |corpus| x |q|
    scored rows. For large |q|, switch to the ANN family in
    :mod:`.ivf_exact`.

    ``dim`` (when the vector length is statically known) swaps the
    interpreted HOF cosine for the unrolled codegen'd expression —
    bit-identical values (dot_cols contract), ~10x faster scoring.

    ``exclude_self`` drops query_id == neighbor_id pairs before the
    rank — for k-NN-graph-style audits where the query set is drawn
    from the corpus itself.

    ``staged`` checkpoints the (corpus x queries) candidate rows before
    scoring so the unrolled cosine runs in a standalone Project stage
    instead of fused into the join's generated loop (measured ~25x
    slower there; see ivf_exact.ann_knn_graph_ivf_exact). Use for
    larger query sets; values are bit-identical either way.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("c_vec")
    )
    if dim is None:
        cos = cosine(F.col("q_vec"), F.col("c_vec"))
    else:
        qv, cv = F.col("q_vec"), F.col("c_vec")
        cos = dot_cols(qv, cv, dim) / (
            F.sqrt(dot_cols(qv, qv, dim)) * F.sqrt(dot_cols(cv, cv, dim))
        )
    cand = c.crossJoin(F.broadcast(q))
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    if staged:
        # lazy cuts (r15): the checkpoint BOUNDARY (anti-fusion) is
        # captured at call time either way; the final action
        # materializes both levels' blocks once, without the two
        # dedicated materialization jobs the eager form scheduled
        cand = cand.localCheckpoint(eager=False)
        # skinny re-checkpoint after scoring so the cosine can't fuse
        # into the window's exchange-write stage either
        scored = cand.select(
            "query_id", "neighbor_id", cos.alias("cos")
        ).localCheckpoint(eager=False)
    else:
        scored = cand.withColumn("cos", cos)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rnk")
    )


def cosine_pairs_exact(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk_size: int = 65536,
) -> DataFrame:
    """EXACT embedding near-duplicate pairs: all (a, b), a<b, with
    cosine >= threshold — the blocked-GEMM pattern.

    Exactness costs O(n^2 d) no matter the engine; the scalable shape
    is dense BLAS over block pairs: the corpus streams through the
    executors once per right-hand CHUNK, each task computing a
    (batch x chunk) matmul in numpy (Arrow in, BLAS, Arrow out) —
    millions of dot products per second per core, no per-row Python,
    no quadratic shuffle.

    Driver memory is O(chunk), never O(corpus): the corpus is hash-
    partitioned into ceil(n/chunk_size) chunks by id, and each chunk is
    fetched (filter + Arrow toPandas), normalized, and broadcast one at
    a time. At 100 TB you run one corpus pass per chunk of the smaller
    side (callers doing many chunks should .persist() the input to skip
    re-scans) — or switch to the ANN paths above when approximation is
    acceptable; cluster-then-pair is the SemDeDup-style default for
    training-data dedup.
    """
    import math

    import numpy as np

    c = corpus.select(F.col(id_col).alias("_id"), as_double(F.col(vec_col)).alias("_v"))
    n_chunks = max(1, math.ceil(c.count() / chunk_size))

    sc = corpus.sparkSession.sparkContext
    out_schema = "id_a long, id_b long, cos double"
    results = []
    for ch in range(n_chunks):
        chunk = c if n_chunks == 1 else c.filter(
            F.pmod(F.xxhash64("_id"), F.lit(n_chunks)) == ch
        )
        pdf = chunk.toPandas()
        if len(pdf) == 0:
            continue
        chunk_ids = pdf["_id"].to_numpy(dtype=np.int64)
        chunk_mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
        )
        chunk_mat = chunk_mat / np.linalg.norm(chunk_mat, axis=1, keepdims=True)
        bc = sc.broadcast((chunk_ids, chunk_mat))

        def block(batches, _bc=bc, _thr=threshold):
            import pandas as pd

            r_ids, r_mat = _bc.value
            for pdf in batches:
                l_ids = pdf["_id"].to_numpy(dtype=np.int64)
                l_mat = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
                )
                l_mat = l_mat / np.maximum(
                    np.linalg.norm(l_mat, axis=1, keepdims=True), 1e-12
                )
                sims = l_mat @ r_mat.T
                li, ri = np.where(sims >= _thr)
                a, b, s = l_ids[li], r_ids[ri], sims[li, ri]
                keep = a < b  # dedupe the symmetric pair + drop self
                yield pd.DataFrame({"id_a": a[keep], "id_b": b[keep], "cos": s[keep]})

        results.append(c.mapInPandas(block, out_schema))
    if not results:  # empty corpus
        return corpus.sparkSession.createDataFrame([], out_schema).select(
            "id_a", "id_b", F.round("cos", 6).alias("cosine")
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out.select("id_a", "id_b", F.round("cos", 6).alias("cosine"))


AUDIT_SALT = "audit"
AUDIT_HEX_CHARS = ("0",)  # 1/16 of queries carry the exact audit


def audit_sample_pred(id_col: Column) -> Column:
    """Deterministic md5 audit-sampling predicate, replayed verbatim by
    the DuckDB oracles: a query is audited iff the first hex char of
    md5(str(id) || 'audit') is in AUDIT_HEX_CHARS (1/16). Sampling the
    exact ground-truth pass this way drops its O(N^2 d) cost ~16x while
    the recall columns stay hash-checked — the exact pass runs only for
    the sampled ids on BOTH engines."""
    h = F.md5(F.concat(id_col.cast("string"), F.lit(AUDIT_SALT)))
    return F.substring(h, 1, 1).isin(*AUDIT_HEX_CHARS)


def audit_sample_sql(id_expr: str) -> str:
    """The DuckDB twin of :func:`audit_sample_pred` (same md5 bytes:
    both engines hash the UTF-8 of str(id) || salt and emit lowercase
    hex)."""
    inlist = ", ".join(f"'{c}'" for c in AUDIT_HEX_CHARS)
    return (
        f"substr(md5(CAST({id_expr} AS VARCHAR) || '{AUDIT_SALT}'), 1, 1)"
        f" IN ({inlist})"
    )


def with_recall_at_k(
    ann: DataFrame, exact: DataFrame, k: int,
    min_mean_recall: float | None = None,
    audit_sampled: bool = False,
) -> DataFrame:
    """Attach per-query recall@k (|ANN hits ∩ exact top-k| / k) as a
    column of the ANN result, so index-quality regressions are visible
    in result diffs — not only in pytest floors.

    With ``min_mean_recall``, every row additionally carries a
    ``recall_ok`` boolean: mean per-query recall >= the floor. This is
    the GATE — an index-quality regression (stale index, degenerate
    centroids, broken bucketing) flips a visible value in the emitted
    result, so snapshot diffs catch it without consulting pytest.

    Recall is driven from the EXACT side: a query the index missed
    entirely (zero candidate buckets → zero ANN rows) still surfaces as
    one output row with null neighbor columns and recall_at_k 0.0 —
    an attached-to-ann-rows design would silently drop exactly the
    worst regressions.

    Scale: both frames are top-k outputs (|queries| * k rows), so the
    joins + groupBy are tiny regardless of corpus size; computing
    `exact` costs one extra brute-force pass — sample the query set when
    |queries| is large.

    ``audit_sampled=True`` declares that ``exact`` covers only an
    audited SUBSET of the queries (see :func:`audit_sample_pred`): ann
    rows for un-audited queries then carry NULL recall_at_k instead of
    a fabricated 0.0, and the recall_ok mean is taken over the audited
    spine only. This is the scale mode — the brute-force ground truth
    costs |audited| x |corpus| instead of |queries| x |corpus|.

    Both inputs are eagerly materialized here: each is referenced by
    TWO plan branches (ann: the hits join + the final output join;
    exact: the hits join + the query-id spine), and without the
    checkpoint the whole approximate-search pipeline and the brute-
    force pass would each evaluate twice — measured ~2x on the IVF
    graph query. The materialized frames are top-k-sized: O(|q| * k)
    rows regardless of corpus size."""
    # lazy (r15): the recall join below is the only consumer tree;
    # its action materializes ann/exact once each — the double-eval
    # these cuts exist to prevent is prevented by the checkpoint
    # boundary itself, not by WHEN the blocks materialize
    ann = ann.localCheckpoint(eager=False)
    exact = exact.select("query_id", "neighbor_id").localCheckpoint(
        eager=False
    )
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(
            ann.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg((F.count(F.lit(1)) / F.lit(float(k))).alias("_recall"))
    )
    per_query = (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .fillna(0.0, ["_recall"])
    )
    if min_mean_recall is not None:
        # per_query feeds both the row join and the mean gate; eager
        # localCheckpoint materializes it once (it is |queries| rows) so
        # the exact brute-force pass underneath doesn't run twice.
        per_query = per_query.localCheckpoint(eager=False)  # lazy (r15)
    # Full outer: ann rows keep their recall; exact-side queries with no
    # ann rows appear once (null neighbor cols, recall 0.0). In sampled
    # mode, un-audited ann rows legitimately have no per-query row —
    # their recall stays NULL (fillna would fake a 0).
    out = ann.join(per_query, "query_id", "full_outer")
    if not audit_sampled:
        out = out.fillna(0.0, ["_recall"])
    cols = [*ann.columns, F.round("_recall", 6).alias("recall_at_k")]
    if min_mean_recall is not None:
        gate = per_query.agg(
            (F.avg("_recall") >= F.lit(float(min_mean_recall))).alias("recall_ok")
        )
        out = out.crossJoin(F.broadcast(gate))  # one-row scalar gate
        cols.append(F.col("recall_ok"))
    return out.select(*cols)


# --- int8 embedding quantization ----------------------------------------


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q_i = round(v_i * 127 /
    max|v|)`` stored as ``array<tinyint>`` plus one float ``q_scale``.
    4x smaller than float32 (16x vs float64) — at 100 TB of embeddings
    that is the difference between a scan that fits the I/O budget and
    one that doesn't; candidate scoring runs on the quantized bytes and
    only survivors are rescored against full precision.

    Deterministic (round-half-away-from-zero on doubles, same rule as
    DuckDB), so the oracle replicates the quantized values exactly.
    All-zero vectors get q_scale=0 and an all-zero code (dequantizes to
    the zero vector, never divides by zero).
    """
    v = as_double(F.col(vec_col))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    code = F.when(scale == 0.0, F.transform(v, lambda x: F.lit(0.0))).otherwise(
        F.transform(v, lambda x: F.round(x * F.lit(127.0) / scale))
    )
    return df.withColumn("q_scale", scale).withColumn(
        "q_code", code.cast("array<tinyint>")
    )


def dequantize(code: Column, scale: Column) -> Column:
    """Reconstruct doubles from an int8 code: ``q_i * scale / 127``."""
    return F.transform(
        code.cast("array<double>"), lambda q: q * scale / F.lit(127.0)
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-shape top-k where the corpus side is scored from its int8
    reconstruction (queries stay full precision — the asymmetric-
    distance pattern: only the big side pays the quantization error).
    Emits the quantized-space cosine, the full-precision cosine of the
    SAME neighbors, and their absolute gap, so result snapshots show
    the precision cost directly.

    Scale: identical single-scan broadcast plan to cosine_topk; the
    corpus scan reads 1/4 the bytes once codes are materialized.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("q_vec")
    )
    c = quantize_embeddings(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("c_vec"),
        dequantize(F.col("q_code"), F.col("q_scale")).alias("dq_vec"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .withColumn("cos_q", cosine(F.col("q_vec"), F.col("dq_vec")))
        .withColumn("cos_x", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_q").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_q", 6).alias("cosine_q"),
            F.round("cos_x", 6).alias("cosine_exact"),
            F.round(F.abs(F.col("cos_q") - F.col("cos_x")), 6).alias("quant_err"),
            "rnk",
        )
    )


# --- blocked-GEMM k-NN graph and hard negatives -------------------------


def _gemm_candidates(
    c, m: int, chunk_size: int, label_masked: bool
):
    """Shared candidate kernel for knn_graph / hard_negatives: chunk the
    corpus by id-hash, broadcast each normalized chunk, and stream the
    corpus through a blocked GEMM keeping each row's top-m columns —
    masking either self-matches (graph) or ALL same-label columns
    (negatives) before the partial sort. Returns (src, dst) rows.

    `c` must be (_id, _v[, _lbl]) with _lbl present iff label_masked.
    Driver memory is O(chunk); candidate volume is n*m per chunk.
    """
    import math

    import numpy as np

    n_chunks = max(1, math.ceil(c.count() / chunk_size))
    sc = c.sparkSession.sparkContext
    parts = []
    for ch in range(n_chunks):
        chunk = c if n_chunks == 1 else c.filter(
            F.pmod(F.xxhash64("_id"), F.lit(n_chunks)) == ch
        )
        pdf = chunk.toPandas()
        if len(pdf) == 0:
            continue
        chunk_ids = pdf["_id"].to_numpy(dtype=np.int64)
        chunk_lbls = (
            pdf["_lbl"].to_numpy(dtype=object) if label_masked else None
        )
        chunk_mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
        # same zero-norm guard as cluster_topk/kcenter_sample: a zero
        # embedding must yield 0-similarity rows, not NaNs that outrank
        # every real neighbor in argpartition
        chunk_mat = chunk_mat / np.maximum(
            np.linalg.norm(chunk_mat, axis=1, keepdims=True), 1e-12
        )
        bc = sc.broadcast((chunk_ids, chunk_lbls, chunk_mat))

        def block(batches, _bc=bc, _m=m, _lm=label_masked):
            import pandas as pd

            r_ids, r_lbls, r_mat = _bc.value
            for pdf in batches:
                l_ids = pdf["_id"].to_numpy(dtype=np.int64)
                l_mat = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
                )
                l_mat = l_mat / np.maximum(
                    np.linalg.norm(l_mat, axis=1, keepdims=True), 1e-12
                )
                sims = l_mat @ r_mat.T
                if _lm:
                    l_lbls = pdf["_lbl"].to_numpy(dtype=object)
                    # same-label columns (includes self) can never be
                    # negatives — mask them out of candidacy entirely
                    sims[l_lbls[:, None] == r_lbls[None, :]] = -np.inf
                else:
                    for i, lid in enumerate(l_ids):
                        self_pos = np.where(r_ids == lid)[0]
                        if len(self_pos):
                            sims[i, self_pos] = -np.inf
                take = min(_m, sims.shape[1])
                idx = np.argpartition(-sims, take - 1, axis=1)[:, :take]
                src = np.repeat(l_ids, take)
                dst = r_ids[idx.ravel()]
                flat = sims[np.repeat(np.arange(len(l_ids)), take), idx.ravel()]
                keep = ~np.isinf(-flat)
                yield pd.DataFrame({"src": src[keep], "dst": dst[keep]})

        stream_cols = ["_id", "_v", "_lbl"] if label_masked else ["_id", "_v"]
        parts.append(
            c.select(*stream_cols).mapInPandas(block, "src long, dst long")
        )

    if not parts:
        return None
    cands = parts[0]
    for pt in parts[1:]:
        cands = cands.unionByName(pt)
    return cands


def _rescore_topk(c, cands, k: int, id_col: str, out_col: str):
    """Phase 2 shared by knn_graph / hard_negatives: recompute each
    candidate's cosine with the sequential-order dot() fold (bit-
    identical to a sequential-evaluation oracle) and window-rank the
    global top-k per source — GEMM float order only ever influenced
    WHICH candidates reached this exact ranking."""
    from pyspark.sql import Window

    from .ivf_exact import fold_dot_frame

    left = c.select(F.col("_id").alias("src"), F.col("_v").alias("_va"))
    right = c.select(F.col("_id").alias("dst"), F.col("_v").alias("_vb"))
    # r15 opt: the candidate rescore runs the Arrow numpy fold-cosine
    # kernel (fold_dot_frame normalize=True — the exact `cosine()`
    # expression per row, vectorized across rows) instead of an
    # interpreted HOF cosine per candidate (guide §4.2). Bit-identical
    # values; n*(k+margin) candidate rows stop paying ~3 folds of
    # per-element lambda dispatch each.
    scored = fold_dot_frame(
        cands.join(left, "src").join(right, "dst"),
        "_va", "_vb", ["src", "dst"], out="_cos", normalize=True,
    )
    w = Window.partitionBy("src").orderBy(F.col("_cos").desc(), F.col("dst"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("src").alias(id_col),
            F.col("dst").alias(out_col),
            F.round("_cos", 6).alias("cosine"),
            "rank",
        )
    )


def knn_graph(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk_size: int = 65536,
    candidate_margin: int = 4,
) -> DataFrame:
    """Exact k-NN GRAPH: every corpus vector's top-k cosine neighbors
    (self excluded) — the all-pairs sibling of cosine_topk (which
    serves a handful of query vectors). The k-NN graph is the backbone
    structure for diversity sampling, graph-based dedup, and
    cluster-quality audits over a training corpus.

    Two-phase exactness: (1) candidate generation runs the blocked-GEMM
    kernel (_gemm_candidates), keeping the top k+margin per row per
    chunk via argpartition — numpy BLAS throughput, O(n*(k+margin))
    candidate volume instead of O(n^2) pairs; (2) the FINAL cosine for
    each surviving candidate is recomputed JVM-side (_rescore_topk), so
    ranking and emitted values are bit-identical to a sequential-
    evaluation oracle — GEMM's float summation order influences only
    which candidates reach phase 2, where the margin absorbs its
    ~1e-15 perturbations.

    Scale: per-chunk candidates shuffle n*(k+margin) skinny rows; the
    phase-2 join touches only candidate ids; the per-row top-k is one
    window over <= (k+margin)*n_chunks candidates. Driver holds one
    chunk at a time, exactly like cosine_pairs_exact.
    """
    c = corpus.select(
        F.col(id_col).alias("_id"), as_double(F.col(vec_col)).alias("_v")
    )
    cands = _gemm_candidates(
        c, k + candidate_margin, chunk_size, label_masked=False
    )
    if cands is None:
        return corpus.sparkSession.createDataFrame(
            [], f"{id_col} long, neighbor_id long, cosine double, rank int"
        )
    return _rescore_topk(c, cands, k, id_col, "neighbor_id")


def hard_negatives(
    corpus: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    chunk_size: int = 65536,
    candidate_margin: int = 4,
) -> DataFrame:
    """Hard-negative mining for contrastive training: each vector's
    top-k most-similar neighbors with a DIFFERENT label — the examples
    a metric-learning loss needs most. Same two-phase shape as
    knn_graph (shared _gemm_candidates/_rescore_topk kernels), with the
    label mask applied INSIDE the candidate kernel: same-label columns
    are -inf before the partial sort, so the top-(k+margin) slots are
    never wasted on positives and a label-dominated neighborhood can't
    starve the candidate set.

    Scale: identical cost profile to knn_graph — candidates are
    n*(k+margin) skinny rows per chunk, the rescore join touches only
    candidate ids, the final window partitions by source id.
    """
    c = corpus.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        as_double(F.col(vec_col)).alias("_v"),
        F.col(label_col).cast("string").alias("_lbl"),
    )
    # NULL-label rows are excluded entirely — as sources AND as
    # candidates. This matches SQL label <> label semantics (NULL
    # compares to nothing), where a numpy object-equality mask would
    # instead treat None as a real label distinct from every other.
    cands = _gemm_candidates(
        c, k + candidate_margin, chunk_size, label_masked=True
    )
    if cands is None:
        return corpus.sparkSession.createDataFrame(
            [], f"{id_col} long, negative_id long, cosine double, rank int"
        )
    return _rescore_topk(c, cands, k, id_col, "negative_id")


# --- diversity sampling --------------------------------------------------


def kcenter_sample(
    corpus: DataFrame,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, int, float | None]]:
    """Greedy k-center diversity sampling (Gonzalez 1985 2-approx; the
    coreset-selection pattern behind diversity-first data pruning):
    start from the minimum id, then repeatedly take the vector FARTHEST
    (max min-cosine-distance) from everything selected so far. Returns
    [(step, center_id, dist_to_selected)] — dist is the selection-time
    farthest distance (None for the seed), i.e. the coverage radius
    AFTER step-1 centers.

    Determinism across engines: vectors are normalized elementwise
    (x / sqrt(dot(e,e))) and distances are 1 - sequential-fold dot of
    the normalized vectors, so every double matches a DuckDB oracle
    bit-for-bit and the (dist DESC, id) argmax picks the same center.

    Scale per step: ONE narrow pass over the corpus — min-distance
    column folds with the new center's vector (a broadcast-as-literal
    k x dim constant), the argmax is TakeOrdered(1). Driver holds the
    selected centers only. localCheckpoint every few steps truncates
    the iterative lineage. m steps = m cheap jobs, exactly like
    connected_components' rounds.
    """
    if m <= 0:
        return []
    raw = corpus.select(
        F.col(id_col).alias("_id"), as_double(F.col(vec_col)).alias("_e")
    )
    # norm as its OWN column: embedding it inside the transform lambda
    # would re-fold the dim-length dot once per element (O(dim^2)
    # interpreted steps per row). greatest(., 1e-12) keeps a zero
    # vector from normalizing to all-NaN — NaN sorts above every real
    # value in the descending argmax and would be selected forever.
    # The oracle applies the identical guard, so doubles still match.
    normed = raw.withColumn(
        "_n", F.greatest(F.sqrt(dot(F.col("_e"), F.col("_e"))), F.lit(1e-12))
    )
    base = normed.select(
        "_id",
        F.transform(F.col("_e"), lambda x: x / F.col("_n")).alias("_u"),
    )

    seeds = base.orderBy("_id").limit(1).collect()
    if not seeds:
        return []
    seed = seeds[0]
    out: list[tuple[int, int, float | None]] = [(1, seed["_id"], None)]
    center_u = seed["_u"]

    cur = base.withColumn("_md", F.lit(None).cast("double"))
    center_id = seed["_id"]
    for step in range(2, m + 1):
        lit_center = F.array(*[F.lit(float(x)) for x in center_u])
        d = F.lit(1.0) - dot(F.col("_u"), lit_center)
        # a SELECTED point's distance-to-set is 0 BY IDENTITY, not by
        # arithmetic: a zero vector normalizes to u=0 whose cosine
        # distance to itself computes 1, and it would win the argmax
        # forever. The oracle applies the same CASE, so values match.
        cur = cur.withColumn(
            "_md",
            F.when(F.col("_id") == F.lit(center_id), F.lit(0.0))
            .when(F.col("_md").isNull(), d)
            .otherwise(F.least(F.col("_md"), d)),
        )
        if step % 4 == 0:
            cur = cur.localCheckpoint(eager=False)  # the collect below materializes (r15)
        far = cur.orderBy(F.col("_md").desc(), "_id").limit(1).collect()[0]
        if float(far["_md"]) <= 0.0:
            # every point is already a selected center (m > n): stop
            # rather than re-emit the min-id row with dist 0 forever
            break
        out.append((step, far["_id"], float(far["_md"])))
        center_u, center_id = far["_u"], far["_id"]
    return out


def mmr_select(
    corpus: DataFrame,
    query_u: list[float],
    k: int,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, int, float | None]]:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998) — the relevance-vs-redundancy greedy behind diverse retrieval
    and diverse few-shot/context selection: step 1 takes the most
    query-relevant vector; every further step takes
    argmax[ lam*rel(c) - (1-lam)*max_sim(c, selected) ].
    Returns [(step, center_id, score)] (score None for the seed — a
    pure relevance pick).

    Determinism: the k-center contract — elementwise-normalized
    vectors, sequential-fold dots, fixed expression order
    (lam*rel - (1-lam)*ms), (score DESC, id) argmax — so a chained-CTE
    SQL oracle replays every step bit-for-bit. Selected points are
    excluded BY IDENTITY (their running max-sim pins to 1e9), never by
    float comparison.

    Scale per step: one narrow pass folding the running max-similarity
    with the new center (a broadcast-as-literal constant) plus a
    TakeOrdered(1) argmax; driver holds only the selected vectors.
    ``query_u`` must already be unit-normalized (use the same
    greatest(norm, 1e-12) guard).
    """
    if k <= 0:
        return []
    raw = corpus.select(
        F.col(id_col).alias("_id"), as_double(F.col(vec_col)).alias("_e")
    )
    normed = raw.withColumn(
        "_n", F.greatest(F.sqrt(dot(F.col("_e"), F.col("_e"))), F.lit(1e-12))
    )
    qlit = F.array(*[F.lit(float(x)) for x in query_u])
    base = normed.select(
        "_id",
        F.transform(F.col("_e"), lambda x: x / F.col("_n")).alias("_u"),
    ).withColumn("_rel", dot(F.col("_u"), qlit))

    seeds = base.orderBy(F.col("_rel").desc(), "_id").limit(1).collect()
    if not seeds:
        return []
    seed = seeds[0]
    out: list[tuple[int, int, float | None]] = [(1, seed["_id"], None)]
    center_u, center_id = seed["_u"], seed["_id"]
    cur = base.withColumn("_ms", F.lit(None).cast("double"))
    for step in range(2, k + 1):
        lit_center = F.array(*[F.lit(float(x)) for x in center_u])
        sim = dot(F.col("_u"), lit_center)
        cur = cur.withColumn(
            "_ms",
            F.when(F.col("_id") == F.lit(center_id), F.lit(1e9))
            .when(F.col("_ms").isNull(), sim)
            .otherwise(F.greatest(F.col("_ms"), sim)),
        )
        if step % 4 == 0:
            cur = cur.localCheckpoint(eager=False)  # the argmax collect materializes (r15)
        score = F.lit(lam) * F.col("_rel") - F.lit(1.0 - lam) * F.col("_ms")
        top = (
            cur.withColumn("_score", score)
            .orderBy(F.col("_score").desc(), "_id")
            .limit(1)
            .collect()[0]
        )
        if float(top["_ms"]) >= 1e8:
            break  # every candidate already selected (k > n)
        out.append((step, top["_id"], float(top["_score"])))
        center_u, center_id = top["_u"], top["_id"]
    return out
