"""Text-analysis operators for large-scale training-data pipelines:
tokenization, shingling, quality scoring, language ID, fingerprinting.

All pure JVM-side column expressions (no Python UDFs) — every operator
is narrow (zero shuffles) and whole-stage-codegen'd, so at 100 TB the
cost is scan-bound. These generalize the reference's string kernel
(S6-S14, shipper.js:22-58) from log lines to documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# BPE-ish token classes: alpha runs, digit runs, single non-alnum marks.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language stopword profiles for the n-gram/marker heuristic.
# Deliberately small and deterministic — language ID at pipeline scale is
# a cheap filter, not a model.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "des", "est"],
    "zh": ["的", "是", "了", "在", "我"],
}


def words(text: Column) -> Column:
    """Lowercased whitespace tokens."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def word_grams(text: Column, n: int = 3) -> Column:
    """ALL word n-grams in document order (non-distinct — one entry per
    position, the unit for duplicated-span detection where multiplicity
    matters). Documents shorter than n words yield an empty array.

    Built by zipping the word array with its k-shifted slices rather
    than `transform(sequence(...), i -> slice(w, i, n))`: lambda bodies
    in higher-order functions are evaluated interpreted per ELEMENT with
    no common-subexpression elimination, so referencing the outer `w`
    (a regex split of the whole document) inside the lambda re-splits
    the document once per shingle — O(len^2) per doc, measured ~6x
    slower on real corpora. Here every lambda touches only its bound
    element variables; `w` is evaluated O(n) times per row.
    """
    w = words(text)
    grams = w
    for k in range(1, n):
        # zip_with pads the shorter (shifted) side with nulls; those
        # partial grams survive as prefixes and are sliced off below.
        grams = F.zip_with(
            grams,
            F.slice(w, k + 1, F.greatest(F.size(w) - k, F.lit(0))),
            lambda g, x: F.concat_ws(" ", g, x),
        )
    full = F.slice(grams, 1, F.size(w) - F.lit(n - 1))
    return F.when(F.size(w) >= n, full).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (the MinHash/Jaccard unit).

    Documents shorter than n words yield an empty array (they can never
    near-dup match, but must not error). See word_grams for the
    zip_with construction rationale."""
    return F.array_distinct(word_grams(text, n))


def char_shingles(text: Column, n: int = 5) -> Column:
    """Distinct CHARACTER n-gram shingles over lower(trim(text)) — the
    finer-grained Jaccard unit: a one-character typo perturbs only n
    windows, where a word edit perturbs n word-shingles, so char-grams
    catch typo-level/diacritic edits that word shingles score as
    dissimilar. Documents shorter than n chars yield an empty array.

    The transform lambda only touches its bound index and the plain
    (cheap, non-recomputed) normalized column — not an expensive outer
    expression, so the per-element interpreted evaluation caveat on
    word_shingles does not bite here."""
    t = F.lower(F.trim(text))
    count = F.length(t) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(count, F.lit(1))),
        lambda i: t.substr(i, F.lit(n)),
    )
    # sequence(1, 0) would generate DESCENDING [1, 0]; guard short docs
    return F.when(count >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def whitespace_token_count(text: Column) -> Column:
    return F.size(words(text))


def subword_token_count(text: Column) -> Column:
    """BPE-ish upper-bound token estimate via TOKEN_REGEX match count."""
    return F.regexp_count(text, F.lit(TOKEN_REGEX))


def _marker_token_pattern(markers: list[str]) -> str:
    """Regex matching a whole whitespace-delimited token equal to any
    marker: `(?<!\\S)` / `(?!\\S)` pin both token edges, so one match ==
    one token and adjacent tokens can't hide each other (matches never
    consume the separating whitespace). All markers are alphanumeric/CJK
    so no escaping is needed."""
    return r"(?<!\S)(?:" + "|".join(markers) + r")(?!\S)"


def punct_ratio(text: Column) -> Column:
    n_punct = F.regexp_count(text, F.lit(r"[^A-Za-z0-9\s]"))
    return n_punct.cast("double") / F.greatest(F.length(text), F.lit(1)).cast("double")


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, wordy, not
    punctuation soup — the usual cheap pre-filter before expensive
    pipeline stages (dedup, embedding)."""
    len_score = F.least(F.length(text).cast("double") / F.lit(200.0), F.lit(1.0))
    word_score = F.least(
        whitespace_token_count(text).cast("double") / F.lit(40.0), F.lit(1.0)
    )
    punct_penalty = F.greatest(
        F.lit(1.0) - punct_ratio(text) * F.lit(4.0), F.lit(0.0)
    )
    return F.round((len_score + word_score) / F.lit(2.0) * punct_penalty, 6)


def lang_scores(text: Column) -> dict[str, Column]:
    """Marker-hit count per language: one codegen'd regexp_count per
    language over the lowercased text. Token semantics are identical to
    counting split-on-whitespace tokens that equal a marker (the DuckDB
    oracles keep the list-comprehension form), but this stays inside
    WholeStageCodegen instead of 25 interpreted HOF lambdas per row —
    the round-2 bench's single hottest operator."""
    lt = F.lower(text)
    return {
        lang: F.regexp_count(lt, F.lit(_marker_token_pattern(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """argmax language by marker hits; ties and zero-hit docs -> 'und'.

    Deterministic tie-break: a language wins only with a STRICTLY higher
    score than every other (ties are 'und'), so the result is
    order-independent.
    """
    scores = lang_scores(text)
    result = F.lit("und")
    for lang, score in scores.items():
        others = [s for lg, s in scores.items() if lg != lang]
        beats_all = F.lit(True)
        for o in others:
            beats_all = beats_all & (score > o)
        result = F.when(beats_all & (score > 0), F.lit(lang)).otherwise(result)
    return result


def fingerprint(text: Column, n: int = 3) -> Column:
    """Document fingerprint: lexicographic-min MD5 over word n-gram
    shingles (bottom-1 sketch — the degenerate winnowing window).

    Two documents sharing their minimal shingle hash collide; used for
    cheap near-dup candidate blocking and content addressing. MD5 (not
    xxhash) so the DuckDB oracle can replicate it exactly.
    """
    hashes = F.transform(word_shingles(text, n), lambda s: F.md5(s))
    return F.array_min(hashes)


# --- PII detection / redaction ------------------------------------------

# RE2-safe patterns (no lookarounds/backrefs) so the DuckDB oracle can
# run the IDENTICAL regex: Java's engine and RE2 agree on this subset.
# These are the cheap high-precision classes every corpus scrub starts
# with; extend the dict to add classes (the operators iterate it).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}",
}


def pii_counts(text: Column) -> dict[str, Column]:
    """Match count per PII class — one codegen'd regexp_count each."""
    return {
        kind: F.regexp_count(text, F.lit(pat))
        for kind, pat in PII_PATTERNS.items()
    }


def redact_pii(text: Column) -> Column:
    """Replace every PII match with a typed placeholder (``<email>``,
    ``<ipv4>``, ``<phone>``) — a chained regexp_replace, narrow and
    codegen'd; order matters only in that placeholders contain no
    PII-shaped text, so the chain is confluent.

    Scale: pure scan-bound projection, zero shuffles at any size."""
    out = text
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind}>")
    return out


def top_word_ratio(text: Column) -> Column:
    """Repetition heuristic: frequency of the single most common word /
    total words (the Gopher-style "mostly the same token" filter).
    1.0 = the document is one word repeated; ~1/n = no repetition.

    Computed with aggregate over the sorted word array — O(n log n) per
    doc, zero shuffles — instead of the explode -> groupBy -> max shape,
    which shuffles |corpus| * words rows twice. Empty docs -> null.

    Scale: per-row work only; at 100 TB the cost is scan + per-doc sort,
    embarrassingly parallel. (HOF lambdas evaluate interpreted, but each
    touches only its bound element — no quadratic outer recompute.)

    Empty/whitespace-only text yields NULL (split('') produces [''],
    which must not read as "one word repeated" = maximally repetitive),
    so the empty-token filter below is load-bearing."""
    w = F.array_sort(F.filter(words(text), lambda x: x != F.lit("")))
    # runs of equal words are adjacent after the sort; fold to the max
    # run length: state = (best, current_run, prev_word)
    folded = F.aggregate(
        w,
        F.struct(
            F.lit(0).alias("best"),
            F.lit(0).alias("run"),
            F.lit(None).cast("string").alias("prev"),
        ),
        lambda acc, x: F.struct(
            F.greatest(
                acc["best"],
                F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(1),
            ).alias("best"),
            F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            x.alias("prev"),
        ),
    )
    return F.when(
        F.size(w) > 0,
        F.round(folded["best"].cast("double") / F.size(w).cast("double"), 6),
    )


def normalize_text(text: Column) -> Column:
    """Canonical form for normalized dedup: lowercase, strip non-alnum,
    collapse whitespace."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9\s]", " ")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def chunk_documents(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 50,
    overlap: int = 10,
):
    """Split documents into overlapping word-window chunks (the RAG /
    context-window prep step): chunk i covers words
    [i*stride, i*stride + chunk_size) with stride = chunk_size -
    overlap, so consecutive chunks share `overlap` words and no word is
    dropped. Emits (id, chunk_idx, chunk_text, n_words); blank docs
    yield no chunks.

    Scale: pure narrow projection + explode — no shuffle, no UDF; the
    chunk count per doc is ceil((len-overlap)/stride), so output size
    is ~len/stride rows per doc regardless of corpus size. Chunk ids
    are (doc id, position), stable under re-runs for downstream joins
    (embedding tables, citation maps).
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError(f"need 0 <= overlap < chunk_size, got {overlap}/{chunk_size}")
    stride = chunk_size - overlap
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(w)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int"), F.lit(1)
    )
    out = (
        df.filter(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col),
            w.alias("_w"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.slice(
                "_w", F.col("chunk_idx") * stride + 1, chunk_size
            ).alias("_cw"),
        )
    )
    return out.select(
        id_col,
        "chunk_idx",
        F.array_join("_cw", " ").alias("chunk_text"),
        F.size("_cw").cast("long").alias("n_words"),
    )


def build_inverted_index(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
):
    """Posting-list inverted index — the structure the reference's
    downstream (an Elasticsearch-style log search) is built on,
    expressed relationally: one (token, id) row per DISTINCT token per
    document, plus `tok_bucket = pmod(xxhash64(token), n_buckets)` as
    the partition key. Written partitionBy(tok_bucket), a term lookup
    prunes the listing to 1/n_buckets of the index before any I/O
    (same PartitionFilters mechanism as the z-order layout).

    Scale: explode + distinct is one shuffle keyed (token, id);
    posting lists are row-striped, never collected into arrays, so a
    stop-word's postings spread across tasks instead of materializing
    one giant list. n_buckets sizes partitions, not correctness.
    """
    return (
        df.select(
            F.col(id_col), F.explode(words(F.col(text_col))).alias("token")
        )
        .filter(F.col("token") != "")
        .distinct()
        .withColumn(
            "tok_bucket", F.pmod(F.xxhash64("token"), F.lit(n_buckets))
        )
    )


def term_buckets(spark, terms: list[str], n_buckets: int = 64) -> list[int]:
    """The buckets the terms' postings live in — computed with Spark's
    OWN xxhash64 over a one-row local relation (a driver-side scalar
    job, no index access), so the search filter can never disagree
    with the index writer's bucketing."""
    rows = spark.createDataFrame(
        [(t,) for t in sorted(terms)], "token string"
    ).select(F.pmod(F.xxhash64("token"), F.lit(n_buckets)).alias("b"))
    return sorted({r.b for r in rows.collect()})


def search_index(
    index,
    terms: list[str],
    id_col: str = "doc_id",
    n_buckets: int = 64,
):
    """AND-search: ids whose documents contain EVERY term. The term
    list decomposes driver-side into a `tok_bucket IN` predicate (a
    PartitionFilter on a partitioned index — the listing prunes to at
    most |terms| of n_buckets buckets before any I/O) plus the exact
    token IN-list; matching ids intersect via a count-matching
    aggregate (one shuffle on id, no join chain growing with terms)."""
    if not terms:
        raise ValueError("need at least one search term")
    lows = sorted({t.lower() for t in terms})
    buckets = term_buckets(index.sparkSession, lows, n_buckets)
    hits = index.filter(
        F.col("tok_bucket").isin(buckets) & F.col("token").isin(lows)
    )
    return (
        hits.groupBy(id_col)
        .agg(F.count_distinct("token").alias("_nt"))
        .filter(F.col("_nt") == len(lows))
        .select(id_col)
    )


def build_positional_index(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
):
    """POSITIONAL posting-list index: one (token, id, pos) row per
    token OCCURRENCE (1-based word position — multiplicity and order
    are the whole point, unlike build_inverted_index's distinct
    memberships), bucketed by the same `pmod(xxhash64(token))` key so
    a phrase's terms prune the listing to at most |phrase| buckets.
    This is the structure exact-phrase and proximity queries need —
    the capability gap between a boolean AND-search and a real search
    engine.

    Scale: one narrow posexplode, no shuffle at build beyond the
    partitioned write; postings stay row-striped (a stopword's
    occurrences spread across tasks, never an array)."""
    return (
        df.select(
            F.col(id_col),
            F.posexplode(words(F.col(text_col))).alias("pos", "token"),
        )
        .filter(F.col("token") != "")
        .select(
            id_col,
            "token",
            (F.col("pos") + 1).alias("pos"),  # 1-based, oracle-friendly
            F.pmod(F.xxhash64("token"), F.lit(n_buckets)).alias("tok_bucket"),
        )
    )


def phrase_search(
    index,
    phrase: list[str],
    id_col: str = "doc_id",
    n_buckets: int = 64,
):
    """Exact-phrase search over a positional index: every (doc, start)
    where the phrase's tokens occur CONSECUTIVELY. The classic
    positional-intersection, expressed as ONE aggregation instead of a
    k-way self-join chain: each posting of phrase term i at position p
    votes for candidate start p - i; a start backed by all k distinct
    term slots is an occurrence. Repeated words in the phrase are
    handled naturally (a posting row votes once per slot the token
    fills).

    Scale: the term list prunes the index scan to <= k buckets
    (PartitionFilters) + an exact token IN-list; the vote aggregate is
    one shuffle on (id, start) whose width is |postings of the phrase
    terms|, independent of corpus size."""
    if not phrase:
        raise ValueError("need a non-empty phrase")
    lows = [t.lower() for t in phrase]
    k = len(lows)
    slots = [(t, i) for i, t in enumerate(lows)]
    buckets = term_buckets(index.sparkSession, sorted(set(lows)), n_buckets)
    hits = index.filter(
        F.col("tok_bucket").isin(buckets) & F.col("token").isin(sorted(set(lows)))
    )
    votes = hits.select(
        id_col,
        "pos",
        F.explode(
            F.filter(
                F.array(
                    *[
                        F.when(F.col("token") == F.lit(t), F.lit(i))
                        for t, i in slots
                    ]
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("_slot"),
    ).select(
        id_col, (F.col("pos") - F.col("_slot")).alias("start"), "_slot"
    )
    return (
        votes.filter(F.col("start") >= 1)
        .groupBy(id_col, "start")
        .agg(F.count_distinct("_slot").alias("_ns"))
        .filter(F.col("_ns") == k)
        .select(id_col, "start")
    )


def proximity_search(
    index,
    term_a: str,
    term_b: str,
    window: int = 5,
    id_col: str = "doc_id",
    n_buckets: int = 64,
):
    """NEAR(a, b, window): every (doc, pos_a, pos_b, distance) where
    the two terms occur within ``window`` word positions of each other
    (either order) — the third classic positional-index query after
    boolean AND and exact phrase, and the building block of
    passage-level relevance.

    Scale: postings prune to <= 2 buckets; the pairing is a RANGE
    band join on position within doc — expressed as an equi-join on
    (doc, pos_bucket) with each a-posting exploded into the up-to-3
    position buckets its window can reach, so the join never degrades
    to a per-doc cross product (the standard band-join bucketing this
    engine uses for time-range joins, here on word positions)."""
    if window < 1:
        raise ValueError("window must be >= 1")
    la, lb = term_a.lower(), term_b.lower()
    if la == lb:
        raise ValueError("NEAR terms must differ (use phrase_search "
                         "for repeated-token patterns)")
    buckets = term_buckets(index.sparkSession, sorted({la, lb}), n_buckets)
    hits = index.filter(
        F.col("tok_bucket").isin(buckets) & F.col("token").isin([la, lb])
    )
    pb = (F.col("pos") / window).cast("long")
    a = (
        hits.filter(F.col("token") == la)
        .select(id_col, F.col("pos").alias("pos_a"))
        .withColumn(
            "_pb",
            F.explode(
                F.sequence(
                    ((F.col("pos_a") - window) / window).cast("long"),
                    ((F.col("pos_a") + window) / window).cast("long"),
                )
            ),
        )
    )
    b = hits.filter(F.col("token") == lb).select(
        id_col, F.col("pos").alias("pos_b"), pb.alias("_pb")
    )
    return (
        a.join(b, [id_col, "_pb"])
        .filter(F.abs(F.col("pos_a") - F.col("pos_b")) <= window)
        .select(
            id_col,
            "pos_a",
            "pos_b",
            F.abs(F.col("pos_a") - F.col("pos_b")).alias("distance"),
        )
    )


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 relevance of every document to a bag-of-terms query
    (Robertson/Sparck Jones; the Lucene-style idf ln(1 + (N-df+.5)/(df+.5))
    variant) — the RANKED retrieval counterpart of the boolean
    inverted-index search (token_search), and the classic relevance
    baseline a log/doc platform serves.

    Numeric determinism (the unigram-NLL discipline, operators/lm.py):
    each (doc, term) contribution is one deterministic scalar
    expression — written in the exact same associativity as the DuckDB
    oracle — rounded to 9 decimals and summed as DECIMAL(20,9), so the
    per-document score is order-independent and engine-exact; a
    last-ulp ln() disagreement between libms is absorbed by the
    9-decimal rounding.

    Output: (id, score DOUBLE rounded to 6) for every document matching
    at least one term.

    Scale: one tokenize pass; doc lengths aggregate map-side; the
    query-term filter keeps |terms| rows per doc BEFORE any shuffle, so
    tf/df aggregates are tiny; df and the (N, total-length) scalars
    broadcast. The only corpus-sized shuffle is the doc-length
    aggregate, shared with any other per-doc statistic.
    """
    toks = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("_t")
    )
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("_dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_dl").alias("_total")
    )
    qt = toks.filter(F.col("_t").isin(list(terms)))
    dfreq = qt.groupBy("_t").agg(
        F.count_distinct(F.col(id_col)).alias("_df")
    )
    tf = qt.groupBy(id_col, "_t").agg(F.count(F.lit(1)).alias("_tf"))
    j = (
        tf.join(F.broadcast(dfreq), "_t")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("_total").cast("double") / F.col("_n")
    idf = F.log(
        (F.col("_n") - F.col("_df") + F.lit(0.5))
        / (F.col("_df") + F.lit(0.5))
        + F.lit(1.0)
    )
    # associativity mirrors the oracle SQL exactly — fp is not
    # associative, and the 9-decimal rounding only absorbs ulp-level
    # drift, not reordered reductions
    score_t = (
        idf
        * (F.col("_tf") * F.lit(k1 + 1.0))
        / (
            F.col("_tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / avgdl)
        )
    )
    per_term = j.select(
        F.col(id_col),
        F.round(score_t, 9).cast("decimal(20,9)").alias("_s"),
    )
    return per_term.groupBy(id_col).agg(
        F.round(F.sum("_s"), 6).cast("double").alias("score")
    )


def hashed_embeddings(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashing text embeddings (the 'hashing trick', Weinberger
    et al., ICML 2009): each token folds into one of ``dim`` buckets by
    its md5 digits with a hash-derived sign, per-bucket SIGNED counts
    accumulate, and the vector L2-normalizes — a deterministic,
    engine-replicable text vectorizer that makes the whole embedding
    pipeline (kNN, ANN, clustering, dedup) runnable on raw text with
    zero model weights.

    Everything is exact integers until one division: bucket and sign
    come from the md5-digit arithmetic the DuckDB oracle replicates
    digit-for-digit (the DSIR/SimHash trick), the signed counts and the
    squared norm are integer aggregates, and the only float op is
    s / sqrt(sum s^2) rounded to 6 — identical in any IEEE engine.

    Output: (id, dim_idx, weight) SPARSE rows (zero buckets omitted);
    documents with no tokens emit nothing.

    Scale: one token scan -> one (id, dim_idx) aggregate (map-side
    combined; keys = |docs| x dim) -> one per-doc norm aggregate. No
    broadcast, no Python.
    """
    from .dedup import _md5_hex_digit

    h = F.md5(F.col("_tok"))
    bucket = F.pmod(
        _md5_hex_digit(h, 1) * 16 + _md5_hex_digit(h, 2), F.lit(dim)
    )
    sign = F.when(_md5_hex_digit(h, 3) >= 8, F.lit(1)).otherwise(F.lit(-1))
    toks = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("_tok")
    )
    signed = toks.select(
        F.col(id_col), bucket.alias("dim_idx"), sign.alias("_sg")
    )
    v = signed.groupBy(id_col, "dim_idx").agg(
        F.sum("_sg").cast("long").alias("_s")
    )
    norm = v.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("_s") * F.col("_s"))).alias("_nrm")
    )
    return (
        v.join(norm, id_col)
        .filter(F.col("_s") != 0)
        .select(
            F.col(id_col),
            F.col("dim_idx").cast("long").alias("dim_idx"),
            F.round(F.col("_s") / F.col("_nrm"), 6).alias("weight"),
        )
    )


SENTENCE_SPLIT = r"[.!?]+\s+"


def sentence_boilerplate_removal(
    docs: DataFrame,
    min_docs: int = 3,
    min_norm_len: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple = ("source",),
) -> DataFrame:
    """Cross-document boilerplate sentence removal — the CCNet /
    RefinedWeb-style cleaning stage: a sentence whose normalized form
    (lowercase, non-alphanumeric runs collapsed to single spaces)
    appears in >= ``min_docs`` DISTINCT documents is boilerplate
    ("enable javascript", cookie banners, nav chrome) and is stripped
    from every document; the survivors are reassembled in order.
    Short normalized sentences (< ``min_norm_len`` chars) never count
    as boilerplate — they repeat for benign reasons.

    Returns one row per document that has at least one sentence:
    (id, *keep_cols, n_sentences, n_removed, clean_text) where
    clean_text is '' when everything was boilerplate.

    Scale shape: sentences explode to |sentences| rows but aggregate by
    a 16-byte md5 key with map-side combine (|distinct sentences| rows
    shuffle); the boilerplate set is corpus-level-small (frequent
    strings only) so the membership join broadcasts; reassembly groups
    by doc id — one exchange, array_sort inside the aggregate, no
    window. No Python anywhere.
    """
    keep = [F.col(c) for c in keep_cols]
    sent = docs.select(
        F.col(id_col),
        *keep,
        F.posexplode(F.split(F.col(text_col), SENTENCE_SPLIT)).alias(
            "pos", "s_raw"
        ),
    ).select(
        id_col,
        *keep_cols,
        "pos",
        F.trim(F.col("s_raw")).alias("s"),
    ).filter(F.col("s") != "")
    norm = F.trim(F.regexp_replace(F.lower(F.col("s")), "[^a-z0-9]+", " "))
    sent = sent.withColumn("h", F.md5(norm)).withColumn(
        "nl", F.length(norm)
    )
    boiler = (
        sent.filter(F.col("nl") >= min_norm_len)
        .groupBy("h")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h", F.lit(True).alias("is_boiler"))
    )
    flagged = sent.join(F.broadcast(boiler), "h", "left").withColumn(
        "is_boiler", F.coalesce(F.col("is_boiler"), F.lit(False))
    )
    return flagged.groupBy(id_col, *keep_cols).agg(
        F.count(F.lit(1)).alias("n_sentences"),
        F.sum(F.col("is_boiler").cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("is_boiler"),
                            F.struct(F.col("pos"), F.col("s")),
                        )
                    )
                ),
                lambda x: x["s"],
            ),
            " ",
        ).alias("clean_text"),
    )


def fuzzy_token_pairs(
    df: DataFrame,
    text_col: str = "text",
    min_len: int = 4,
    min_count: int = 1,
) -> DataFrame:
    """All DISTINCT-token pairs within Levenshtein distance 1, found by
    deletion-neighborhood blocking (the FastSS family, Bocek et al.
    2007): two strings are within edit distance 1 iff they share a
    member of {s} ∪ {s minus one character} — so one equi-join on the
    variant replaces the all-pairs edit-distance scan, and the blocking
    is EXACT (no recall loss) at this radius. The catcher for typo'd
    near-identical vocabulary that whole-token exact dedup misses and
    n-gram Jaccard over-matches.

    Output: (tok_a, tok_b, dist) with tok_a < tok_b, dist in {1}
    (identical tokens are one row upstream — distance 0 pairs don't
    exist over DISTINCT tokens).

    Scale: |vocab| x (len+1) variant rows into a map-side-combined
    equi-join; verification is one levenshtein() call per CANDIDATE
    pair, never per pair of tokens. min_len keeps stopword-scale
    tokens (whose 1-edit balls collide massively and mean nothing)
    out; min_count floors token frequency.
    """
    toks = (
        df.select(F.explode(words(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter((F.length("tok") >= min_len) & (F.col("_c") >= min_count))
        .select("tok")
    )
    variants = toks.select(
        "tok",
        F.explode(
            F.concat(
                F.array(F.col("tok")),
                F.expr(
                    "transform(sequence(1, length(tok)), i ->"
                    " concat(substring(tok, 1, i - 1),"
                    " substring(tok, i + 1, length(tok) - i)))"
                ),
            )
        ).alias("v"),
    ).distinct()
    a = variants.select(F.col("tok").alias("tok_a"), "v")
    b = variants.select(F.col("tok").alias("tok_b"), F.col("v").alias("_v"))
    cand = (
        a.join(b, (a.v == b._v) & (F.col("tok_a") < F.col("tok_b")))
        .select("tok_a", "tok_b")
        .distinct()
    )
    return cand.withColumn(
        "dist", F.levenshtein("tok_a", "tok_b")
    ).filter(F.col("dist") <= 1)
