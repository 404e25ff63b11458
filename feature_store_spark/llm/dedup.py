"""Deduplication operators (SURVEY.md §2.12): exact, n-gram Jaccard,
MinHash + LSH banding, SimHash, and embedding-cosine near-dup.

Scale posture (the point of each design):

- **Exact**: one hash + one groupBy on the hash — a single shuffle of
  (hash, id), never the text. Canonical pick is min(id) — deterministic.
- **n-gram Jaccard**: inverted-index self-join on shingles (the
  classic candidate generation). ``max_df`` prunes hub shingles before
  the join — without it one ubiquitous shingle creates an O(n²)
  skew partition at corpus scale.
- **MinHash+LSH**: signatures are one aggregate pass over the shingle
  set (k min-aggs); banding turns all-pairs into an equi-join on
  (band_idx, band_hash). Only candidate pairs are verified exactly.
  This is the standard way near-dedup survives 100 TB: work is
  proportional to colliding pairs, not n².
- **SimHash**: 60-bit signature via one groupBy(doc) with 60 partial
  sums (no row blowup); near-dup pairs join on a 16-bit prefix bucket
  before computing Hamming distance.
- **Embedding cosine**: exact all-pairs is the correctness baseline;
  the scale path is the LSH bucketing in ``similarity.py``.

Everything is md5-based and fold-order-pinned so Spark and the DuckDB
oracle agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from feature_store_spark.llm.text import (
    TOKEN_RE,
    normalized_text,
    shingles,
    shingles_oracle_sql,
    tokens,
)

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact duplicate mapping on normalized text: every row mapped to
    the smallest id sharing its content hash. ``is_duplicate`` marks
    non-canonical rows (the reference's duplicate-key detection,
    `sql/migration_queries.sql:8-25`, lifted to content hashing).

    Documents with no normalized content (NULL text, or no tokens at
    all) hash to NULL and stay their own canonical singletons — the
    CASE guard below reproduces the NULL-matches-nothing semantics the
    original aggregate+LEFT-join formulation got from SQL. The
    empty-token guard is also the cross-engine parity rule — DuckDB's
    ``array_to_string([], ' ')`` is NULL where Spark's ``array_join``
    is ``''``, so an unguarded md5 would group token-free docs on one
    engine and not the other.

    Shape: min/count as WINDOW aggregates over the content-hash
    partition instead of a groupBy + self-join — the join form
    evaluates the tokenize+md5 subtree twice (Spark reuses no
    subtrees) and shuffles twice; the window form is one scan, one
    exchange (measured 4.0 s → 1.4 s on the 50k-doc corpus, identical
    output). Caveat for pathological corpora: every token-free doc
    lands in the window's single NULL partition — if those are a
    material fraction at scale, pre-filter them around the window."""
    normalized = normalized_text(F.col(text_col))
    hashed = df.select(
        F.col(id_col),
        F.when(F.length(normalized) > 0, F.md5(normalized)).alias(
            "content_hash"
        ),
    )
    w = Window.partitionBy("content_hash")
    isnull = F.col("content_hash").isNull()
    canonical = F.when(isnull, F.col(id_col)).otherwise(
        F.min(id_col).over(w)
    )
    return hashed.select(
        id_col,
        "content_hash",
        canonical.alias("canonical_id"),
        (F.col(id_col) != canonical).alias("is_duplicate"),
        F.when(isnull, F.lit(1))
        .otherwise(F.count(F.lit(1)).over(w))
        .cast("long")
        .alias("group_size"),
    )


def exact_dedup_oracle_sql(table: str = "documents", id_col: str = "doc_id",
                           text_col: str = "text") -> str:
    return f"""
    WITH hashed AS (
      SELECT {id_col},
             md5(array_to_string(regexp_extract_all(lower({text_col}),
                 '{TOKEN_RE}'), ' ')) AS content_hash
      FROM {table}
    ), canon AS (
      SELECT content_hash, min({id_col}) AS canonical_id,
             count(*) AS group_size
      FROM hashed WHERE content_hash IS NOT NULL GROUP BY content_hash
    )
    SELECT h.{id_col}, h.content_hash,
           COALESCE(c.canonical_id, h.{id_col}) AS canonical_id,
           h.{id_col} <> COALESCE(c.canonical_id, h.{id_col})
             AS is_duplicate,
           CAST(COALESCE(c.group_size, 1) AS BIGINT) AS group_size
    FROM hashed h LEFT JOIN canon c USING (content_hash)
    """


# ---------------------------------------------------------------------------
# Chunk-level (paragraph-style) dedup
# ---------------------------------------------------------------------------


def chunk_dedup(
    df: DataFrame,
    chunk_tokens: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide SUB-document dedup at chunk granularity — the
    paragraph-dedup stage of C4/Dolma-style corpus builds (C4 removes
    any three-sentence span seen before; Dolma dedups paragraphs),
    adapted to delimiter-free text by chunking on fixed
    ``chunk_tokens`` windows (:func:`~feature_store_spark.llm.pretrain.
    chunk_documents` with zero overlap, so chunks tile the document
    and the survivors reassemble losslessly). Exact dedup
    (:func:`exact_dedup`) only catches whole-document copies; this
    removes REPEATED SPANS — boilerplate, quoted blocks, self-repeated
    documents — keeping each distinct chunk's FIRST occurrence in
    (id, chunk_idx) order and rebuilding every document's text from
    its surviving chunks.

    Emits one row per input document (keep-the-spine):
    (id, n_chunks, kept_chunks, dedup_text) — ``n_chunks`` counts the
    doc's non-empty chunks, ``kept_chunks`` how many survived,
    ``dedup_text`` the ordered reassembly ('' when nothing survives,
    including NULL/empty docs).

    Scale shape (round 10, guide §8: decide on small rows, move big
    rows once — and here, move them ZERO times): document text is
    never exploded into per-chunk strings and never shuffled at all.
    One tokenize pass lands (id, token-array) rows behind the
    standard collapse-barrier repartition on ``id_col``; the
    first-occurrence decision explodes only 16-byte chunk HASHES
    (a struct of two differently-seeded xxhash64s over each
    ``chunk_tokens``-long slice of the token array; the second hashes
    a leading constant first, which acts as its seed — tokens are
    space-free ``[a-z0-9]+``, so slice equality ⇔ chunk-text
    equality). The key is paired because chunk_dedup REWRITES
    ``dedup_text``: a key collision silently drops real content, and
    at 100 TB chunk counts (~10¹¹–10¹²) a single 64-bit key's
    birthday bound (~n²/2⁶⁵) makes tens of thousands of such merges
    EXPECTED. A merge now needs both seeds to collide on the same
    pair of chunks. The two hashes are one function under two seeds,
    not independent hashes, so no 128-bit bound is claimed; the pair
    only makes a collision far rarer than either hash alone
    (unlike dup_span_stats, where a collision only perturbs a
    statistic and the 64-bit trade stands). Costs +8 bytes per
    posting row on the one narrow shuffle;
    the per-doc kept-index lists join back CO-PARTITIONED on the id
    (zero exchange), and ``dedup_text`` is rebuilt by slicing the
    doc's own token array — only the kept chunks are ever
    stringified. Equivalence with the old Sort+row_number shape:
    ``row_number()==1`` under ORDER BY (id, chunk_idx) is exactly
    the (id, chunk_idx)-lexicographic minimum per hash, and the pair
    is unique, so the kept set is identical; concatenating kept
    slices in chunk_idx order rebuilds the identical string. The old
    shape shuffled full chunk text twice (hash window + reassembly
    groupBy) and sorted it once — measured at sf≈1: 43.4 MB shuffle
    write → 24.5 MB, and the explode+array_join string build is gone
    from the hot path. No all-pairs anywhere — work stays linear in
    corpus tokens."""
    ct = int(chunk_tokens)
    toks = df.select(
        F.col(id_col),
        # NULL text ⇒ empty token array (keep-the-spine, as in
        # chunk_documents); the repartition is the collapse barrier
        # that keeps tokenize() evaluated once per doc AND the
        # partitioning the kept-list join reuses below
        F.coalesce(
            tokens(F.col(text_col)), F.array().cast("array<string>")
        ).alias("__t"),
    ).repartition(F.col(id_col))
    # with overlap=0 every chunk of a non-empty doc is non-empty, so
    # n_chunks == ceil(n_tokens / chunk_tokens) and the old
    # n_tokens>0 filter reduces to the n>0 guard here
    # slices are materialized once per chunk (in the explode, scan-
    # local — they never cross an exchange) and hashed twice with
    # different salts; only (id, chunk_idx, 16-byte key) is shuffled
    slices = F.expr(
        f"CASE WHEN size(__t) > 0 THEN"
        f" transform(sequence(0, cast(ceil(size(__t) / {ct}.0) as int)"
        f" - 1), i -> slice(__t, i * {ct} + 1, {ct}))"
        " ELSE array() END"
    )
    keyed = toks.select(
        F.col(id_col), F.posexplode(slices).alias("chunk_idx", "__s")
    ).select(
        id_col,
        "chunk_idx",
        F.struct(
            F.xxhash64("__s").alias("h1"),
            F.xxhash64(F.lit(1), F.col("__s")).alias("h2"),
        ).alias("__h"),
    )
    winners = (
        keyed.groupBy("__h")
        # min_by plans as SortAggregate in Spark 4 (MinBy is a
        # DECLARATIVE aggregate whose struct-typed buffer neither
        # HashAggregate nor ObjectHashAggregate accepts — the round-10
        # note claiming ObjectHashAggregate was wrong; the committed
        # plan dumps always showed SortAggregate). Measured round 11 at
        # sf≈1: a fully hash-based variant (pack (id, idx) into one
        # bigint, plain min) is within 1% (1.236 vs 1.246 s) — the
        # posting sort is NOT the bottleneck (tokenize + rebuild is) —
        # and the packed key silently corrupts for negative/huge ids,
        # so the safe struct form stays. Partial min_by still collapses
        # per-hash duplicates map-side before the exchange.
        .agg(
            F.min_by(
                F.struct(id_col, "chunk_idx"),
                F.struct(id_col, "chunk_idx"),
            ).alias("__w")
        )
    )
    kept = winners.groupBy(
        F.col(f"__w.{id_col}").alias(id_col)
    ).agg(F.collect_list(F.col("__w.chunk_idx")).alias("__kept"))
    kept_arr = F.coalesce(F.col("__kept"), F.array().cast("array<int>"))
    n = F.size("__t")
    # joining chunk slices with ' ' == joining the flattened kept
    # tokens with ' ' (chunk_text is itself the ' '-join of a slice)
    dedup_text = F.array_join(
        F.flatten(
            F.transform(
                F.array_sort(kept_arr),
                lambda i: F.slice(
                    F.col("__t"), i * ct + F.lit(1), F.lit(ct)
                ),
            )
        ),
        " ",
    )
    return toks.join(kept, id_col, "left").select(
        id_col,
        F.when(n > 0, F.ceil(n / F.lit(float(ct))))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_chunks"),
        F.size(kept_arr).cast("bigint").alias("kept_chunks"),
        dedup_text.alias("dedup_text"),
    )


def chunk_dedup_oracle_sql(
    table: str = "documents",
    chunk_tokens: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    from feature_store_spark.llm.pretrain import chunk_documents_oracle_sql

    chunks_sql = chunk_documents_oracle_sql(
        table=table, chunk_tokens=chunk_tokens, overlap=0,
        id_col=id_col, text_col=text_col,
    )
    return f"""
    WITH chunked AS ({chunks_sql}),
    marked AS (
      SELECT {id_col}, chunk_idx, chunk_text,
             row_number() OVER (PARTITION BY md5(chunk_text)
                                ORDER BY {id_col}, chunk_idx) AS rn
      FROM chunked WHERE n_tokens > 0
    ),
    per_doc AS (
      SELECT {id_col},
             count(*) AS n_chunks,
             count(*) FILTER (WHERE rn = 1) AS kept_chunks,
             COALESCE(string_agg(chunk_text, ' ' ORDER BY chunk_idx)
                        FILTER (WHERE rn = 1), '') AS dedup_text
      FROM marked GROUP BY {id_col}
    )
    SELECT d.{id_col},
           CAST(COALESCE(p.n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(COALESCE(p.kept_chunks, 0) AS BIGINT) AS kept_chunks,
           COALESCE(p.dedup_text, '') AS dedup_text
    FROM {table} d LEFT JOIN per_doc p USING ({id_col})
    """


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, inverted index)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document pairs with word-n-gram Jaccard ≥ threshold, computed
    exactly via the inverted index: join shingle→doc postings with
    itself, count shared shingles per pair, then
    ``J = shared / (|A| + |B| - shared)``.

    ``max_df`` drops shingles appearing in more than that many docs
    from CANDIDATE GENERATION (the self-join) — shingles that frequent
    cannot be discriminative, and at corpus scale a single hub shingle
    would otherwise dominate the join output. The emitted ``jaccard``
    is always computed over the FULL shingle sets (exact verification
    on candidates, like ``minhash_lsh_pairs``); pruning trades recall
    on pairs that overlap ONLY in hub shingles, never the reported
    similarity values.

    The per-doc set size rides along as a window count over the same
    shingle pass instead of a separate sizes aggregate — one fewer
    evaluation of the tokenize→shingle subtree (no automatic subtree
    reuse in Spark) and two fewer joins; within a (id_a, id_b) group
    the sizes are constant, so ``first()`` recovers them after the
    shared-count aggregation.
    """
    sh = shingles(df, n=n, id_col=id_col, text_col=text_col)
    if max_df is not None:
        # df-pruning applies to CANDIDATE GENERATION only: candidate
        # pairs come from the pruned postings join, but the emitted
        # jaccard is verified against the FULL shingle sets (the
        # minhash_lsh_pairs pattern). Pruning the sets themselves
        # would silently redefine the output similarity — a pair
        # whose overlap is mostly hub shingles would report a J far
        # from the documented word-n-gram Jaccard and flip threshold
        # decisions. The recall trade is explicit instead: pairs
        # overlapping ONLY in hub shingles produce no candidate.
        keep = sh.groupBy("shingle").agg(
            F.count(F.lit(1)).alias("__df")
        ).filter(F.col("__df") <= max_df)
        pruned = sh.join(keep.select("shingle"), "shingle")
        cand = (
            pruned.select(F.col(id_col).alias("id_a"), "shingle")
            .join(
                pruned.select(F.col(id_col).alias("id_b"), "shingle"),
                "shingle",
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        sets = sh.groupBy(id_col).agg(F.collect_list("shingle").alias("sh"))
        return _verify_pairs(cand, sets, threshold, id_col=id_col)
    sh = sh.withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy(id_col))
    )
    a = sh.select(F.col(id_col).alias("id_a"), "shingle", F.col("__n").alias("n_a"))
    b = sh.select(F.col(id_col).alias("id_b"), "shingle", F.col("__n").alias("n_b"))
    shared = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return shared.select(
        "id_a",
        "id_b",
        F.col("shared").alias("shared_shingles"),
        F.round(jac, 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def ngram_jaccard_oracle_sql(table: str = "documents", n: int = 3,
                             threshold: float = 0.5,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> str:
    sh = shingles_oracle_sql(table, n, id_col, text_col)
    return f"""
    WITH sh AS ({sh}),
    sizes AS (SELECT {id_col}, count(*) AS n FROM sh GROUP BY {id_col}),
    shared AS (
      SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, count(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle
        AND a.{id_col} < b.{id_col}
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, shared AS shared_shingles,
           round(shared * 1.0 / (x.n + y.n - shared), 6) AS jaccard
    FROM shared
    JOIN sizes x ON id_a = x.{id_col}
    JOIN sizes y ON id_b = y.{id_col}
    WHERE round(shared * 1.0 / (x.n + y.n - shared), 6) >= {threshold}
    """


def ngram_containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document pairs with word-n-gram CONTAINMENT ≥ threshold:
    ``C = shared / min(|A|, |B|)`` — the asymmetric cousin of Jaccard
    that catches quote/subset duplication (a short doc fully embedded
    in a long one scores C=1.0 but a tiny Jaccard, so a Jaccard gate
    never fires). This is the Broder containment measure every
    dedup-for-pretraining pipeline pairs with resemblance; same
    exact inverted-index shape as :func:`ngram_jaccard_pairs` — one
    shingle pass (per-doc set size as a window count over it), one
    postings self-join, one pair aggregation.

    Scale: identical posture to the Jaccard op. ``max_df`` applies
    the same hub-shingle pruning to CANDIDATE GENERATION only (the
    emitted containment is always exact over the full shingle sets;
    the recall trade is pairs overlapping ONLY in hub shingles) — at
    corpus scale run with it, or band the postings with LSH upstream.
    """
    sh = shingles(df, n=n, id_col=id_col, text_col=text_col)
    if max_df is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
        )
        pruned = sh.join(keep.select("shingle"), "shingle")
        cand = (
            pruned.select(F.col(id_col).alias("id_a"), "shingle")
            .join(
                pruned.select(F.col(id_col).alias("id_b"), "shingle"),
                "shingle",
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        sets = sh.groupBy(id_col).agg(F.collect_list("shingle").alias("sh"))
        sa = sets.select(
            F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")
        )
        sb = sets.select(
            F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")
        )
        shared = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        smaller = F.least(F.size("sh_a"), F.size("sh_b"))
        return (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a",
                "id_b",
                shared.alias("shared_shingles"),
                smaller.alias("smaller_set"),
                F.round(shared / smaller, 6).alias("containment"),
            )
            .filter(F.col("containment") >= threshold)
        )
    sh = sh.withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy(id_col))
    )
    a = sh.select(
        F.col(id_col).alias("id_a"), "shingle", F.col("__n").alias("n_a")
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), "shingle", F.col("__n").alias("n_b")
    )
    shared = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    cont = F.round(
        F.col("shared") / F.least(F.col("n_a"), F.col("n_b")), 6
    )
    return shared.select(
        "id_a",
        "id_b",
        F.col("shared").alias("shared_shingles"),
        F.least(F.col("n_a"), F.col("n_b")).alias("smaller_set"),
        cont.alias("containment"),
    ).filter(F.col("containment") >= threshold)


def ngram_containment_oracle_sql(
    table: str = "documents",
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin: same shingles, same self-join, same
    shared/min(|A|,|B|) with the same 6-digit round."""
    sh = shingles_oracle_sql(table, n, id_col, text_col)
    return f"""
    WITH sh AS ({sh}),
    sizes AS (SELECT {id_col}, count(*) AS n FROM sh GROUP BY {id_col}),
    shared AS (
      SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, count(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle
        AND a.{id_col} < b.{id_col}
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, shared AS shared_shingles,
           least(x.n, y.n) AS smaller_set,
           round(shared * 1.0 / least(x.n, y.n), 6) AS containment
    FROM shared
    JOIN sizes x ON id_a = x.{id_col}
    JOIN sizes y ON id_b = y.{id_col}
    WHERE round(shared * 1.0 / least(x.n, y.n), 6) >= {threshold}
    """


def _bucket_pairs(
    postings: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from band postings via
    in-bucket collect_list + double explode — the ONE definition of
    in-bucket pairing shared by the batch and incremental LSH ops.
    ``max_bucket_size`` tiles a duplicate-dense band bucket into exact
    sub-tasks (``similarity.bucket_pairs``) with identical output —
    the hot-bucket bound for corpora where thousands of near-identical
    docs share every band."""
    if max_bucket_size is not None:
        from feature_store_spark.llm.similarity import bucket_pairs

        return (
            bucket_pairs(
                postings.select("band_idx", "band_hash", id_col),
                ["band_idx", "band_hash"],
                [id_col],
                id_col,
                max_bucket_size,
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .distinct()
        )
    # deliberately NOT routed through similarity.bucket_pairs(None):
    # that shape wraps members in a struct, and shuffling bare ids
    # (not 1-field structs) through this bench-headline aggregate is
    # measurably narrower. Divergence between the two shapes is
    # pinned by tests/test_hot_bucket.py::
    # test_minhash_hot_bucket_tiling_is_exact (tiled == this, always).
    return (
        postings.groupBy("band_idx", "band_hash")
        .agg(F.collect_list(F.col(id_col)).alias("mem"))
        .select(F.explode("mem").alias("id_a"), "mem")
        .select("id_a", F.explode("mem").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def _verify_pairs(
    cand: DataFrame,
    sets: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard verification of candidate pairs against per-doc
    shingle-set arrays (round-6-before-threshold, ≥ threshold) — the
    ONE definition of the verification contract; the incremental op's
    'equals full-corpus LSH restricted to batch pairs' oracle depends
    on both call sites staying bit-identical."""
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    shared = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = shared / (F.size("sh_a") + F.size("sh_b") - shared)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            shared.alias("shared_shingles"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

# k=24/b=8 (r=3): S-curve midpoint at J=(1/8)^(1/3)≈0.5, matching the
# default 0.5 threshold. Measured candidate recall (lsh_scurve_probe,
# 500 planted pairs/level): 0.62@J=0.5, 0.79@0.6, 0.94@0.7 vs the old
# k=12/b=4 (midpoint 0.63): 0.39@0.5, 0.58@0.6, 0.78@0.7 — and the
# wider banding is FASTER at sf≈1 (6.2 s vs 6.8 s: more bands → smaller
# buckets → less in-bucket pairing) at 2× signature width (24 longs per
# doc through the shuffle). Fixture-corpus verified recall: 0.998 vs
# 0.990 at sf≈1 (SCALE.md §2 table).
MINHASH_K = 24  # total hash functions
MINHASH_BANDS = 8  # bands of r = K/BANDS rows each
MINHASH_P = 2147483647  # Mersenne prime 2^31-1 for the LCG family

# 60-bit md5 prefix of a shingle: the shared base value for BOTH the
# minhash LCG family (applied to h % P) and the hashed verification
# sets (round 10 — sets of 8-byte longs instead of n-word strings;
# distinct shingles map to distinct values modulo ~2⁻⁶⁰ collisions,
# so intersect counts and Jaccard are unchanged).
_SHINGLE_H60 = (
    "cast(conv(substring(md5(shingle), 1, 15), 16, 10) as bigint)"
)


def _minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per permutation: odd multipliers, spread
    offsets — shared by the Spark expressions and the oracle SQL."""
    return [(2 * i + 1, 1000003 * (i + 1) % MINHASH_P) for i in range(k)]


def minhash_signatures(df: DataFrame, n: int = 3, k: int = MINHASH_K,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """k-permutation MinHash signature per document.

    The base hash is ONE md5 per shingle (its first 15 hex chars as a
    60-bit int); the k permutations are linear-congruential reshuffles
    ``(a_i·x + b_i) mod 2^31-1`` — integer arithmetic instead of k
    string hashes. md5 goes through JCA MessageDigest (per-call
    provider lookup), so cutting md5 volume k-fold matters at corpus
    scale. One aggregate pass (k min-aggs) over the shingle set: one
    shuffle on doc id."""
    sh = shingles(df, n=n, id_col=id_col, text_col=text_col)
    # Expressions are built as SQL strings (one py4j call each) rather
    # than nested Column operators (~5 py4j round-trips per node): the
    # per-query driver-side construction cost is a fixed tax paid at
    # any cluster scale, and for k-wide aggregate lists it dominates.
    hashed = sh.select(
        F.col(id_col),
        F.expr(
            "cast(conv(substring(md5(shingle), 1, 15), 16, 10) as bigint)"
            f" % {MINHASH_P} AS __x"
        ),
    )
    aggs = [
        F.expr(f"min(({a} * __x + {b}) % {MINHASH_P}) AS h{i}")
        for i, (a, b) in enumerate(_minhash_params(k))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def _band_postings(
    sig: DataFrame, k: int, bands: int, id_col: str = "doc_id"
) -> DataFrame:
    """Signature table → LSH band postings (id, band_idx, band_hash).
    One stack() pass instead of a bands-way union: a union would
    re-read the signature relation per branch. This is the row shape a
    production pipeline PERSISTS as the incremental dedup index (see
    :func:`minhash_lsh_incremental`)."""
    r = k // bands
    stack_args = []
    for b in range(bands):
        cols = [F.col(f"h{i}") for i in range(b * r, (b + 1) * r)]
        stack_args += [F.lit(b), F.md5(F.concat_ws("|", *cols))]
    return sig.select(
        F.col(id_col),
        F.stack(F.lit(bands), *stack_args).alias("band_idx", "band_hash"),
    )


def lsh_index(
    df: DataFrame,
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """The two persistable relations of an incremental MinHash-LSH
    dedup index over an existing corpus: ``(postings, sets)`` where
    postings = (id, band_idx, band_hash) and sets = (id, sh:
    array<bigint>) — each set holds the 60-bit md5 prefixes of the
    doc's distinct shingles, for exact verification. At corpus scale
    both are written to storage once (postings bucketed by band_hash,
    sets by id) and every ingest batch probes them — the corpus is
    never re-shingled.

    STORAGE-FORMAT BREAK (round 10): ``sh`` changed from
    array<string> raw shingles to array<bigint> hashes. An index
    written by the pre-round-10 code must be rebuilt;
    :func:`minhash_lsh_incremental` raises a clear error if fed the
    old schema."""
    # Tokenize ONCE (round 10): postings AND sets both need the
    # shingle pass, and the sets relation is referenced twice by the
    # downstream verification join — as three independent subtrees
    # the corpus was re-shingled three times per probe. One aggregate
    # collects each shingle's 60-bit md5 prefix (the value the LCG
    # signature family already derives from), lazily localCheckpoint-
    # ed so every consumer reads the materialized rows; signatures
    # fall out per row via array_min over the LCG transforms of
    # (h % P) — identical values to hashing the raw shingles. The
    # sets THEMSELVES are the hashed values, not the shingle strings:
    # distinct shingles ⇒ distinct hashes (collisions ~|A||B|/2⁶⁰ per
    # verified pair — the dup_span_stats trade), so intersect sizes
    # and Jaccard are unchanged while the checkpoint and both
    # verification-join shuffle sides carry 8-byte longs instead of
    # ~n-word strings.
    base = (
        shingles(df, n=n, id_col=id_col, text_col=text_col)
        .groupBy(id_col)
        .agg(
            F.collect_list(F.expr(_SHINGLE_H60)).alias("sh"),
        )
        .localCheckpoint(eager=False)
    )
    sig = base.select(
        F.col(id_col),
        *[
            F.expr(
                f"array_min(transform(sh, x -> ({a} * (x % {MINHASH_P})"
                f" + {b}) % {MINHASH_P})) AS h{i}"
            )
            for i, (a, b) in enumerate(_minhash_params(k))
        ],
    )
    postings = _band_postings(sig, k=k, bands=bands, id_col=id_col)
    sets = base
    return postings, sets


def minhash_lsh_incremental(
    new_docs: DataFrame,
    index_postings: DataFrame,
    index_sets: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs INVOLVING a new ingest batch, probed against a
    stored LSH index (:func:`lsh_index`) — the continuous-ingest shape
    of corpus dedup: only the batch is shingled/signed, the existing
    corpus contributes its persisted postings and shingle sets.

    Output = exactly the pairs :func:`minhash_lsh_pairs` over
    (corpus ∪ batch) would emit where at least one side is new —
    new×corpus collisions via an equi-join of the batch's band
    postings against the index (batch side small → broadcast), plus
    new×new collisions via in-batch bucket pairing. Corpus×corpus
    pairs are by definition already known to the store and never
    recomputed — at 100 TB this is what makes per-batch dedup
    O(batch), not O(corpus).
    """
    # guard against a pre-round-10 persisted index (sh was
    # array<string> raw shingles; now array<bigint> hashes) — the
    # unionByName below would otherwise fail with a confusing
    # cannot-merge-types error deep in the plan
    sh_type = {f.name: f.dataType.simpleString() for f in index_sets.schema}
    if sh_type.get("sh") != "array<bigint>":
        raise ValueError(
            "index_sets.sh must be array<bigint> (60-bit shingle-hash "
            f"prefixes), got {sh_type.get('sh')}: this index was built "
            "by an older lsh_index that stored raw shingle strings — "
            "rebuild it with the current lsh_index()"
        )
    new_post, new_sets = lsh_index(
        new_docs, n=n, k=k, bands=bands, id_col=id_col, text_col=text_col
    )
    # new×corpus candidates: postings equi-join (id_a = corpus side).
    cross = (
        index_postings.select(
            F.col(id_col).alias("id_a"), "band_idx", "band_hash"
        )
        .join(
            F.broadcast(
                new_post.select(
                    F.col(id_col).alias("id_b"), "band_idx", "band_hash"
                )
            ),
            ["band_idx", "band_hash"],
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
    )
    # new×new candidates: in-batch bucket pairing (batch is small).
    within = _bucket_pairs(new_post, id_col=id_col)
    cand = cross.unionByName(within).distinct()
    sets = index_sets.unionByName(new_sets)
    return _verify_pairs(cand, sets, threshold, id_col=id_col)


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    id_col: str = "doc_id",
    text_col: str = "text",
    materialize_sets: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH banding, verified exactly.
    ``max_bucket_size`` bounds the worst band-bucket pairing task by
    exact tiling (see :func:`_bucket_pairs`) — output identical.

    Candidate generation: documents agreeing on any band (md5 of r
    concatenated signature slots) — grouped per (band_idx, band_hash)
    with in-bucket pairing via collect_list + double explode, never an
    all-pairs product. Verification: exact n-gram Jaccard on the
    candidates only, against per-doc shingle-set arrays
    (``array_intersect`` on the pruned pairs — shingle sets cross the
    shuffle once per join side instead of the full exploded shingle
    table). Output schema matches :func:`ngram_jaccard_pairs` (LSH may
    miss pairs below ~threshold; the default k=24/b=8 banding's S-curve
    midpoint sits near J≈(1/8)^(1/3)≈0.5 — measured recall table in
    SCALE.md §2).

    The plan references the tokenize→shingle subtree three times
    (signature pass + both verification sides) and Spark reuses no
    subtrees, so the shingle pass runs three times. That is the
    measured-faster default anyway (narrow shuffles: the signature pass
    moves k longs per doc — 24 by default — not arrays). ``materialize_sets=True``
    flips to tokenize-ONCE: one aggregate collects the shingle set as
    60-bit md5 prefixes (``_SHINGLE_H60``), lazily localCheckpoint-ed
    and shared by all branches, with signatures derived per-row via
    ``array_min`` over LCG transforms of ``x % P``. Use it when
    tokenization dominates — very long
    documents or corpus scale where the 3× regex+md5 CPU outweighs
    caching the sets (at true 100 TB scale, write the shingle-set
    table to storage once and feed both phases from it instead)."""
    if materialize_sets:
        # collect_list order is nondeterministic but irrelevant:
        # array_min, size, and array_intersect are order-insensitive.
        # Sets hold the shingles' 60-bit md5 prefixes (_SHINGLE_H60,
        # round 10) — 8-byte longs through the checkpoint and both
        # verification-join sides instead of n-word strings; distinct
        # shingles ⇒ distinct values modulo ~2⁻⁶⁰ collisions, so
        # shared counts and Jaccard are unchanged.
        sets = (
            shingles(df, n=n, id_col=id_col, text_col=text_col)
            .groupBy(id_col)
            .agg(F.collect_list(F.expr(_SHINGLE_H60)).alias("sh"))
            .localCheckpoint(eager=False)
        )
        sig = sets.select(
            F.col(id_col),
            *[
                F.expr(
                    f"array_min(transform(sh, x -> ({a} *"
                    f" (x % {MINHASH_P}) + {b}) % {MINHASH_P})) AS h{i}"
                )
                for i, (a, b) in enumerate(_minhash_params(k))
            ],
        )
    else:
        sets = (
            shingles(df, n=n, id_col=id_col, text_col=text_col)
            .groupBy(id_col)
            .agg(F.collect_list(F.expr(_SHINGLE_H60)).alias("sh"))
        )
        sig = minhash_signatures(
            df, n=n, k=k, id_col=id_col, text_col=text_col
        )
    bands_df = _band_postings(sig, k=k, bands=bands, id_col=id_col)
    cand = _bucket_pairs(
        bands_df, id_col=id_col, max_bucket_size=max_bucket_size
    )
    # Exact verification restricted to candidates. shingles() emits
    # distinct (id, shingle) rows, so the collected array is a set.
    return _verify_pairs(cand, sets, threshold, id_col=id_col)


def minhash_lsh_oracle_sql(table: str = "documents", n: int = 3,
                           threshold: float = 0.5, k: int = MINHASH_K,
                           bands: int = MINHASH_BANDS,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> str:
    r = k // bands
    sh = shingles_oracle_sql(table, n, id_col, text_col)
    # hex→int: DuckDB has no conv(); sum the first 15 nibbles of the
    # md5 (same 60-bit value Spark gets via conv(substr(md5,1,15))).
    nib = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(shingle), {j + 1}, 1)) - 1)"
        f" * {16 ** (14 - j)}"
        for j in range(15)
    )
    sig_aggs = ",\n             ".join(
        f"min(({a} * __x + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(_minhash_params(k))
    )
    band_selects = []
    for b in range(bands):
        cols = " || '|' || ".join(
            f"CAST(h{i} AS VARCHAR)" for i in range(b * r, (b + 1) * r)
        )
        band_selects.append(
            f"SELECT {id_col}, {b} AS band_idx, md5({cols}) AS band_hash FROM sig"
        )
    bands_sql = "\n      UNION ALL ".join(band_selects)
    return f"""
    WITH sh AS ({sh}),
    hashed AS (
      SELECT {id_col}, CAST(({nib}) % {MINHASH_P} AS BIGINT) AS __x FROM sh
    ),
    sig AS (
      SELECT {id_col},
             {sig_aggs}
      FROM hashed GROUP BY {id_col}
    ),
    bands AS (
      {bands_sql}
    ),
    cand AS (
      SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
        AND a.{id_col} < b.{id_col}
    ),
    sizes AS (SELECT {id_col}, count(*) AS n FROM sh GROUP BY {id_col}),
    shared AS (
      SELECT c.id_a, c.id_b, count(*) AS shared
      FROM cand c
      JOIN sh sa ON sa.{id_col} = c.id_a
      JOIN sh sb ON sb.{id_col} = c.id_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, shared AS shared_shingles,
           round(shared * 1.0 / (x.n + y.n - shared), 6) AS jaccard
    FROM shared
    JOIN sizes x ON id_a = x.{id_col}
    JOIN sizes y ON id_b = y.{id_col}
    WHERE round(shared * 1.0 / (x.n + y.n - shared), 6) >= {threshold}
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 md5 nibbles → fits a signed 64-bit integer


def simhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document over token frequencies.

    Token hash = first 15 nibbles of md5(token); bit b of the signature
    is 1 when the count-weighted vote over tokens is strictly positive.
    Implemented as one groupBy(doc) with 60 partial-aggregated sums —
    no row explosion, single shuffle. The 60 bit-votes come from ONE
    hex→bigint conversion plus shift/mask long arithmetic (measured
    ~1.5× faster than 60 per-bit substring+conv string ops; both stay
    inside whole-stage codegen but the string path allocates)."""
    tok = (
        df.repartition(F.col(id_col))  # parallelize tokenize/explode
        .select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "h",
            F.expr(
                "cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)"
            ),
        )
    )
    # SQL-string expressions (see minhash_signatures): the 60 vote aggs
    # + 60-term signature would otherwise cost ~800 py4j round-trips of
    # driver-side Column construction per query — measured ~1 s, twice
    # the runtime of the query itself at sf0.1.
    vote_aggs = []
    for b in range(SIMHASH_BITS):
        # bit b lives at nibble b//4 (big-endian hex), bit 3-(b%4)
        shift = 4 * (14 - b // 4) + (3 - b % 4)
        vote_aggs.append(
            F.expr(
                f"sum(cnt * (((shiftright(h, {shift}) & 1) * 2) - 1))"
                f" AS v{b}"
            )
        )
    votes = tok.groupBy(id_col).agg(*vote_aggs)
    sig = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({2**b} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    )
    return votes.select(F.col(id_col), F.expr(sig).alias("simhash"))


def simhash_oracle_sql(table: str = "documents", id_col: str = "doc_id",
                       text_col: str = "text") -> str:
    vote_exprs = []
    for b in range(SIMHASH_BITS):
        nib_idx = b // 4
        bit_in_nib = 3 - (b % 4)
        nib = (
            f"(strpos('0123456789abcdef', substr(hex, {nib_idx + 1}, 1)) - 1)"
        )
        bit = f"(CAST(floor({nib} / {2 ** bit_in_nib}) AS BIGINT) % 2)"
        vote_exprs.append(f"sum(cnt * ({bit} * 2 - 1)) AS v{b}")
    votes_sql = ",\n             ".join(vote_exprs)
    sig = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT {id_col}, tok, count(*) AS cnt, md5(tok) AS hex
      FROM (
        SELECT {id_col}, unnest(regexp_extract_all(lower({text_col}),
               '{TOKEN_RE}')) AS tok
        FROM {table}
      ) GROUP BY {id_col}, tok
    ),
    votes AS (
      SELECT {id_col},
             {votes_sql}
      FROM tok GROUP BY {id_col}
    )
    SELECT {id_col}, {sig} AS simhash FROM votes
    """


def simhash_near_dup_pairs(df: DataFrame, max_hamming: int = 8,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Pairs within ``max_hamming`` SimHash bits, bucketed by the top
    16 signature bits before the pairwise check (the block-permutation
    trick: near-identical docs almost always agree on a 16-bit prefix,
    so candidates are generated per bucket, not all-pairs).

    In-bucket pairing is collect_list + double explode rather than a
    bucket self-join: a self-join would evaluate the whole signature
    subtree twice (Spark reuses no subtrees; measured 2.3× slower),
    while this shape computes signatures once and shuffles them once.
    Both shapes are quadratic in bucket size; a pathologically hot
    bucket (skewed corpus at billions of docs) needs more prefix bits
    or multiple block permutations, not a different pairing join."""
    sig = simhash_signatures(df, id_col=id_col, text_col=text_col)
    bucketed = sig.withColumn(
        "bucket", F.floor(F.col("simhash") / F.lit(2 ** (SIMHASH_BITS - 16)))
    )
    grouped = bucketed.groupBy("bucket").agg(
        F.collect_list(
            F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sig"))
        ).alias("mem")
    )
    pairs = grouped.select(F.explode("mem").alias("a"), "mem").select(
        F.col("a.id").alias("id_a"),
        F.col("a.sig").alias("sig_a"),
        F.explode("mem").alias("b"),
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("b.sig")))
    return (
        pairs.filter(F.col("id_a") < F.col("b.id"))
        .select(
            "id_a",
            F.col("b.id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_dup_oracle_sql(table: str = "documents",
                                max_hamming: int = 8,
                                id_col: str = "doc_id",
                                text_col: str = "text") -> str:
    sig = simhash_oracle_sql(table, id_col, text_col)
    return f"""
    WITH sig AS ({sig}),
    bucketed AS (
      SELECT {id_col}, simhash,
             CAST(floor(simhash / {2 ** (SIMHASH_BITS - 16)}) AS BIGINT)
               AS bucket
      FROM sig
    )
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM bucketed a JOIN bucketed b
      ON a.bucket = b.bucket AND a.{id_col} < b.{id_col}
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def near_dup_clusters(
    df: DataFrame,
    max_hamming: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_iter: int = 20,
) -> DataFrame:
    """Dedup cluster assignment: connected components over the SimHash
    near-dup pair graph via iterative min-label propagation — every
    document maps to ``cluster_id`` = the smallest doc id reachable
    through near-dup edges (singletons map to themselves). Downstream,
    keeping ``doc_id == cluster_id`` rows is the canonical-document cut
    of a dedup pipeline.

    Iterative Spark done right: each round joins current labels to the
    edge list, takes the min neighbor label, and ``localCheckpoint``s
    the result — without materialization the lazy lineage doubles per
    round (labels feed two operators), going exponential. Convergence
    is bounded by the component diameter (near-dup clusters are
    shallow); the loop stops early when a round changes no label. At
    cluster scale this is the standard label-propagation CC; swap in
    large-star/small-star if diameters ever grow.
    """
    pairs = simhash_near_dup_pairs(
        df, max_hamming=max_hamming, id_col=id_col, text_col=text_col
    )
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(pairs.select(F.col("id_b"), F.col("id_a")))
    # Materialize the (small) edge list once; every iteration reuses it
    # instead of re-running the signature computation.
    edges = edges.localCheckpoint(eager=True)
    labels = df.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=True)
    converged = False
    # max_iter + 1 rounds: convergence is only observable via a
    # change-free round, so a component of diameter exactly max_iter
    # needs one extra detection pass before we can call it converged
    for _ in range(max_iter + 1):
        prop = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        # Carry a per-row `changed` flag out of the propagation join so
        # convergence detection is a scan of the checkpointed result —
        # a second labels⋈labels join per round measurably dominated
        # the loop at fixture scale.
        new_labels = (
            labels.join(prop, labels["node"] == prop["dst"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                (
                    F.coalesce("nbr_label", F.col("label"))
                    < F.col("label")
                ).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        labels = new_labels.select("node", "label")
        if new_labels.filter("changed").isEmpty():
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter) — raise max_iter or "
            "switch to large-star/small-star; returning partial labels "
            "would silently keep several 'canonical' docs per cluster"
        )
    return labels.select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_id")
    )


def near_dup_clusters_oracle_sql(table: str = "documents",
                                 max_hamming: int = 8,
                                 id_col: str = "doc_id",
                                 text_col: str = "text") -> str:
    """Recursive-CTE reachability fixpoint (UNION-distinct terminates
    on cycles): cluster id = min reachable node."""
    pairs = simhash_near_dup_oracle_sql(table, max_hamming, id_col, text_col)
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT {id_col}, {id_col} FROM {table}
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS {id_col}, min(b) AS cluster_id FROM reach GROUP BY a
    """


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

# one cosine implementation repo-wide: the determinism contract
# (double fold, round-6 before thresholds) lives in similarity.py
from feature_store_spark.llm.similarity import _cosine, _norm  # noqa: E402


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.4,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             max_rows: int | None = 100_000) -> DataFrame:
    """Vector pairs with cosine ≥ threshold — exact all-pairs
    (correctness baseline; the LSH-bucketed path in similarity.py is
    the scale variant). Cosine is a sequential double fold on both
    engines, rounded to 6 digits before the threshold cut so the cut
    itself is reproducible.

    ``max_rows`` guards against shipping the O(n²) baseline at corpus
    scale by accident: inputs larger than it raise with a pointer to
    the bucketed variants (one count job — this op is a verification
    tool, not a hot path). ``max_rows=None`` forces the full product.
    """
    if max_rows is not None:
        n = df.count()
        if n > max_rows:
            raise ValueError(
                f"embedding_near_dup_pairs: {n} input vectors exceed "
                f"max_rows={max_rows}; this exact all-pairs baseline "
                f"materializes {n * (n - 1) // 2} pairs. Use the "
                "bucketed scale paths (semantic_dedup, "
                "similarity.knn_graph, similarity.lsh_ann_topk) or "
                "pass a higher max_rows / max_rows=None to force."
            )
    norm = df.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    a = norm.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = norm.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cos = _cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dup_oracle_sql(table: str = "embeddings",
                                  threshold: float = 0.4,
                                  id_col: str = "vec_id",
                                  vec_col: str = "embedding") -> str:
    dot_ab = (
        "list_sum(list_transform(range(1, len(a.v) + 1), "
        "i -> a.v[i] * b.v[i]))"
    )
    return f"""
    WITH norm AS (
      SELECT {id_col},
             list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(
               list_transform({vec_col}, x -> CAST(x AS DOUBLE)),
               x -> x * x))) AS nrm
      FROM {table}
    )
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
           round({dot_ab} / (a.nrm * b.nrm), 6) AS cosine
    FROM norm a JOIN norm b ON a.{id_col} < b.{id_col}
    WHERE round({dot_ab} / (a.nrm * b.nrm), 6) >= {threshold}
    """


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.4,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public arXiv:2303.09540): partition the embedding
    space, then within each partition greedily keep one representative
    per cosine-ε ball and mark the rest as duplicates.

    The paper partitions with k-means; this variant uses the
    deterministic random-hyperplane LSH buckets from
    ``similarity.lsh_bucket`` (md5-derived planes) so the whole
    operator — bucketing included — is a pure function of the data and
    hash-checkable against the DuckDB twin. The greedy keep rule is
    id-ordered (the deterministic stand-in for the paper's "random"
    representative): a vector is a duplicate iff some LOWER-id vector
    in its bucket has rounded cosine ≥ ``threshold`` with it;
    ``dup_of`` records the smallest such witness. Note the witness may
    itself be a duplicate (greedy chain semantics — standard for
    SemDeDup-style pruning, identical on both engines).

    Scale posture: ONE signature pass (the kNN-graph shape — a bucket
    self-join would scan the corpus and evaluate the hyperplane folds
    twice; plan-pinned to a single FileScan), in-bucket pairing via
    collect_list + double explode with each vector's SELF-pair kept as
    the carrier row (so kept vectors survive the aggregate without a
    second scan), and the witness is a map-side-combined conditional
    min per id. ``planes`` is the dial: each extra plane halves the
    expected bucket population, so in-bucket pair work stays bounded
    as the corpus grows (same dial as ``lsh_ann_topk``/``knn_graph``).
    ``planes`` only controls the EXPECTED bucket, though — a
    duplicate-dense slice lands in ONE bucket regardless;
    ``max_bucket_size`` tiles such a bucket into exact sub-tasks
    (``similarity.bucket_pairs``) with identical output, bounding the
    worst task at ~max² pairs (tests/test_hot_bucket.py).

    Output: one row per input vector — (id, bucket, keep, dup_of) —
    so the driver hash covers keeps and drops alike.
    """
    from feature_store_spark.llm.similarity import bucket_pairs, lsh_bucket

    sig = df.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__n"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    pairs = bucket_pairs(
        sig, ["bucket"], [id_col, "__v", "__n"], id_col, max_bucket_size
        # keep a == b: the self-pair is each vector's carrier row
    ).filter(F.col(f"a.{id_col}") <= F.col(f"b.{id_col}"))
    cos = _cosine(
        F.col("a.__v"), F.col("b.__v"), F.col("a.__n"), F.col("b.__n")
    )
    witness = F.when(
        (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (cos >= threshold),
        F.col(f"a.{id_col}"),
    )
    return (
        pairs.select(
            F.col(f"b.{id_col}").alias(id_col),
            F.col("bucket"),
            witness.alias("__w"),
        )
        .groupBy(id_col, "bucket")
        .agg(F.min("__w").alias("dup_of"))
        .select(
            id_col,
            "bucket",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
        )
    )


def semantic_dedup_oracle_sql(
    table: str = "embeddings",
    threshold: float = 0.4,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`semantic_dedup` — same md5 hyperplane
    buckets (``similarity._bucket_sql``), same rounded-cosine
    threshold, same min-witness greedy rule."""
    from feature_store_spark.llm.similarity import _bucket_sql

    bucket = _bucket_sql("v", planes)
    dot_ab = (
        "list_sum(list_transform(range(1, len(a.v) + 1), "
        "i -> a.v[i] * b.v[i]))"
    )
    return f"""
    WITH norm AS (
      SELECT {id_col},
             list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(
               list_transform({vec_col}, x -> CAST(x AS DOUBLE)),
               x -> x * x))) AS nrm
      FROM {table}
    ),
    sig AS (SELECT {id_col}, v, nrm, {bucket} AS bucket FROM norm),
    witnesses AS (
      SELECT b.{id_col} AS id_b, MIN(a.{id_col}) AS dup_of
      FROM sig a JOIN sig b
        ON a.bucket = b.bucket AND a.{id_col} < b.{id_col}
      WHERE a.nrm * b.nrm <> 0
        AND round({dot_ab} / (a.nrm * b.nrm), 6) >= {threshold}
      GROUP BY b.{id_col}
    )
    SELECT s.{id_col}, s.bucket,
           w.dup_of IS NULL AS keep, w.dup_of
    FROM sig s LEFT JOIN witnesses w ON s.{id_col} = w.id_b
    """


def mllib_minhash_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    num_hash_tables: int = 5,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs via Spark MLlib's MinHashLSH — the library
    counterpart of :func:`minhash_lsh_pairs` (shingle sets →
    CountVectorizer binary vectors → ``approxSimilarityJoin`` with
    Jaccard distance). Kept alongside the hand-rolled version because
    (a) it validates our implementation (recall cross-check in
    tests/test_ann_quality.py) and (b) ``approxSimilarityJoin``'s
    candidate generation is the same banding idea executed by MLlib's
    OR-amplified hash tables.

    No SQL oracle (MLlib hashing isn't SQL-expressible); correctness
    is asserted relative to the exact :func:`ngram_jaccard_pairs`.
    Output schema matches the other pair operators.
    """
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    sh = shingles(df, n=n, id_col=id_col, text_col=text_col)
    docs = sh.groupBy(id_col).agg(
        F.collect_list("shingle").alias("sh_list")
    )
    # CountVectorizer defaults to a 262144-term vocabulary: above that
    # the tail shingles are silently dropped (wrong Jaccard on
    # truncated vectors) and an all-out-of-vocab doc becomes a zero
    # vector, which MinHashLSH rejects. Size the vocabulary to the
    # actual distinct-shingle count (one extra count job).
    n_vocab = sh.select("shingle").distinct().count()
    cv = CountVectorizer(
        inputCol="sh_list",
        outputCol="features",
        binary=True,
        vocabSize=max(n_vocab, 1),
    ).fit(docs)
    vecs = cv.transform(docs).select(id_col, "features")
    lsh = MinHashLSH(
        inputCol="features",
        outputCol="hashes",
        numHashTables=num_hash_tables,
        seed=seed,
    ).fit(vecs)
    # approxSimilarityJoin keeps distance STRICTLY below the cutoff,
    # which would drop pairs at exactly J == threshold while every
    # sibling operator keeps jaccard >= threshold; widen the distance
    # cutoff slightly and apply the inclusive rounded-jaccard filter
    # ourselves (the repo-wide round-6-before-threshold contract)
    joined = lsh.approxSimilarityJoin(
        vecs, vecs, 1.0 - threshold + 1e-6, distCol="jaccard_dist"
    )
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round(1.0 - F.col("jaccard_dist"), 6).alias("jaccard"),
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("jaccard") >= threshold)
        )
    )
