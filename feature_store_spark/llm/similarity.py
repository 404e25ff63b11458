"""Similarity search over an embedding column (SURVEY.md §2.12).

One Spark kernel per operator; a second path stays only where a
test-backed contract needs it:

- :func:`cosine_topk` — exact brute-force top-k: the (small) query set
  is shipped to every corpus partition, each corpus batch is scored
  with one BLAS matmul in an Arrow kernel, and the final top-k per
  query is a per-batch top-k + one merge window. At 100 TB the corpus
  side stays partitioned — the scan is embarrassingly parallel.
  ``kernel="jvm"`` is its one second path: a lazy pure-JVM fold with
  defined NULL semantics, the exact baseline ANN recall is measured
  against.
- :func:`lsh_ann_topk` — approximate: random-hyperplane LSH (8-bit /
  256-bucket signature from md5-derived ±1 hyperplanes), candidates = same
  bucket, exact rerank inside the bucket. Recall trades off with
  bucket width; the hyperplanes are deterministic (seeded by md5), so
  the result is reproducible and oracle-checkable.
- :func:`knn_graph` — the corpus-wide LSH kNN graph, scored per bucket
  tile with one BLAS matmul in an Arrow kernel;
  :func:`knn_graph_multiprobe` adds OR-amplified recall as a pure-JVM
  plan, and at ``n_tables=1`` is the NULL-tolerant twin of
  :func:`knn_graph`.
- :func:`cosine_topk_int8` — exact top-k over int8 codes, one Arrow
  integer-matmul kernel.

The Arrow kernels require non-null vectors of one dimension and fail
loudly otherwise (:func:`_reshape_vectors`).

Ranking determinism: scores are rounded to 6 digits BEFORE ranking and
ties break on corpus id ascending — both engines pick the same top-k
set even under float noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feature_store_spark.session import local_frame

# 8 hyperplanes → 256 buckets: sized so a ~500-vector fixture still
# produces bucket collisions (recall demo); at corpus scale raise it
# (more planes = finer buckets = higher precision, lower recall) or
# use multi-probe / multiple tables.
N_PLANES = 8

# Default hot-bucket tile bound for knn_graph: raising
# N_PLANES shrinks the EXPECTED bucket, but a duplicate-dense corpus
# slice still collapses into one m² matmul task (measured: one
# 14k²-pair task owned the whole 200k race, SCALE.md §14.2). 4096
# bounds each task at a ~134 MB float64 cos matrix / ~2 GFLOP of
# dgemm (sub-second on one core) while keeping the tile fan-out (s =
# ⌈m/4096⌉, 2s−1 shuffle copies of hot rows only) negligible.
KNN_MAX_BUCKET_SIZE = 4096

# Density-aware PQ sizing (SCALE.md §14.2, VERDICT r9 item 2): on a
# dense-cluster corpus the true top-k are near-ties, and 8-dim
# subspace codebooks cannot rank them — measured min-recall COLLAPSE
# 0.80 → 0.20 between the ≤2k fixtures and the 200k×64 corpus with
# m=8, while 4-dim subspaces (m=16 at D=64, same 16-byte code budget
# at n_codes≤256) restore min 0.80 / mean 0.87–0.97. Corpus row count
# is the cheap measurable proxy for in-cluster candidate density
# (cluster structure fixed, more rows ⇒ denser near-tie sets); above
# this threshold the derived default narrows subspaces to 4 dims.
# The post-encode duplicate-codeword guard in pq_encode catches the
# residual case (small but ultra-dense corpus) with a loud warning.
PQ_DENSITY_ROWS = 50_000


def _derive_pq_m(n_rows: int, d: int) -> int:
    """Subspace count for ``pq_encode(m=None)``: target 8-dim
    subspaces below PQ_DENSITY_ROWS corpus rows, 4-dim above
    (measured recall bands in SCALE.md §14.2), falling back to the
    widest divisor of ``d`` at or under the target so ``d % m == 0``
    always holds."""
    target = 8 if n_rows <= PQ_DENSITY_ROWS else 4
    for dsub in range(target, 0, -1):
        if d % dsub == 0:
            return d // dsub
    return d


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(v):
    return F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _cosine(a_vec, b_vec, a_norm, b_norm):
    """Rounded cosine with a zero-norm guard: a zero-norm side yields
    NULL (ranking last under desc), matching the Arrow kernels.
    The CASE guard is required, not cosmetic — under ANSI mode
    (Spark 4 default) a bare x/0 RAISES DIVIDE_BY_ZERO."""
    denom = a_norm * b_norm
    return F.when(
        denom != 0, F.round(_dot(a_vec, b_vec) / denom, 6)
    )


def _rank_topk(scored, part_col: str, score_col: str, id_col: str, k: int):
    """The module's determinism contract in ONE place (it was restated
    at six call sites): rank candidates per ``part_col`` by rounded
    score DESC with ``id_col`` ASC as the tie-break — both engines
    pick the same top-k set even under float noise — and keep
    rank ≤ k."""
    w = Window.partitionBy(part_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    kernel: str = "auto",
) -> DataFrame:
    """Exact top-k nearest corpus vectors per query vector by cosine.

    ``queries`` must have (query_id_col, vec_col). The query side is
    small by contract; self-matches (same id) are excluded. Output:
    (query_id, vec_id, cosine, rank), rank 1..k.

    ``kernel="auto"`` (default) scores in numpy — the dense-embedding
    scale path. The queries are collected to the driver and ship to
    executors inside the kernel closure; each Arrow batch of corpus
    vectors (a zero-copy reshape of the list column's one contiguous
    buffer) is scored against the whole query matrix with ONE float64
    matmul (BLAS dgemm), and only each batch's exact top-k candidates
    cross Arrow back. The interpreted ``zip_with`` dot costs ~64 boxed
    multiplies per pair (higher-order lambdas are outside codegen);
    measured ~4× faster at sf≈1 (0.37 s vs DuckDB 0.25 s). Built-ins
    cannot express a batched matmul, hence the Arrow kernel.

    Precision contract: float64 BLAS accumulation approximates the
    true cosine to ~1e-14, five orders below the 6-digit rounding
    grain, so it rounds like the JVM's sequential fold everywhere
    except knife-edge rounding boundaries. Those are handled by a
    COMPENSATED PASS: any score within 1e-12 of a 6th-digit rounding
    boundary (≈2e-6 of all pairs) is recomputed in extended-precision
    longdouble, so both kernels give bit-identical output (pinned in
    tests/test_ann_quality.py). Zero-norm vectors get a NULL cosine and
    rank last (desc NULLS LAST), not first as a raw NaN would.
    Vectors must be non-null and of one dimension (see
    :func:`_reshape_vectors`).

    ``kernel="jvm"`` keeps the pure-JVM ``zip_with`` fold: no Python
    workers, a fully lazy plan, and defined NULL semantics (a NULL
    vector scores NULL) — the exact baseline the ANN variants are
    recall-checked against.
    """
    if kernel not in ("auto", "jvm"):
        raise ValueError(
            f"cosine_topk: unknown kernel {kernel!r} "
            "(expected 'auto' or 'jvm')"
        )
    q_rows = (
        queries.select(query_id_col, vec_col).collect()
        if kernel == "auto"
        else None
    )
    if not q_rows:
        # kernel="jvm", or no queries: nothing for the Arrow kernel to
        # score, and the lazy plan keeps the input id types
        c = corpus.select(
            F.col(id_col),
            F.col(vec_col).alias("__cv"),
            _norm(F.col(vec_col)).alias("__cn"),
        )
        q = queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qv"),
            _norm(F.col(vec_col)).alias("__qn"),
        )
        cos = _cosine(
            F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
        )
        scored = (
            c.crossJoin(F.broadcast(q))
            .filter(F.col(id_col) != F.col(query_id_col))
            .select(query_id_col, id_col, cos.alias("cosine"))
        )
        return _rank_topk(scored, query_id_col, "cosine", id_col, k)

    import numpy as _np

    q_ids = _np.array([r[0] for r in q_rows])
    # float64 input vectors convert to longdouble exactly, so the
    # compensated pass sees the same operands the BLAS pass did
    q_mat = _query_matrix(q_rows, _np.float64).astype(_np.longdouble)
    q_norm = _np.sqrt((q_mat * q_mat).sum(axis=1))
    q_mat64 = q_mat.astype(_np.float64)
    q_norm64 = q_norm.astype(_np.float64)

    # id types follow the INPUT schemas (the generic id_col API allows
    # e.g. string ids, which the jvm kernel preserves — a hardcoded
    # `long` here would die in Arrow conversion)
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    cid_t = corpus.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{query_id_col} {qid_t}, {id_col} {cid_t}, cosine double"
    )

    def _score(batches):
        # mapInArrow kernel: each RecordBatch's list column exposes its
        # elements as ONE contiguous float64 buffer, so the corpus
        # matrix is a zero-copy reshape — no per-row list→ndarray
        # boxing (which cost more than the matmul itself at sf≈1).
        import pyarrow as _pa

        for batch in batches:
            if len(batch) == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            emb = batch.column(1)
            flat_vals = _np.asarray(emb.flatten(), dtype=_np.float64)
            n_rows = len(batch)
            c64 = _reshape_vectors(
                flat_vals, n_rows, emb, expect_dim=q_mat64.shape[1]
            )
            c_norm64 = _np.sqrt((c64 * c64).sum(axis=1))
            with _np.errstate(divide="ignore", invalid="ignore"):
                # BLAS dgemm — the hot loop
                cos = (c64 @ q_mat64.T) / _np.outer(c_norm64, q_norm64)
                # compensated pass: scores within 1e-12 of a 6th-digit
                # HALF-point (x.5·1e-6 — where round-to-nearest can
                # flip; grid points are the STABLE spots) re-run in
                # longdouble (see docstring)
                near = _near_rounding_boundary(cos * 1e6)
            if near.any():
                ci, qi = _np.nonzero(near)
                cl = c64[ci].astype(_np.longdouble)
                dots = (cl * q_mat[qi]).sum(axis=1)
                c_nl = _np.sqrt((cl * cl).sum(axis=1))
                with _np.errstate(divide="ignore", invalid="ignore"):
                    cos[ci, qi] = (
                        dots / (c_nl * q_norm[qi])
                    ).astype(_np.float64)
            # Per-batch EXACT top-k under the same total order the
            # global window ranks with — (rounded cosine desc NULLS
            # LAST, id asc) — so only batches×Q×k candidate rows cross
            # Arrow instead of C×Q scores (the former bottleneck: the
            # matmul is microseconds, the all-pairs emission was the
            # cost). Selection by the global composite order is exact:
            # any global top-k row is within its batch's top-k under
            # the identical order. Rounding happens BEFORE selection —
            # selecting on unrounded scores could keep the wrong side
            # of an id tie the window breaks on rounded values.
            out_q, out_i, out_c = [], [], []
            for j in range(len(q_ids)):
                keep = ids != q_ids[j]  # self-match exclusion
                colk = _np.round(cos[keep, j], 6)
                idk = ids[keep]
                # zero-norm pairs: NULL like the exact op — they sort
                # LAST under desc, modeled as -inf for the selection
                filled = _np.where(_np.isnan(colk), -_np.inf, colk)
                order = _np.lexsort((idk, -filled))[:k]
                out_q.append(_np.full(len(order), q_ids[j]))
                out_i.append(idk[order])
                out_c.append(colk[order])
            flat = _np.concatenate(out_c) if out_c else _np.array([])
            # zero-norm pairs: NULL like the exact op, never NaN
            # (Spark sorts NaN ABOVE every real double; NULL sorts
            # last under desc)
            yield _pa.RecordBatch.from_arrays(
                [
                    _pa.array(
                        _np.concatenate(out_q) if out_q else _np.array([])
                    ),
                    _pa.array(
                        _np.concatenate(out_i)
                        if out_i
                        else _np.array([], dtype=ids.dtype)
                    ),
                    _pa.array(flat, mask=_np.isnan(flat)),
                ],
                names=[query_id_col, id_col, "cosine"],
            )

    scored = corpus.select(id_col, vec_col).mapInArrow(
        _score, schema=out_schema
    )
    return _rank_topk(scored, query_id_col, "cosine", id_col, k)


def cosine_topk_oracle_sql(
    table: str = "embeddings",
    n_queries: int = 5,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Oracle for the fixture wiring: queries = first ``n_queries``
    vectors of the corpus (vec_id < n_queries)."""
    return f"""
    WITH norm AS (
      SELECT {id_col},
             list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(
               list_transform({vec_col}, x -> CAST(x AS DOUBLE)),
               x -> x * x))) AS nrm
      FROM {table}
    ),
    q AS (SELECT {id_col} AS query_id, v AS qv, nrm AS qn
          FROM norm WHERE {id_col} < {n_queries}),
    scored AS (
      SELECT q.query_id, c.{id_col},
             round(list_sum(list_transform(range(1, len(c.v) + 1),
                   i -> q.qv[i] * c.v[i])) / (q.qn * c.nrm), 6) AS cosine
      FROM norm c CROSS JOIN q
      WHERE c.{id_col} <> q.query_id
    )
    SELECT query_id, {id_col}, cosine, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, {id_col} ASC) AS rank
      FROM scored
    ) t WHERE rank <= {k}
    """


# Hyperplane sign weights depend only on (plane, dim) — md5('p|d')
# is a PLAN-TIME constant, but expressed per-row (as it was through
# round 9) Spark evaluates it inside the array lambda: 8 planes × 64
# dims = 512 JCA md5 calls PER VECTOR, measured 66 s for a bare
# 200k-row signature projection (0.33 ms/row — the md5 chain, not
# the arithmetic). The signs are therefore precomputed here with
# hashlib (IDENTICAL definition, byte-for-byte the same hex) and
# folded in as a literal ±1 array; x * +1.0 / x * -1.0 are
# bit-exact IEEE equivalents of +x / -x, and the left-fold
# summation order is unchanged, so every bucket id is identical.
_HYPERPLANE_MAX_DIM = 1024


def _plane_signs(plane: int, dims: int = _HYPERPLANE_MAX_DIM) -> list[float]:
    import hashlib

    return [
        1.0
        if hashlib.md5(f"{plane}|{d}".encode()).hexdigest()[0] in "01234567"
        else -1.0
        for d in range(dims)
    ]


def hyperplane_sign(vec, plane: int):
    """Deterministic pseudo-random hyperplane side: weight of dim d in
    plane p is +1 when the first hex digit of md5('p|d') is 0-7, else
    -1; the bit is 1 when the weighted sum is >= 0. Cross-engine
    because md5 is. Signs come from a precomputed literal array
    (see :func:`_plane_signs`); vectors wider than
    ``_HYPERPLANE_MAX_DIM`` fall back to the per-row md5 formulation
    (same values, the pre-round-10 shape) via a lazy CASE branch."""
    signs = F.lit(_plane_signs(plane))
    fast = F.aggregate(
        F.zip_with(
            vec,
            F.slice(signs, 1, F.size(vec)),
            lambda x, s: x.cast("double") * s,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    slow_weighted = F.transform(
        vec,
        lambda x, i: F.when(
            F.substring(
                F.md5(F.concat(F.lit(f"{plane}|"), i.cast("string"))), 1, 1
            ).isin(*"01234567"),
            x.cast("double"),
        ).otherwise(-x.cast("double")),
    )
    slow = F.aggregate(slow_weighted, F.lit(0.0), lambda acc, x: acc + x)
    s = F.when(F.size(vec) <= _HYPERPLANE_MAX_DIM, fast).otherwise(slow)
    return F.when(s >= 0, 1).otherwise(0)


def lsh_bucket(vec, planes: int = N_PLANES, start: int = 0):
    """``planes``-bit random-hyperplane signature packed into an int
    (8 planes -> 256 buckets). ``planes`` is the bucket-size dial:
    each extra plane halves the expected bucket population, so at
    corpus scale raise it to keep in-bucket work batch-sized.
    ``start`` offsets the plane indices — table t of a multi-probe
    scheme uses planes [t*planes, (t+1)*planes), so every table's
    hyperplanes are independent md5 draws (start=0 reproduces the
    single-table bucket exactly)."""
    out = None
    for p in range(planes):
        term = hyperplane_sign(vec, start + p) * (2**p)
        out = term if out is None else out + term
    return out


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's LSH bucket
    are scored (equi-join on bucket → no cross product), then exact
    cosine rerank within the bucket. May return < k rows per query —
    the standard ANN recall trade."""
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__cv"),
        _norm(F.col(vec_col)).alias("__cn"),
        lsh_bucket(F.col(vec_col)).alias("bucket"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
        lsh_bucket(F.col(vec_col)).alias("bucket"),
    )
    cos = _cosine(
        F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, cos.alias("cosine"))
    )
    return _rank_topk(scored, query_id_col, "cosine", id_col, k)


def _bucket_sql(
    vec_expr: str, planes: int = N_PLANES, start: int = 0
) -> str:
    terms = []
    for p in range(planes):
        w = (
            f"list_sum(list_transform(range(1, len({vec_expr}) + 1), "
            f"i -> CASE WHEN substr(md5('{start + p}|' || CAST(i - 1 AS VARCHAR)), 1, 1) "
            f"IN ('0','1','2','3','4','5','6','7') "
            f"THEN {vec_expr}[i] ELSE -{vec_expr}[i] END))"
        )
        terms.append(f"(CASE WHEN {w} >= 0 THEN 1 ELSE 0 END) * {2**p}")
    return " + ".join(terms)


def lsh_ann_oracle_sql(
    table: str = "embeddings",
    n_queries: int = 5,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    bucket = _bucket_sql("v")
    return f"""
    WITH norm AS (
      SELECT {id_col},
             list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(
               list_transform({vec_col}, x -> CAST(x AS DOUBLE)),
               x -> x * x))) AS nrm
      FROM {table}
    ),
    sig AS (
      SELECT {id_col}, v, nrm, {bucket} AS bucket FROM norm
    ),
    q AS (SELECT {id_col} AS query_id, v AS qv, nrm AS qn, bucket
          FROM sig WHERE {id_col} < {n_queries}),
    scored AS (
      SELECT q.query_id, c.{id_col},
             round(list_sum(list_transform(range(1, len(c.v) + 1),
                   i -> q.qv[i] * c.v[i])) / (q.qn * c.nrm), 6) AS cosine
      FROM sig c JOIN q ON c.bucket = q.bucket
      WHERE c.{id_col} <> q.query_id
    )
    SELECT query_id, {id_col}, cosine, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, {id_col} ASC) AS rank
      FROM scored
    ) t WHERE rank <= {k}
    """


def _near_rounding_boundary(scaled):
    """True where a 1e6-scaled score sits within 1e-6 of a HALF-point
    (x.5), i.e. where round-to-nearest could flip between the float64
    BLAS value and the longdouble/JVM reference. Grid points (x.0)
    are the STABLE spots — flagging those instead (the round-4 bug
    this helper pins) recomputes only harmless scores and misses
    every actual knife-edge. NaN → False (zero-norm pairs are
    NULL-handled separately)."""
    import numpy as _np

    with _np.errstate(invalid="ignore"):
        return (0.5 - _np.abs(scaled - _np.rint(scaled))) < 1e-6


def _reshape_vectors(flat, n_rows, arrow_col, expect_dim=None):
    """Rectangular (n_rows × dim) view of a flattened Arrow list
    column. ``flatten()`` silently DROPS null/empty lists, so a ragged
    input would reshape into garbage rows scored against the wrong
    ids — fail loudly instead (the Arrow kernels' vector contract:
    non-null, fixed dimension; nullable inputs go through
    ``cosine_topk(kernel="jvm")`` or ``knn_graph_multiprobe(n_tables=1)``,
    whose NULL → NULL-cosine semantics are defined).
    ``expect_dim`` additionally pins the dimension to the query side's
    — a one-row batch is internally consistent at ANY length, so
    cross-batch raggedness is only catchable against that anchor."""
    if n_rows == 0:
        return flat.reshape(0, 0)
    ragged = False
    lengths = getattr(arrow_col, "value_lengths", None)
    if lengths is not None:
        # variable-size list: every row must have the same length —
        # a ragged input whose TOTAL happens to divide n_rows would
        # otherwise reshape into silently-wrong rows
        ln = lengths().to_numpy(zero_copy_only=False)
        ragged = len(ln) > 0 and (ln.min() != ln.max())
    dim = len(flat) // n_rows
    if (
        arrow_col.null_count
        or ragged
        or len(flat) % n_rows
        or (expect_dim is not None and dim != expect_dim)
    ):
        raise ValueError(
            "Arrow kernel requires non-null fixed-dimension "
            f"vectors: {n_rows} rows flattened to {len(flat)} values "
            f"({arrow_col.null_count} null rows"
            f"{', ragged lengths' if ragged else ''}"
            + (
                f", dimension {dim} != query dimension {expect_dim}"
                if expect_dim is not None and dim != expect_dim
                else ""
            )
            + "); for nullable/ragged embeddings use "
            "cosine_topk(kernel='jvm') or knn_graph_multiprobe(n_tables=1)"
        )
    return flat.reshape(n_rows, dim)


def _query_matrix(q_rows, dtype):
    """The collected (id, vector) query rows' vectors as an (n × dim)
    ``dtype`` matrix, held to the same contract as every corpus batch
    (:func:`_reshape_vectors`)."""
    import numpy as _np
    import pyarrow as _pa

    col = _pa.array(
        [r[1] for r in q_rows], type=_pa.list_(_pa.from_numpy_dtype(dtype))
    )
    flat = _np.asarray(col.flatten(), dtype=dtype)
    return _reshape_vectors(flat, len(q_rows), col)


def _tiled_tasks(
    sig: DataFrame,
    bucket_cols: list[str],
    member_cols: list[str],
    id_col: str,
    max_bucket_size: int,
) -> DataFrame:
    """The bounded pairing's task frame: each LSH bucket of m members
    is tiled into s = ceil(m / max_bucket_size) hash-assigned
    sub-groups, and every (i, j) tile pair becomes ONE aggregation
    task carrying side-a members (tile i) and side-b members (tile j).
    Every ordered in-bucket pair lands in exactly one task, so pairing
    over these tasks is EXACT — no recall loss — while the largest
    task processes ~max_bucket_size² pairs instead of m² (tile
    membership is xxhash64-uniform, so side lists concentrate tightly
    around m/s ≤ max_bucket_size).

    Costs vs the unbounded single-task shape (pay only when bounding):
    one extra narrow counts pass over the signature subtree joined
    back on the bucket key (no broadcast hint — the counts frame is
    KEY-CARDINALITY-sized, one row per bucket, which at web scale is
    far too big to ship to every executor; the equi-join shuffles on
    the same bucket key the pairing aggregate needs anyway, and the
    planner may still broadcast a genuinely small counts frame on its
    own), and each row shuffles 2s−1 copies instead of 1. Exposed as
    its own function so the hot-bucket test can assert the per-task
    bound directly."""
    sizes = sig.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("__m"))
    sized = sig.join(sizes, list(bucket_cols)).withColumn(
        "__s",
        F.ceil(F.col("__m") / F.lit(max_bucket_size)).cast("int"),
    )
    payload = F.struct(*member_cols)
    own = F.pmod(F.xxhash64(F.col(id_col)), F.col("__s")).cast("int")
    tiles = F.sequence(F.lit(0), F.col("__s") - F.lit(1))
    a = sized.select(
        *bucket_cols,
        payload.alias("__p"),
        own.alias("__ti"),
        F.explode(tiles).alias("__tj"),
        F.lit(1).alias("__sd"),
    )
    b = sized.select(
        *bucket_cols,
        payload.alias("__p"),
        F.explode(tiles).alias("__ti"),
        own.alias("__tj"),
        F.lit(0).alias("__sd"),
    )
    # collect_list skips NULLs, so the two conditional collects split
    # the union back into per-side member lists in one aggregate
    return (
        a.unionByName(b)
        .groupBy(*bucket_cols, "__ti", "__tj")
        .agg(
            F.collect_list(
                F.when(F.col("__sd") == 1, F.col("__p"))
            ).alias("__am"),
            F.collect_list(
                F.when(F.col("__sd") == 0, F.col("__p"))
            ).alias("__bm"),
        )
    )


def bucket_pairs(
    sig: DataFrame,
    bucket_cols: list[str],
    member_cols: list[str],
    id_col: str,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """ALL ordered in-bucket pairs (a, b) — self-pairs included, the
    caller applies its own (!=, <=, <) pair filter. Output columns:
    ``*bucket_cols, a, b`` where a/b are structs of ``member_cols``.

    Bucket columns must be NON-NULL (true of every in-repo caller —
    all are hash-derived): the tiled path's size join is an equi-join,
    which would silently drop a NULL bucket that the unbounded
    groupBy shape keeps as its own group.

    ``max_bucket_size=None`` (default) is the single-aggregation shape
    (collect_list + double explode, one shuffle, one signature scan).
    Setting it bounds the quadratic hot-bucket task by exact tiling
    (see :func:`_tiled_tasks`) — the 100 TB guard against one
    duplicate-dense bucket (a crawl slice of near-identical pages)
    becoming a single m² task. Identical output either way — pinned in
    tests/test_hot_bucket.py."""
    if max_bucket_size is None:
        mem = F.struct(*member_cols)
        return (
            sig.groupBy(*bucket_cols)
            .agg(F.collect_list(mem).alias("mem"))
            .select(*bucket_cols, F.explode("mem").alias("a"), "mem")
            .select(*bucket_cols, "a", F.explode("mem").alias("b"))
        )
    if max_bucket_size < 1:
        raise ValueError("max_bucket_size must be >= 1")
    tasks = _tiled_tasks(
        sig, bucket_cols, member_cols, id_col, max_bucket_size
    )
    return tasks.select(
        *bucket_cols, F.explode("__am").alias("a"), "__bm"
    ).select(*bucket_cols, "a", F.explode("__bm").alias("b"))


def _arrow_lsh_bucket_batches(
    vec_col: str,
    planes: int = N_PLANES,
    start: int = 0,
    only_bucket: bool = False,
):
    """mapInArrow body computing :func:`lsh_bucket` per batch with
    numpy — appends an int32 ``__bucket`` column to every batch. The
    per-plane weighted sum is an EXPLICIT dimension-ascending
    accumulation (``acc += v[:, d] * sign``), the same IEEE-double
    left fold the JVM ``aggregate`` lambda performs, so knife-edge
    sums land on the same side and every bucket id is bit-identical
    to :func:`lsh_bucket` (pinned through ``knn_graph ==
    knn_graph_multiprobe(n_tables=1)``, whose buckets are the
    expression's, in tests/test_hot_bucket.py on planted near-zero
    folds). Spark
    treats NaN as larger than any double, so a NaN sum takes bit 1,
    matching ``s >= 0`` JVM semantics. The JVM expression path costs
    ~0.27 ms/row in interpreted higher-order lambdas (54 s for a
    200k-row signature projection — measured round 10); this kernel
    is ~100× cheaper and the Arrow boundary it pays is one the
    :func:`knn_graph` kernel crosses anyway."""
    import numpy as _np

    signs = _np.array(
        [_plane_signs(start + p) for p in range(planes)],
        dtype=_np.float64,
    )

    def fn(batches):
        import pyarrow as _pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue  # mapInArrow output cardinality is free
            tbl = _pa.table(batch)
            col = tbl.column(vec_col).combine_chunks()
            flat = _np.asarray(col.flatten(), dtype=_np.float64)
            v = _reshape_vectors(flat, n, col)
            dim = v.shape[1]
            acc = _np.zeros((planes, n), dtype=_np.float64)
            for d in range(dim):
                acc += signs[:, d, None] * v[None, :, d]
            bits = (acc >= 0) | _np.isnan(acc)
            bucket = _np.zeros(n, dtype=_np.int32)
            for p in range(planes):
                bucket |= bits[p].astype(_np.int32) << p
            bucket_arr = _pa.array(bucket, type=_pa.int32())
            out = (
                _pa.table({"__bucket": bucket_arr})
                if only_bucket
                else tbl.append_column("__bucket", bucket_arr)
            ).combine_chunks()
            for ob in out.to_batches():
                yield ob

    return fn


def knn_graph(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = KNN_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Corpus-wide approximate k-nearest-neighbor graph: for EVERY
    vector, its top-k cosine neighbors among vectors sharing its LSH
    bucket — the candidate structure behind embedding-space near-dup
    clustering, diversity sampling, and semantic dedup at corpus
    scale; the corpus-to-corpus sibling of :func:`lsh_ann_topk`'s
    query-to-corpus probe. Output: (id, neighbor_id, cosine, rank),
    both ids of the input id type. Work is in-bucket-quadratic: with b
    buckets and n vectors, ~n²/b pairs. 8 planes suit the fixture; at
    corpus scale raise N_PLANES and union hyperplane tables for recall
    (:func:`knn_graph_multiprobe`). Vectors alone in their bucket emit
    no rows — the standard ANN recall trade.

    Plan: the LSH bucket comes from a numpy ``mapInArrow`` pass
    (:func:`_arrow_lsh_bucket_batches`, bit-identical to
    :func:`lsh_bucket`), then each bucket tile is scored with one BLAS
    float64 matmul per task (``applyInArrow`` — the tile's vectors
    arrive as ONE contiguous Arrow buffer, zero-copy reshape), with the
    same compensated-longdouble boundary pass as :func:`cosine_topk`
    (so the exact op's oracle applies unchanged), and the per-row
    top-k as a vectorized stable argsort. Zero-norm vectors rank last
    with NULL cosine (x/0 → NULL under desc NULLS LAST) — a raw NaN
    would sort first in Spark. Measured at 200k×64: 66 s, where the
    pure-JVM pairing with an interpreted per-pair cosine ran >600 s
    (SCALE.md §14.2).

    ``max_bucket_size`` (default :data:`KNN_MAX_BUCKET_SIZE`) bounds
    the hot-bucket straggler: a duplicate-dense corpus slice collapses
    into one m² matmul task otherwise (measured at 200k×64: one
    14k²-pair task owned the whole wall time). Buckets over the bound
    are split into s = ⌈m/max⌉ hash-assigned tiles and every (i, j)
    tile pair becomes one RECTANGULAR matmul task of ≲max² pairs;
    per-task top-k candidates are merged by a global (cosine desc
    NULLS LAST, id asc) rank — exact, no recall loss (pinned in
    tests/test_hot_bucket.py). Sizing is HOT-ONLY: per-bucket counts
    over the bound are broadcast (≤ n/max rows by construction), so
    rows of ordinary buckets shuffle exactly once with ti=tj=0 and
    only hot rows fan out into 2s−1 copies. The cost is one narrow
    counts pass over the vector column plus the small merge window
    (n·k·s candidate rows). The bound also caps kernel memory: the cos
    matrix is max² float64 (134 MB at 4096) instead of m²."""
    if max_bucket_size is None or max_bucket_size < 1:
        raise ValueError("max_bucket_size must be >= 1")
    import numpy as _np
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    id_t = df.schema[id_col].dataType
    cand_schema = StructType(
        [
            StructField(id_col, id_t),
            StructField("neighbor_id", id_t),
            StructField("cosine", DoubleType()),
        ]
    )

    def _rounded_cos(va, vb):
        """The (|a| × |b|) cosine matrix as one dgemm, knife-edge
        scores recomputed in longdouble, rounded to 6 digits."""
        an = _np.sqrt((va * va).sum(axis=1))
        bn = _np.sqrt((vb * vb).sum(axis=1))
        with _np.errstate(divide="ignore", invalid="ignore"):
            cos = (va @ vb.T) / _np.outer(an, bn)
            near = _near_rounding_boundary(cos * 1e6)
        if near.any():
            ai, bi = _np.nonzero(near)
            al = va[ai].astype(_np.longdouble)
            bl = vb[bi].astype(_np.longdouble)
            dots = (al * bl).sum(axis=1)
            anl = _np.sqrt((al * al).sum(axis=1))
            bnl = _np.sqrt((bl * bl).sum(axis=1))
            with _np.errstate(divide="ignore", invalid="ignore"):
                cos[ai, bi] = (dots / (anl * bnl)).astype(_np.float64)
        return _np.round(cos, 6)

    def _square_topk(ids, v, m):
        """Self-excluding in-tile top-k arrays of a diagonal task.
        Returns (src_ids, neighbor_ids, cosines)."""
        cos = _rounded_cos(v, v)
        # self-pairs compete as NaN (sorted last) and are dropped by
        # the cumulative-keep mask below — NOT merely sliced off, so
        # a bucket of exact ties never lets 'self' steal a slot
        _np.fill_diagonal(cos, _np.nan)
        perm = _np.argsort(ids, kind="stable")
        inv = _np.empty(m, dtype=_np.int64)
        inv[perm] = _np.arange(m)
        cosp = cos[:, perm]
        idp = ids[perm]
        kk = min(k, m - 1)
        w = min(kk + 1, m)
        # stable ascending argsort of -cos over id-permuted columns =
        # (cosine desc NULLS LAST, id asc) — the window's exact order
        order = _np.argsort(-cosp, axis=1, kind="stable")[:, :w]
        keep = order != inv[:, None]  # drop the self column per row
        sel = keep & (_np.cumsum(keep, axis=1) <= kk)
        ri, ci = _np.nonzero(sel)  # row-major: rank order preserved
        return ids[ri], idp[order[ri, ci]], cosp[ri, order[ri, ci]]

    def _tile_topk(table):
        import pyarrow as _pa

        arrow_id_t = table.schema.field(id_col).type

        def _out(src, nbr, vals):
            return _pa.table(
                {
                    id_col: _pa.array(src, type=arrow_id_t),
                    "neighbor_id": _pa.array(nbr, type=arrow_id_t),
                    "cosine": _pa.array(
                        vals, type=_pa.float64(), mask=_np.isnan(vals)
                    ),
                }
            )

        empty = _out([], [], _np.array([], dtype=_np.float64))
        if table.num_rows == 0:
            return empty
        # diagonal task (ti == tj): only side-a rows are emitted and
        # the tile is scored against itself with self-exclusion
        if (
            table.column("__ti")[0].as_py()
            == table.column("__tj")[0].as_py()
        ):
            ids = table.column(id_col).to_numpy(zero_copy_only=False)
            m = len(ids)
            if m < 2:
                return empty
            col = table.column(vec_col).combine_chunks()
            flat = _np.asarray(col.flatten(), dtype=_np.float64)
            v = _reshape_vectors(flat, m, col)
            return _out(*_square_topk(ids, v, m))
        # off-diagonal: queries = tile ti (side 1), candidates =
        # tile tj (side 0); disjoint hash tiles → no self-pairs
        sd = table.column("__sd").to_numpy(zero_copy_only=False)
        amask = sd == 1
        a_tab = table.filter(_pa.array(amask))
        b_tab = table.filter(_pa.array(~amask))
        a_ids = a_tab.column(id_col).to_numpy(zero_copy_only=False)
        b_ids = b_tab.column(id_col).to_numpy(zero_copy_only=False)
        n_a, n_b = len(a_ids), len(b_ids)
        if n_a == 0 or n_b == 0:
            return empty
        acol = a_tab.column(vec_col).combine_chunks()
        va = _reshape_vectors(
            _np.asarray(acol.flatten(), dtype=_np.float64), n_a, acol
        )
        bcol = b_tab.column(vec_col).combine_chunks()
        vb = _reshape_vectors(
            _np.asarray(bcol.flatten(), dtype=_np.float64),
            n_b,
            bcol,
            expect_dim=va.shape[1],
        )
        cos = _rounded_cos(va, vb)
        perm = _np.argsort(b_ids, kind="stable")
        cosp = cos[:, perm]
        idp = b_ids[perm]
        w = min(k, n_b)
        order = _np.argsort(-cosp, axis=1, kind="stable")[:, :w]
        ri = _np.repeat(_np.arange(n_a), w)
        ci = order.ravel()
        return _out(a_ids[ri], idp[ci], cosp[ri, ci])

    # the LSH bucket is computed in a mapInArrow pre-pass, not the
    # JVM expression: the interpreted higher-order fold costs
    # ~0.27 ms/row (54 s for a bare 200k signature projection) while
    # the numpy kernel — bit-identical fold order — is ~100× cheaper,
    # and this path crosses the Arrow boundary for scoring anyway
    base = df.select(F.col(id_col), F.col(vec_col))
    sig = base.mapInArrow(
        _arrow_lsh_bucket_batches(vec_col),
        StructType(
            list(base.schema.fields)
            + [StructField("__bucket", IntegerType())]
        ),
    )
    # hot-only sizing: only buckets OVER the bound are broadcast
    # (≤ n/max_bucket_size rows by construction); ordinary buckets
    # resolve to s=1 through the left join's NULL → 1. The counts
    # pass re-reads ONLY the vector column and ships the bucket ids
    # alone back across Arrow (only_bucket) — the narrow second scan
    # the tiling pays for its bound.
    hot = (
        df.select(F.col(vec_col))
        .mapInArrow(
            _arrow_lsh_bucket_batches(vec_col, only_bucket=True),
            StructType([StructField("__bucket", IntegerType())]),
        )
        .groupBy("__bucket")
        .agg(F.count(F.lit(1)).alias("__m"))
        .filter(F.col("__m") > max_bucket_size)
        .select(
            "__bucket",
            F.ceil(F.col("__m") / F.lit(max_bucket_size))
            .cast("int")
            .alias("__s"),
        )
    )
    sized = sig.join(F.broadcast(hot), "__bucket", "left").withColumn(
        "__s", F.coalesce(F.col("__s"), F.lit(1))
    )
    own = F.pmod(F.xxhash64(F.col(id_col)), F.col("__s")).cast("int")
    tiles = F.sequence(F.lit(0), F.col("__s") - F.lit(1))
    # one explode over a per-row task list: side a (queries) goes to
    # every (own, tj) tile pair, side b (candidates) to every
    # (ti, own) with ti ≠ own — 2s−1 copies for hot rows, exactly 1
    # (the diagonal (0, 0) task) for everyone else
    tasks = F.concat(
        F.transform(
            tiles,
            lambda t: F.struct(
                own.alias("ti"),
                t.cast("int").alias("tj"),
                F.lit(1).alias("sd"),
            ),
        ),
        F.transform(
            F.filter(tiles, lambda t: t != own),
            lambda t: F.struct(
                t.cast("int").alias("ti"),
                own.alias("tj"),
                F.lit(0).alias("sd"),
            ),
        ),
    )
    exploded = sized.select(
        "__bucket",
        F.col(id_col),
        F.col(vec_col),
        F.explode(tasks).alias("__t"),
    ).select(
        "__bucket",
        id_col,
        vec_col,
        F.col("__t.ti").alias("__ti"),
        F.col("__t.tj").alias("__tj"),
        F.col("__t.sd").alias("__sd"),
    )
    cand = exploded.groupBy("__bucket", "__ti", "__tj").applyInArrow(
        _tile_topk, schema=cand_schema
    )
    return _rank_topk(cand, id_col, "cosine", "neighbor_id", k).withColumn(
        "rank", F.col("rank").cast("int")
    )


def knn_graph_oracle_sql(
    table: str = "embeddings",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    bucket = _bucket_sql("v")
    return f"""
    WITH norm AS (
      SELECT {id_col},
             list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(
               list_transform({vec_col}, x -> CAST(x AS DOUBLE)),
               x -> x * x))) AS nrm
      FROM {table}
    ),
    sig AS (
      SELECT {id_col}, v, nrm, {bucket} AS bucket FROM norm
    ),
    scored AS (
      SELECT a.{id_col}, b.{id_col} AS neighbor_id,
             round(list_sum(list_transform(range(1, len(a.v) + 1),
                   i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS cosine
      FROM sig a JOIN sig b
        ON a.bucket = b.bucket AND a.{id_col} <> b.{id_col}
    )
    SELECT {id_col}, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY {id_col}
                 ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    ) t WHERE rank <= {k}
    """


def knn_graph_multiprobe(
    df: DataFrame,
    k: int = 5,
    n_tables: int = 2,
    planes: int = N_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`knn_graph` with OR-amplified recall: ``n_tables``
    independent hyperplane tables (table t uses md5 planes
    [t*planes, (t+1)*planes)), a pair is a candidate if it collides in
    ANY table — the standard LSH recall amplification (Indyk & Motwani
    1998; the same OR-construction MLlib's MinHashLSH hash tables
    use). ``n_tables=1`` is exactly :func:`knn_graph`.

    Unlike :func:`knn_graph` this is a pure-JVM plan (``lsh_bucket``
    expressions, collect_list + double explode pairing, ``zip_with``
    cosine), so it keeps defined NULL semantics: a NULL vector lands in
    bucket 0 and scores NULL against any bucket mate, where the Arrow
    kernel raises. ``n_tables=1`` is therefore the NULL-tolerant form
    of :func:`knn_graph`; ``test_knn_multiprobe_amplifies_recall``
    pins the two equal bit-for-bit, so a semantics change to either
    body trips that test rather than drifting silently. The interpreted per-pair cosine
    makes it a fixture-scale path (>600 s at 200k×64, SCALE.md §14.2).

    Plan: ONE signature pass computes all tables' buckets as an array,
    exploded to (table, bucket) postings — n_tables·n narrow rows, the
    vectors never duplicated into the postings... except per colliding
    bucket via the same collect_list pairing as the single-table op.
    A pair colliding in several tables is scored per collision and
    deduplicated by a (id, neighbor) max-aggregate BEFORE the top-k
    window (cosine is deterministic per pair, so max == the value);
    work stays candidate-proportional — ~n_tables times the
    single-table candidate count, which is the recall dial's price.

    Scale: same in-bucket-quadratic bound per table; raise ``planes``
    with corpus size (bucket size), raise ``n_tables`` for recall
    (candidate multiplicity). Both knobs are independent.
    """
    if n_tables < 1:
        raise ValueError("n_tables must be >= 1")
    sig = df.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__n"),
        F.array(
            *[
                lsh_bucket(F.col(vec_col), planes, start=t * planes)
                for t in range(n_tables)
            ]
        ).alias("__buckets"),
    )
    posted = sig.select(
        id_col,
        "__v",
        "__n",
        F.posexplode("__buckets").alias("__table", "__bucket"),
    )
    pairs = (
        posted.groupBy("__table", "__bucket")
        .agg(F.collect_list(F.struct(id_col, "__v", "__n")).alias("mem"))
        .select(F.explode("mem").alias("a"), "mem")
        .select("a", F.explode("mem").alias("b"))
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
    )
    cos = _cosine(
        F.col("a.__v"), F.col("b.__v"), F.col("a.__n"), F.col("b.__n")
    )
    scored = (
        pairs.select(
            F.col(f"a.{id_col}").alias(id_col),
            F.col(f"b.{id_col}").alias("neighbor_id"),
            cos.alias("cosine"),
        )
        .groupBy(id_col, "neighbor_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    return _rank_topk(scored, id_col, "cosine", "neighbor_id", k).withColumn(
        "rank", F.col("rank").cast("int")
    )


def knn_graph_multiprobe_oracle_sql(
    table: str = "embeddings",
    k: int = 5,
    n_tables: int = 2,
    planes: int = N_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin: same per-table md5 buckets, candidate = collision
    in ANY table (UNION of per-table joins deduped per pair), same
    rounded cosine and round-before-rank top-k."""
    posting_selects = " UNION ALL ".join(
        f"SELECT {id_col}, v, nrm, {t} AS tbl, "
        f"{_bucket_sql('v', planes, start=t * planes)} AS bucket FROM norm"
        for t in range(n_tables)
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
    postings AS ({posting_selects}),
    scored AS (
      SELECT DISTINCT a.{id_col}, b.{id_col} AS neighbor_id,
             round(list_sum(list_transform(range(1, len(a.v) + 1),
                   i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS cosine
      FROM postings a JOIN postings b
        ON a.tbl = b.tbl AND a.bucket = b.bucket
       AND a.{id_col} <> b.{id_col}
    )
    SELECT {id_col}, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY {id_col}
                 ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    ) t WHERE rank <= {k}
    """


def ivf_encode(
    corpus: DataFrame,
    n_centroids: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """The one-off IVF ingest job: train seeded MLlib KMeans and
    return ``(assignments, centroids)`` — assignments is
    (id, vec, cell), the frame a deployment writes CELL-PARTITIONED
    to storage (a query then scans n_probe/n_centroids of the data
    via partition pruning); centroids is the tiny driver-side
    (cell, vector) list a query batch broadcasts. Feed both back via
    ``ivf_ann_topk(index=...)`` — the deployed shape, same contract
    as ``pq_ann_topk``'s / ``cosine_topk_int8``'s prebuilt index."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        array_to_vector(F.col(vec_col)).alias("features"),
    )
    model = KMeans(
        k=n_centroids, seed=seed, featuresCol="features"
    ).fit(train)
    assigned = model.transform(train).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("prediction").alias("cell"),
    )
    cents = [
        (i, [float(x) for x in c])
        for i, c in enumerate(model.clusterCenters())
    ]
    return assigned, cents


def ivf_append(
    batch: DataFrame,
    centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental IVF index maintenance — assign a NEW batch of
    vectors to an EXISTING index's cells without retraining: the
    continuous-ingest twin of :func:`ivf_encode` (the same role
    ``lsh_postings_append`` plays for the LSH dedup index). Cost is
    O(|batch| × n_centroids) with the tiny centroid table broadcast —
    never O(corpus) — so a streaming ``foreachBatch`` can keep the
    cell-partitioned corpus current: append each micro-batch's
    assignments to the stored index (cell is the partition key), and
    queries probe the same n_probe cells over old + new rows alike.

    Assignment is nearest centroid by squared L2 — exactly MLlib
    KMeans ``transform`` (ties break on the lower cell id, measure-
    zero for float data), so a stream-built index equals the one-shot
    ``ivf_encode`` assignment row-for-row — including batches that
    carry DUPLICATE ids: every physical row gets its own assignment,
    exactly like ``model.transform`` (pinned in
    tests/test_ann_quality.py). Centroids drift as the corpus grows;
    the deployment contract is the standard IVF one — retrain
    periodically (a fresh ``ivf_encode``), append between retrains.

    Returns (id, vec, cell) in ``ivf_encode``'s assignment schema;
    feed the accumulated union back via ``ivf_ann_topk(index=...)``.
    """
    cents = local_frame(
        batch.sparkSession, centroids, "cell int, centroid array<double>"
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col("centroid"),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # argmin per PHYSICAL row, not per id value: a batch carrying two
    # rows with the same vec_id must yield two assignments (exactly
    # what ivf_encode's model.transform does), so key the reduction by
    # a per-row surrogate taken BEFORE the centroid fan-out. min_by
    # over (d2, cell) is map-combinable — one partial-agg exchange of
    # |batch| rows, no sort, vs a window's full fan-out sort.
    keyed = batch.select(id_col, vec_col).withColumn(
        "__rk", F.monotonically_increasing_id()
    )
    return (
        keyed.crossJoin(F.broadcast(cents))
        .withColumn("__d2", d2)
        .groupBy("__rk")
        .agg(
            F.min_by(
                F.struct(F.col(id_col), F.col(vec_col), F.col("cell")),
                F.struct(F.col("__d2"), F.col("cell")),
            ).alias("__a")
        )
        .select("__a.*")
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    index: tuple[DataFrame, list] | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus into Voronoi
    cells with MLlib KMeans, then search only the ``n_probe`` cells
    nearest each query — the standard billion-vector scale path
    (train on a sample, assign once at ingest, probe a few cells at
    query time).

    The cell assignment is a one-off batch job whose output would be
    the partition key of the stored corpus at scale (cell-partitioned
    parquet → a query touches n_probe/n_centroids of the data);
    pass it prebuilt via ``index=(assignments, centroids)`` from
    :func:`ivf_encode` to skip training — the deployed shape.
    Rerank inside the probed cells is exact rounded cosine with the
    same determinism contract as :func:`cosine_topk`. KMeans is
    seeded, so results are reproducible; no SQL oracle exists for the
    trainer, so this op is covered by recall tests against
    :func:`cosine_topk` instead (tests/test_ann_quality.py).
    """
    raw_assigned, cent_rows = (
        index
        if index is not None
        else ivf_encode(
            corpus, n_centroids, seed, id_col=id_col, vec_col=vec_col
        )
    )
    assigned = raw_assigned.select(
        F.col(id_col),
        F.col(vec_col).alias("__arr"),
        _norm(F.col(vec_col)).alias("__cn"),
        F.col("cell"),
    )

    # n_probe nearest centroids per query, via a broadcast centroid table.
    cents = local_frame(
        corpus.sparkSession, cent_rows, "cell int, centroid array<double>"
    )
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qv"))
    d2 = F.aggregate(
        F.zip_with(
            F.col("__qv"),
            F.col("centroid"),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w_probe = Window.partitionBy(query_id_col).orderBy(
        F.col("__d2").asc(), F.col("cell").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("__d2", d2)
        .withColumn("__pr", F.row_number().over(w_probe))
        .filter(F.col("__pr") <= n_probe)
        .select(
            query_id_col, "__qv", _norm(F.col("__qv")).alias("__qn"), "cell"
        )
    )

    # the guarded _cosine, not a bare division (zero-norm → NULL,
    # rank-last — a bare x/0 RAISES under ANSI mode), with both norms
    # precomputed in the projections above rather than re-folded per
    # scored pair (the cosine_topk/lsh_ann_topk pattern)
    cos = _cosine(
        F.col("__qv"), F.col("__arr"), F.col("__qn"), F.col("__cn")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, cos.alias("cosine"))
    )
    return _rank_topk(scored, query_id_col, "cosine", id_col, k)


# ---------------------------------------------------------------------------
# Per-label centroids (class prototypes / IVF seeding)
# ---------------------------------------------------------------------------

CENTROID_SCALE = 1_000_000


def label_centroids(df: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding") -> DataFrame:
    """Element-wise mean embedding per label — class prototypes for
    nearest-centroid classification, IVF cell seeding, or drift checks.

    Components are quantized to 1e-6 units (bigint) before summing, so
    the aggregate is an exact integer sum independent of partitioned
    summation order — the array-valued analogue of the integer-cents
    rule; the mean divides identical operands in any engine. Plan:
    posexplode to (label, pos, component) rows [one map-side-combined
    shuffle on (label, pos)], then one tiny re-aggregate per label
    collecting the means back into position order (struct-sorted
    collect_list — label cardinality × dim rows, trivially small).
    """
    iv = F.round(F.col("__c").cast("double") * CENTROID_SCALE).cast("bigint")
    per_pos = (
        df.select(
            F.col(label_col),
            F.posexplode(F.col(vec_col)).alias("__pos", "__c"),
        )
        .groupBy(label_col, "__pos")
        .agg(
            F.sum(iv).alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    mean = (F.col("__s") / CENTROID_SCALE / F.col("__n")).alias("__m")
    return (
        per_pos.select(label_col, "__pos", mean, "__n")
        .groupBy(label_col)
        .agg(
            F.max("__n").cast("bigint").alias("n_vectors"),
            F.expr(
                "transform(array_sort(collect_list(struct(__pos, __m))),"
                " x -> x.__m)"
            ).alias("centroid"),
        )
    )


def label_centroids_oracle_sql(table: str = "embeddings",
                               label_col: str = "label",
                               vec_col: str = "embedding") -> str:
    return f"""
    WITH comp AS (
      SELECT {label_col}, pos,
             CAST(round(CAST({vec_col}[pos] AS DOUBLE) * {CENTROID_SCALE})
                  AS BIGINT) AS iv
      FROM {table},
           unnest(range(1, len({vec_col}) + 1)) AS u(pos)
    ),
    per_pos AS (
      SELECT {label_col}, pos, sum(iv) AS s, count(*) AS n
      FROM comp GROUP BY {label_col}, pos
    )
    SELECT {label_col}, CAST(max(n) AS BIGINT) AS n_vectors,
           list(s / {CENTROID_SCALE} / n ORDER BY pos) AS centroid
    FROM per_pos GROUP BY {label_col}
    """


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed-domain ANN
# ---------------------------------------------------------------------------


def pq_encode(
    corpus: DataFrame,
    m: int | None = None,
    n_codes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    recall_guard: bool = True,
):
    """Product-quantize the corpus (Jégou et al., PAMI 2011): split
    each D-dim vector into ``m`` subvectors, train one ``n_codes``-way
    seeded KMeans codebook per subspace, and encode every vector as
    ``m`` small integer codes (+ its true norm, kept for cosine
    normalization). Returns ``(codes_df, codebook)`` where the
    codebook is an m × n_codes × D/m python list — a few KB on the
    driver regardless of corpus size.

    This is the compression leg of the ANN family: IVF prunes WHERE to
    look, PQ shrinks WHAT is stored/scanned (D·4 bytes → m bytes per
    vector, 32× at D=64/m=8) so a billion-vector index fits in memory.
    The m KMeans fits train on one cached projection; encoding chains
    the m model transforms into one plan — a single corpus pass.

    ``m=None`` (the default since round 10) derives the subspace
    count from corpus density — 8-dim subspaces up to
    ``PQ_DENSITY_ROWS`` rows, 4-dim above (see ``_derive_pq_m``;
    measured bands in SCALE.md §14.2). ``recall_guard=True``
    additionally checks the finished codes for duplicate-codeword
    concentration: identical code words get identical ADC scores, so
    a group larger than any plausible shortlist is un-rankable and a
    loud recall-risk warning is emitted (one tiny aggregate over the
    checkpointed m-int codes — negligible next to the m KMeans fits).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    first = corpus.select(F.size(F.col(vec_col))).first()
    if first is None:
        raise ValueError("pq_encode: empty corpus — nothing to train on")
    d = first[0]
    if m is None:
        # parquet count() is pushed down to footer row counts — far
        # cheaper than the m KMeans corpus passes that follow
        m = _derive_pq_m(corpus.count(), d)
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    dsub = d // m

    sliced = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        *[
            array_to_vector(
                F.slice(F.col(vec_col), sub * dsub + 1, dsub).cast(
                    "array<double>"
                )
            ).alias(f"__f{sub}")
            for sub in range(m)
        ],
    )
    # m KMeans fits each materialize their input independently —
    # persist the sliced projection once so training reads the corpus
    # one time, not m times, and release it after the eager encode
    sliced = sliced.persist()
    try:
        codebook = []
        encoded = sliced
        for sub in range(m):
            model = KMeans(
                k=n_codes,
                seed=seed + sub,
                featuresCol=f"__f{sub}",
                predictionCol=f"__c{sub}",
            ).fit(sliced)
            # KMeans can return FEWER than k centers when a subspace
            # has fewer distinct points — keep whatever it produced;
            # pq_ann_topk derives its table stride from the codebook
            codebook.append(
                [[float(x) for x in c] for c in model.clusterCenters()]
            )
            encoded = model.transform(encoded)
        codes_df = encoded.select(
            F.col(id_col),
            F.array(*[F.col(f"__c{sub}") for sub in range(m)]).alias(
                "codes"
            ),
            _norm(F.col(vec_col)).alias("norm"),
        ).localCheckpoint(eager=True)  # the materialized index
    finally:
        sliced.unpersist()
    if recall_guard:
        row = (
            codes_df.groupBy("codes")
            .count()
            .agg(F.max("count").alias("mx"), F.sum("count").alias("n"))
            .first()
        )
        if row is not None and row["mx"] is not None:
            mx, n = int(row["mx"]), int(row["n"])
            # a duplicate-codeword group is an exact ADC tie: the
            # shortlist cannot rank inside it. Flag when one group
            # dwarfs plausible shortlists (>1000 rows) AND is a
            # non-trivial corpus fraction.
            if mx > 1000 and mx > 0.005 * n:
                import warnings

                warnings.warn(
                    f"pq_encode: {mx} of {n} vectors share one "
                    f"identical {m}-subspace code word — ADC cannot "
                    "rank inside that group and recall will degrade. "
                    "Raise m (narrower subspaces) or n_codes; see "
                    "SCALE.md §14.2 sizing rule.",
                    RuntimeWarning,
                    stacklevel=2,
                )
    return codes_df, codebook


def pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int | None = None,
    n_codes: int = 16,
    shortlist_factor: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    index=None,
) -> DataFrame:
    """PQ ANN with asymmetric distance computation + exact rerank —
    the production shape: per query, a tiny m × n_codes lookup table
    of subspace dot products is built against the codebook; every
    corpus vector is scored from its CODES ALONE (m table lookups, no
    float vectors touched), the top ``shortlist_factor·k`` approximate
    hits are then reranked with the exact rounded cosine of
    :func:`cosine_topk` (same determinism contract). At scale the
    codes table is the only corpus-wide scan — m bytes/vector — and
    the rerank re-reads full vectors for shortlist·k rows per query
    only.

    Like IVF, the trainer has no SQL twin, so this op is recall-tested
    against :func:`cosine_topk` (tests/test_ann_quality.py) instead of
    oracle-checked.

    ``index`` — a prebuilt ``(codes_df, codebook)`` from
    :func:`pq_encode` — skips training/encoding, the deployed shape:
    codes are written once at ingest (a parquet table of m bytes per
    vector) and every query batch pays only table-build + scoring.
    Measured at 20k × 64-dim: ~16 s one-off encode; warm 10-query
    batch from a prebuilt index 1.6 s at recall 0.91 vs 2.3 s exact —
    near-parity HERE because 64-dim floats are cheap; the 32×
    compression is what changes the game when the raw vectors no
    longer fit executor memory.
    """
    spark = corpus.sparkSession
    codes_df, codebook = index if index is not None else pq_encode(
        corpus, m=m, n_codes=n_codes, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    # geometry comes from the codebook itself, not the m/n_codes args
    # (a prebuilt index may have been trained with different settings,
    # and KMeans can return fewer than n_codes centers per subspace) —
    # missing (sub, code) slots are zero-padded so the flat-table
    # stride stays uniform; codes never reference a padded slot
    m = len(codebook)
    n_codes = max(len(cb_sub) for cb_sub in codebook)
    dsub = len(codebook[0][0])

    cb_rows = [
        (
            sub,
            code,
            codebook[sub][code]
            if code < len(codebook[sub])
            else [0.0] * dsub,
        )
        for sub in range(m)
        for code in range(n_codes)
    ]
    cb = local_frame(
        spark, cb_rows, "sub int, code int, centroid array<double>"
    )
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qv"))
    sub_dot = F.aggregate(
        F.zip_with(
            F.expr(f"slice(__qv, sub * {dsub} + 1, {dsub})"),
            F.col("centroid"),
            lambda x, y: x.cast("double") * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # flat table ordered by (sub, code): index = sub·n_codes + code
    tables = (
        q.join(F.broadcast(cb))
        .withColumn("__dot", sub_dot)
        .groupBy(query_id_col)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("sub", "code", F.col("__dot").alias("d"))
                    )
                ),
                lambda s: s["d"],
            ).alias("__table"),
            F.first("__qv").alias("__qv"),
        )
        .withColumn("__qnorm", _norm(F.col("__qv")))
    )

    approx = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, sub: acc
        + F.element_at(
            F.col("__table"),
            (sub * n_codes + F.element_at(F.col("codes"), sub + 1) + 1).cast(
                "int"
            ),
        ),
    )
    denom = F.col("__qnorm") * F.col("norm")
    w_short = Window.partitionBy(query_id_col).orderBy(
        F.col("__approx").desc(), F.col(id_col).asc()
    )
    short = (
        codes_df.join(F.broadcast(tables))
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn(
            "__approx",
            F.when(denom > 0, approx / denom).otherwise(F.lit(-2.0)),
        )
        .withColumn("__sr", F.row_number().over(w_short))
        .filter(F.col("__sr") <= shortlist_factor * k)
        .select(query_id_col, id_col, "__qv")
    )

    rerank = short.join(
        corpus.select(F.col(id_col), F.col(vec_col).alias("__cv")), id_col
    )
    # _cosine, not a bare division: zero-norm vectors (supported by
    # cosine_topk and present in its tests) must yield NULL, not an
    # ANSI DIVIDE_BY_ZERO
    cos = _cosine(
        F.col("__qv"),
        F.col("__cv"),
        _norm(F.col("__qv")),
        _norm(F.col("__cv")),
    )
    return _rank_topk(
        rerank.select(query_id_col, id_col, cos.alias("cosine")),
        query_id_col,
        "cosine",
        id_col,
        k,
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization (storage-side ANN scale path)
# ---------------------------------------------------------------------------


def quantize_embeddings_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``code_i =
    round(x_i * 127 / max|x|)`` with the dequantization scale
    ``max|x| / 127`` — 4-8x smaller vectors for the ANN shortlist
    tier (the codes table is what a 100 TB corpus actually scans;
    full-precision vectors stay on cold storage for the exact rerank,
    the same two-tier shape as PQ but with exact per-dimension
    semantics). Pure column arithmetic — engine-exact, so the op has a
    DIRECT DuckDB oracle, not a tolerance band.

    Output: (id, scale double, codes array<int>); an all-zero vector
    gets scale 0 and all-zero codes.

    Shape note: ``max|x|`` is computed in its OWN projection step, not
    inlined into the per-element lambda — Catalyst's project collapse
    would otherwise substitute the ``array_max(transform(...))``
    subtree into every lambda element and recompute it d times per row
    (measured 6.2 s → 2.5 s for the sf≈1 quantized top-k).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    staged = emb.select(
        F.col(id_col),
        v.alias("__v"),
        F.array_max(F.transform(v, F.abs)).alias("__maxabs"),
    )
    m = F.col("__maxabs")
    codes = F.when(
        m > 0,
        F.transform(
            F.col("__v"), lambda x: F.round(x * 127.0 / m).cast("int")
        ),
    ).otherwise(F.transform(F.col("__v"), lambda x: F.lit(0)))
    return staged.select(
        id_col,
        (m / 127.0).alias("scale"),
        codes.alias("codes"),
    )


def cosine_topk_int8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    index: DataFrame | None = None,
) -> DataFrame:
    """:func:`cosine_topk` over int8-quantized vectors. Cosine is
    scale-invariant, so the per-vector quantization scales cancel and
    the score is ``dot(codes_a, codes_b) / sqrt(|a|²·|b|²)`` — an
    EXACT integer dot product (|code| ≤ 127 → products ≤ 16129, sums
    far below 2^53) followed by one double sqrt+divide, identical on
    both engines. Zero vectors score NULL and rank last, like the
    float kernels. Recall vs the float top-k is pinned in
    tests/test_ann_quality.py.

    ``index`` — a prebuilt (id, codes) frame from
    :func:`quantize_embeddings_int8` — skips corpus quantization: the
    DEPLOYED shape (same contract as ``pq_ann_topk``'s index), where
    codes are written once at ingest and every query batch scans the
    4-8× smaller codes table, never the float vectors. Queries are
    always quantized inline (small by the broadcast contract).

    Scoring is an Arrow-batched integer matmul (the :func:`cosine_topk`
    pattern, ~4× over a JVM fold at sf≈1). Quantization stays
    JVM-side, so codes match the oracle's round-half-up bit-for-bit;
    numpy widens the codes to int64 and derives both n² norms itself
    (exact int64 sums). The raw double ``dot/sqrt(den²)`` is
    bit-identical to the oracle's (exact int→double conversions + IEEE
    sqrt/divide), and the kernel never rounds — it emits every
    candidate within 1.5e-6 of its batch's k-th raw score (rounding
    can move a value by at most 0.5e-6, so the final rounded top-k is
    provably inside that band) and Spark's own ``round`` + window do
    the ranking, keeping engine rounding semantics out of Python
    entirely. A NULL corpus vector fails with the Arrow kernels'
    contract error (:func:`_reshape_vectors`).
    """
    import numpy as _np

    def quantized(df, out_id, prebuilt=None):
        qz = (
            prebuilt
            if prebuilt is not None
            else quantize_embeddings_int8(df, id_col=out_id, vec_col=vec_col)
        )
        return qz.select(F.col(out_id), F.col("codes").alias("__cc"))

    c = quantized(corpus, id_col, prebuilt=index)
    qs = quantized(
        queries.select(F.col(query_id_col).alias(query_id_col), vec_col),
        query_id_col,
    )
    q_rows = qs.collect()
    if not q_rows:
        # preserve the INPUT query-id type (string ids etc.), exactly
        # like the non-empty path — a hardcoded bigint here would
        # change the schema on the empty-input case only
        return _rank_topk(
            c.select(
                F.lit(None)
                .cast(qs.schema[query_id_col].dataType)
                .alias(query_id_col),
                F.col(id_col),
                F.lit(None).cast("double").alias("cosine_q"),
            ).limit(0),
            query_id_col,
            "cosine_q",
            id_col,
            k,
        )
    q_ids = _np.array([r[0] for r in q_rows])
    q_mat = _query_matrix(q_rows, _np.int64)
    q_n2 = (q_mat * q_mat).sum(axis=1)

    qid_t = qs.schema[query_id_col].dataType.simpleString()
    cid_t = c.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{query_id_col} {qid_t}, {id_col} {cid_t}, __raw double"
    )

    def _score(batches):
        import pyarrow as _pa

        for batch in batches:
            if len(batch) == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            flat = _np.asarray(batch.column(1).flatten(), dtype=_np.int64)
            codes = _reshape_vectors(
                flat, len(batch), batch.column(1),
                expect_dim=q_mat.shape[1],
            )
            cn2 = (codes * codes).sum(axis=1)
            dots = codes @ q_mat.T  # exact int64
            den2 = _np.outer(cn2, q_n2).astype(_np.float64)
            with _np.errstate(divide="ignore", invalid="ignore"):
                raw = dots.astype(_np.float64) / _np.sqrt(den2)
            raw[den2 <= 0] = _np.nan
            out_q, out_i, out_r = [], [], []
            for j in range(len(q_ids)):
                keep = ids != q_ids[j]
                col = raw[keep, j]
                idk = ids[keep]
                finite = ~_np.isnan(col)
                nf = int(finite.sum())
                sel = _np.zeros(len(col), dtype=bool)
                if nf:
                    vals = col[finite]
                    kth = (
                        _np.partition(vals, nf - min(k, nf))[nf - min(k, nf)]
                    )
                    # the rounded top-k lives within 1.5e-6 of the raw
                    # k-th value (round moves scores by <= 0.5e-6)
                    sel = finite & (col >= kth - 1.5e-6)
                if nf < k:
                    # too few finite scores: NULL rows can reach the
                    # top-k — forward the k smallest-id null rows
                    null_idx = _np.nonzero(~finite)[0]
                    order = _np.argsort(idk[null_idx])[:k]
                    sel[null_idx[order]] = True
                out_q.append(_np.full(int(sel.sum()), q_ids[j]))
                out_i.append(idk[sel])
                out_r.append(col[sel])
            flat_r = (
                _np.concatenate(out_r) if out_r else _np.array([])
            )
            yield _pa.RecordBatch.from_arrays(
                [
                    _pa.array(
                        _np.concatenate(out_q) if out_q else _np.array([])
                    ),
                    _pa.array(
                        _np.concatenate(out_i)
                        if out_i
                        else _np.array([], dtype=ids.dtype)
                    ),
                    _pa.array(flat_r, mask=_np.isnan(flat_r)),
                ],
                names=[query_id_col, id_col, "__raw"],
            )

    scored = (
        c.mapInArrow(_score, schema=out_schema)
        .select(
            query_id_col,
            id_col,
            F.round(F.col("__raw"), 6).alias("cosine_q"),
        )
    )
    return _rank_topk(scored, query_id_col, "cosine_q", id_col, k)


def quantize_embeddings_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of the quantizer with codes stringified (the driver
    canonicalizer needs atomic columns)."""
    return f"""
    WITH v AS (
      SELECT {id_col},
             list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v,
             list_max(list_transform({vec_col},
                      x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      FROM {table}
    )
    SELECT {id_col},
           maxabs / 127.0 AS scale,
           array_to_string(
             list_transform(v, x -> CAST(CAST(CASE WHEN maxabs > 0
               THEN round(x * 127.0 / maxabs) ELSE 0 END AS INTEGER)
               AS VARCHAR)), ',') AS codes_q
    FROM v
    """


def cosine_topk_int8_codes_setup_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Untimed bench setup: materialize the int8 codes (+ squared
    norms) as a DuckDB temp table, mirroring the Spark side's
    quantize-once-at-ingest codes table — so the TIMED regions of the
    int8 race do the same work on both engines (ADVICE r4: the inline
    oracle was quantizing inside its timed window while Spark scored a
    deployed codes table)."""
    return f"""
    CREATE OR REPLACE TEMP TABLE __int8_codes AS
    WITH v AS (
      SELECT {id_col},
             list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS fv,
             list_max(list_transform({vec_col},
                      x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      FROM {table}
    ),
    qz AS (
      SELECT {id_col},
             list_transform(fv, x -> CAST(CASE WHEN maxabs > 0
               THEN round(x * 127.0 / maxabs) ELSE 0 END AS BIGINT)) AS c
      FROM v
    )
    SELECT {id_col}, c,
           list_sum(list_transform(c, x -> x * x)) AS n2
    FROM qz
    """


def cosine_topk_int8_from_codes_oracle_sql(
    n_queries: int = 5,
    k: int = 10,
    id_col: str = "vec_id",
) -> str:
    """Timed bench twin of ``cosine_topk_int8``: score from the
    pre-materialized ``__int8_codes`` temp table (see
    ``cosine_topk_int8_codes_setup_sql``) — identical arithmetic and
    output to the inline oracle, minus the quantization pass."""
    return f"""
    WITH q AS (SELECT {id_col} AS query_id, c AS qc, n2 AS qn2
          FROM __int8_codes WHERE {id_col} < {n_queries}),
    scored AS (
      SELECT q.query_id, cc.{id_col},
             CASE WHEN q.qn2 * cc.n2 > 0 THEN
               round(list_sum(list_transform(range(1, len(cc.c) + 1),
                     i -> q.qc[i] * cc.c[i])) * 1.0
                     / sqrt(CAST(q.qn2 * cc.n2 AS DOUBLE)), 6)
             END AS cosine_q
      FROM __int8_codes cc CROSS JOIN q
      WHERE cc.{id_col} <> q.query_id
    )
    SELECT query_id, {id_col}, cosine_q,
           CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine_q DESC, {id_col} ASC) AS rank
      FROM scored
    ) t WHERE rank <= {k}
    """


def cosine_topk_int8_oracle_sql(
    table: str = "embeddings",
    n_queries: int = 5,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin: same quantization, same exact integer dot, same
    single sqrt+divide+round."""
    return f"""
    WITH v AS (
      SELECT {id_col},
             list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS fv,
             list_max(list_transform({vec_col},
                      x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      FROM {table}
    ),
    qz AS (
      SELECT {id_col},
             list_transform(fv, x -> CAST(CASE WHEN maxabs > 0
               THEN round(x * 127.0 / maxabs) ELSE 0 END AS BIGINT)) AS c
      FROM v
    ),
    n AS (
      SELECT {id_col}, c,
             list_sum(list_transform(c, x -> x * x)) AS n2
      FROM qz
    ),
    q AS (SELECT {id_col} AS query_id, c AS qc, n2 AS qn2
          FROM n WHERE {id_col} < {n_queries}),
    scored AS (
      SELECT q.query_id, cc.{id_col},
             CASE WHEN q.qn2 * cc.n2 > 0 THEN
               round(list_sum(list_transform(range(1, len(cc.c) + 1),
                     i -> q.qc[i] * cc.c[i])) * 1.0
                     / sqrt(CAST(q.qn2 * cc.n2 AS DOUBLE)), 6)
             END AS cosine_q
      FROM n cc CROSS JOIN q
      WHERE cc.{id_col} <> q.query_id
    )
    SELECT query_id, {id_col}, cosine_q,
           CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine_q DESC, {id_col} ASC) AS rank
      FROM scored
    ) t WHERE rank <= {k}
    """


def rrf_fuse(
    rankings: "Sequence[DataFrame]",
    k: int = 10,
    rrf_k: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al. 2009) — the standard
    hybrid-retrieval combiner: each input ranking contributes
    ``1/(rrf_k + rank)`` per (query, doc) and the fused score is the
    sum, rewarding documents several retrievers agree on without any
    score calibration across systems (BM25 scores and cosines are not
    commensurable; ranks are). This is how lexical + semantic search
    compose in every production RAG stack.

    Each input frame needs (query_col, id_col, rank). Determinism: the
    per-source contribution is quantized to 12 decimals and summed as
    DECIMAL — order-free under ANY number of sources and any partial-
    aggregation order (a double sum would already be safe for two
    sources, commutativity, but not for three+). Output: (query, doc,
    n_sources, rrf_score, rank), top-``k`` per query, ties on doc id.

    Scale shape: a unionByName of the (small) top-k ranking frames,
    one groupBy(query, doc), one per-query top-k window — cost is
    proportional to Σ ranking sizes, never the corpus."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking frame")
    contrib = (
        F.round(1.0 / (F.lit(rrf_k) + F.col("rank")), 12)
        .cast("decimal(20,12)")
        .alias("__c")
    )
    parts = [
        r.select(
            F.col(query_col).alias("__q"),
            F.col(id_col).alias("__d"),
            contrib,
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("__q", "__d").agg(
        F.count(F.lit(1)).cast("int").alias("n_sources"),
        F.sum("__c").cast("double").alias("rrf_score"),
    )
    w = Window.partitionBy("__q").orderBy(
        F.desc("rrf_score"), F.col("__d").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__q").alias(query_col),
            F.col("__d").alias(id_col),
            "n_sources",
            "rrf_score",
            "rank",
        )
    )


def rrf_fuse_oracle_sql(
    ranking_sqls: "Sequence[str]",
    k: int = 10,
    rrf_k: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin: UNION ALL of the ranking subqueries' (query, doc,
    rank), same 12-decimal DECIMAL contributions, same tie-break."""
    union = "\nUNION ALL\n".join(
        f"SELECT {query_col} AS q, {id_col} AS d, rank FROM ({s})"
        for s in ranking_sqls
    )
    return f"""
    WITH parts AS ({union}),
    fused AS (
      SELECT q, d,
             CAST(count(*) AS INT) AS n_sources,
             CAST(sum(CAST(round(1.0 / ({rrf_k} + rank), 12)
                           AS DECIMAL(20,12))) AS DOUBLE) AS rrf_score
      FROM parts GROUP BY q, d
    )
    SELECT q AS {query_col}, d AS {id_col}, n_sources, rrf_score,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY q
                 ORDER BY rrf_score DESC, d ASC) AS rank
      FROM fused
    ) t WHERE rank <= {k}
    """


def _ndcg_discounts(k: int) -> list[str]:
    """The k DCG discounts 1/log2(rank+1), rank 1..k, as 12-decimal
    strings computed ONCE in Python and inlined as literals on BOTH
    engines — rank is the only input, so there is no libm call in
    either plan and nothing to drift."""
    import math

    return [f"{1.0 / math.log2(r + 1):.12f}" for r in range(1, k + 1)]


def ndcg_at_k(
    ranking: DataFrame,
    relevance: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Retrieval-quality evaluation: binary nDCG@k per query — the
    metric every retrieval stack reports next to recall. ``ranking``
    carries (query, doc, rank); ``relevance`` the (query, doc) pairs
    that count as relevant. DCG sums the rank discounts of relevant
    retrieved docs; IDCG is the best achievable with the query's total
    relevant count (capped at k); nDCG their ratio (NULL when a query
    has no relevant docs — undefined, not zero).

    Determinism: discounts are PRECOMPUTED 12-decimal literals (one
    per rank — no log in either engine's plan), summed as DECIMAL
    (order-free), with the final ratio one exact-operand double
    division. Output: (query, n_relevant, n_hits, dcg, idcg, ndcg).

    Scale shape: one broadcast of the k-row discount table, one join
    of the top-k ranking against relevance (both small by contract —
    cost ∝ queries × k, never the corpus), one groupBy(query)."""
    spark = ranking.sparkSession
    disc = _ndcg_discounts(k)
    dtab = local_frame(
        spark, [(r + 1, disc[r]) for r in range(k)], "rank int, d string"
    ).select("rank", F.col("d").cast("decimal(20,12)").alias("d"))
    # cumulative ideal DCG per possible relevant-count 1..k
    import decimal as _dec

    cum = []
    acc = _dec.Decimal(0)
    for s in disc:
        acc += _dec.Decimal(s)
        cum.append(str(acc))
    ctab = local_frame(
        spark, [(i + 1, cum[i]) for i in range(k)], "n int, idcg string"
    ).select("n", F.col("idcg").cast("decimal(24,12)").alias("idcg"))
    rel = relevance.select(
        F.col(query_col).alias("__q"), F.col(id_col).alias("__d")
    ).withColumn("__rel", F.lit(1))
    topk = ranking.filter(F.col("rank") <= k).select(
        F.col(query_col).alias("__q"), F.col(id_col).alias("__d"), "rank"
    )
    scored = (
        topk.join(rel, ["__q", "__d"], "left")
        .join(F.broadcast(dtab), "rank")
        .groupBy("__q")
        .agg(
            F.sum(F.when(F.col("__rel") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hits"),
            F.sum(
                F.when(F.col("__rel") == 1, F.col("d")).otherwise(
                    F.lit("0").cast("decimal(20,12)")
                )
            ).alias("__dcg"),
        )
    )
    totals = rel.groupBy("__q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_relevant")
    )
    return (
        scored.join(totals, "__q", "left")
        .withColumn(
            "n_relevant", F.coalesce("n_relevant", F.lit(0)).cast("bigint")
        )
        .join(
            F.broadcast(ctab),
            F.least(F.col("n_relevant"), F.lit(k)) == F.col("n"),
            "left",
        )
        .select(
            F.col("__q").alias(query_col),
            "n_relevant",
            "n_hits",
            F.col("__dcg").cast("double").alias("dcg"),
            F.col("idcg").cast("double").alias("idcg"),
            (F.col("__dcg").cast("double") / F.col("idcg").cast("double"))
            .alias("ndcg"),
        )
    )


def ndcg_at_k_oracle_sql(
    ranking_sql: str,
    relevance_sql: str,
    k: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
) -> str:
    disc = _ndcg_discounts(k)
    import decimal as _dec

    cum, acc = [], _dec.Decimal(0)
    for s in disc:
        acc += _dec.Decimal(s)
        cum.append(str(acc))
    dvals = ", ".join(
        f"({r + 1}, CAST('{disc[r]}' AS DECIMAL(20,12)))" for r in range(k)
    )
    cvals = ", ".join(
        f"({i + 1}, CAST('{cum[i]}' AS DECIMAL(24,12)))" for i in range(k)
    )
    return f"""
    WITH ranking AS ({ranking_sql}),
    rel AS (SELECT {query_col} AS q, {id_col} AS d FROM ({relevance_sql})),
    dtab(rank, disc) AS (VALUES {dvals}),
    ctab(n, idcg) AS (VALUES {cvals}),
    scored AS (
      SELECT r.{query_col} AS q,
             CAST(count(rel.d) AS BIGINT) AS n_hits,
             sum(CASE WHEN rel.d IS NOT NULL THEN dt.disc
                      ELSE CAST('0' AS DECIMAL(20,12)) END) AS dcg_dec
      FROM ranking r
      JOIN dtab dt ON r.rank = dt.rank
      LEFT JOIN rel ON rel.q = r.{query_col} AND rel.d = r.{id_col}
      WHERE r.rank <= {k}
      GROUP BY r.{query_col}
    ),
    totals AS (
      SELECT q, CAST(count(*) AS BIGINT) AS n_relevant FROM rel GROUP BY q
    )
    SELECT s.q AS {query_col},
           COALESCE(t.n_relevant, 0) AS n_relevant,
           s.n_hits,
           CAST(s.dcg_dec AS DOUBLE) AS dcg,
           CAST(c.idcg AS DOUBLE) AS idcg,
           CAST(s.dcg_dec AS DOUBLE) / CAST(c.idcg AS DOUBLE) AS ndcg
    FROM scored s
    LEFT JOIN totals t ON s.q = t.q
    LEFT JOIN ctab c ON c.n = least(COALESCE(t.n_relevant, 0), {k})
    """
