"""Hot-bucket bound for the collect_list pairing shapes
(similarity.bucket_pairs tiling): a planted pathological bucket —
half the corpus sharing one LSH bucket, the duplicate-dense-crawl
case — must (a) produce IDENTICAL output with and without the bound
(exact tiling, no recall trade), and (b) actually split into
sub-quadratic tasks whose per-side member lists respect the bound."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from feature_store_spark.llm.dedup import minhash_lsh_pairs, semantic_dedup
from feature_store_spark.llm.similarity import (
    _tiled_tasks,
    bucket_pairs,
    knn_graph,
    knn_graph_multiprobe,
)


def _planted_vectors(spark, n_hot=60, n_cold=40, dim=8):
    """n_hot vectors sharing a DIRECTION (positive scalings of one
    base vector — identical hyperplane signs, hence one LSH bucket)
    plus n_cold scattered vectors. The hot bucket holds >=60% of the
    corpus, the planted pathology."""
    rows = []
    base = [float((d * 37 + 11) % 19 - 9) for d in range(dim)]
    for i in range(n_hot):
        lam = 1.0 + i * 0.01
        rows.append((i, [x * lam for x in base]))
    for i in range(n_cold):
        rows.append(
            (
                n_hot + i,
                [
                    float(((i + 3) * (d + 7) * 13) % 23 - 11)
                    for d in range(dim)
                ],
            )
        )
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_knn_graph_vectorized_tiling_is_exact(spark):
    """The Arrow/BLAS kNN kernel's hot-bucket tiling must be
    bit-identical to the untiled shape (the default bound leaves the
    planted bucket in one task) AND to the pure-JVM pairing of
    knn_graph_multiprobe(n_tables=1) — forcing the planted hot bucket
    through s ≥ 6 tiles (rect off-diagonal matmuls + the global merge
    rank) on the way. The numpy bucket pass is pinned to the
    lsh_bucket expression by the same equality."""
    df = _planted_vectors(spark)
    tiled = _rows(knn_graph(df, k=3, max_bucket_size=10))
    base = _rows(knn_graph(df, k=3))
    expr = _rows(knn_graph_multiprobe(df, k=3, n_tables=1))
    assert tiled == base == expr and len(base) > 0


def test_knn_graph_keeps_int_and_string_id_types(spark):
    """knn_graph's id and neighbor_id columns take the input id type,
    like cosine_topk's: int ids stay int and string ids work, equal
    to the pure-JVM knn_graph_multiprobe(n_tables=1), column types
    included (Arrow kernel outputs are always nullable, so nullability
    is not compared) — through tiled (max_bucket_size=10) and untiled
    tasks alike."""
    base = _planted_vectors(spark)
    for id_type, as_id in (
        ("int", F.col("vec_id").cast("int")),
        ("string", F.format_string("v%03d", F.col("vec_id"))),
    ):
        df = base.select(as_id.alias("vec_id"), "embedding")
        expr = knn_graph_multiprobe(df, k=3, n_tables=1)
        for got in (knn_graph(df, k=3), knn_graph(df, k=3, max_bucket_size=10)):
            assert [(f.name, f.dataType) for f in got.schema] == [
                (f.name, f.dataType) for f in expr.schema
            ]
            assert got.schema["neighbor_id"].dataType.simpleString() == id_type
            assert _rows(got) == _rows(expr) and _rows(got)


@pytest.mark.slow
def test_semantic_dedup_hot_bucket_tiling_is_exact(spark):
    df = _planted_vectors(spark)
    base = _rows(semantic_dedup(df, threshold=0.4))
    tiled = _rows(semantic_dedup(df, threshold=0.4, max_bucket_size=10))
    assert tiled == base
    # sanity: the hot cluster really deduplicates (same direction ⇒
    # cos 1). A few members may land in a sibling bucket — a
    # hyperplane fold of the base direction sits near 0 and FP
    # scaling can flip its sign — so assert bulk dedup, not totality.
    kept = {r[0] for r in base if r[2]}
    assert 0 in kept
    assert sum(1 for i in range(1, 60) if i not in kept) >= 50


def test_minhash_hot_bucket_tiling_is_exact(spark):
    # 30 identical docs (share every band) + distinct fillers
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(30)]
    rows += [
        (100 + i, f"filler{i} text{i} word{i} token{i} item{i} end{i}")
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    base = _rows(minhash_lsh_pairs(docs, n=3, threshold=0.5))
    tiled = _rows(
        minhash_lsh_pairs(docs, n=3, threshold=0.5, max_bucket_size=8)
    )
    assert tiled == base and len(base) == 30 * 29 // 2


def test_tiled_tasks_bound_the_quadratic_task(spark):
    """Direct bound check on the task frame: the planted hot bucket
    (~60 members, max=10) must split into s² tiles with every
    per-side member list ≤ 2×max (xxhash64-uniform assignment —
    expected m/s ≤ max, tight concentration), never the single
    m²-pair task the unbounded shape produces."""
    from feature_store_spark.llm.similarity import _norm, lsh_bucket

    df = _planted_vectors(spark)
    sig = df.select(
        F.col("vec_id"),
        F.col("embedding").alias("__v"),
        _norm(F.col("embedding")).alias("__n"),
        lsh_bucket(F.col("embedding")).alias("__bucket"),
    )
    tasks = _tiled_tasks(
        sig, ["__bucket"], ["vec_id", "__v", "__n"], "vec_id", 10
    ).select(
        "__bucket",
        "__ti",
        "__tj",
        F.size("__am").alias("na"),
        F.size("__bm").alias("nb"),
    )
    rows = tasks.collect()
    assert max(max(r["na"], r["nb"]) for r in rows) <= 20
    # the hot bucket (≳45 members after FP sign flips shed a few to a
    # sibling bucket) fans out into s² ≥ 16 tile tasks, never 1
    per_bucket = {}
    for r in rows:
        per_bucket[r["__bucket"]] = per_bucket.get(r["__bucket"], 0) + 1
    assert max(per_bucket.values()) >= 16
    # and the tiling reproduces the bucket's exact pair count:
    # sum over tiles of na*nb == m² for the hot bucket
    sizes = {}
    pair_sum = {}
    for r in rows:
        pair_sum[r["__bucket"]] = (
            pair_sum.get(r["__bucket"], 0) + r["na"] * r["nb"]
        )
    for r in sig.groupBy("__bucket").agg(F.count("*").alias("m")).collect():
        sizes[r["__bucket"]] = r["m"]
    for b, m in sizes.items():
        if m > 1:
            assert pair_sum.get(b, 0) == m * m, (b, m)


def test_bucket_pairs_tiling_property_random_buckets(spark):
    """Property over adversarial bucket layouts: for ANY membership
    (hot, singleton, empty-ish) and ANY bound, the tiled pair set
    equals the unbounded pair set exactly — self-pairs included."""
    import random

    rnd = random.Random(7)
    for trial in range(3):
        n = rnd.randint(5, 40)
        rows = [(i, rnd.choice([0, 0, 0, 1, 2])) for i in range(n)]
        sig = spark.createDataFrame(rows, "vec_id bigint, __bucket int")
        base = bucket_pairs(sig, ["__bucket"], ["vec_id"], "vec_id")
        bound = rnd.randint(1, 6)
        tiled = bucket_pairs(
            sig, ["__bucket"], ["vec_id"], "vec_id", max_bucket_size=bound
        )
        k = lambda r: (r["__bucket"], r["a"]["vec_id"], r["b"]["vec_id"])  # noqa: E731
        assert sorted(map(k, tiled.collect())) == sorted(
            map(k, base.collect())
        ), (trial, bound)


def test_bucket_pairs_validates_bound(spark):
    df = _planted_vectors(spark, n_hot=4, n_cold=0)
    sig = df.select("vec_id", F.lit(0).alias("__bucket"))
    with pytest.raises(ValueError, match="max_bucket_size"):
        bucket_pairs(sig, ["__bucket"], ["vec_id"], "vec_id", 0)
