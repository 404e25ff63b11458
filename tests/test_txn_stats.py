"""Data-skipping statistics on partition-scoped manifest tables:
per-leaf min/max/null-count recorded at commit (``stats_cols``), leaf
pruning on read (``read_table(where=...)``) — the Delta/Iceberg
data-skipping analogue for this layout. The contract under test:
(1) a pruned read NEVER changes an answer (residual filter always
applies), (2) it provably reads fewer leaves when stats can exclude
them (asserted via ``DataFrame.inputFiles()``), (3) stats survive
carried-forward entries, checkpointing, and compaction."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from feature_store_spark.pipelines.txn import (
    compact_manifest,
    read_table,
    upsert_manifest,
    upsert_manifest_partitioned,
)

D1 = datetime.date(2024, 1, 1)
D2 = datetime.date(2024, 1, 2)
D3 = datetime.date(2024, 1, 3)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "user_id bigint, score double, name string, ts bigint, p date"
    )


def _up(spark, root, rows, **kw):
    return upsert_manifest_partitioned(
        _df(spark, rows),
        root,
        ["user_id"],
        "ts",
        "p",
        stats_cols=["user_id", "score", "name"],
        **kw,
    )


def _ranged(spark, root):
    """Three date partitions holding disjoint user_id ranges —
    the clustered layout data skipping is built for."""
    _up(
        spark,
        root,
        [(i, float(i), f"u{i:03d}", 1, D1) for i in range(0, 10)]
        + [(i, float(i), f"u{i:03d}", 1, D2) for i in range(100, 110)]
        + [(i, float(i), f"u{i:03d}", 1, D3) for i in range(200, 210)],
    )


def _leaf_of(files):
    """Distinct leaf dirs a frame's scan touches."""
    return {f.rsplit("/", 1)[0] for f in files}


def test_pruned_read_matches_full_filter_and_skips_leaves(spark, tmp_path):
    root = str(tmp_path / "t")
    _ranged(spark, root)
    full, _ = read_table(spark, root)
    pruned, _ = read_table(spark, root, where=[("user_id", "=", 105)])
    assert sorted(r["user_id"] for r in pruned.collect()) == [105]
    assert pruned.collect() == full.filter(F.col("user_id") == 105).collect()
    # stats exclude the other two partitions: one leaf scanned, not 3
    assert len(_leaf_of(pruned.inputFiles())) == 1
    assert len(_leaf_of(full.inputFiles())) == 3


@pytest.mark.parametrize(
    "op,value,expect_leaves,expect_rows",
    [
        ("<", 10, 1, 10),
        ("<=", 100, 2, 11),
        (">", 199, 1, 10),
        (">=", 100, 2, 20),
        ("=", 0, 1, 1),
        ("<", 0, 0, 0),
    ],
)
def test_range_ops_prune_and_answer(
    spark, tmp_path, op, value, expect_leaves, expect_rows
):
    root = str(tmp_path / "t")
    _ranged(spark, root)
    df, _ = read_table(spark, root, where=[("user_id", op, value)])
    assert df.count() == expect_rows
    assert len(_leaf_of(df.inputFiles())) == expect_leaves


def test_conjunction_and_string_stats(spark, tmp_path):
    root = str(tmp_path / "t")
    _ranged(spark, root)
    df, _ = read_table(
        spark,
        root,
        where=[("name", ">=", "u100"), ("name", "<", "u105"), ("score", "<", 103.0)],
    )
    assert sorted(r["user_id"] for r in df.collect()) == [100, 101, 102]
    assert len(_leaf_of(df.inputFiles())) == 1


def test_partition_column_predicate_prunes_without_stats(spark, tmp_path):
    root = str(tmp_path / "t")
    # no stats_cols at all — pruning on the partition column rides the
    # manifest keys themselves
    upsert_manifest_partitioned(
        _df(
            spark,
            [(1, 1.0, "a", 1, D1), (2, 2.0, "b", 1, D2), (3, 3.0, "c", 1, D3)],
        ),
        str(tmp_path / "t"),
        ["user_id"],
        "ts",
        "p",
    )
    df, _ = read_table(spark, root, where=[("p", ">=", D2)])
    assert sorted(r["user_id"] for r in df.collect()) == [2, 3]
    assert len(_leaf_of(df.inputFiles())) == 2
    # ISO-string constants coerce to the column type
    df2, _ = read_table(spark, root, where=[("p", "=", "2024-01-03")])
    assert [r["user_id"] for r in df2.collect()] == [3]
    assert len(_leaf_of(df2.inputFiles())) == 1


def test_leaves_without_stats_are_scanned_not_guessed(spark, tmp_path):
    root = str(tmp_path / "t")
    # v1 without stats, v2 (other partition) with stats
    upsert_manifest_partitioned(
        _df(spark, [(i, float(i), "x", 1, D1) for i in range(5)]),
        root,
        ["user_id"],
        "ts",
        "p",
    )
    _up(spark, root, [(i, float(i), "x", 1, D2) for i in range(100, 105)])
    df, _ = read_table(spark, root, where=[("user_id", "<", 3)])
    # D1's leaf has no stats → must be scanned; D2's stats exclude it
    assert len(_leaf_of(df.inputFiles())) == 1
    assert sorted(r["user_id"] for r in df.collect()) == [0, 1, 2]


def test_stats_carry_forward_and_refresh_on_touch(spark, tmp_path):
    root = str(tmp_path / "t")
    _ranged(spark, root)
    # touch ONLY D1 with a wider range; D2/D3 entries carry forward
    _up(spark, root, [(50, 50.0, "u050", 2, D1)])
    df, _ = read_table(spark, root, where=[("user_id", "=", 50)])
    assert len(_leaf_of(df.inputFiles())) == 1
    assert [r["p"] for r in df.collect()] == [D1]
    # carried-forward D3 stats still prune for a D3-range probe
    df2, _ = read_table(spark, root, where=[("user_id", "=", 205)])
    assert len(_leaf_of(df2.inputFiles())) == 1
    assert [r["p"] for r in df2.collect()] == [D3]


def test_all_null_column_leaf_pruned(spark, tmp_path):
    root = str(tmp_path / "t")
    _up(spark, root, [(1, None, None, 1, D1), (2, 2.0, "b", 1, D2)])
    df, _ = read_table(spark, root, where=[("score", ">", 0.0)])
    assert len(_leaf_of(df.inputFiles())) == 1
    assert [r["user_id"] for r in df.collect()] == [2]


def test_nan_float_stats_leave_leaf_unprunable_but_correct(spark, tmp_path):
    root = str(tmp_path / "t")
    _up(
        spark,
        root,
        [(1, float("nan"), "a", 1, D1), (2, 2.0, "b", 1, D2)],
    )
    df, _ = read_table(spark, root, where=[("score", ">", 5.0)])
    # Spark orders NaN GREATER than every float, so the NaN row
    # matches score > 5.0 — and that is exactly why NaN endpoints
    # must void a leaf's stats: a leaf holding any NaN has max=NaN,
    # its stats are dropped, and it can never be pruned away from a
    # '>' probe it would have satisfied
    assert [r["user_id"] for r in df.collect()] == [1]
    # D2 (max 2.0) is pruned; D1's voided stats keep it scanned
    assert len(_leaf_of(df.inputFiles())) == 1


def test_stats_survive_compaction(spark, tmp_path):
    root = str(tmp_path / "t")
    _ranged(spark, root)
    # fragment D1 then compact everything
    _up(spark, root, [(5, 5.0, "u005", 2, D1)])
    res = compact_manifest(spark, root)
    assert res["committed"]
    df, _ = read_table(spark, root, where=[("user_id", "=", 205)])
    assert len(_leaf_of(df.inputFiles())) == 1
    assert [r["user_id"] for r in df.collect()] == [205]


def test_schema_evolution_new_column_stats(spark, tmp_path):
    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 1, datetime.date(2024, 1, 1))], "user_id bigint, ts bigint, p date"
    )
    upsert_manifest_partitioned(base, root, ["user_id"], "ts", "p")
    evolved = spark.createDataFrame(
        [(2, 2, D2, 9.0)], "user_id bigint, ts bigint, p date, score double"
    )
    upsert_manifest_partitioned(
        evolved,
        root,
        ["user_id"],
        "ts",
        "p",
        allow_schema_evolution=True,
        stats_cols=["score"],
    )
    # old leaf lacks score stats → scanned; result exact (null-filled
    # score on the old row never matches)
    df, _ = read_table(spark, root, where=[("score", ">=", 9.0)])
    assert [r["user_id"] for r in df.collect()] == [2]


def test_where_on_unpartitioned_table_is_plain_filter(spark, tmp_path):
    root = str(tmp_path / "t")
    df_in = spark.createDataFrame(
        [(1, 10, 1), (2, 20, 1)], "user_id bigint, v bigint, ts bigint"
    )
    upsert_manifest(df_in, root, ["user_id"], "ts")
    df, _ = read_table(spark, root, where=[("v", ">", 15)])
    assert [r["user_id"] for r in df.collect()] == [2]


def test_where_validation_errors(spark, tmp_path):
    root = str(tmp_path / "t")
    _ranged(spark, root)
    with pytest.raises(ValueError, match="not in the table schema"):
        read_table(spark, root, where=[("nope", "=", 1)])
    with pytest.raises(ValueError, match="op must be one of"):
        read_table(spark, root, where=[("user_id", "!=", 1)])
    with pytest.raises(ValueError, match="None"):
        read_table(spark, root, where=[("user_id", "=", None)])
    with pytest.raises(ValueError, match="triples"):
        read_table(spark, root, where=["user_id = 1"])


def test_stats_cols_validation(spark, tmp_path):
    root = str(tmp_path / "t")
    df_in = _df(spark, [(1, 1.0, "a", 1, D1)])
    with pytest.raises(ValueError, match="not in the table schema"):
        upsert_manifest_partitioned(
            df_in, root, ["user_id"], "ts", "p", stats_cols=["nope"]
        )
    with pytest.raises(ValueError, match="partition column"):
        upsert_manifest_partitioned(
            df_in, root, ["user_id"], "ts", "p", stats_cols=["p"]
        )
    arr = df_in.withColumn("a", F.array(F.lit(1)))
    with pytest.raises(ValueError, match="non-orderable"):
        upsert_manifest_partitioned(
            arr, root, ["user_id"], "ts", "p", stats_cols=["a"]
        )


def test_timestamp_and_boolean_stats_round_trip(spark, tmp_path):
    root = str(tmp_path / "t")
    rows = [
        (1, datetime.datetime(2024, 1, 1, 0, 0, 0, 500000), True, 1, D1),
        (2, datetime.datetime(2024, 6, 1, 12, 0, 0), False, 1, D2),
    ]
    df_in = spark.createDataFrame(
        rows, "user_id bigint, seen timestamp, flag boolean, ts bigint, p date"
    )
    upsert_manifest_partitioned(
        df_in, root, ["user_id"], "ts", "p", stats_cols=["seen", "flag"]
    )
    df, _ = read_table(
        spark, root, where=[("seen", ">", datetime.datetime(2024, 3, 1))]
    )
    assert [r["user_id"] for r in df.collect()] == [2]
    assert len(_leaf_of(df.inputFiles())) == 1
    df2, _ = read_table(spark, root, where=[("flag", "=", True)])
    assert [r["user_id"] for r in df2.collect()] == [1]
    assert len(_leaf_of(df2.inputFiles())) == 1


def test_where_composes_with_partition_values(spark, tmp_path):
    root = str(tmp_path / "t")
    _ranged(spark, root)
    df, _ = read_table(
        spark,
        root,
        partition_values=[D1, D2],
        where=[("user_id", ">=", 5)],
    )
    # D1 kept (range 0-9 overlaps ≥5), D2 kept, D3 excluded by the
    # partition_values selection before stats even apply
    assert df.count() == 5 + 10
    assert len(_leaf_of(df.inputFiles())) == 2


# --- Bloom-filter file skipping ---


def test_bloom_position_parity_jvm_vs_python(spark):
    """The load-bearing invariant: the JVM-side canonical-string hash
    (computed at commit) and the Python-side probe hash must agree for
    every supported type — a divergence would silently prune leaves
    that DO hold the key (the compact_manifest string-cast defect
    class). Covers negatives, unicode, midnight/micro timestamps and
    both booleans."""
    from pyspark.sql.types import (
        BooleanType,
        DateType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from feature_store_spark.pipelines.txn import (
        _bloom_key,
        _bloom_pos_exprs,
        _bloom_positions,
    )

    cases = [
        (StringType(), ["a", "héllo wörld", "", "user_001"]),
        (LongType(), [0, -5, 123456789012345]),
        (BooleanType(), [True, False]),
        (DateType(), [datetime.date(2024, 2, 29)]),
        (
            TimestampType(),
            [
                datetime.datetime(2024, 1, 1),
                datetime.datetime(2024, 1, 1, 12, 30, 45, 500000),
                datetime.datetime(2024, 1, 1, 23, 59, 59, 1),
            ],
        ),
    ]
    for dtype, values in cases:
        field = StructField("c", dtype)
        df = spark.createDataFrame(
            [(v,) for v in values], StructType([field])
        )
        jvm = df.select(
            *[e.alias(f"p{i}") for i, e in enumerate(_bloom_pos_exprs(field))]
        ).collect()
        for v, row in zip(values, jvm):
            assert [row[f"p{i}"] for i in range(3)] == _bloom_positions(
                _bloom_key(v, dtype)
            ), f"hash divergence for {dtype}: {v!r}"


def test_bloom_skips_leaves_minmax_cannot(spark, tmp_path):
    """Point lookup on an UNCLUSTERED column: both partitions span the
    whole name range (min/max useless) but the bloom proves absence in
    one of them."""
    root = str(tmp_path / "t")
    # interleaved names: both partitions have min='n000…', max='n999…'
    rows = [
        (i, f"n{i:03d}", 1, D1 if i % 2 == 0 else D2) for i in range(200)
    ] + [(1000, "n000", 1, D1), (1001, "n999", 1, D2)]
    df = spark.createDataFrame(
        rows, "user_id bigint, name string, ts bigint, p date"
    )
    upsert_manifest_partitioned(
        df, root, ["user_id"], "ts", "p",
        stats_cols=["name"], bloom_cols=["name"],
    )
    # n101 is odd -> only in D2; stats can't prune (range overlap)
    got, _ = read_table(spark, root, where=[("name", "=", "n101")])
    assert [r["user_id"] for r in got.collect()] == [101]
    assert len(_leaf_of(got.inputFiles())) == 1
    # absent key -> bloom prunes BOTH leaves (no false negative risk:
    # result is empty either way, but inputFiles proves the skip)
    got2, _ = read_table(spark, root, where=[("name", "=", "zz_missing")])
    assert got2.count() == 0
    assert len(_leaf_of(got2.inputFiles())) == 0


def test_bloom_carries_forward_and_survives_compaction(spark, tmp_path):
    from feature_store_spark.pipelines.txn import compact_manifest

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "alpha", 1, D1), (2, "beta", 1, D2)],
        "user_id bigint, name string, ts bigint, p date",
    )
    upsert_manifest_partitioned(
        df, root, ["user_id"], "ts", "p", bloom_cols=["name"]
    )
    # touch only D2; D1's bloom carries forward
    upsert_manifest_partitioned(
        spark.createDataFrame(
            [(3, "gamma", 2, D2)],
            "user_id bigint, name string, ts bigint, p date",
        ),
        root, ["user_id"], "ts", "p", bloom_cols=["name"],
    )
    got, _ = read_table(spark, root, where=[("name", "=", "alpha")])
    assert [r["user_id"] for r in got.collect()] == [1]
    assert len(_leaf_of(got.inputFiles())) == 1
    compact_manifest(spark, root)
    got2, _ = read_table(spark, root, where=[("name", "=", "gamma")])
    assert [r["user_id"] for r in got2.collect()] == [3]
    assert len(_leaf_of(got2.inputFiles())) == 1


def test_bloom_cols_validation(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _df(spark, [(1, 1.0, "a", 1, D1)])
    with pytest.raises(ValueError, match="floats and decimals"):
        upsert_manifest_partitioned(
            df, root, ["user_id"], "ts", "p", bloom_cols=["score"]
        )
    with pytest.raises(ValueError, match="partition column"):
        upsert_manifest_partitioned(
            df, root, ["user_id"], "ts", "p", bloom_cols=["p"]
        )
    with pytest.raises(ValueError, match="not in the table schema"):
        upsert_manifest_partitioned(
            df, root, ["user_id"], "ts", "p", bloom_cols=["nope"]
        )


def test_bloom_range_ops_ignore_bloom(spark, tmp_path):
    """Only '=' consults the bloom; range probes must not be affected
    by it (and leaves without a bloom for the column stay scanned)."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "alpha", 1, D1), (2, "beta", 1, D2)],
        "user_id bigint, name string, ts bigint, p date",
    )
    upsert_manifest_partitioned(
        df, root, ["user_id"], "ts", "p", bloom_cols=["name"]
    )
    got, _ = read_table(spark, root, where=[("name", ">=", "b")])
    assert [r["user_id"] for r in got.collect()] == [2]
    assert len(_leaf_of(got.inputFiles())) == 2  # no stats -> both read


def test_transactional_warehouse_export_records_skipping_stats(
    spark, tmp_path
):
    """export_warehouse auto-records cluster-column
    stats + bloom, so warehouse point lookups skip non-matching date
    leaves — the BigQuery-clustering block-pruning analogue."""
    import datetime

    from feature_store_spark.pipelines.sinks import export_warehouse

    path = str(tmp_path / "wh")
    rows = [
        (i, datetime.datetime(2024, 1, 1 + (i // 100), 12), float(i))
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, updated_at timestamp, score double"
    )
    n = export_warehouse(df, path, ref_date="2024-01-05")
    assert n == 200
    got, _ = read_table(spark, path, where=[("user_id", "=", 150)])
    assert [r["user_id"] for r in got.collect()] == [150]
    # user 150 lives only in the Jan-2 partition: one leaf scanned
    assert len(_leaf_of(got.inputFiles())) == 1
    # absent key: bloom prunes everything
    got2, _ = read_table(spark, path, where=[("user_id", "=", 9999)])
    assert got2.count() == 0
    assert len(_leaf_of(got2.inputFiles())) == 0


def test_boolean_probe_coercions(spark, tmp_path):
    root = str(tmp_path / "t")
    rows = [(1, True, 1, D1), (2, False, 1, D2)]
    df = spark.createDataFrame(
        rows, "user_id bigint, flag boolean, ts bigint, p date"
    )
    upsert_manifest_partitioned(
        df, root, ["user_id"], "ts", "p",
        stats_cols=["flag"], bloom_cols=["flag"],
    )
    for probe in (True, 1, "true", "TRUE"):
        got, _ = read_table(spark, root, where=[("flag", "=", probe)])
        assert [r["user_id"] for r in got.collect()] == [1], probe
        assert len(_leaf_of(got.inputFiles())) == 1
    with pytest.raises(ValueError, match="boolean predicate constant"):
        read_table(spark, root, where=[("flag", "=", "yes")])


def test_in_list_prunes_by_union_of_points(spark, tmp_path):
    """'in' keeps a leaf iff ANY listed key may match — the batch
    point-lookup (keyset probe) form of data skipping."""
    root = str(tmp_path / "t")
    _ranged(spark, root)
    df, _ = read_table(
        spark, root, where=[("user_id", "in", [5, 205])]
    )
    assert sorted(r["user_id"] for r in df.collect()) == [5, 205]
    assert len(_leaf_of(df.inputFiles())) == 2  # D1 + D3, D2 skipped
    # partition-column 'in' prunes off the manifest keys alone
    df2, _ = read_table(spark, root, where=[("p", "in", [D1, D3])])
    assert df2.count() == 20
    assert len(_leaf_of(df2.inputFiles())) == 2


def test_in_list_bloom_narrows_before_minmax(spark, tmp_path):
    root = str(tmp_path / "t")
    rows = [
        (i, f"n{i:03d}", 1, D1 if i % 2 == 0 else D2) for i in range(200)
    ] + [(1000, "n000", 1, D1), (1001, "n999", 1, D2)]
    df = spark.createDataFrame(
        rows, "user_id bigint, name string, ts bigint, p date"
    )
    upsert_manifest_partitioned(
        df, root, ["user_id"], "ts", "p", bloom_cols=["name"],
    )
    # both probes are odd -> only D2's leaf can hold them
    got, _ = read_table(
        spark, root, where=[("name", "in", ["n101", "n103"])]
    )
    assert sorted(r["user_id"] for r in got.collect()) == [101, 103]
    assert len(_leaf_of(got.inputFiles())) == 1
    # wholly absent keys: everything pruned
    got2, _ = read_table(
        spark, root, where=[("name", "in", ["zz_a", "zz_b"])]
    )
    assert got2.count() == 0
    assert len(_leaf_of(got2.inputFiles())) == 0


def test_in_list_validation(spark, tmp_path):
    root = str(tmp_path / "t")
    _ranged(spark, root)
    with pytest.raises(ValueError, match="list/tuple"):
        read_table(spark, root, where=[("user_id", "in", 5)])
    with pytest.raises(ValueError, match="empty"):
        read_table(spark, root, where=[("user_id", "in", [])])
    with pytest.raises(ValueError, match="None"):
        read_table(spark, root, where=[("user_id", "in", [1, None])])
    with pytest.raises(ValueError, match="list/tuple"):
        read_table(spark, root, where=[("name", "in", "abc")])


def test_commit_bloom_bitmaps_equal_python_side_encoding(spark, tmp_path):
    """The read-back aggregate's bitmaps (one collect_set per probe
    position, unioned per leaf) are exactly ``_bloom_encode`` of the
    Python-side positions of each leaf's non-NULL values. A NULL
    boolean must not set the "False" bits, and a leaf whose bloom
    column is all NULL records no bitmap for it."""
    from pyspark.sql.types import BooleanType, StringType

    from feature_store_spark.pipelines.txn import (
        _bloom_encode,
        _bloom_key,
        _bloom_positions,
        _pkey,
        latest_version,
        resolve_partitions,
    )

    rows = [
        (1, "a", True, 1, D1),
        (2, None, None, 1, D1),
        (3, "héllo", True, 1, D1),
        (4, None, None, 1, D2),  # every bloom value NULL in D2
        (5, "b", False, 1, D3),
        (6, "b", None, 1, D3),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, name string, flag boolean, ts bigint, p date"
    )
    root = str(tmp_path / "t")
    upsert_manifest_partitioned(
        df, root, ["user_id"], "ts", "p",
        stats_cols=["name"], bloom_cols=["name", "flag"],
    )
    leaves = resolve_partitions(root, latest_version(root))
    dtypes = {"name": StringType(), "flag": BooleanType()}
    for p in (D1, D2, D3):
        want = {}
        for col, i in (("name", 1), ("flag", 2)):
            vals = [r[i] for r in rows if r[4] == p and r[i] is not None]
            if vals:
                want[col] = _bloom_encode({
                    pos
                    for v in vals
                    for pos in _bloom_positions(_bloom_key(v, dtypes[col]))
                })
        entry = leaves[_pkey(p)]
        assert entry["bloom"] == want, p
        assert entry["rows"] == sum(r[4] == p for r in rows)
    assert leaves[_pkey(D2)]["stats"]["name"] == {
        "min": None, "max": None, "nulls": 1
    }
