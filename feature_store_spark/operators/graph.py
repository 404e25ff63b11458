"""Iterative graph analytics over edge DataFrames (SURVEY.md §2.12
extension family). First member: PageRank — the standard importance
measure a curation pipeline uses to pick central/authoritative
documents from a similarity graph (and the classic "iterative
algorithm on Spark" shape, complementing the label-propagation
connected components in ``llm/dedup.py::near_dup_clusters``).

Determinism contract (the same trick as ``llm/cluster.py``): float
PageRank is unreproducible across engines because double summation is
order-dependent under distributed partial aggregation — so ranks are
EXACT INTEGERS in units of ``2^-45`` of total mass. Per edge,
``rank // outdeg`` (integer floor-div; operands non-negative, so
Spark's truncating ``div`` and DuckDB's flooring ``//`` agree); per
node, an exact BIGINT sum and ``(85 * in_mass) // 100 +
(15 * base) // 100`` — every operation order-free or scalar. The
floor losses leak a vanishing fraction of mass (< n·iter ulps of the
scale) and are identical on both engines; dangling nodes' mass is
dropped, not redistributed (documented deviation from the textbook
formulation — at 100 TB the redistribution term is an extra global
aggregate per iteration for a constant that rarely changes ranking).

Scale shape per iteration: one shuffle join (edges ⋈ ranks on src —
co-partitionable across iterations since the key never changes), one
groupBy(dst) sum, one left join back to the node set. Lineage is cut
with ``localCheckpoint`` per round, the same discipline as
``near_dup_clusters``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from feature_store_spark.session import local_frame

PR_SCALE_BITS = 45
PR_SCALE = 1 << PR_SCALE_BITS


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 5,
    seeds: "Sequence | None" = None,
) -> DataFrame:
    """Exact fixed-point PageRank (damping 0.85, ``n_iter`` rounds)
    over a directed edge list. Returns (node, rank_q, rank) where
    ``rank_q`` is the integer fixed-point mass and ``rank`` its exact
    double form ``rank_q / 2^45`` — bit-identical across engines.
    Duplicate edges contribute multiply (pre-distinct upstream if
    unwanted); self-loops are legal.

    ``seeds`` switches to PERSONALIZED PageRank: initialization and
    the teleport term concentrate on the seed set (mass ``2^45 //
    len(seeds)`` per seed, zero elsewhere) — relevance propagates
    outward from trusted nodes, the seeded-expansion primitive
    curation pipelines use to grow a corpus from a vetted core.
    Seeds absent from the graph still receive their teleport mass
    (they are nodes with no edges); duplicates in ``seeds`` are an
    error."""
    if n_iter < 0:
        raise ValueError("n_iter must be >= 0")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    spark = edges.sparkSession
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    )
    seed_list: list | None = None
    if seeds is not None:
        seed_list = list(seeds)
        if not seed_list:
            raise ValueError("seeds must be non-empty when given")
        if len(set(seed_list)) != len(seed_list):
            raise ValueError("seeds contains duplicates")
        seed_field = StructField("node", e.schema["src"].dataType, False)
        seed_df = local_frame(
            spark, [(s,) for s in seed_list], StructType([seed_field])
        )
        nodes = nodes.union(seed_df.select("node"))
    nodes = nodes.distinct().localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("rank_q"),
            F.lit(0.0).alias("rank"),
        )
    if seed_list is None:
        base = PR_SCALE // n
        init = F.lit(base).cast("long")
        teleport_col = F.lit((15 * base) // 100).cast("long")
        withseed = nodes
    else:
        base = PR_SCALE // len(seed_list)
        withseed = nodes.join(
            F.broadcast(
                local_frame(
                    spark,
                    [(s, 1) for s in seed_list],
                    StructType(
                        [seed_field, StructField("__seed", LongType(), False)]
                    ),
                )
            ),
            "node",
            "left",
        ).localCheckpoint(eager=True)
        init = (
            F.when(F.col("__seed") == 1, F.lit(base))
            .otherwise(F.lit(0))
            .cast("long")
        )
        teleport_col = (
            F.when(F.col("__seed") == 1, F.lit((15 * base) // 100))
            .otherwise(F.lit(0))
            .cast("long")
        )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ed = e.join(outdeg, "src").localCheckpoint(eager=True)
    ranks = withseed.select("node", init.alias("r"))
    for _ in range(n_iter):
        agg = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select("dst", F.expr("r div outdeg").alias("__c"))
            .groupBy("dst")
            .agg(F.sum("__c").alias("__m"))
        )
        ranks = (
            withseed.join(agg, withseed["node"] == agg["dst"], "left")
            .select(
                "node",
                (
                    teleport_col
                    + F.expr("(85 * coalesce(__m, 0L)) div 100")
                )
                .cast("long")
                .alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        "node",
        F.col("r").alias("rank_q"),
        (F.col("r") / F.lit(float(PR_SCALE))).alias("rank"),
    )


def pagerank_oracle_sql(
    edges_sql: str,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 5,
) -> str:
    """DuckDB twin: the same fixed-point rounds unrolled as a CTE
    chain over ``edges_sql``'s (src, dst) output."""
    parts = [
        f"e0 AS ({edges_sql})",
        f"e AS (SELECT {src_col} AS src, {dst_col} AS dst FROM e0)",
        """nodes AS (
          SELECT src AS node FROM e UNION SELECT dst FROM e
        )""",
        f"""params AS (
          SELECT CAST({PR_SCALE} AS BIGINT) // count(*) AS base
          FROM nodes
        )""",
        """ed AS (
          SELECT e.src, e.dst, o.outdeg FROM e
          JOIN (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
                FROM e GROUP BY src) o USING (src)
        )""",
        "r0 AS (SELECT node, (SELECT base FROM params) AS r FROM nodes)",
    ]
    for t in range(n_iter):
        parts.append(f"""r{t + 1} AS (
          SELECT n.node,
                 (15 * (SELECT base FROM params)) // 100
                 + (85 * COALESCE(a.m, 0)) // 100 AS r
          FROM nodes n LEFT JOIN (
            SELECT ed.dst, sum(r{t}.r // ed.outdeg) AS m
            FROM ed JOIN r{t} ON ed.src = r{t}.node
            GROUP BY ed.dst
          ) a ON n.node = a.dst
        )""")
    ctes = ",\n".join(parts)
    return f"""
    WITH {ctes}
    SELECT node, CAST(r AS BIGINT) AS rank_q,
           CAST(r AS DOUBLE) / {float(PR_SCALE)!r} AS rank
    FROM r{n_iter}
    """
