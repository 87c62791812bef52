"""Sorts / limits / top-k (SURVEY.md §2.6).

Global top-k never sorts globally: orderBy+limit compiles to
TakeOrderedAndProject (per-partition heap + driver merge of k rows).
Per-group top-k is one window over one shuffle on the group key
(``topk_per_key``, shared by every per-key cut in the engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lake_satellite_image_etl_spark.io import read_table
from lake_satellite_image_etl_spark.registry import query


def topk_per_key(df: DataFrame, key, score: str, tie: str, k: int) -> DataFrame:
    """The ``k`` best rows per ``key`` (a column name or a list of
    them): ``score`` descending, ties to the lower ``tie``, numbered
    1..k in column ``rank``. Groups with fewer than k rows keep all
    of them. One window over one shuffle on the key."""
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(F.desc(score), F.asc(tie))
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


@query(
    "topk_global",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: ORDER BY … DESC LIMIT k (main.py:483-484). Secondary key
    makes the cut deterministic."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (
        PARTITION BY o_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC
    ) <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT per-group top-k (k most recent images per water body analog):
    window row_number ≤ k — single shuffle on the group key; skewed
    groups split by AQE."""
    o = read_table(spark, sf_dir, "orders")
    return topk_per_key(o, "o_custkey", "o_totalprice", "o_orderkey", 3).select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
