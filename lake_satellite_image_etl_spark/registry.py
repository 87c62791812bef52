"""Query registry: the single source for the driver contract.

Every operator module registers its demonstration queries (and, when
SQL-expressible, the DuckDB oracle) with the ``@query`` decorator;
``__spark_entry__`` just re-exports the collected dicts. Keys are the
operator IDs from SURVEY.md §2.

The driver's correctness gate checks ``queries()`` in dict order and
stops after the first 50 entries, so ``load_all`` puts the generated
``_window.WINDOW`` first and the rest in registration order.
``python tools/rotation_audit.py --write`` recomputes the window from
the CORRECTNESS_r*.json rows and ``TOUCHED``.
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

from lake_satellite_image_etl_spark._window import WINDOW

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: modules that register queries on import
_MODULES = (
    "lake_satellite_image_etl_spark.plans.entry_queries",
    "lake_satellite_image_etl_spark.plans.ingest_entries",
    "lake_satellite_image_etl_spark.plans.pipeline",
    "lake_satellite_image_etl_spark.operators.filters",
    "lake_satellite_image_etl_spark.operators.joins",
    "lake_satellite_image_etl_spark.operators.aggregates",
    "lake_satellite_image_etl_spark.operators.topk",
    "lake_satellite_image_etl_spark.operators.setops",
    "lake_satellite_image_etl_spark.operators.incremental",
    "lake_satellite_image_etl_spark.operators.windows",
    "lake_satellite_image_etl_spark.operators.dedup",
    "lake_satellite_image_etl_spark.operators.corpus",
    "lake_satellite_image_etl_spark.operators.skew",
    "lake_satellite_image_etl_spark.operators.similarity",
    "lake_satellite_image_etl_spark.operators.geometry",
    "lake_satellite_image_etl_spark.operators.clipping",
    "lake_satellite_image_etl_spark.operators.sampling",
    "lake_satellite_image_etl_spark.operators.analytics",
    "lake_satellite_image_etl_spark.operators.profiling",
    "lake_satellite_image_etl_spark.operators.layout",
    "lake_satellite_image_etl_spark.operators.sketches",
    "lake_satellite_image_etl_spark.operators.graph",
    "lake_satellite_image_etl_spark.functions.scalars",
    "lake_satellite_image_etl_spark.functions.text",
    "lake_satellite_image_etl_spark.functions.vectors",
    "lake_satellite_image_etl_spark.multimodal.raster",
    "lake_satellite_image_etl_spark.multimodal.images",
    "lake_satellite_image_etl_spark.multimodal.audio",
    "lake_satellite_image_etl_spark.multimodal.video",
)


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


#: queries whose kernels changed since their last driver CORRECTNESS
#: row; the window puts them right after the SLA-due ones. Drop a name
#: once a driver row for it lands.
TOUCHED: tuple[str, ...] = ()


def register_all() -> None:
    for mod in _MODULES:
        import_module(mod)


def load_all() -> tuple[dict[str, QueryFn], dict[str, str]]:
    register_all()
    unknown = [n for n in WINDOW if n not in QUERIES]
    if unknown:
        raise RuntimeError(
            f"_window.WINDOW names unregistered queries {unknown}; "
            "run python tools/rotation_audit.py --write"
        )

    def ordered(d: dict) -> dict:
        return {**{n: d[n] for n in WINDOW if n in d}, **d}

    return ordered(QUERIES), ordered(ORACLES)
