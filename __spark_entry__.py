"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The real implementations live in ``etl_pipeline_spark.queries`` (each
query is built from the engine's operators; each oracle is independent
ANSI SQL).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_DIR)

from etl_pipeline_spark.queries import ORACLE_SQL, QUERIES  # noqa: E402

_SHIPPED: set[str] = set()

# Runtime-settable SQL confs the engine requires of ANY session that runs
# its queries (mirrors session.py). The critical one: INT96 parquet
# timestamps (Spark's default outputTimestampType) carry NO footer min/max
# statistics, which silently disables every timestamp-stats-dependent
# surface (expire_rows footer classification, read_range/z-order file
# pruning). TIMESTAMP_MICROS restores footer stats; values are unchanged.
# session.py's generated-code cache size is a static conf and cannot be
# set here: a caller's session keeps Spark's default (a speed, not a
# correctness, difference).
_REQUIRED_SQL_CONF = {
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def _ensure_pyfiles(spark: SparkSession) -> None:
    """Ship the package to executor Python workers (the programmatic
    ``spark-submit --py-files`` pattern). Needed when the driver process
    was launched outside the repo dir: driver-side sys.path doesn't reach
    the pyspark worker daemons, so UDF closures pickled by reference
    (mapInPandas et al.) can't re-import the package without this.

    Also applies the engine's required runtime SQL confs to the caller's
    session — the driver builds its own SparkSession, which otherwise
    writes stat-less INT96 parquet timestamps (see _REQUIRED_SQL_CONF)."""
    for key, val in _REQUIRED_SQL_CONF.items():
        spark.conf.set(key, val)
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    import shutil
    import tempfile

    staging = tempfile.mkdtemp(prefix="etl_pipeline_spark_pyfiles_")
    zip_path = shutil.make_archive(
        os.path.join(staging, "etl_pipeline_spark"),
        "zip",
        root_dir=_REPO_DIR,
        base_dir="etl_pipeline_spark",
    )
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(app_id)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full CDC engine replay (changelog → validate → clean →
    LWW → bucket-pruned MERGE into a snapshot-committed lake table →
    read-back) on the sf0.001 events table."""
    _ensure_pyfiles(spark)
    return QUERIES["cdc_engine_replay"](spark, "/root/testdata/sf0.001")


def _wrap(fn: Callable[[SparkSession, str], DataFrame]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_pyfiles(spark)
        return fn(spark, sf_dir)

    run.__name__ = getattr(fn, "__name__", "query")
    run.__doc__ = fn.__doc__
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE_SQL)
