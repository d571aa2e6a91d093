"""Fixture-table catalog.

Loads the driver-generated parquet tables (see /root/repo/TESTDATA.md) and
registers them as temp views. At 100 TB these reads stay efficient because
every downstream operator selects explicit columns (parquet column pruning)
and filters early (predicate pushdown) — verified in tests via
`explain()` containing PushedFilters/ReadSchema.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SHIPPED_APP: str | None = None  # applicationId the zip was last added to
_ZIP_PATH: str | None = None
# Guards _SHIPPED_APP/_ZIP_PATH and _VIEWS_REGISTERED: bench.py submits
# queries from concurrent threads, so an unlocked check-then-insert could
# ship twice or race a sweep ("dict changed size during iteration").
_LOCK = threading.Lock()


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to Spark's Python workers via addPyFile.

    The driver harness imports `__spark_entry__` from an arbitrary cwd; the
    python workers it forks do NOT inherit the driver's sys.path insert, so
    any mapInPandas kernel referencing package code would fail with
    ModuleNotFoundError. The package is zipped once per process (into a
    fresh mkdtemp — pid-based names collide across pid reuse, and Spark
    rejects an addPyFile whose basename was seen with different contents)
    and added per session. Lock-guarded: bench submits queries from
    concurrent threads."""
    global _SHIPPED_APP, _ZIP_PATH
    with _LOCK:
        sid = spark.sparkContext.applicationId
        if sid == _SHIPPED_APP:
            return
        if _ZIP_PATH is None:
            import shutil
            import tempfile

            import ai_knowledge_etl_spark as pkg

            pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
            staging = tempfile.mkdtemp(prefix="ai_knowledge_etl_spark_ship_")
            _ZIP_PATH = shutil.make_archive(
                os.path.join(staging, "ai_knowledge_etl_spark_pkg"),
                "zip",
                os.path.dirname(pkg_dir),
                "ai_knowledge_etl_spark",
            )
        spark.sparkContext.addPyFile(_ZIP_PATH)
        _SHIPPED_APP = sid


# The ten fixture tables' schemas, exactly as their parquet footers give
# them (FIXTURES.md). load_table reads with these instead of inferring, so a
# load starts no Spark job; tests/test_catalog.py checks them against the
# footers of every fixture dir.
SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT,"
    " c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT,"
    " s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING,"
    " p_size INT, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,"
    " o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT,"
    " l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE,"
    " l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING,"
    " l_linestatus STRING, l_shipdate TIMESTAMP_NTZ",
    "events": "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT,"
    " event_type STRING, value DOUBLE, props STRING",
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING,"
    " n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}
TABLES = tuple(SCHEMAS)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_package_on_workers(spark)
    df = spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # Repo-wide parity convention: Spark `ts` is a BIGINT nanosecond
        # epoch == DuckDB `epoch_ns(ts)`. timestampdiff over two NTZ operands
        # ignores the session timezone; unix_micros(cast(ntz as ltz)) would not.
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"
            ),
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


_VIEWS_REGISTERED: dict[tuple[SparkSession, str], dict[str, DataFrame]] = {}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (for spark.sql
    queries). Idempotent per (session, sf_dir) and cached: even with the
    pinned SCHEMAS, re-resolving the ten views costs 0.14-0.27 s per call
    (median of 7 warm calls, 4 vCPU, sf0.001 and sf0.1; 0.78-0.98 s when
    each load inferred its schema), against ~1 ms for the tableExists
    check. The key is the session object itself: not applicationId
    (newSession() shares it, so a sibling session that never registered
    anything would short-circuit) and not id(spark) (CPython reuses ids
    after GC). Entries whose SparkContext has stopped are swept on every
    call. A different sf_dir in the same session re-points the views (last
    writer wins), and a dropped or overwritten sentinel view defeats the
    short-circuit via the tableExists check."""
    key = (spark, os.path.abspath(sf_dir))
    with _LOCK:
        for k in list(_VIEWS_REGISTERED):
            try:
                dead = k[0].sparkContext._jsc is None
            except Exception:
                dead = True
            if dead:
                _VIEWS_REGISTERED.pop(k, None)
                if getattr(register_views, "_last", None) == k:
                    register_views._last = None
        last = getattr(register_views, "_last", None)
        cached = _VIEWS_REGISTERED.get(key)
    if cached is not None and last == key and spark.catalog.tableExists(
        "lineitem"
    ):
        return cached
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    with _LOCK:
        _VIEWS_REGISTERED[key] = dfs
        register_views._last = key  # the views currently pointed at
    return dfs
