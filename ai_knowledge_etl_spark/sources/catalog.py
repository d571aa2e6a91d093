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


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_package_on_workers(spark)
    if name == "events":
        # Fixture generations have stored events.ts as parquet
        # TIMESTAMP(NANOS) (rejected by the vectorized reader unless read
        # as int64) or TIMESTAMP(MICROS). Normalize both to the repo-wide
        # parity convention: Spark `ts` is a BIGINT nanosecond epoch ==
        # DuckDB `epoch_ns(ts)`. Session timezone is UTC, so NTZ→LTZ cast
        # preserves the wall-clock instant.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts", "")
        if ts_type == "timestamp_ntz":
            # timestampdiff over two NTZ operands is timezone-independent,
            # unlike unix_micros(cast(ntz as ltz)) which would shift by the
            # (caller-controlled) session timezone.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"
                ),
            )
        elif ts_type == "timestamp":
            df = df.withColumn("ts", F.unix_micros(F.col("ts")) * 1000)
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


_VIEWS_REGISTERED: dict[tuple[SparkSession, str], dict[str, DataFrame]] = {}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (for spark.sql
    queries). Idempotent per (session, sf_dir) and CACHED: re-resolving
    ten parquet schemas costs ~1 s per call (measured round-8 — it was
    the larger half of every pure-SQL registry query's wall), and the
    views are deterministic functions of the fixture dir. The key is the
    SESSION OBJECT itself, not applicationId (r8 ADVICE: temp views are
    per-SparkSession, and spark.newSession() shares the applicationId —
    an app-keyed cache would short-circuit for a sibling session that
    never registered anything) and not id(spark) (r9 ADVICE: CPython
    reuses ids after GC, so an id key is only safe while the entry pins
    the session — keying by the object gives identity semantics with no
    reuse hazard, and the pinning becomes explicit). Entries whose
    SparkContext has been stopped are swept on every call, so stopped
    sessions don't accumulate (the id-keyed version could never evict).
    A DIFFERENT sf_dir in the same session re-points the views (last
    writer wins, matching createOrReplaceTempView semantics), and a
    dropped/overwritten sentinel view defeats the short-circuit via the
    tableExists check (~1 ms, vs ~1 s for the full re-resolve)."""
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
