"""Fixture table loading and temp-view registration.

The driver fixtures (TESTDATA.md) are one parquet file per table under
``/root/testdata/sf*/``. Queries in the suite address tables either via
the DataFrame handle (``t(spark, sf_dir, "events")``) or via temp views
(``load_views`` registers all of them so ``spark.sql`` text matches the
DuckDB oracle closely).

Scale note: these are plain ``spark.read.parquet`` scans — column
pruning and predicate pushdown reach the parquet reader untouched. At
100 TB the same code reads a directory of many files; nothing here
assumes single-file inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = [
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
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Remember which sf_dir's views are registered on a given session so
# repeated suite calls don't re-register (view registration is cheap but
# this also guards against accidentally mixing scale factors).
_registered: dict[int, str] = {}

# Sessions already switched to nanos-as-long parquet reads (keyed by
# id(spark) to avoid one py4j round-trip per table load).
_nanos_ready: set[int] = set()

# Inferred schema of each fixture file, keyed by (path, st_mtime_ns,
# st_size). Spark infers a parquet schema with a distributed footer job
# on every spark.read.parquet(path); a load with the schema given runs
# none (16 of the 74 jobs of one headline pass were such inferences). A
# rewritten file has a new key and is inferred again.
_schemas: dict[tuple[str, int, int], StructType] = {}


def ensure_nanos_conf(spark: SparkSession) -> None:
    """Make ``spark`` able to read TIMESTAMP(NANOS) parquet.

    ``events.parquet`` stores its ``ts`` column as INT64
    TIMESTAMP(NANOS), which Spark rejects at read time unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is set. The suite must run
    on *any* session — in particular the driver's, which does not come
    from :func:`s2_spark.session.get_spark` — so set the conf here; it
    is a runtime-settable SQL conf.
    """
    key = id(spark)
    if key in _nanos_ready:
        return
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _nanos_ready.add(key)


def _read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the file's schema only the
    first time this process loads that version of the file. A path the
    local file system cannot stat (a remote URI, a missing file) is read
    as given and not cached."""
    ensure_nanos_conf(spark)
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = (path, st.st_mtime_ns, st.st_size)
    schema = _schemas.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _schemas[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame.

    ``events.ts`` has shipped in two parquet encodings across fixture
    generations: INT64 TIMESTAMP(NANOS) (read as i64 nanoseconds under
    ``legacy.parquet.nanosAsLong`` — normalized here to TimestampType
    at microsecond floor, matching DuckDB's ns→ms flooring in
    ``epoch_ms``) and plain TIMESTAMP(MICROS) (read natively as
    TIMESTAMP_NTZ — passed through). Callers branch on the actual
    dtype, never on an assumed encoding.
    """
    df = _read(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def t_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a fixture table without the ts normalization — for queries
    that range-filter on time and want the predicate pushed down to the
    parquet scan (a filter on the raw i64 ns column prunes row groups;
    one on ``timestamp_micros(...)`` cannot)."""
    return _read(spark, os.path.join(sf_dir, f"{name}.parquet"))


def load_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view named after itself."""
    key = id(spark)
    if _registered.get(key) == sf_dir:
        return
    ensure_nanos_conf(spark)
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            _read(spark, path).createOrReplaceTempView(name)
    _registered[key] = sf_dir
