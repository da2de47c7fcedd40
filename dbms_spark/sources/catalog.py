"""Parquet-backed table catalog.

The reference discovers schemas dynamically from RDBMS dictionaries
(reference: database/oracle/struct_migrate.go, 1479 LoC of catalog
queries) and freezes them per task.  For the self-contained engine the
catalog is a directory of parquet tables; schema discovery is free via
the parquet footer and column pruning / predicate pushdown reach the
scan natively.
"""

from __future__ import annotations

import fnmatch
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

TABLES = [
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


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _footer_schema(path: str) -> tuple[StructType, list[str]]:
    """(Spark schema, columns stored as parquet TIMESTAMP(NANOS)) from
    the parquet footer, read driver-side — no Spark job.  The schema
    is the one ``spark.read.parquet`` infers: every field nullable, a
    timezone-naive timestamp as TIMESTAMP_NTZ, and a NANOS timestamp
    (which Spark refuses by default, PARQUET_TYPE_ILLEGAL) as the
    BIGINT it reads under ``nanosAsLong``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    fields, ns_cols = [], []
    for f in pq.read_schema(path):
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            ns_cols.append(f.name)
            dtype = LongType()
        else:
            dtype = from_arrow_type(f.type, prefer_timestamp_ntz=True)
        fields.append(StructField(f.name, dtype, True))
    return StructType(fields), ns_cols


#: METADATA memos (round 10, guide §1/§6: schema inference is pure
#: per-call overhead).  ``spark.read.parquet(p)`` re-reads footers and
#: re-infers the schema on EVERY call (~90 ms on this box vs ~16 ms
#: with an explicit schema), and the bench bills query construction to
#: every timed run — across ~500 load_table calls per registry pass
#: that inference is a material fixed cost.  The memo caches only
#: METADATA (schema + ns-column list, keyed by path/mtime/size so a
#: rewritten file invalidates) and the constructed DataFrame *plan*
#: (keyed additionally by Spark application id so plans never leak
#: across sessions).  Execution always re-reads the parquet bytes —
#: nothing about results is cached.
_META_MEMO: dict[tuple, tuple] = {}
_DF_MEMO: dict[tuple, DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table; nanosecond timestamps are read via the
    legacy long path and truncated to microseconds (Spark's native
    precision — matches DuckDB's ns->us cast truncation)."""
    from pyspark.sql import functions as F

    p = table_path(sf_dir, name)
    st = os.stat(p)
    fkey = (p, st.st_mtime_ns, st.st_size)
    dkey = (spark.sparkContext.applicationId, *fkey)
    df = _DF_MEMO.get(dkey)
    if df is not None:
        return df
    meta = _META_MEMO.get(fkey)
    if meta is None:
        meta = _META_MEMO[fkey] = _footer_schema(p)
    schema, ns_cols = meta
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(schema).parquet(p)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    _DF_MEMO[dkey] = df
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register every corpus table as a temp view (mirrors the DuckDB
    oracle's pre-registered views so SQL text can be shared)."""
    for name in tables or TABLES:
        if os.path.exists(table_path(sf_dir, name)):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def filter_tables(names: list[str], include: list[str] | None, exclude: list[str] | None) -> list[str]:
    """Glob include/exclude table filter.

    Capability parity with the reference's table filter
    (reference: utils/filter/filter.go:25-40 Parse/MatchTable) — driver-side
    metadata work, so plain fnmatch is the right tool (no Spark job).
    """
    out = names
    if include:
        out = [n for n in out if any(fnmatch.fnmatch(n, pat) for pat in include)]
    if exclude:
        out = [n for n in out if not any(fnmatch.fnmatch(n, pat) for pat in exclude)]
    return out
