"""Canonical row representation + checksum kernel.

This is the semantic heart of the compare engine.  The reference
normalizes every value to a canonical string before hashing so that
heterogeneous engines produce comparable checksums (reference:
database/oracle/data_compare.go:482-652 GetDatabaseTableCompareCrc —
decimal normalization at :544-549, NULL/'' handling at :538-540,
LOB-to-string at :532-566; separator + NULL literal constants in
utils/constant/compare.go; MD5 hex slice-sum in
database/processor/data_compare_seek.go:90-167).

Canonical forms (per Spark type):

- NULL            -> literal string ``NULL`` (any type)
- integers        -> decimal string, no padding
- float/double    -> round-half-up to scale 10, trailing zeros trimmed;
                     |x| in [1e28, 1e38) -> integer decimal string;
                     |x| >= 1e38 -> normalized shortest repr ('1.5E300');
                     NaN/Infinity/-Infinity -> those fixed literals
- decimal(p,s)    -> exact string, trailing zeros trimmed (1.10 -> 1.1)
- string          -> identity (``oracle_empty_is_null=True`` maps '' -> NULL,
                     mirroring Oracle semantics)
- date            -> ``yyyy-MM-dd``
- timestamp       -> ``yyyy-MM-dd HH:mm:ss.SSSSSS`` (microseconds, UTC)
- boolean         -> ``true`` / ``false``
- binary          -> lowercase hex

Every expression is emitted TWICE from one spec: as a PySpark Column
(JVM-side, whole-stage-codegen'd — no Python UDFs anywhere) and as a
DuckDB SQL string, so the differential-test oracle is correct by
construction.

Checksum: per-row ``md5(concat_ws(SEP, canon(cols)))``; per-group
checksum = the 4 independent sums of the 8-hex-digit slices of the MD5
(a commutative, order-independent aggregate — same trick as the
reference's SUM over hex slices).  Sums are DECIMAL(38,0): at 100 TB a
slice sum can exceed 2^63 (n_rows * 2^32), so Long would overflow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Field separator inside the canonical row string.  Chosen to be
#: unlikely in data; the reference uses a constant separator the same way.
SEP = "|#|"
NULL_LITERAL = "NULL"

#: single-pass trailing-zero trim: "1.5000"->"1.5", "100.0000"->"100",
#: integers untouched.  One regex (not trim-zeros + trim-dot chained)
#: because this runs per numeric column per row in every checksum.
_TRIM_RE = r"(\.\d*[1-9])0+$|\.0*$"


# ---------------------------------------------------------------------------
# Spark-side canonicalization (Column expressions)
# ---------------------------------------------------------------------------

def canon_column(col: Column, dtype: T.DataType, oracle_empty_is_null: bool = False) -> Column:
    """Canonical string form of one column (NULL stays NULL here;
    null-to-'NULL' substitution happens in :func:`canonical_row`)."""
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        out = col.cast("string")
    elif isinstance(dtype, (T.FloatType, T.DoubleType)):
        # Tiered: scale-10 decimal (|x| < 1e28), integer decimal
        # (< 1e38), then normalized engine repr.  try_cast nulls on
        # overflow instead of throwing under ANSI mode; NaN/±Inf get
        # fixed literals (a plain decimal cast would throw on them).
        # scale-10 strings always contain '.', so the cheap rtrim trim
        # applies; the scale-0 cast is an integer string — nothing to trim.
        # The DECIMAL(18,10) tier is a pure FAST PATH: precision <= 18
        # stays on Spark's Long-backed Decimal (Decimal128 above that —
        # ~3x the checksum CPU, measured); for |x| < 1e8 its trimmed
        # string is identical to the (38,10) form, and overflow nulls
        # fall through to the wide tier.
        dec10_fast = _trim_zeros_dot_spark(col.try_cast(T.DecimalType(18, 10)).cast("string"))
        dec10 = _trim_zeros_dot_spark(col.try_cast(T.DecimalType(38, 10)).cast("string"))
        dec0 = col.try_cast(T.DecimalType(38, 0)).cast("string")
        out = (
            F.when(F.isnan(col), F.lit("NaN"))
            .when(col == F.lit(float("inf")), F.lit("Infinity"))
            .when(col == F.lit(float("-inf")), F.lit("-Infinity"))
            .otherwise(F.coalesce(dec10_fast, dec10, dec0, _norm_repr_spark(col.cast("string"))))
        )
    elif isinstance(dtype, T.DecimalType):
        # scale 0 -> integer string, no fraction to trim; scale > 0 ->
        # the string always contains '.', so two rtrims replace the
        # per-value regexp (the checksum hot path's dominant cost)
        s = col.cast("string")
        out = s if dtype.scale == 0 else _trim_zeros_dot_spark(s)
    elif isinstance(dtype, T.StringType):
        out = F.when(col == "", F.lit(None).cast("string")).otherwise(col) if oracle_empty_is_null else col
    elif isinstance(dtype, T.DateType):
        out = F.date_format(col, "yyyy-MM-dd")
    elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        out = F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    elif isinstance(dtype, T.BooleanType):
        out = col.cast("string")
    elif isinstance(dtype, T.BinaryType):
        out = F.lower(F.hex(col))
    else:
        # arrays/maps/structs are outside the reference's flat-row model;
        # to_json gives a stable form if a caller insists.
        out = F.to_json(col)
    return out


def _trim_zeros_dot_spark(s: Column) -> Column:
    """Trailing-zero trim for strings KNOWN to contain a decimal point
    (any DECIMAL(p, s>0) cast): two rtrims, no regexp — equivalent to
    :data:`_TRIM_RE` on that domain and far cheaper per value."""
    return F.rtrim(F.rtrim(s, F.lit("0")), F.lit("."))


def _norm_repr_spark(s: Column) -> Column:
    """Normalize a shortest-round-trip double repr across engines
    (|x| >= 1e38 fallback only): uppercase exponent marker, no '+'
    sign, mantissa always carries a decimal point ('1.5E300')."""
    s = F.replace(F.upper(s), F.lit("E+"), F.lit("E"))
    return F.regexp_replace(s, r"^(-?\d+)E", r"$1.0E")


def canonical_row(df: DataFrame, cols: list[str] | None = None,
                  oracle_empty_is_null: bool = False) -> Column:
    """Canonical string of a whole row over ``cols`` (default: all
    columns, schema order).  NULL -> 'NULL' so concat_ws cannot drop
    fields."""
    cols = cols or df.columns
    fields = {f.name: f.dataType for f in df.schema.fields}
    parts = [
        F.coalesce(canon_column(F.col(c), fields[c], oracle_empty_is_null), F.lit(NULL_LITERAL))
        for c in cols
    ]
    return F.concat_ws(SEP, *parts)


def canonical_row_length(df: DataFrame, cols: list[str] | None = None,
                         oracle_empty_is_null: bool = False) -> Column:
    """``length(canonical_row(...))`` computed arithmetically — the sum
    of per-field canonical lengths plus separators — without
    materializing the concatenated string.  Exact equality holds
    because canonical fields are never NULL (NULL -> 'NULL'), so
    concat_ws drops nothing.  Used by row-length assessments where
    only the length is needed: the per-row concat allocation is the
    avoidable cost, the per-field canonicalization is not."""
    cols = cols or df.columns
    fields = {f.name: f.dataType for f in df.schema.fields}
    total: Column = F.lit(len(SEP) * (len(cols) - 1)).cast("bigint")
    for c in cols:
        canon = canon_column(F.col(c), fields[c], oracle_empty_is_null)
        total = total + F.coalesce(F.length(canon).cast("bigint"),
                                   F.lit(len(NULL_LITERAL)).cast("bigint"))
    return total


def row_md5(df: DataFrame, cols: list[str] | None = None,
            oracle_empty_is_null: bool = False) -> Column:
    return F.md5(canonical_row(df, cols, oracle_empty_is_null))


def md5_slice_sum_aggs(md5_col: Column | str = "row_md5") -> list[Column]:
    """The 4 commutative slice-sum aggregates over an MD5 hex column.

    Mirrors the reference's checksum drill-down math (MD5 hex split into
    4x8-hex ints, summed — database/processor/data_compare_seek.go:90-138)
    but as a Spark aggregate: DECIMAL(38,0) sums, overflow-safe at scale.
    Aliases ``h0..h3``.
    """
    c = F.col(md5_col) if isinstance(md5_col, str) else md5_col
    return [
        F.sum(F.conv(F.substring(c, 1 + 8 * i, 8), 16, 10).cast(T.DecimalType(38, 0))).alias(f"h{i}")
        for i in range(4)
    ]


def md5_slice_cols(md5_expr: Column) -> list[Column]:
    """Slice values as projection columns ``s0..s3`` (hex-parsed,
    DECIMAL(38,0)).  Materializing slices in one Project and summing
    plain columns beats putting conv() inside the aggregate
    expressions — codegen CSE dedupes the md5 within the projection,
    and the aggregate sums cheap columns (~20% on the sf0.1 checksum)."""
    return [
        F.conv(F.substring(md5_expr, 1 + 8 * i, 8), 16, 10)
        .cast(T.DecimalType(38, 0)).alias(f"s{i}")
        for i in range(4)
    ]


def _slice_sums() -> list[Column]:
    return [F.sum(f"s{i}").alias(f"h{i}") for i in range(4)]


def table_checksum(df: DataFrame, cols: list[str] | None = None,
                   oracle_empty_is_null: bool = False) -> DataFrame:
    """One-row DataFrame: (cnt, h0..h3) — order-independent table checksum.

    Distributed: md5 is computed map-side per row inside codegen, the 4
    sums partial-aggregate before the single-row shuffle, so the full
    table never moves.  The parallelism guard defends against
    single-row-group inputs that would serialize the hash work.
    """
    from dbms_spark.plans.parallelism import ensure_parallelism

    src = ensure_parallelism(df)
    # md5 as its own column before slicing (round 11): codegen CSE
    # recovers most of the 4x tree duplication but not all (A/B:
    # 1.33 -> 1.22 s on the sf0.1 lineitem checksum) — see
    # operators/compare.py chunked_checksum for the same shape.
    return (
        src.select(row_md5(src, cols, oracle_empty_is_null).alias("__md5"))
        .select(*md5_slice_cols(F.col("__md5")))
        .agg(F.count(F.lit(1)).alias("cnt"), *_slice_sums())
    )


# ---------------------------------------------------------------------------
# True CRC32 path (reference's default MySQL/PG checksum:
# SUM(CRC32(CONCAT_WS(sep, canonical cols))),
# database/processor/data_compare_row.go:1554-1577).  Spark's F.crc32 is
# CRC-32/ISO-HDLC — the same polynomial as MySQL's CRC32() and Python's
# binascii.crc32, so golden tests pin the exact reference semantics.
# DuckDB has no crc32, so the differential oracle stays on the md5
# slice-sum path; this path is golden-unit-tested instead.
# ---------------------------------------------------------------------------

def row_crc32(df: DataFrame, cols: list[str] | None = None,
              oracle_empty_is_null: bool = False) -> Column:
    """Per-row CRC32 of the canonical row string (utf-8 bytes)."""
    return F.crc32(F.encode(canonical_row(df, cols, oracle_empty_is_null), "UTF-8"))


def crc32_sum_agg(crc_col: Column | str = "row_crc") -> Column:
    """The commutative SUM(CRC32) aggregate.  DECIMAL(38,0): at 100 TB
    a sum of 2^32-bounded values over >2^31 rows exceeds BIGINT."""
    c = F.col(crc_col) if isinstance(crc_col, str) else crc_col
    return F.sum(c.cast(T.DecimalType(38, 0))).alias("crc_sum")


# ---------------------------------------------------------------------------
# DuckDB-side canonicalization (SQL text) — mirrors the Spark emission
# ---------------------------------------------------------------------------

def canon_sql(col: str, dtype: T.DataType, oracle_empty_is_null: bool = False) -> str:
    """DuckDB SQL expression equivalent to :func:`canon_column`."""
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return f"CAST({col} AS VARCHAR)"
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        # route through VARCHAR: both engines emit the shortest
        # round-trip decimal repr, so the decimal cast sees the same
        # value.  DuckDB's direct double->decimal goes through float
        # multiplication and diverges from Spark (which casts via the
        # shortest string) in ~6% of full-precision doubles.
        # Tiered like the Spark emission: TRY_CAST nulls on overflow,
        # NaN/±Inf get fixed literals, >=1e38 falls back to the
        # normalized shortest repr.
        dec10 = _trim_zeros_dot_sql(
            f"CAST(TRY_CAST(CAST({col} AS VARCHAR) AS DECIMAL(38,10)) AS VARCHAR)"
        )
        # the < 1e38 guard matters: DuckDB's DECIMAL(38,0) is int128-
        # backed and accepts 39-digit values that Spark's try_cast
        # (true 38-digit precision) rejects
        dec0 = (
            f"(CASE WHEN abs({col}) < 1e38 THEN "
            f"CAST(TRY_CAST(CAST({col} AS VARCHAR) AS DECIMAL(38,0)) AS VARCHAR)"
            " END)"
        )
        fallback = _norm_repr_sql(f"CAST({col} AS VARCHAR)")
        return (
            f"(CASE WHEN isnan({col}) THEN 'NaN' "
            f"WHEN {col} = 'infinity'::DOUBLE THEN 'Infinity' "
            f"WHEN {col} = '-infinity'::DOUBLE THEN '-Infinity' "
            f"ELSE COALESCE({dec10}, {dec0}, {fallback}) END)"
        )
    if isinstance(dtype, T.DecimalType):
        s = f"CAST({col} AS VARCHAR)"
        return s if dtype.scale == 0 else _trim_zeros_dot_sql(s)
    if isinstance(dtype, T.StringType):
        if oracle_empty_is_null:
            return f"(CASE WHEN {col} = '' THEN NULL ELSE {col} END)"
        return col
    if isinstance(dtype, T.DateType):
        return f"strftime({col}, '%Y-%m-%d')"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        # CAST handles TIMESTAMP_NS parquet columns (truncates ns -> us,
        # matching the Spark-side load_table truncation); no-op for us/ms
        return f"strftime(CAST({col} AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f')"
    if isinstance(dtype, T.BooleanType):
        return f"CAST({col} AS VARCHAR)"
    if isinstance(dtype, T.BinaryType):
        return f"lower(hex({col}))"
    raise ValueError(f"no canonical SQL form for {dtype}")


def _trim_zeros_dot_sql(s: str) -> str:
    """DuckDB twin of :func:`_trim_zeros_dot_spark` (input must
    contain a decimal point)."""
    return f"rtrim(rtrim({s}, '0'), '.')"


def _norm_repr_sql(s: str) -> str:
    """DuckDB twin of :func:`_norm_repr_spark`."""
    return (
        r"regexp_replace(replace(upper(" + s + r"), 'E+', 'E'), "
        r"'^(-?\d+)E', '\1.0E')"
    )


def canonical_row_sql(df: DataFrame, cols: list[str] | None = None,
                      oracle_empty_is_null: bool = False) -> str:
    cols = cols or df.columns
    fields = {f.name: f.dataType for f in df.schema.fields}
    parts = [
        f"COALESCE({canon_sql(c, fields[c], oracle_empty_is_null)}, '{NULL_LITERAL}')"
        for c in cols
    ]
    return "concat_ws('" + SEP + "', " + ", ".join(parts) + ")"


def row_md5_sql(df: DataFrame, cols: list[str] | None = None,
                oracle_empty_is_null: bool = False) -> str:
    return f"md5({canonical_row_sql(df, cols, oracle_empty_is_null)})"


def md5_slice_sum_sql(md5_expr: str = "row_md5") -> list[str]:
    """DuckDB equivalents of :func:`md5_slice_sum_aggs` (aliases h0..h3)."""
    return [
        f"CAST(SUM(('0x' || substr({md5_expr}, {1 + 8 * i}, 8))::BIGINT) AS DECIMAL(38,0)) AS h{i}"
        for i in range(4)
    ]


# ---------------------------------------------------------------------------
# Arrow-schema entry points (for contexts without a SparkSession, e.g.
# generating oracle SQL text from a parquet footer)
# ---------------------------------------------------------------------------

def arrow_to_spark_type(at) -> T.DataType:
    import pyarrow as pa

    if pa.types.is_int8(at):
        return T.ByteType()
    if pa.types.is_int16(at):
        return T.ShortType()
    if pa.types.is_int32(at):
        return T.IntegerType()
    if pa.types.is_int64(at):
        return T.LongType()
    if pa.types.is_float32(at):
        return T.FloatType()
    if pa.types.is_float64(at):
        return T.DoubleType()
    if pa.types.is_decimal(at):
        return T.DecimalType(at.precision, at.scale)
    if pa.types.is_string(at) or pa.types.is_large_string(at):
        return T.StringType()
    if pa.types.is_date(at):
        return T.DateType()
    if pa.types.is_timestamp(at):
        return T.TimestampNTZType()
    if pa.types.is_boolean(at):
        return T.BooleanType()
    if pa.types.is_binary(at) or pa.types.is_large_binary(at):
        return T.BinaryType()
    raise ValueError(f"unsupported arrow type {at}")


def parquet_field_types(path: str) -> dict[str, T.DataType]:
    import pyarrow.parquet as pq

    return {f.name: arrow_to_spark_type(f.type) for f in pq.read_schema(path)
            if not str(f.type).startswith("list")}


def canonical_row_sql_from_types(fields: dict[str, T.DataType], cols: list[str] | None = None,
                                 oracle_empty_is_null: bool = False) -> str:
    cols = cols or list(fields)
    parts = [
        f"COALESCE({canon_sql(c, fields[c], oracle_empty_is_null)}, '{NULL_LITERAL}')"
        for c in cols
    ]
    return "concat_ws('" + SEP + "', " + ", ".join(parts) + ")"
