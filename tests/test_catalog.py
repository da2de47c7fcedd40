"""Catalog loading — especially the nanosecond-timestamp path that
Spark 4 refuses natively (events.parquet is timestamp[ns])."""

from pyspark.sql import types as T

from dbms_spark.functions import canonical as C
from dbms_spark.sources.catalog import filter_tables, load_table


def test_events_timestamp_loads(spark, sf_dir):
    """events.ts must load as a (µs-precision) timestamp regardless of
    how the corpus stores it: timestamp[ns] (legacy-long + truncate
    path) or timestamp[us] naive (read natively, as NTZ)."""
    df = load_table(spark, sf_dir, "events")
    ts_type = dict((f.name, f.dataType) for f in df.schema.fields)["ts"]
    assert isinstance(ts_type, (T.TimestampType, T.TimestampNTZType))
    assert df.count() > 0


def test_events_ns_truncation_matches_duckdb(spark, sf_dir, duck):
    """ns→µs truncation must equal DuckDB's TIMESTAMP_NS→TIMESTAMP cast,
    else every canonical checksum over events diverges."""
    df = load_table(spark, sf_dir, "events")
    spark_out = C.table_checksum(df, ["event_id", "ts"]).collect()[0]
    md5_sql = C.row_md5_sql(df.select("event_id", "ts"))
    slices = ", ".join(C.md5_slice_sum_sql("row_md5"))
    duck_out = duck.sql(
        f"SELECT COUNT(*) AS cnt, {slices} FROM "
        f"(SELECT md5(concat_ws('{C.SEP}', COALESCE(CAST(event_id AS VARCHAR), 'NULL'), "
        f"COALESCE(strftime(ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S.%f'), 'NULL'))) AS row_md5 FROM events)"
    ).fetchall()[0]
    assert spark_out["cnt"] == duck_out[0]
    for i in range(4):
        assert spark_out[f"h{i}"] == duck_out[i + 1], f"slice h{i} mismatch: {md5_sql}"


def test_filter_tables():
    names = ["orders", "lineitem", "events"]
    assert filter_tables(names, ["*e*"], None) == ["orders", "lineitem", "events"]
    assert filter_tables(names, ["line*"], None) == ["lineitem"]
    assert filter_tables(names, None, ["events"]) == ["orders", "lineitem"]
    assert filter_tables(names, ["*"], ["*s"]) == ["lineitem"]


def test_footer_schema_matches_spark_inference(spark, sf_dir, tmp_path):
    """The schema ``load_table`` derives from the parquet footer (no
    Spark job) equals what ``spark.read.parquet`` infers, for every
    corpus table and for a file holding the types the corpus lacks:
    NANOS and UTC-adjusted timestamps, decimals, required fields."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbms_spark.sources.catalog import TABLES, _footer_schema, table_path

    odd = str(tmp_path / "odd.parquet")
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5, 6789)
    pq.write_table(pa.table({
        "ns": pa.array([ts], pa.timestamp("ns")),
        "utc": pa.array([ts], pa.timestamp("us", tz="UTC")),
        "dec": pa.array([1], pa.decimal128(12, 2)),
        "req": pa.array([1], pa.int32()),
        "vec": pa.array([[1.0, 2.0]], pa.list_(pa.float32())),
        "d": pa.array([ts.date()], pa.date32()),
    }, schema=pa.schema([
        ("ns", pa.timestamp("ns")), ("utc", pa.timestamp("us", tz="UTC")),
        ("dec", pa.decimal128(12, 2)), pa.field("req", pa.int32(), nullable=False),
        ("vec", pa.list_(pa.float32())), ("d", pa.date32())])),
        odd, coerce_timestamps=None, version="2.6")
    paths = [table_path(sf_dir, t) for t in TABLES
             if os.path.exists(table_path(sf_dir, t))]
    assert len(paths) == len(TABLES)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for p in [*paths, odd]:
        assert _footer_schema(p)[0] == spark.read.parquet(p).schema, p
    assert _footer_schema(odd)[1] == ["ns"]
