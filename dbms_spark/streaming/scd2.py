"""SCD2 (slowly-changing-dimension type 2) history tracking on the CDC
apply path.

The reference's consumer applies CDC destructively (delete-by-PK +
insert, consumer.go:670-807); a training-data / audit pipeline often
needs the *history* instead: every version of every row, with validity
intervals.  This module derives that history from the same CDC event
envelope:

- every non-DELETE event opens a version ``[commit_ts, next_ts)``
  (``valid_to`` NULL and ``is_current`` true for the last open version)
- the NEXT event on the same key — update or delete — closes it
- a DELETE closes the key's current version without opening one

Everything is window + join logic over the event batch: one shuffle on
the key for the version chain, one for closing prior history.
:class:`Scd2TableStore` persists it through the same versioned
bucket-manifest store as the destructive path (atomic commit,
bucket-pruned rewrite) — all versions of a key live in the key's hash
bucket, so history applies stay proportional to touched keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbms_spark.streaming.cdc import (
    ParquetTableStore,
    drop_obsolete,
    split_key_updates,
)

#: history metadata columns appended to the row schema
SCD2_META = "valid_from bigint, valid_to bigint, is_current boolean"


def scd2_schema(row_schema: str) -> str:
    return f"{row_schema}, {SCD2_META}"


def _parse_all_strings(df: DataFrame, col: str, types: dict[str, str]) -> DataFrame:
    """JSON object -> typed columns, tolerant of string-quoted scalars
    (same contract as cdc.parse_typed), keeping the
    event bookkeeping columns."""
    as_strings = ", ".join(f"{n} string" for n in types)
    parsed = df.withColumn("__r", F.from_json(F.col(col), as_strings))
    return parsed.select(
        *df.columns,
        *[F.col(f"__r.{n}").cast(t).alias(n) for n, t in types.items()],
    ).drop("__r")


def scd2_apply(history: DataFrame, events: DataFrame, key_cols: list[str],
               row_schema: str) -> DataFrame:
    """Fold a CDC event batch into an SCD2 history DataFrame.

    ``history`` has columns ``row_schema + SCD2_META``; ``events`` is a
    CDC envelope batch (``CDC_EVENT_SCHEMA``).  Returns the new
    history.  Every event in the batch becomes part of the chain — a
    key updated three times in one batch yields three versions, two of
    them closed, unlike the destructive path's terminal-event dedup."""
    schema = T._parse_datatype_string(row_schema)
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    key_types = {k: types[k] for k in key_cols}

    # parse the row image and the key object on the SAME row; the key
    # object is authoritative (DELETE events carry no new row image)
    ev = _parse_all_strings(events.filter(~F.col("is_ddl")), "new_json", types)
    key_strings = ", ".join(f"{k} string" for k in key_cols)
    ev = ev.withColumn("__k", F.from_json("key_json", key_strings))
    for k, t in key_types.items():
        ev = ev.withColumn(k, F.coalesce(F.col(f"__k.{k}").cast(t), F.col(k)))
    ev = ev.drop("__k")

    w = Window.partitionBy(*key_cols).orderBy("commit_ts")
    chained = ev.withColumn("__next_ts", F.lead("commit_ts").over(w))
    new_versions = (
        chained.filter(F.col("query_type") != "DELETE")
        .select(
            *[F.col(f.name) for f in schema.fields],
            F.col("commit_ts").alias("valid_from"),
            F.col("__next_ts").alias("valid_to"),
            F.col("__next_ts").isNull().alias("is_current"),
        )
    )
    first_ts = ev.groupBy(*key_cols).agg(F.min("commit_ts").alias("__first_ts"))

    closed = (
        history.join(F.broadcast(first_ts), key_cols, "left")
        .withColumn(
            "valid_to",
            F.when(
                F.col("is_current") & F.col("__first_ts").isNotNull(), F.col("__first_ts")
            ).otherwise(F.col("valid_to")),
        )
        .withColumn(
            "is_current",
            F.when(F.col("__first_ts").isNotNull(), F.lit(False)).otherwise(F.col("is_current")),
        )
        .drop("__first_ts")
    )
    return closed.unionByName(new_versions)


class Scd2TableStore(ParquetTableStore):
    """History-keeping variant of :class:`ParquetTableStore`: the same
    atomic versioned bucket manifest, but ``apply_dml`` folds events
    into the SCD2 chain instead of destructively upserting.  The
    stored schema for table ``t`` is ``schemas[t] + SCD2_META``; rows
    bucket by the ORIGINAL key so a key's whole lineage co-locates."""

    def _history_schema(self, table: str) -> str:
        return scd2_schema(self.schemas[table])

    def _stored_schema(self, table: str) -> str:
        # rows persist WITH the validity metadata; every base-class
        # read/rewrite path must see it or history would be dropped
        return self._history_schema(table)

    def read(self, table: str) -> DataFrame:
        return self._read_buckets(table)

    def current(self, table: str) -> DataFrame:
        """The live snapshot: current versions only, row columns only."""
        schema = T._parse_datatype_string(self.schemas[table])
        return self.read(table).filter("is_current").select(
            *[f.name for f in schema.fields]
        )

    def apply_dml(self, table: str, events: DataFrame) -> None:
        keys = self.key_cols[table]
        events = drop_obsolete(events, self.get_watermark(table))
        # a key-changing UPDATE must close the OLD key's chain and open
        # the new key's — same normalization as the destructive path
        events = split_key_updates(events, keys)
        events = events.filter(~F.col("is_ddl")).cache()
        try:
            # probing every event, not one per key, yields the same
            # bucket set and max commit_ts
            probe = self._probe_pinned(table, events)
            if probe is None:
                return
            applied_max, touched = probe
            manifest = self._read_manifest(table)
            existing = self._read_buckets(table, touched)
            out = scd2_apply(existing, events, keys, self.schemas[table]).withColumn(
                "_kb", self._bucket_expr(keys)
            )
            self._commit_buckets(table, manifest, touched, out, applied_max)
        finally:
            events.unpersist()


def point_in_time(history: DataFrame, at_ts) -> DataFrame:
    """AS OF query over an SCD2 history: the row version active at
    ``at_ts`` per key — ``valid_from <= at < valid_to`` with an open
    (NULL) tail.  A pure filter: at scale it rides partition/file
    pruning on ``valid_from`` (pair with write_sorted_parquet on the
    version chain) rather than any join or window."""
    return history.filter(
        (F.col("valid_from") <= F.lit(at_ts))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(at_ts)))
    )
