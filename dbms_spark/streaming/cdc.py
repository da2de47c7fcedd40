"""CDC consume: Structured Streaming re-expression of the reference's
Kafka consumers (reference: message/tidb/consumer.go, message/
oceanbase/consumer.go).

Operator map (SURVEY §2.9):

- C1 resolvedTs watermark    -> :func:`flush_before_resolved` kernel;
  in streaming, the foreachBatch boundary plays the resolvedTs role
  (all events in a micro-batch are "resolved"), plus an event-time
  ``withWatermark`` for windowed aggs.
- C2 per-table event groups  -> groupBy(table) inside the batch apply
  (reference: message/tidb/event.go:710-734 EventGroup).
- C3 DDL barrier             -> :func:`split_batch_at_ddls`: the batch
  is sliced at each DDL commit_ts; DML sub-batches apply in order with
  the DDL executed once between them (reference: consumer.go:135-136,
  152-230, flushRowChangedEventsBeforeDdl :561).
- C4 idempotent apply        -> last-event-per-key dedup + delete+insert
  (reference: consumer.go:670-807 — INSERT and UPDATE both as
  DELETE-by-PK + INSERT; TiCDC pre-splits PK/UK updates into D+I).
- C5 checkpoint/resume       -> ``checkpointLocation`` (free).
- C6 obsolete-event skip     -> commit_ts <= applied checkpoint dropped
  (reference: consumer.go:160-174, 446-448).
- C7 DDL rewrite rules       -> :func:`rewrite_ddl` lookup substitution.
- C8 message compression     -> Kafka source option (transparent).
- C9 metadata refresh        -> target schema re-read after DDL apply.

The Kafka entry point is :func:`kafka_cdc_stream`; tests drive the same
pipeline through a file source (this container ships no Kafka broker,
and the transform stack is source-agnostic by construction).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from dbms_spark.plans.parallelism import literal_df

#: open-protocol-ish row-change envelope (reference:
#: message/tidb/event.go:39-62 RowChangedEvent fields)
CDC_EVENT_SCHEMA = T.StructType([
    T.StructField("schema_name", T.StringType()),
    T.StructField("table_name", T.StringType()),
    T.StructField("query_type", T.StringType()),      # INSERT | UPDATE | DELETE | DDL
    T.StructField("commit_ts", T.LongType()),
    T.StructField("key_json", T.StringType()),        # PK values as JSON object
    T.StructField("new_json", T.StringType()),        # full new row as JSON (null for DELETE)
    T.StructField("old_json", T.StringType()),        # old row (UPDATE/DELETE)
    T.StructField("is_ddl", T.BooleanType()),
    T.StructField("ddl_query", T.StringType()),
])


def parse_cdc_json(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Decode a JSON CDC envelope column into typed event rows (S7/S8;
    the reference's decoder.go becomes one from_json)."""
    return raw.select(
        F.from_json(F.col(value_col).cast("string"), CDC_EVENT_SCHEMA).alias("e")
    ).select("e.*")


def parse_cdc_json_with_deadletter(
    raw: DataFrame, value_col: str = "value"
) -> tuple[DataFrame, DataFrame]:
    """S7/S8 decode with a dead-letter channel: returns (events,
    dead_letters).  An envelope is dead if the JSON doesn't parse at
    all OR lacks the fields no event can apply without (table_name,
    commit_ts) — the reference logs-and-skips such messages
    (decoder.go error paths); at scale a silent drop hides producer
    bugs, so the raw payload is preserved for replay."""
    parsed = raw.select(
        F.col(value_col).cast("string").alias("raw_value"),
        F.from_json(F.col(value_col).cast("string"), CDC_EVENT_SCHEMA).alias("e"),
    )
    ok = (
        F.col("e").isNotNull()
        & F.col("e.table_name").isNotNull()
        & F.col("e.commit_ts").isNotNull()
    )
    events = parsed.filter(ok).select("e.*")
    dead = parsed.filter(~F.coalesce(ok, F.lit(False))).select("raw_value")
    return events, dead


#: OceanBase OMS DefaultExtendColumnType envelope (reference:
#: message/oceanbase/message.go:49-71): row images are loose
#: column->value maps, metadata rides in allMetaData.
OMS_ENVELOPE_SCHEMA = T.StructType([
    T.StructField("prevStruct", T.MapType(T.StringType(), T.StringType())),
    T.StructField("postStruct", T.MapType(T.StringType(), T.StringType())),
    T.StructField("allMetaData", T.StructType([
        T.StructField("checkpoint", T.StringType()),
        T.StructField("record_primary_key", T.StringType()),
        T.StructField("record_primary_value", T.StringType()),
        T.StructField("source_identity", T.StringType()),
        T.StructField("dbType", T.StringType()),
        T.StructField("storeDataSequence", T.LongType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("db", T.StringType()),
        T.StructField("timestamp", T.StringType()),
        T.StructField("uniqueId", T.StringType()),
        T.StructField("transId", T.StringType()),
        T.StructField("clusterId", T.StringType()),
        T.StructField("ddlType", T.StringType()),
    ])),
    T.StructField("recordType", T.StringType()),
])

#: OMS joins composite PK names/values with \x01
#: (message/oceanbase/message.go:117-118)
_OMS_PK_SEP = "\x01"


def parse_oms_json(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """S8: decode OceanBase OMS envelopes into the shared CDC event
    shape — the second protocol through the same downstream pipeline
    (reference: message/oceanbase/decoder.go + message.go:78-250):

    - ``db`` is tenant-qualified (``tenant.schema``) -> schema part
      (message.go:82,106)
    - commit ts = ``storeDataSequence`` (message.go:244)
    - composite PKs split on \\x01 and re-zipped into the key object
      (message.go:117-118)
    - DDL text rides in ``postStruct['ddl']`` (message.go:96)
    - HEARTBEAT records carry no row change and are dropped
      (decoder.go:120)
    - ``__``-prefixed marker columns (``__light_type``) are envelope
      metadata, not row data (message.go:231-238)

    Pure ``from_json`` + map expressions — no Python row UDFs."""
    e = raw.select(
        F.from_json(F.col(value_col).cast("string"), OMS_ENVELOPE_SCHEMA).alias("m")
    ).filter(F.col("m.recordType") != "HEARTBEAT")
    meta = "m.allMetaData"
    row_types = ("INSERT", "UPDATE", "DELETE")
    strip_markers = "map_filter(m.{side}, (k, v) -> NOT startswith(k, '__'))"
    key_json = F.to_json(F.map_from_arrays(
        F.split(F.col(f"{meta}.record_primary_key"), _OMS_PK_SEP),
        F.split(F.col(f"{meta}.record_primary_value"), _OMS_PK_SEP),
    ))
    return e.select(
        F.coalesce(
            F.split(F.col(f"{meta}.db"), r"\.").getItem(1), F.col(f"{meta}.db")
        ).alias("schema_name"),
        F.col(f"{meta}.table_name").alias("table_name"),
        F.col("m.recordType").alias("query_type"),
        F.col(f"{meta}.storeDataSequence").alias("commit_ts"),
        F.when(F.col("m.recordType").isin(*row_types), key_json).alias("key_json"),
        F.when(
            F.col("m.recordType").isin(*row_types),
            F.to_json(F.expr(strip_markers.format(side="postStruct"))),
        ).alias("new_json"),
        F.when(
            F.col("m.recordType").isin(*row_types)
            & (F.size(F.col("m.prevStruct")) > 0),
            F.to_json(F.expr(strip_markers.format(side="prevStruct"))),
        ).alias("old_json"),
        (F.col("m.recordType") == "DDL").alias("is_ddl"),
        F.element_at(F.col("m.postStruct"), "ddl").alias("ddl_query"),
    )


def kafka_reader_options(brokers: str, topic: str,
                         starting_offsets: str = "earliest",
                         max_offsets_per_trigger: int | None = None,
                         fail_on_data_loss: bool | None = None,
                         extra: dict[str, str] | None = None) -> dict[str, str]:
    """The Kafka reader's option map as a pure function — the part of
    S7/S8 wiring that IS testable without a broker.  ``extra`` passes
    through any ``kafka.*`` client option verbatim (compression,
    security config — C8's transparent passthrough); explicit
    arguments win over ``extra`` duplicates.  ``max_offsets_per_trigger``
    is the per-micro-batch intake throttle — at 100 TB-scale topics an
    unthrottled first batch after downtime reads the whole backlog into
    one trigger."""
    opts: dict[str, str] = dict(extra or {})
    opts["kafka.bootstrap.servers"] = brokers
    opts["subscribe"] = topic
    opts["startingOffsets"] = starting_offsets
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    if fail_on_data_loss is not None:
        opts["failOnDataLoss"] = str(fail_on_data_loss).lower()
    return opts


def kafka_cdc_stream(spark: SparkSession, brokers: str, topic: str,
                     starting_offsets: str = "earliest",
                     max_offsets_per_trigger: int | None = None,
                     fail_on_data_loss: bool | None = None,
                     extra: dict[str, str] | None = None) -> DataFrame:
    """S7/S8 Kafka CDC source -> parsed event stream.  Requires the
    spark-sql-kafka package on the classpath (not in this container;
    the downstream pipeline is identical for any source — the contract
    test drives it through ``rate`` with a kafka-shaped value column,
    so only the socket itself is untested here)."""
    raw = (
        spark.readStream.format("kafka")
        .options(**kafka_reader_options(
            brokers, topic, starting_offsets,
            max_offsets_per_trigger, fail_on_data_loss, extra))
        .load()
    )
    return parse_cdc_json(raw, "value")


# ---------------------------------------------------------------------------
# Kernels (unit-testable, mirror the reference's two tested kernels)
# ---------------------------------------------------------------------------

def flush_before_resolved(events: DataFrame, resolved_ts: int) -> tuple[DataFrame, DataFrame]:
    """C1: split events at the resolvedTs watermark — (flushable,
    pending).  Mirrors the contract unit-tested in the reference
    (message/tidb/event_group_test.go:23 TestResolve): an event is safe
    to flush iff commit_ts <= resolvedTs."""
    return (
        events.filter(F.col("commit_ts") <= resolved_ts),
        events.filter(F.col("commit_ts") > resolved_ts),
    )


def dedup_last_per_key(events: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """C4/C6: collapse to the terminal event per (table, key) ordered by
    commit_ts — the idempotent-apply reduction.  Multiple updates fold
    into one; an insert followed by delete folds to the delete."""
    from pyspark.sql import Window

    keys = key_cols or ["schema_name", "table_name", "key_json"]
    w = Window.partitionBy(*keys).orderBy(F.desc("commit_ts"))
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn")
    )


def split_key_updates(events: DataFrame, key_cols: list[str]) -> DataFrame:
    """Normalize key-changing UPDATEs into DELETE(old key) +
    INSERT(new key).  TiCDC pre-splits UK/PK updates upstream
    (consumer.go:694-699 compatibility note: 'UK/PK UPDATE events ...
    have been split by TiCDC'); feeds without that guarantee (generic
    or OMS envelopes) are normalized here, else the delete-by-new-key
    apply would leave the OLD key's row behind.

    Key change detection compares the key fields re-serialized through
    the same from_json/to_json canonicalization on both images, so
    field order and non-key fields in the images don't matter.

    One pass over the input: each row becomes a 1- or 2-element array
    of event structs (the row itself, or DELETE(old key) + INSERT(new
    key)) that is exploded, where a filter/union of three legs would
    scan the batch three times."""
    key_schema = ", ".join(f"{k} string" for k in key_cols)
    old_key = F.to_json(F.from_json("old_json", key_schema))
    new_key = F.to_json(F.from_json("key_json", key_schema))
    changed = (
        (F.col("query_type") == "UPDATE")
        & F.col("old_json").isNotNull()
        & (old_key != new_key)
    )
    null = F.lit(None).cast("string")

    def event(**overrides) -> F.Column:
        return F.struct(*[overrides.get(c, F.col(c)).alias(c) for c in events.columns])

    split = F.array(
        event(query_type=F.lit("DELETE"), key_json=old_key, new_json=null),
        event(query_type=F.lit("INSERT"), old_json=null),
    )
    one = F.when(F.coalesce(changed, F.lit(False)), split).otherwise(F.array(event()))
    return events.select(F.explode(one).alias("__e")).select("__e.*")


def drop_obsolete(events: DataFrame, checkpoint_ts: int) -> DataFrame:
    """C6: events at or before the applied checkpoint are replays —
    drop them (reference: consumer.go:446-448)."""
    return events.filter(F.col("commit_ts") > checkpoint_ts)


def rewrite_ddl(ddl: str, rules: dict[str, str]) -> str:
    """C7: user-supplied DDL rewrite (exact-match then substring rules,
    reference: model/consume/cdc_consume_entity.go:31 MsgDdlRewrite)."""
    if ddl in rules:
        return rules[ddl]
    out = ddl
    for src, dst in rules.items():
        out = out.replace(src, dst)
    return out


def scan_ddls(batch: DataFrame) -> tuple[list[dict], list[str]]:
    """The batch's DDL rows in commit order, and the tables its DML rows
    touch.  One job: the table set rides an ``observe()`` on the DDL
    probe's own scan (it is bounded by the tables in the feed)."""
    from pyspark.sql import Observation

    obs = Observation()
    dml_table = F.when(~F.col("is_ddl"), F.col("table_name"))
    rows = (batch.observe(obs, F.collect_set(dml_table).alias("tables"))
            .filter(F.col("is_ddl")).collect())
    ddls = sorted((r.asDict() for r in rows), key=lambda d: d["commit_ts"])
    return ddls, sorted(obs.get["tables"])


def split_batch_at_ddls(batch: DataFrame,
                        ddls: list[dict] | None = None) -> list[tuple[DataFrame, dict | None]]:
    """C3 DDL barrier: slice a micro-batch into [(dml_segment, ddl)...]
    where each segment holds DMLs with commit_ts <= the following DDL's
    commit_ts, applied before that DDL executes.  DDL rows are few —
    collecting them (:func:`scan_ddls`, unless the caller already
    did) is the barrier coordination the reference does across
    consumer partitions."""
    if ddls is None:
        ddls = scan_ddls(batch)[0]
    dml = batch.filter(~F.col("is_ddl"))
    if not ddls:
        return [(dml, None)]
    segments: list[tuple[DataFrame, dict | None]] = []
    prev_ts = None
    for d in ddls:
        seg = dml.filter(F.col("commit_ts") <= d["commit_ts"])
        if prev_ts is not None:
            seg = seg.filter(F.col("commit_ts") > prev_ts)
        segments.append((seg, d))
        prev_ts = d["commit_ts"]
    segments.append((dml.filter(F.col("commit_ts") > prev_ts), None))
    return segments


# ---------------------------------------------------------------------------
# Apply: idempotent delete+insert into a parquet table store
# ---------------------------------------------------------------------------

def parse_typed(df: DataFrame, col: str, types: dict[str, str]) -> DataFrame:
    """Parse a JSON object column into typed columns, tolerating
    string-quoted scalars: the TiCDC-ish envelope carries typed JSON
    values while OMS carries everything as strings (message/oceanbase/
    message.go postStruct is map[string]any) — parsing as all-strings
    then casting accepts both."""
    as_strings = ", ".join(f"{name} string" for name in types)
    return df.select(F.from_json(F.col(col), as_strings).alias("r")).select(
        *[F.col(f"r.{name}").cast(t).alias(name) for name, t in types.items()]
    )


def write_durably(path: str, text: str, mode: str = "w") -> None:
    """Write (``"w"``) or append (``"a"``) ``text`` and fsync it before
    returning.  Replace-writers call it on a temp file and then do
    their own ``os.replace``/``os.rename``: the fsync must land before
    the rename, or a power loss can keep the rename but not the
    content."""
    with open(path, mode) as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())


def commit_manifest(root: str, manifest: dict) -> None:
    """Commit a store snapshot: the ``manifests/v{version}.json`` log
    entry first (time travel), then the atomic replace of the current
    pointer ``manifest.json``.  A crash between the two leaves an
    unreferenced log entry the next commit overwrites.  Both files are
    fsynced before the replace: otherwise the rename can survive a
    power loss while the content does not, and an empty manifest
    wedges every later read of the store."""
    hdir = os.path.join(root, "manifests")
    os.makedirs(hdir, exist_ok=True)
    write_durably(os.path.join(hdir, f"v{manifest['version']}.json"), json.dumps(manifest))
    current = os.path.join(root, "manifest.json")
    write_durably(current + ".tmp", json.dumps(manifest))
    os.replace(current + ".tmp", current)  # atomic on POSIX


@dataclass
class ParquetTableStore:
    """Micro target 'database': a versioned, hash-bucketed parquet
    table per name + a DDL log.  Stands in for the reference's JDBC
    target; the apply semantics (delete-by-key + insert, DDL
    serialization) are the contract (consumer.go:670-807).

    Layout (a minimal manifest-pointer table format):

    - ``<base>/<table>/manifest.json`` — the COMMIT POINT: version,
      applied watermark, and bucket -> data-dir mapping, replaced
      atomically (`os.replace`), so a crash anywhere mid-apply leaves
      the previous fully-consistent snapshot (data + watermark move
      together — exactly-once survives crashes).
    - ``<base>/<table>/files/v<N>/_kb=<k>/`` — ONE parquet file for
      key-hash bucket ``k`` committed at version N (the staged write
      is clustered on the bucket).  An apply writes ONLY the
      buckets its keys hash into and re-points untouched buckets at
      their existing dirs: apply cost is proportional to touched
      buckets, never O(table).  Unreferenced dirs are GC'd after
      commit.  ``n_buckets`` bounds per-bucket rewrite size — scale it
      with the table (thousands at 100 TB)."""

    spark: SparkSession
    base_path: str
    schemas: dict[str, str]            # table -> DDL-ish spark schema string
    key_cols: dict[str, list[str]]     # table -> PK columns
    ddl_rewrite_rules: dict[str, str] = field(default_factory=dict)
    applied_ddls: list[str] = field(default_factory=list)
    n_buckets: int = 16
    #: snapshots kept readable for time travel (current + N-1 prior);
    #: GC only removes bucket dirs no retained snapshot references
    retention: int = 2

    def table_path(self, table: str) -> str:
        return os.path.join(self.base_path, table)

    # -- manifest: atomic snapshot pointer --

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.table_path(table), "manifest.json")

    def _read_manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"version": 0, "watermark": -1, "buckets": {}}

    def _history_dir(self, table: str) -> str:
        return os.path.join(self.table_path(table), "manifests")

    def _commit_manifest(self, table: str, manifest: dict) -> None:
        commit_manifest(self.table_path(table), manifest)

    def _retained_manifests(self, table: str, current: dict) -> list[dict]:
        """The snapshots time travel keeps: current + up to
        ``retention - 1`` predecessors from the manifest log."""
        out = {current["version"]: current}
        hdir = self._history_dir(table)
        if os.path.isdir(hdir):
            versions = sorted(
                (int(f[1:-5]) for f in os.listdir(hdir)
                 if f.startswith("v") and f.endswith(".json")),
                reverse=True,
            )
            for v in versions:
                if len(out) >= self.retention:
                    break
                if v < current["version"]:
                    with open(os.path.join(hdir, f"v{v}.json")) as fh:
                        out[v] = json.load(fh)
        return [out[v] for v in sorted(out, reverse=True)]

    def _gc(self, table: str, manifest: dict) -> None:
        """Remove bucket dirs no RETAINED snapshot references, and
        manifest-log entries past retention (runs only after a
        successful commit; a crash merely leaves orphans for the next
        GC)."""
        import shutil

        retained = self._retained_manifests(table, manifest)
        referenced = {rel for m in retained for rel in m["buckets"].values()}
        keep_versions = {m["version"] for m in retained}
        files_root = os.path.join(self.table_path(table), "files")
        if os.path.isdir(files_root):
            for v in os.listdir(files_root):
                vdir = os.path.join(files_root, v)
                for kb in os.listdir(vdir) if os.path.isdir(vdir) else []:
                    rel = os.path.join("files", v, kb)
                    if kb.startswith("_kb=") and rel not in referenced:
                        shutil.rmtree(os.path.join(vdir, kb), ignore_errors=True)
                if os.path.isdir(vdir) and not os.listdir(vdir):
                    os.rmdir(vdir)
        hdir = self._history_dir(table)
        if os.path.isdir(hdir):
            for f in os.listdir(hdir):
                if f.startswith("v") and f.endswith(".json") and int(f[1:-5]) not in keep_versions:
                    os.remove(os.path.join(hdir, f))

    # -- applied high-watermark (C6): events at or below it are replays
    #    or out-of-order stragglers and must not regress state
    #    (reference: consumer.go:446-448 obsolete-message skip) --

    def get_watermark(self, table: str) -> int:
        return self._read_manifest(table)["watermark"]

    def set_watermark(self, table: str, ts: int) -> None:
        m = self._read_manifest(table)
        m["watermark"] = max(ts, m["watermark"])
        self._commit_manifest(table, m)

    def _bucket_paths(self, table: str, manifest: dict, buckets: list[int] | None = None) -> list[str]:
        items = manifest["buckets"].items()
        if buckets is not None:
            want = {str(b) for b in buckets}
            items = [(k, v) for k, v in items if k in want]
        return [os.path.join(self.table_path(table), rel) for _, rel in items]

    def _stored_schema(self, table: str) -> str:
        """Schema of the rows as persisted (subclasses may append
        bookkeeping columns, e.g. SCD2 validity metadata)."""
        return self.schemas[table]

    def _read_buckets(self, table: str, buckets: list[int] | None = None) -> DataFrame:
        paths = self._bucket_paths(table, self._read_manifest(table), buckets)
        if not paths:
            return literal_df(self.spark, [], self._stored_schema(table))
        return self.spark.read.schema(self._stored_schema(table)).parquet(*paths)

    def read(self, table: str) -> DataFrame:
        return self._read_buckets(table)

    def read_version(self, table: str, version: int) -> DataFrame:
        """Time travel: the table as of a retained snapshot version
        (current or one of the ``retention - 1`` predecessors kept in
        the manifest log)."""
        current = self._read_manifest(table)
        for m in self._retained_manifests(table, current):
            if m["version"] == version:
                paths = self._bucket_paths(table, m)
                if not paths:
                    return literal_df(self.spark, [], self.schemas[table])
                return self.spark.read.schema(self.schemas[table]).parquet(*paths)
        raise ValueError(
            f"version {version} of {table} is not retained "
            f"(current {current['version']}, retention {self.retention})"
        )

    def execute_ddl(self, ddl: str) -> None:
        ddl = rewrite_ddl(ddl, self.ddl_rewrite_rules)
        self.applied_ddls.append(ddl)
        with open(os.path.join(self.base_path, "_ddl_log"), "a") as f:
            f.write(ddl + "\n")
        self._apply_ddl_to_schema(ddl)

    #: ALTER TABLE grammar the store evolves through (C9 metadata
    #: refresh: the reference re-reads target dictionary after DDL;
    #: this store IS the target, so it applies the change itself)
    _DDL_RE = (
        r"(?i)^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+"
        r"(?:(ADD)\s+(?:COLUMN\s+)?`?(\w+)`?\s+([A-Za-z0-9_() ]+?)"
        r"|(DROP)\s+(?:COLUMN\s+)?`?(\w+)`?"
        r"|(RENAME)\s+(?:COLUMN\s+)?`?(\w+)`?\s+TO\s+`?(\w+)`?)\s*;?\s*$"
    )

    def _apply_ddl_to_schema(self, ddl: str) -> None:
        """C9: evolve the tracked schema for simple column DDLs so
        post-DDL events parse with the new shape.  ADD/DROP are lazy —
        parquet reads project by NAME, so old files yield NULL for an
        added column and silently drop a removed one; RENAME eagerly
        rewrites retained buckets (name-based projection cannot see a
        renamed column in old files).  Unrecognized DDL stays log-only,
        like the reference forwarding it to the target verbatim."""
        import re

        m = re.match(self._DDL_RE, ddl)
        if not m or m.group(1) not in self.schemas:
            return
        table = m.group(1)
        schema = T._parse_datatype_string(self.schemas[table])
        fields = {f.name: f.dataType.simpleString() for f in schema.fields}
        if m.group(2):  # ADD
            from dbms_spark.operators.structm import ColumnSpec, map_type

            name, decl = m.group(3), m.group(4).strip()
            tm = re.match(r"(\w+(?: \w+)*)\s*(?:\((\d+)(?:,\s*(\d+))?\))?", decl)
            spec = ColumnSpec(
                name, tm.group(1),
                precision=int(tm.group(2)) if tm.group(2) else None,
                scale=int(tm.group(3)) if tm.group(3) else None,
                length=int(tm.group(2)) if tm.group(2) else None,
            )
            fields[name] = map_type(spec)[0].simpleString()
        elif m.group(5):  # DROP
            fields.pop(m.group(6), None)
        else:  # RENAME
            old, new = m.group(8), m.group(9)
            if old in fields:
                fields = {(new if k == old else k): v for k, v in fields.items()}
                self.schemas[table] = ", ".join(f"{k} {v}" for k, v in fields.items())
                self._rewrite_renamed(table, old, new)
                if table in self.key_cols:
                    self.key_cols[table] = [
                        new if k == old else k for k in self.key_cols[table]
                    ]
                return
        self.schemas[table] = ", ".join(f"{k} {v}" for k, v in fields.items())

    def _rewrite_renamed(self, table: str, old: str, new: str) -> None:
        """Eager one-version rewrite for RENAME: read every live bucket
        under the OLD name, write back under the new (rename is rare;
        ADD/DROP never pay this)."""
        manifest = self._read_manifest(table)
        if not manifest["buckets"]:
            return
        # files on disk still use the OLD name; includes any subclass
        # bookkeeping columns (_stored_schema), so nothing is dropped
        old_schema = ", ".join(
            f"{old if k == new else k} {v}" for k, v in (
                (f.name, f.dataType.simpleString())
                for f in T._parse_datatype_string(self._stored_schema(table)).fields
            )
        )
        paths = self._bucket_paths(table, manifest)
        df = self.spark.read.schema(old_schema).parquet(*paths)
        out = df.withColumnRenamed(old, new).withColumn(
            "_kb", self._bucket_expr(self.key_cols[table])
        )
        touched = sorted(int(b) for b in manifest["buckets"])
        self._commit_buckets(table, manifest, touched, out, manifest["watermark"])

    def _bucket_expr(self, keys: list) -> F.Column:
        """Key-hash bucket of ``keys`` (column names or typed Columns)."""
        return F.pmod(F.hash(*keys), F.lit(self.n_buckets))

    def apply_dml(self, table: str, events: DataFrame) -> None:
        """Idempotent apply: dedup to terminal event per key, then
        delete+insert (reference: consumer.go:670-807 — both INSERT and
        UPDATE apply as delete-by-PK + insert).  Reads and rewrites
        ONLY the key-hash buckets the batch touches; data, bucket
        pointers, and the applied watermark commit in one atomic
        manifest replace."""
        keys = self.key_cols[table]
        events = drop_obsolete(events, self.get_watermark(table))
        events = split_key_updates(events, keys)
        last = dedup_last_per_key(events, ["key_json"]).cache()
        try:
            probe = self._probe_pinned(table, last)
            if probe is None:
                return
            applied_max, touched = probe
            manifest = self._read_manifest(table)
            parsed_keys = parse_typed(last, "key_json", {
                k: self._key_type(table, k) for k in keys
            })
            existing = self._read_buckets(table, touched)
            survivors = existing.join(F.broadcast(parsed_keys), on=keys, how="left_anti")
            schema = T._parse_datatype_string(self.schemas[table])
            upserts = parse_typed(
                last.filter(F.col("query_type") != "DELETE"), "new_json",
                {f.name: f.dataType.simpleString() for f in schema.fields},
            )
            out = survivors.unionByName(upserts).withColumn("_kb", self._bucket_expr(keys))
            self._commit_buckets(table, manifest, touched, out, applied_max)
        finally:
            last.unpersist()

    def _probe_pinned(self, table: str, pinned: DataFrame) -> tuple[int, list[int]] | None:
        """The one probe action of an apply, on a ``cache()``-pinned
        event frame: a no-op write materializes the pin, and an
        ``observe()`` on it returns what the commit needs — ``None``
        for an empty frame, else (max commit_ts, sorted bucket ids of
        the frame's keys).  The bucket set is bounded by
        ``n_buckets``, so it is safe to bring to the driver."""
        from pyspark.sql import Observation

        keys = self.key_cols[table]
        parsed = F.from_json("key_json", ", ".join(f"{k} string" for k in keys))
        bucket = self._bucket_expr(
            [parsed[k].cast(self._key_type(table, k)) for k in keys])
        obs = Observation()
        (pinned.observe(obs, F.count(F.lit(1)).alias("n"),
                        F.max("commit_ts").alias("ts"),
                        F.collect_set(bucket).alias("kb"))
         .write.format("noop").mode("overwrite").save())
        m = obs.get
        if not m["n"]:
            return None
        return m["ts"], sorted(m["kb"])

    def _list_staged_buckets(self, stage: str) -> set[str]:
        """Bucket directories a staged ``partitionBy("_kb")`` write
        produced, as ``_kb=<v>`` names.  LOCAL-FS SEAM: this store is
        local-path parquet throughout (every read/GC in the class
        lists directories), so the commit protocol may learn produced
        buckets from a directory listing — the write has already
        completed and POSIX listing after close is consistent.  A
        port to an object store (no atomic rename, list-after-write
        lag) must replace this with the committer's output manifest
        (e.g. the _SUCCESS/_committed file list), NOT a listing."""
        if not os.path.isdir(stage):
            return set()
        return {d for d in os.listdir(stage) if d.startswith("_kb=")}

    def _commit_buckets(self, table: str, manifest: dict, touched: list[int],
                        out: DataFrame, applied_max: int) -> None:
        """Write the touched buckets of ``out`` (must carry ``_kb``) as
        a new version, then atomically commit manifest (bucket pointers
        + watermark) and GC unreferenced dirs."""
        version = manifest["version"] + 1
        stage_rel = os.path.join("files", f"v{version}")
        stage = os.path.join(self.table_path(table), stage_rel)
        # cluster on the bucket column first (the AnnIndexStore segment
        # write's idiom): an unshuffled partitionBy emits one file per
        # (upstream task x bucket), which the next apply's scan then
        # opens; one exchange on _kb writes each bucket as one file
        out.repartition("_kb").write.partitionBy("_kb").mode("overwrite").parquet(stage)
        buckets = dict(manifest["buckets"])
        written = self._list_staged_buckets(stage)
        # Point EVERY bucket the write produced — the fold may emit
        # buckets beyond ``touched`` (a session relocating to a new
        # end-day, a batch introducing new touch days), and learning
        # them from the staged directory listing replaces the separate
        # distinct-bucket collect job callers used to pay (round 10,
        # guide §1.2 job count: the commit write is already the
        # materializing action, so it answers the probe for free).
        for kb in written:
            buckets[kb[len("_kb="):]] = os.path.join(stage_rel, kb)
        for b in touched:
            if f"_kb={b}" not in written:
                buckets.pop(str(b), None)   # bucket emptied by deletes
        new_manifest = {
            "version": version,
            "watermark": max(applied_max, manifest["watermark"]),
            "buckets": buckets,
        }
        self._commit_manifest(table, new_manifest)
        self._gc(table, new_manifest)

    def _key_type(self, table: str, key: str) -> str:
        schema = T._parse_datatype_string(self.schemas[table])
        for f in schema.fields:
            if f.name == key:
                return f.dataType.simpleString()
        return "string"


def apply_cdc_batch(store: ParquetTableStore, batch: DataFrame, checkpoint_ts: int = -1) -> None:
    """One micro-batch apply honoring the DDL barrier: for each
    [dml_segment, ddl] slice, group DMLs per table (C2), apply
    idempotently (C4), then execute the DDL once (C3/C7/C9)."""
    batch = drop_obsolete(batch, checkpoint_ts) if checkpoint_ts >= 0 else batch
    ddls, tables = scan_ddls(batch)
    for segment, ddl in split_batch_at_ddls(batch, ddls):
        # tables come from the whole batch: a segment holding none of
        # a table's events costs that table's apply one probe job
        for t in tables:
            if t in store.schemas:
                store.apply_dml(t, segment.filter(F.col("table_name") == t))
        if ddl is not None:
            store.execute_ddl(ddl["ddl_query"])


def _split_type_specs(spec: str) -> list[str]:
    """Split a ``createTableColumnTypes`` spec on the commas BETWEEN
    column entries, not the ones inside parenthesized type arguments
    ('ID DECIMAL(20,0), NAME VARCHAR(64)' is two entries)."""
    out, depth, cur = [], 0, []
    for ch in spec:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(0, depth - 1)
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return [e.strip() for e in out if e.strip()]


def apply_cdc_batch_jdbc(batch: DataFrame, url: str, table: str,
                         key_cols: list[str], row_types: dict[str, str],
                         staging_prefix: str | None = None,
                         properties: dict[str, str] | None = None,
                         source_table: str | None = None,
                         ddl_rules: dict[str, str] | None = None) -> dict:
    """C4 idempotent apply against a LIVE JDBC target: route the
    feed's events for ONE source table (``source_table``, defaulting
    to the unqualified tail of ``table`` — a multi-table feed must
    not cross-apply into a single target), honor DDL barriers the way
    the parquet twin does (each [dml_segment, ddl] slice applies the
    DMLs then executes the ``ddl_rules``-rewritten DDL through the
    same JDBC executor, C3/C7), and per segment dedup to the terminal
    event per key (key-moving updates pre-split into delete+insert),
    then TWO set-based statements — a staged MERGE...DELETE for the
    delete keys and a staged MERGE upsert for the survivors (the
    reference's batched delete-by-PK + REPLACE INTO,
    consumer.go:670-807 / stmt_migrate_row.go:206-304, collapsed into
    one statement each).  Idempotent under foreachBatch redelivery:
    re-running the same batch re-deletes absent keys (no-op) and
    re-sets matched rows to identical values.  (DDL re-execution on
    redelivery is the same residual the reference carries — its DDL
    apply is also not transactional with the DML watermark.)

    Returns {"deletes": n, "upserts": n, "ddls": n} (target-reported
    counts).  Scale shape: both data legs are executor-side JDBC
    writes of SLIM frames (keys / rows); the apply legs are O(1)
    statements whose join the target engine plans; DDLs are O(1) rows
    collected for barrier coordination."""
    from dbms_spark.operators.migrate import write_jdbc
    from dbms_spark.sources.jdbc import gen_merge_delete, gen_merge_from_staging
    from dbms_spark.sources.jdbc_exec import execute

    spark = batch.sparkSession
    staging_prefix = staging_prefix or f"{table}_STG"
    routed = batch.filter(
        F.col("table_name") == (source_table or table.split(".")[-1]))

    def scoped(props: dict[str, str] | None, cols: list[str]):
        """createTableColumnTypes trimmed to the frame's columns (the
        delete staging carries keys only); paren-aware split so
        DECIMAL(20,0)-style args survive."""
        if not props or "createTableColumnTypes" not in props:
            return props
        keep = [e for e in _split_type_specs(props["createTableColumnTypes"])
                if e.split()[0] in cols]
        out = {k: v for k, v in props.items() if k != "createTableColumnTypes"}
        if keep:
            out["createTableColumnTypes"] = ", ".join(keep)
        return out

    key_types = {k: row_types[k] for k in key_cols}
    stg_d, stg_u = f"{staging_prefix}_D", f"{staging_prefix}_U"
    totals = {"deletes": 0, "upserts": 0, "ddls": 0}
    segments = split_batch_at_ddls(routed)
    for segment, ddl in segments:
        # with DDL barriers present, segments can be empty slices —
        # skip their four statements (the emptiness probe is one tiny
        # job on an already-filtered frame and only runs in the rare
        # DDL-carrying batch)
        if len(segments) == 1 or not segment.isEmpty():
            ev = split_key_updates(segment, key_cols)
            last = dedup_last_per_key(ev, ["key_json"])
            dels = parse_typed(last.filter(F.col("query_type") == "DELETE"),
                               "key_json", key_types)
            ups = parse_typed(last.filter(F.col("query_type") != "DELETE"),
                              "new_json", row_types)
            write_jdbc(dels, url, stg_d, mode="overwrite",
                       properties=scoped(properties, key_cols))
            totals["deletes"] += execute(spark, url, [
                gen_merge_delete(table, stg_d, key_cols),
                f"DROP TABLE {stg_d}",
            ])[0]
            write_jdbc(ups, url, stg_u, mode="overwrite", properties=properties)
            totals["upserts"] += execute(spark, url, [
                gen_merge_from_staging(table, stg_u, key_cols, list(row_types)),
                f"DROP TABLE {stg_u}",
            ])[0]
        if ddl is not None:
            execute(spark, url, [rewrite_ddl(ddl["ddl_query"], ddl_rules or {})])
            totals["ddls"] += 1
    return totals


def consume_cdc_stream_jdbc(
    events: DataFrame,
    url: str,
    table: str,
    key_cols: list[str],
    row_types: dict[str, str],
    checkpoint_dir: str,
    properties: dict[str, str] | None = None,
    source_table: str | None = None,
    ddl_rules: dict[str, str] | None = None,
):
    """The reference's consumer loop with a REAL database as the
    target: parsed CDC stream -> foreachBatch -> set-based
    delete+upsert apply over JDBC, exactly-once via the streaming
    checkpoint + the apply's idempotency (a redelivered batch
    re-applies to the same state)."""
    return (
        events.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda batch, _epoch: apply_cdc_batch_jdbc(
            batch, url, table, key_cols, row_types, properties=properties,
            source_table=source_table, ddl_rules=ddl_rules))
        .trigger(availableNow=True)
        .start()
    )


def consume_cdc_stream(
    store: ParquetTableStore,
    events: DataFrame,
    checkpoint_dir: str,
):
    """C-path entry: parsed event stream -> foreachBatch apply with
    exactly-once bookkeeping via checkpointLocation (C5).  The
    micro-batch boundary is the resolvedTs analogue: every event in the
    batch is resolved by construction, however late its commit_ts (the
    apply's own commit_ts ordering and applied watermark decide what an
    event changes)."""
    return (
        events.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda batch, epoch_id: apply_cdc_batch(store, batch))
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(events: DataFrame, window: str = "5 minutes",
                          watermark: str = "10 minutes",
                          slide: str | None = None) -> DataFrame:
    """Streaming windowed aggregation with late-data handling — the
    watermark+window pattern over the event stream (works on a batch
    DataFrame too, where watermark is a no-op).  ``slide`` shorter than
    ``window`` makes the windows overlap (sliding); default tumbling."""
    ts = events.withColumn("event_time", F.timestamp_micros(F.col("commit_ts")))
    win = F.window("event_time", window, slide) if slide else F.window("event_time", window)
    return (
        ts.withWatermark("event_time", watermark)
        .groupBy(win, "table_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "table_name", "n",
        )
    )


def session_event_counts(events: DataFrame, gap: str = "30 minutes",
                         watermark: str = "10 minutes") -> DataFrame:
    """Streaming gap-sessionization: Spark's native ``session_window``
    — a session per (table) closes when no event arrives for ``gap``;
    late events inside the watermark merge sessions retroactively.
    The streaming twin of the batch :func:`~dbms_spark.operators.joins.
    sessionize` (gate q32): same gap semantics, state bounded by the
    watermark instead of a full-table window sort."""
    ts = events.withColumn("event_time", F.timestamp_micros(F.col("commit_ts")))
    return (
        ts.withWatermark("event_time", watermark)
        .groupBy(F.session_window("event_time", gap), "table_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "table_name", "n",
        )
    )


def attribute_conversions(clicks: DataFrame, purchases: DataFrame,
                          within: str = "30 minutes",
                          watermark: str = "10 minutes") -> DataFrame:
    """Stream-stream interval join: each purchase joined to the clicks
    of the same user in the preceding ``within`` window — the
    click->conversion attribution shape.  Both sides are watermarked,
    so Spark bounds the join state: clicks older than
    (watermark + within) are evicted, purchases after ``watermark``.
    Works identically on batch frames (watermark is a no-op there).

    Inputs are event frames with (user_id, ts/commit_ts); outputs one
    row per (purchase, attributed click) pair."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.timestamp_micros(F.col("commit_ts")).alias("click_time"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_time", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.timestamp_micros(F.col("commit_ts")).alias("purchase_time"),
        F.col("event_id").alias("purchase_id"),
    ).withWatermark("purchase_time", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_time") <= F.col("purchase_time"))
        & (F.col("click_time") >= F.col("purchase_time") - F.expr(f"INTERVAL {within}"))
    )
    return p.join(c, cond).select(
        F.col("p_user").alias("user_id"), "purchase_id", "click_id",
        "purchase_time", "click_time",
    )


def dedup_stream(events: DataFrame, watermark: str = "10 minutes",
                 keys: list[str] | None = None) -> DataFrame:
    """Exactly-once event intake for at-least-once transports (the
    Kafka-redelivery side of C4/C6): drops redelivered duplicates of
    the same (table, key, commit_ts) inside the watermark horizon —
    state is bounded by the watermark, so this runs forever at any
    rate.  Works as the stage BEFORE the idempotent store apply; the
    store's own watermark guard remains the backstop for duplicates
    older than the horizon."""
    keys = keys or ["schema_name", "table_name", "key_json", "commit_ts"]
    ts = events.withColumn("event_time", F.timestamp_micros(F.col("commit_ts")))
    return ts.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(keys)
