"""Data-migration operators: partitioned read -> batch sinks.

The reference's 3-stage channel pipeline (reference: database/
processor/stmt_migrate_row.go:62-304 MigrateRead/Process/Apply; CSV
sink database/processor/csv_migrate_row.go:54-190; safe-mode REPLACE
INTO database/processor/processor_translate_mysql.go:40,81; chunk
ledger rows model/task/task_entity.go:196) collapses into Spark's own
execution: a declarative read plan feeding a writer.  What remains to
build is (a) sink option mapping, (b) safe-mode upsert semantics for
non-transactional targets, (c) a chunk ledger so batch jobs resume
like the reference's checkpoint-enabled tasks.

Scale notes: writers inherit the read's partitioning — ``repartition``
only when the target layout demands it; CSV/parquet writes stream
per-partition with no driver involvement.  Per-chunk bookkeeping is
driver data, like the reference's coordinator rows: the ledger is an
O(chunks) journal file, and a chunk's row count rides an
``observe()`` on its own write, so a chunk costs one Spark job.  The
pending chunks' jobs run concurrently from a driver thread pool (the
reference's chunk-parallel extract), so chunks narrower than the
cluster still keep every core busy; a chunk whose write fails stays
pending in the ledger.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import threading
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target
from dbms_spark.streaming.cdc import write_durably


@dataclass
class CsvSinkOptions:
    """S10 CSV sink parameter surface (reference: proto/pb/
    dbms_master.pb.go:5299 CsvMigrateParam — Header, Separator,
    Terminator, Delimiter, NullValue, EscapeBackslash, OutputDir)."""

    header: bool = True
    separator: str = ","
    terminator: str = "\n"
    delimiter: str = '"'   # quote char
    null_value: str = ""
    escape_backslash: bool = False
    charset: str = "UTF-8"
    compression: str | None = None

    def writer_options(self) -> dict[str, str]:
        opts = {
            "header": str(self.header).lower(),
            "sep": self.separator,
            "lineSep": self.terminator,
            "quote": self.delimiter,
            "nullValue": self.null_value,
            "encoding": self.charset,
        }
        if self.escape_backslash:
            opts["escape"] = "\\"
        if self.compression:
            opts["compression"] = self.compression
        return opts


def write_csv(df: DataFrame, path: str, options: CsvSinkOptions | None = None,
              mode: str = "overwrite", num_files: int | None = None,
              max_records_per_file: int | None = None) -> None:
    """CSV sink — the reference's whole csv_migrate subsystem is this
    one writer call; file count steers size capping (the reference's
    DiskUsageFactor) via repartition, and ``max_records_per_file``
    caps individual file size without a shuffle (the writer rolls to
    a new file mid-partition)."""
    options = options or CsvSinkOptions()
    out = df.repartition(num_files) if num_files else df
    w = out.write.mode(mode).options(**options.writer_options())
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.csv(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: list[str] | None = None,
                  max_records_per_file: int | None = None) -> None:
    """Parquet sink; ``partition_by`` lays out hive-style partition
    directories so downstream reads partition-prune (the scan lists
    only matching directories — at 100 TB the difference between a
    full-corpus scan and one day's worth)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append",
               batchsize: int = 500, num_partitions: int | None = None,
               properties: dict[str, str] | None = None) -> None:
    """S9 JDBC batch sink.  batchsize default mirrors the reference's
    insert batch (example/stmt_migrate_task.toml:51 = 500).  Executes
    on executors, one connection per partition — exercised end-to-end
    against embedded Derby in tests/test_jdbc_roundtrip.py."""
    out = df.repartition(num_partitions) if num_partitions else df
    writer = (
        out.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .option("isolationLevel", "READ_COMMITTED")
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def jdbc_upsert(df: DataFrame, url: str, target: str, staging: str,
                keys: list[str], batchsize: int = 500,
                num_partitions: int | None = None,
                drop_staging: bool = True,
                properties: dict[str, str] | None = None) -> int:
    """Executed MERGE apply: stage the batch on the target via the
    executor-side JDBC sink, then fold it into ``target`` with ONE
    set-based MERGE (sources/jdbc.gen_merge_from_staging) — the Spark
    re-expression of the reference's batched idempotent upsert
    (database/processor/stmt_migrate_row.go:206-304).  Returns the
    MERGE's affected-row count.  Idempotent: re-running with the same
    batch converges (matched rows re-set to identical values).

    Scale shape: the data leg is distributed (one JDBC connection per
    partition writing the staging table); the apply leg is O(1)
    statements regardless of batch size, and the target engine joins
    staging->target with its own planner."""
    from dbms_spark.sources.jdbc import gen_merge_from_staging
    from dbms_spark.sources.jdbc_exec import execute

    write_jdbc(df, url, staging, mode="overwrite", batchsize=batchsize,
               num_partitions=num_partitions, properties=properties)
    merge = gen_merge_from_staging(target, staging, keys, df.columns)
    stmts = [merge] + ([f"DROP TABLE {staging}"] if drop_staging else [])
    return execute(df.sparkSession, url, stmts)[0]


def upsert(existing: DataFrame, incoming: DataFrame, keys: list[str]) -> DataFrame:
    """Safe-mode apply (REPLACE INTO semantics): incoming rows win on
    key collision.  anti-join + union — the MERGE emulation for
    non-transactional file targets."""
    survivors = existing.join(incoming.select(*keys).distinct(), on=keys, how="left_anti")
    return survivors.unionByName(incoming.select(*existing.columns))


# ---------------------------------------------------------------------------
# Chunk ledger: resumable batch migration bookkeeping
# ---------------------------------------------------------------------------

@dataclass
class ChunkLedger:
    """Per-chunk progress of one migrate task as a driver-side journal
    (the reference keeps these as chunk rows in its meta DB,
    model/task/task_entity.go:196).  Each event is one JSON line,
    appended and fsynced; the status of a chunk is its latest line.
    A crash mid-append can leave a torn last line: it is skipped on
    read, so its chunk stays pending, and every append starts on a
    fresh line, so a torn line never swallows the next event.  Several
    tasks, and the concurrent chunks of one task, may share one
    journal file: appends are serialized under a process-wide lock."""

    path: str
    task: str

    _append_lock = threading.Lock()

    def log(self, chunk_id: int, predicate: str, status: str, rows: int = 0) -> None:
        os.makedirs(os.path.dirname(os.path.abspath(self.path)), exist_ok=True)
        event = {"task": self.task, "chunk_id": chunk_id, "predicate": predicate,
                 "status": status, "rows": rows,
                 "ts": datetime.datetime.now(datetime.timezone.utc).isoformat()}
        with self._append_lock:
            write_durably(self.path, "\n" + json.dumps(event), "a")

    def state(self) -> dict[int, dict]:
        """chunk id -> latest event of this task."""
        latest: dict[int, dict] = {}
        if not os.path.exists(self.path):
            return latest
        with open(self.path) as f:
            for line in f:
                try:
                    event = json.loads(line)
                except ValueError:      # blank, or torn by a crashed append
                    continue
                if event["task"] == self.task:
                    latest[event["chunk_id"]] = event
        return latest

    def pending(self, all_chunk_ids: list[int]) -> list[int]:
        state = self.state()
        return [c for c in all_chunk_ids if state.get(c, {}).get("status") != "done"]


def write_counted(df: DataFrame, path: str, fmt: str = "parquet") -> int:
    """Write ``df`` to ``path`` as parquet or CSV and return its row
    count from an ``observe()`` on the write itself: one Spark job, no
    read-back or second scan."""
    if fmt not in ("parquet", "csv"):
        raise ValueError(f"unknown sink format {fmt}")
    obs = Observation()
    counted = df.observe(obs, F.count(F.lit(1)).alias("n"))
    if fmt == "parquet":
        write_parquet(counted, path)
    else:
        write_csv(counted, path)
    return obs.get["n"]


def migrate_chunked(
    src: DataFrame,
    predicates: list[str],
    sink_path: str,
    ledger: ChunkLedger | None = None,
    fmt: str = "parquet",
) -> int:
    """Resumable chunked migrate: each chunk predicate becomes one
    filtered, observed write into a chunk-keyed subdirectory;
    completed chunks are skipped on re-run.  Returns the rows written
    by this call.  (With a JDBC source the same predicates feed
    ``spark.read.jdbc(predicates=...)`` so each chunk is one remote
    range scan — S1/S2.)

    The pending chunks' writes run concurrently, one Spark job each,
    from ``min(pending, defaultParallelism)`` driver threads.  Each
    chunk logs ``running`` right before its write and ``done`` with
    its count right after, so a chunk whose write raises stays
    ``running`` and is pending on resume.  After a failure no further
    chunk starts, the chunks in flight finish and log ``done``, and
    then the error of the first failed chunk is raised."""
    todo = range(len(predicates)) if ledger is None else ledger.pending(list(range(len(predicates))))
    if not todo:
        return 0
    spark = src.sparkSession

    def run(i: int) -> int:
        pred = predicates[i]
        if ledger:
            ledger.log(i, pred, "running")
        n = write_counted(src.filter(pred), os.path.join(sink_path, f"chunk={i}"), fmt)
        if ledger:
            ledger.log(i, pred, "done", n)
        return n

    workers = min(len(todo), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(workers) as pool:
        # one wrap per chunk: each thread gets its own copy of the
        # caller's local properties (job group, SQL execution id)
        futures = [pool.submit(inheritable_thread_target(spark)(run), i) for i in todo]
        wait(futures, return_when=FIRST_EXCEPTION)
        for f in futures:
            f.cancel()
    for f in futures:
        if not f.cancelled() and f.exception() is not None:
            raise f.exception()
    return sum(f.result() for f in futures)


# ---------------------------------------------------------------------------
# Data layout management: compaction + range-clustered writes.  At
# 100 TB the dominant read costs are (a) small-file listing/open
# overhead and (b) scans that can't skip row groups; these two
# writers are the standing fixes.
# ---------------------------------------------------------------------------

def compact_parquet(spark: SparkSession, src_path: str, out_path: str,
                    target_file_bytes: int = 128 * 1024 * 1024) -> int:
    """Rewrite a fragmented parquet directory into ~target-sized files
    (the periodic compaction job every long-lived table needs: a
    10k-small-file day of streaming appends becomes a handful of
    scan-friendly files).  Returns the output file count.  Coalesce,
    not repartition — compaction must not shuffle."""
    import glob

    total = sum(os.path.getsize(p) for p in glob.glob(os.path.join(src_path, "*.parquet"))) \
        or sum(os.path.getsize(p) for p in glob.glob(os.path.join(src_path, "part-*")))
    n_files = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(src_path)
    df.coalesce(n_files).write.mode("overwrite").parquet(out_path)
    return len(glob.glob(os.path.join(out_path, "part-*")))


def write_sorted_parquet(df: DataFrame, path: str, sort_cols: list[str],
                         num_files: int | None = None, mode: str = "overwrite") -> None:
    """Range-clustered write: repartitionByRange + sortWithinPartitions
    on ``sort_cols`` gives every output file a DISJOINT value range, so
    parquet min/max statistics let later range predicates skip whole
    files/row groups (the poor man's clustered index — the same reason
    the reference chunks on indexed key ranges)."""
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in sort_cols]
    (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode).parquet(path)
    )


def zorder_key_sql(x: str, y: str, bits: int = 16) -> str:
    """Morton (Z-order) interleave of the low ``bits`` bits of two
    non-negative integer columns, as ONE expression string valid in
    both Spark SQL and DuckDB (floor/%/* arithmetic only — no shift
    operators, whose dialects differ; operands stay far below 2^53 so
    the double-division route is exact on both engines).

    Sorting by this key clusters rows so that ranges over EITHER
    column map to bounded z-key ranges — parquet min/max skipping
    works for two predicates with one physical order, where a plain
    sort only serves its leading column."""
    terms = []
    for i in range(bits):
        terms.append(f"(floor({x} / {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(floor({y} / {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def write_zordered_parquet(df: DataFrame, path: str, x: str, y: str,
                           bits: int = 16, num_files: int | None = None,
                           mode: str = "overwrite") -> None:
    """Z-order-clustered write: range-partition + sort on the Morton
    key of (x, y), so files carry disjoint z-ranges and min/max stats
    prune on BOTH dimensions.  The key column itself is not persisted
    — layout only."""
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    keyed = df.withColumn("__z", F.expr(zorder_key_sql(x, y, bits)))
    (
        keyed.repartitionByRange(n, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode).parquet(path)
    )


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite",
                max_records_per_file: int | None = None,
                compression: str | None = None) -> None:
    """JSON-Lines sink — the interchange format training-data
    pipelines exchange shards in.  Spark's json writer IS jsonl (one
    object per line); ``max_records_per_file`` caps shard size the
    same way the CSV/parquet sinks do (the reference's
    DiskUsageFactor), ``compression`` e.g. 'gzip' for wire-format
    shards."""
    w = df.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(spark, path: str, schema: str | None = None) -> DataFrame:
    """Schema-pinned JSONL read (inference off at scale: one pass, no
    sampling job, stable types)."""
    r = spark.read
    if schema:
        r = r.schema(schema)
    return r.json(path)


def compact_small_files(spark: SparkSession, path: str,
                        small_threshold_bytes: int = 8 * 1024 * 1024,
                        target_file_bytes: int = 128 * 1024 * 1024) -> dict:
    """IN-PLACE selective compaction: only files under the threshold
    are read, merged into ~target-sized replacements, and swapped in;
    well-sized files are NOT touched.  At scale this is the difference
    between compacting a day's streaming tail (cheap, incremental) and
    rewriting the whole table (compact_parquet's full-rewrite form).
    Returns counts.  The merge is a coalesce — no shuffle.

    Consistency contract: each individual file rename is atomic, but
    the SET-level swap is not — replacement files land before the
    merged sources are deleted, so a directory-listing reader in that
    window sees the compacted rows twice.  This operator therefore
    assumes a SINGLE WRITER and no concurrent directory-listing
    readers.  For readers that must overlap compaction, a
    ``_LIVE_MANIFEST`` file (one live filename per line, swapped in by
    atomic rename as the commit point of the compaction) is maintained
    in the directory: read exactly the files it names
    (``spark.read.parquet(*live)``) and the double-read window
    disappears — the manifest flips from old set to new set in one
    rename."""
    import glob
    import uuid

    # finish a crashed predecessor first: files the manifest lists as
    # pending-delete already have their rows inside part-compacted-*
    # replacements — compacting them AGAIN would duplicate data
    for leftover in _manifest_sets(path)[1]:
        p = os.path.join(path, leftover)
        if os.path.isfile(p):
            os.remove(p)
    files = [p for p in glob.glob(os.path.join(path, "part-*")) if os.path.isfile(p)]
    small = [p for p in files if os.path.getsize(p) < small_threshold_bytes]
    if len(small) < 2:
        _write_live_manifest(path, files)
        return {"files_before": len(files), "compacted": 0, "files_after": len(files)}
    total = sum(os.path.getsize(p) for p in small)
    n_out = max(1, -(-total // target_file_bytes))
    stage = os.path.join(path, f"_compact_{uuid.uuid4().hex[:8]}")
    spark.read.parquet(*small).coalesce(n_out).write.mode("overwrite").parquet(stage)
    new_files = glob.glob(os.path.join(stage, "part-*"))
    moved = []
    for i, f in enumerate(new_files):
        dst = os.path.join(path, f"part-compacted-{uuid.uuid4().hex[:8]}-{i}.parquet")
        os.rename(f, dst)
        moved.append(dst)
    # commit point for manifest readers: live set flips old->new in one
    # rename.  Re-glob HERE so sink files appended while the merge ran
    # are named live (they'd otherwise be invisible to readers until
    # the next compaction), and name the merged sources as
    # pending-delete so readers exclude them without mtime heuristics.
    small_set = set(small)
    moved_set = set(moved)
    keep = [p for p in glob.glob(os.path.join(path, "part-*"))
            if os.path.isfile(p) and p not in small_set and p not in moved_set]
    _write_live_manifest(path, keep + moved, removed_files=small)
    for p in small:
        os.remove(p)
    shutil.rmtree(stage, ignore_errors=True)
    return {"files_before": len(files), "compacted": len(small),
            "files_after": len(files) - len(small) + len(moved)}


def _write_live_manifest(path: str, live_files: list[str],
                         removed_files: list[str] | tuple = ()) -> None:
    """Atomically (write+fsync, then rename) record the live file set —
    the commit point concurrent readers key off (see
    compact_small_files).  ``removed_files`` (merged sources awaiting
    deletion) are recorded as ``!name`` lines so readers exclude them
    by NAME, not by mtime heuristics.  The fsync closes the crash
    window where the rename survives a power loss but the content
    doesn't (a zero-length manifest would otherwise wedge every
    reader)."""
    manifest = os.path.join(path, "_LIVE_MANIFEST")
    tmp = manifest + ".tmp"
    lines = sorted(os.path.basename(p) for p in live_files)
    lines += sorted("!" + os.path.basename(p) for p in removed_files)
    write_durably(tmp, "\n".join(lines))
    os.rename(tmp, manifest)


def _manifest_sets(path: str) -> tuple[set, set]:
    """(live, pending-delete) basenames from ``_LIVE_MANIFEST``;
    empty sets when no manifest exists."""
    manifest = os.path.join(path, "_LIVE_MANIFEST")
    if not os.path.exists(manifest):
        return set(), set()
    with open(manifest) as f:
        lines = [ln for ln in f.read().splitlines() if ln]
    return ({ln for ln in lines if not ln.startswith("!")},
            {ln[1:] for ln in lines if ln.startswith("!")})


def read_live_manifest(spark: SparkSession, path: str) -> DataFrame:
    """Read a compacted directory through its ``_LIVE_MANIFEST`` —
    immune to the compaction swap window (falls back to the plain
    directory read when no manifest exists yet).

    Append-aware, by NAME: a part file on disk but NOT named by the
    manifest is one of (a) a merged source awaiting deletion — listed
    as ``!name``, excluded, its rows live in the compacted
    replacements; (b) a sink file appended after the manifest committed
    — included, so a streaming tail keeps landing between compactions
    without readers going stale on the frozen snapshot; (c) a
    ``part-compacted-*`` replacement of an IN-FLIGHT compaction whose
    manifest hasn't committed yet — excluded by prefix (its rows are
    still covered by the currently-named sources; it joins the live
    set when its own manifest rename lands)."""
    import glob

    manifest = os.path.join(path, "_LIVE_MANIFEST")
    if not os.path.exists(manifest):
        return spark.read.parquet(path)
    named, removed = _manifest_sets(path)
    files = []
    for p in glob.glob(os.path.join(path, "part-*")):
        base = os.path.basename(p)
        appended = (base not in removed
                    and not base.startswith("part-compacted-"))
        if base in named or appended:
            files.append(p)
    if not files:
        return spark.read.parquet(path)   # empty/corrupt manifest: degrade
    return spark.read.parquet(*files)
