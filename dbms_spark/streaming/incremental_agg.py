"""Incremental aggregate (materialized-view) maintenance under CDC.

Keeps a grouped COUNT/SUM table consistent with a mutating source by
folding each CDC batch into ADDITIVE deltas instead of re-aggregating
the table: an INSERT contributes (+1, +values) to its group, a DELETE
(-1, -old values), and an UPDATE (-old, +new) — hitting TWO groups
when the update moves the row across group keys.  Groups whose count
reaches zero are dropped.

This is the O(batch) maintenance path for any downstream rollup the
reference's CDC apply feeds (consumer.go applies rows; a reporting
table downstream would otherwise re-scan).  At scale: the delta is one
map pass + a groupBy on the (small) batch; the merge shuffles only
delta groups against the store's matching partitions.

All summed columns are maintained in BIGINT (caller pre-scales money
to cents etc.) — additive integer deltas are exact under any
reordering, so replay order between batches doesn't matter as long as
batch boundaries respect commit order per key (the consumer's flush
contract, streaming/cdc.py).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from dbms_spark.plans.parallelism import literal_df
from dbms_spark.streaming.cdc import write_durably


def _image(events: DataFrame, col: str, types: dict[str, str], sign: int,
           pred) -> DataFrame:
    schema = ", ".join(f"{k} string" for k in types)
    # a missing image (e.g. an UPDATE from a source that doesn't ship
    # old rows) must contribute NOTHING — without this filter it would
    # fold a spurious delta into a NULL-keyed group
    img = events.filter(pred & F.col(col).isNotNull()) \
                .withColumn("__r", F.from_json(F.col(col), schema))
    out = img.select(
        *[F.col(f"__r.{k}").cast(t).alias(k) for k, t in types.items()],
        F.lit(sign).cast("bigint").alias("__sign"),
    )
    return out


def batch_delta(events: DataFrame, keys: list[str], sum_cols: list[str],
                col_types: dict[str, str]) -> DataFrame:
    """Fold one CDC event batch into per-group deltas:
    (keys..., d_count, d_<sum_col>...).  ``col_types`` maps every used
    column (keys + sum_cols) to its type string for image parsing."""
    types = {k: col_types[k] for k in [*keys, *sum_cols]}
    qt = F.col("query_type")
    ev = events.filter(~F.col("is_ddl"))
    images = (
        _image(ev, "new_json", types, +1, qt.isin("INSERT", "UPDATE"))
        .unionByName(_image(ev, "old_json", types, -1, qt.isin("DELETE", "UPDATE")))
    )
    return images.groupBy(*keys).agg(
        F.sum("__sign").alias("d_count"),
        *[F.sum(F.col(c).cast("bigint") * F.col("__sign")).alias(f"d_{c}")
          for c in sum_cols],
    )


def merge_delta(store: DataFrame, delta: DataFrame, keys: list[str],
                sum_cols: list[str]) -> DataFrame:
    """New store state: full-outer merge of (count, sums) components;
    groups that net to zero rows disappear."""
    d = delta
    merged = store.join(d, keys, "full_outer").select(
        *keys,
        (F.coalesce(F.col("n_rows"), F.lit(0))
         + F.coalesce(F.col("d_count"), F.lit(0))).alias("n_rows"),
        *[(F.coalesce(F.col(f"sum_{c}"), F.lit(0))
           + F.coalesce(F.col(f"d_{c}"), F.lit(0))).alias(f"sum_{c}")
          for c in sum_cols],
    )
    return merged.filter(F.col("n_rows") > 0)


def _merge_dir(src_dir: str, dst_dir: str) -> None:
    """Move every file of ``src_dir`` into ``dst_dir`` (created if
    absent) and remove ``src_dir``.  Each rename is atomic and a file
    exists in exactly one of the two dirs at any instant, so the merge
    is idempotent across crashes — re-running it finishes the job."""
    os.makedirs(dst_dir, exist_ok=True)
    for f in os.listdir(src_dir):
        os.rename(os.path.join(src_dir, f), os.path.join(dst_dir, f))
    os.rmdir(src_dir)


class AggStore:
    """Parquet-backed maintained aggregate with crash-safe versioned
    snapshots.  The rollup has one row per group — tiny next to the
    source — so a full rewrite per batch is O(groups), not O(table); a
    partitioned MERGE applies when groups stop being small.

    Layout (under ``path/``): snapshot dirs ``v_<n>/`` plus a pointer
    file ``CURRENT`` containing ``<snapshot_dir> <applied_batch_id>``.
    A batch commits by writing the NEW snapshot dir, then renaming a
    staged pointer over ``CURRENT`` — one atomic POSIX rename carries
    both the active-state switch AND the applied-batch marker, so a
    crash at any instant leaves either the old (state, marker) pair or
    the new one, never a mix.  Deltas are not idempotent (unlike the
    CDC store's key-replacement apply), so that atomicity is what makes
    redelivered batches exactly-once rather than double-applied.
    Snapshot dirs not named by ``CURRENT`` are garbage from interrupted
    commits; they are swept on the next apply."""

    _POINTER = "CURRENT"

    def __init__(self, spark, path: str, keys: list[str], sum_cols: list[str],
                 col_types: dict[str, str]):
        self.spark, self.path = spark, path
        self.keys, self.sum_cols, self.col_types = keys, sum_cols, col_types

    def _schema(self) -> str:
        key_part = ", ".join(f"{k} {self.col_types[k]}" for k in self.keys)
        sums = ", ".join(f"sum_{c} bigint" for c in self.sum_cols)
        return f"{key_part}, n_rows bigint" + (f", {sums}" if sums else "")

    def _pointer(self) -> tuple[str, int] | None:
        """(active snapshot dirname, applied batch id), or None if the
        store has never committed.  Transparently migrates a store
        written by the pre-pointer layout (parquet files directly under
        ``path`` + a ``path + '.applied_batch'`` marker) into snapshot
        v_000000 — without this, opening an old store would silently
        read empty state and re-apply committed batches onto it.

        The migration itself is crash-safe: files move into
        ``v_000000.migrating`` (a name apply_batch never creates, so
        its presence unambiguously marks an interrupted migration),
        the pointer commits, and ONE atomic dir rename puts the
        snapshot in place.  A crash at any step either leaves the
        legacy layout intact, leaves the ``.migrating`` dir to resume
        from, or leaves a committed pointer whose dir rename is
        re-done here on the next open."""
        snap_dir = os.path.join(self.path, "v_000000")
        mig_dir = snap_dir + ".migrating"
        try:
            with open(os.path.join(self.path, self._POINTER)) as f:
                snap, bid = f.read().split()
            # repair: migration crashed after the pointer committed but
            # before the staged dir moved into place
            pointed = os.path.join(self.path, snap)
            staged_dir = pointed + ".migrating"
            if os.path.isdir(staged_dir):
                _merge_dir(staged_dir, pointed)
            return snap, int(bid)
        except (FileNotFoundError, ValueError):
            pass
        legacy = [f for f in (os.listdir(self.path) if os.path.isdir(self.path) else [])
                  if f.endswith(".parquet") or f == "_SUCCESS" or f.startswith("part-")]
        resumed = os.path.isdir(mig_dir)
        if not legacy and not resumed:
            # a v_000000 WITHOUT a pointer is normally an uncommitted
            # first apply_batch (redelivery will rebuild it — correct
            # to ignore); only when the legacy marker also survives is
            # it an interrupted pre-pointer-era migration to resurrect
            if os.path.isdir(snap_dir) and os.path.exists(self.path + ".applied_batch"):
                legacy = []  # resurrect below with the marker's bid
            else:
                return None
        try:
            with open(self.path + ".applied_batch") as f:
                bid = int(f.read().strip())
        except (FileNotFoundError, ValueError):
            bid = -1
        if legacy or resumed:
            os.makedirs(mig_dir, exist_ok=True)
            for f in legacy:
                os.rename(os.path.join(self.path, f), os.path.join(mig_dir, f))
        staged = os.path.join(self.path, self._POINTER + ".staging")
        write_durably(staged, f"v_000000 {bid}")
        os.rename(staged, os.path.join(self.path, self._POINTER))
        if os.path.isdir(mig_dir):
            _merge_dir(mig_dir, snap_dir)
        return "v_000000", bid

    def read(self) -> DataFrame:
        ptr = self._pointer()
        if ptr is None:
            return literal_df(self.spark, [], self._schema())
        path = os.path.join(self.path, ptr[0])
        # infer the snapshot schema ONCE per store instance: every
        # apply_batch and counts read re-ran footer inference (~60 ms
        # a read — round 10, the load_table lesson applied to stores).
        # One store writes every snapshot with one merge_fn, so the
        # schema is stable across versions by construction.
        if getattr(self, "_snap_schema", None) is None:
            df = self.spark.read.parquet(path)
            self._snap_schema = df.schema
            return df
        return self.spark.read.schema(self._snap_schema).parquet(path)

    def last_batch_id(self) -> int:
        ptr = self._pointer()
        return -1 if ptr is None else ptr[1]

    def apply_batch(self, events: DataFrame, batch_id: int | None = None) -> None:
        """Fold one batch into the store.  Pass foreachBatch's
        ``batch_id`` for exactly-once semantics: a crash between the
        sink write and the checkpoint commit makes Structured Streaming
        REDELIVER the batch; the pointer commit (see class docstring)
        makes the redelivered application a no-op instead of a
        double-apply."""
        ptr = self._pointer()
        last_bid = -1 if ptr is None else ptr[1]
        if batch_id is not None and batch_id <= last_bid:
            return
        delta = batch_delta(events, self.keys, self.sum_cols, self.col_types)
        new = merge_delta(self.read(), delta, self.keys, self.sum_cols)
        self._commit(new, ptr, batch_id if batch_id is not None else last_bid)

    def _commit(self, new: DataFrame, ptr: tuple[str, int] | None,
                bid: int) -> None:
        """Materialize ``new`` as the next snapshot and move the
        pointer — ONE atomic rename carries state switch + batch
        marker (see class docstring)."""
        os.makedirs(self.path, exist_ok=True)
        version = 0 if ptr is None else int(ptr[0].split("_")[1]) + 1
        snap = f"v_{version:06d}"
        # the new state derives from the files of the old snapshot, so
        # it must be fully materialized before the pointer moves
        new.write.mode("overwrite").parquet(os.path.join(self.path, snap))
        staged = os.path.join(self.path, self._POINTER + ".staging")
        write_durably(staged, f"{snap} {bid}")
        os.rename(staged, os.path.join(self.path, self._POINTER))  # atomic commit
        # sweep snapshots the pointer no longer names (orphans from
        # interrupted commits, plus the just-superseded snapshot)
        for d in os.listdir(self.path):
            if d.startswith("v_") and d != snap:
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)


class SketchStore(AggStore):
    """Crash-safe maintained SKETCH ledger: the AggStore snapshot +
    pointer-commit machinery (exactly-once across foreachBatch
    redeliveries, crash-safe POSIX-rename commits), but the maintained
    state is any MERGEABLE sketch relation — histogram (hist_build /
    hist_merge), HLL registers (register MAX), Bloom words (bit_or),
    KMV bottom-k (union + re-top-k).  This is the streaming form of
    examples/daily_profile.py: a corpus profile that stays current
    under a live stream, with every query answered from the <= few
    hundred summary rows.

    ``build_fn(batch_df) -> sketch`` sketches one micro-batch;
    ``merge_fn(cur, delta) -> merged`` folds it into the ledger (must
    be the sketch's lossless merge so the stored state is EXACTLY the
    sketch of everything applied).

    ``fold_first_batch``: by default the FIRST batch's build output is
    committed directly (a batch's sketch IS valid state).  Stores
    whose ``merge_fn`` folds raw batch rows into state of a DIFFERENT
    shape (the funnel store: build passes events through, merge
    advances the anchor chain) set this True so batch #1 also runs
    the fold — against the empty-schema relation ``read()`` returns.
    One flag instead of an overriding subclass: the pointer /
    redelivery / commit sequence below stays single-sourced."""

    def __init__(self, spark, path: str, build_fn, merge_fn, schema: str,
                 fold_first_batch: bool = False):
        self.spark, self.path = spark, path
        self._build, self._merge, self._schema_str = build_fn, merge_fn, schema
        self._fold_first = fold_first_batch

    def _schema(self) -> str:
        return self._schema_str

    def apply_batch(self, events: DataFrame, batch_id: int | None = None) -> None:
        ptr = self._pointer()
        last_bid = -1 if ptr is None else ptr[1]
        if batch_id is not None and batch_id <= last_bid:
            return  # redelivered batch: exactly-once no-op
        delta = self._build(events)
        new = (delta if ptr is None and not self._fold_first
               else self._merge(self.read(), delta))
        self._commit(new, ptr, batch_id if batch_id is not None else last_bid)
