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

Storage: :class:`AggStore` is a :class:`SketchStore` (build
:func:`batch_delta`, merge :func:`merge_delta`), a one-bucket
ParquetTableStore table that commits state and applied batch id the
way the CDC store does (:func:`dbms_spark.streaming.cdc.commit_manifest`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from dbms_spark.streaming.cdc import ParquetTableStore


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


class LedgerStore(ParquetTableStore):
    """ONE maintained relation as the single table ``TABLE`` of a
    ParquetTableStore: state and applied batch id (the watermark)
    commit together in one ``manifest.json`` replace.  The base of
    :class:`SketchStore` and of streaming/events' day ledgers."""

    TABLE = "ledger"

    def __init__(self, spark, path: str, schema: str,
                 key_cols: list[str] = ()):
        super().__init__(spark=spark, base_path=path,
                         schemas={self.TABLE: schema},
                         key_cols={self.TABLE: list(key_cols)})

    def read(self) -> DataFrame:  # type: ignore[override]
        return self._read_buckets(self.TABLE)

    def last_batch_id(self) -> int:
        return self.get_watermark(self.TABLE)


class SketchStore(LedgerStore):
    """Crash-safe maintained SKETCH ledger: the maintained state is
    any MERGEABLE sketch relation — histogram (hist_build /
    hist_merge), HLL registers (register MAX), Bloom words (bit_or),
    KMV bottom-k (union + re-top-k).  This is the streaming form of
    examples/daily_profile.py: a corpus profile that stays current
    under a live stream, with every query answered from the <= few
    hundred summary rows.

    ``build_fn(batch_df) -> sketch`` sketches one micro-batch;
    ``merge_fn(cur, delta) -> merged`` folds it into the ledger (must
    be the sketch's lossless merge so the stored state is EXACTLY the
    sketch of everything applied).  ``schema`` is the stored schema
    (reads use it; none infers one).  Each batch writes the whole new
    snapshot as the one bucket ``files/v<N>/_kb=0`` and commits it
    with the batch id: a crash before the manifest replace leaves the
    previous (state, batch id) pair, so a redelivered batch applies
    exactly once.

    ``fold_first_batch``: by default the FIRST batch's build output is
    committed directly (a batch's sketch IS valid state).  Stores
    whose ``merge_fn`` folds raw batch rows into state of a DIFFERENT
    shape (the funnel store: build passes events through, merge
    advances the anchor chain) set this True so batch #1 also runs
    the fold — against the empty relation ``read()`` returns."""

    def __init__(self, spark, path: str, build_fn, merge_fn, schema: str,
                 fold_first_batch: bool = False):
        # read as empty state, a store of the old CURRENT-pointer
        # layout would re-apply every batch it holds
        for old in (os.path.join(path, "CURRENT"), path + ".applied_batch"):
            if os.path.exists(old):
                raise ValueError(f"{old}: store of the old CURRENT-pointer "
                                 f"layout; re-apply its batches to a new path")
        super().__init__(spark, path, schema)
        self._build, self._merge = build_fn, merge_fn
        self._fold_first = fold_first_batch

    def apply_batch(self, events: DataFrame, batch_id: int | None = None) -> None:
        """Fold one batch in.  Pass foreachBatch's ``batch_id`` for
        exactly-once: one at or below the watermark is a redelivery.
        Without one the batch applies and the watermark stays."""
        m = self._read_manifest(self.TABLE)
        if batch_id is not None and batch_id <= m["watermark"]:
            return  # redelivered batch: exactly-once no-op
        delta = self._build(events)
        new = (delta if not m["buckets"] and not self._fold_first
               else self._merge(self.read(), delta))
        version = m["version"] + 1
        rel = os.path.join("files", f"v{version}", "_kb=0")
        new.write.mode("overwrite").parquet(
            os.path.join(self.table_path(self.TABLE), rel))
        committed = {"version": version,
                     "watermark": m["watermark"] if batch_id is None else batch_id,
                     "buckets": {"0": rel}}
        self._commit_manifest(self.TABLE, committed)
        self._gc(self.TABLE, committed)


class AggStore(SketchStore):
    """Maintained aggregate (keys..., n_rows, sum_<col>...): a
    :class:`SketchStore` building :func:`batch_delta` and merging
    :func:`merge_delta`.  One row per group, so a full rewrite per
    batch is O(groups), not O(table)."""

    def __init__(self, spark, path: str, keys: list[str], sum_cols: list[str],
                 col_types: dict[str, str]):
        schema = ", ".join([*(f"{k} {col_types[k]}" for k in keys), "n_rows bigint",
                            *(f"sum_{c} bigint" for c in sum_cols)])
        super().__init__(
            spark, path,
            build_fn=lambda ev: batch_delta(ev, keys, sum_cols, col_types),
            merge_fn=lambda cur, d: merge_delta(cur, d, keys, sum_cols),
            schema=schema, fold_first_batch=True)
