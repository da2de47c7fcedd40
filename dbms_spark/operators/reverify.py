"""Incremental re-verification: compare only chunks whose source
checksum changed since the last verified run.

The reference persists per-chunk verify results in its metadata DB
(task/chunk ledger, model/task tables) and re-runs only failed or
stale chunks on resume (database/processor/data_compare_task.go resume
path).  Re-expressed Spark-first:

- the LEDGER is a parquet table of per-chunk checksum sums from the
  last verified run (``chunk_id, cnt, h0..h3``)
- a re-verify recomputes the SOURCE sums (one scan) and collects them
  together with the ledger in ONE action
  (``compare.collect_chunk_sums``); the changed, new or vanished
  chunks are found on the driver (``compare.differing_chunks``)
- per-chunk sums live on the driver, like the reference's chunk
  lists and chunk results in its meta DB.  That never raises the
  driver's memory order: the driver already holds the ``ChunkPlan``
  (n_chunks - 1 bound tuples), and each side's sums are at most
  n_chunks rows of a few numbers, bounded by the plan they came from
- only the changed chunks' key ranges are read on the TARGET side:
  contiguous ids coalesce into a range predicate capped at
  ``max_ranges`` OR-terms (``chunker.ranges_predicate``) that reaches
  the parquet/JDBC scan (PushedFilters)
- the target's sums are collected once and only the changed chunks
  are compared, so a read the cap widened still compares exactly the
  changed chunks

At 100 TB this turns a nightly full compare into an incremental one
proportional to churn, with pushdown text O(max_ranges) even at
reference-style 500-row chunks (millions of chunks, high churn).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbms_spark.operators.compare import (
    chunked_checksum,
    collect_chunk_sums,
    differing_chunks,
)
from dbms_spark.plans.chunker import (
    ChunkPlan,
    _cap_runs,
    _runs,
    assign_chunk_id,
    ranges_predicate,
)
from dbms_spark.plans.parallelism import literal_df


def save_ledger(sums: DataFrame, path: str) -> None:
    """Write the chunk-sum ledger the next round starts from."""
    sums.write.mode("overwrite").parquet(path)


def load_ledger(spark: SparkSession, path: str) -> DataFrame | None:
    try:
        return spark.read.parquet(path)
    except Exception:
        return None


@dataclass(frozen=True)
class ReverifyReport:
    """One round's verdict: the recompared and mismatched chunk ids
    (sorted), the plan's chunk count, and the ≤ max_ranges coalesced
    ranges the target read was pruned to."""

    checked_chunks: list[int]      # chunk ids recompared
    mismatched_chunks: list[int]   # of those, ids differing from dst
    total_chunks: int
    checked_ranges: list[tuple[int, int]] = field(default_factory=list)

    @property
    def n_checked(self) -> int:
        return len(self.checked_chunks)

    @property
    def n_mismatched(self) -> int:
        return len(self.mismatched_chunks)


def reverify(
    src: DataFrame,
    dst: DataFrame,
    plan: ChunkPlan,
    ledger: DataFrame | None,
    cols: list[str] | None = None,
    oracle_empty_is_null: bool = False,
    max_ranges: int = 256,
) -> tuple[DataFrame, ReverifyReport]:
    """One incremental verify round.  Returns ``(new_ledger_sums,
    report)``.

    Contract: a chunk is recompared iff its SOURCE checksum moved
    (new, vanished, or changed).  Chunks whose source is untouched are
    trusted from the prior verified run and the target is NOT re-read
    for them — that skip is the point.

    Driver transfer: two collects, each at most ``plan.n_chunks`` rows
    per side of ``chunk_id`` and sums, never row data — the source sums
    with the ledger, then the range-pruned target's sums.  The returned
    ledger is a literal relation of the collected source sums, so
    nothing is left cached."""
    cols = cols or src.columns

    def sums(df: DataFrame) -> DataFrame:
        return chunked_checksum(df, assign_chunk_id(plan, df), cols, oracle_empty_is_null)

    src_sums = sums(src)
    if ledger is None:
        new, old = collect_chunk_sums(src_sums)[0], {}
    else:
        new, old = collect_chunk_sums(src_sums, ledger)
    ids = differing_chunks(new, old)
    new_ledger = literal_df(src.sparkSession,
                            [(c, *v) for c, v in sorted(new.items())], src_sums.schema)
    if not ids:
        return new_ledger, ReverifyReport([], [], plan.n_chunks, [])
    dst_sub = dst.filter(F.expr(ranges_predicate(plan, ids, max_ranges)))
    (got,) = collect_chunk_sums(sums(dst_sub))

    def changed(by_chunk: dict) -> dict:
        return {c: by_chunk[c] for c in ids if c in by_chunk}

    bad = differing_chunks(changed(new), changed(got))
    return new_ledger, ReverifyReport(
        ids, bad, plan.n_chunks, _cap_runs(_runs(ids), max_ranges))
