"""Incremental re-verification: compare only chunks whose source
checksum changed since the last verified run.

The reference persists per-chunk verify results in its metadata DB
(task/chunk ledger, model/task tables) and re-runs only failed or
stale chunks on resume (database/processor/data_compare_task.go resume
path).  Re-expressed Spark-first:

- the LEDGER is a parquet table of per-chunk checksum sums from the
  last verified run (``chunk_id, cnt, h0..h3``)
- a re-verify recomputes SOURCE sums (one scan, persisted) and diffs
  them against the ledger (``compare.diff_chunk_sums``) to find
  changed/new/vanished chunks; their ids are collected in ONE action.
  The sums themselves never reach the driver.
- the changed ids live on the driver, like the reference's chunk
  lists in its meta DB.  That never raises the driver's memory order:
  the driver already holds the ``ChunkPlan`` (n_chunks - 1 bound
  tuples, each at least as large as an id), so a list of at most
  n_chunks ints is bounded by the plan it came from.
- only the changed chunks' key ranges are read on the TARGET side:
  contiguous ids coalesce into a range predicate capped at
  ``max_ranges`` OR-terms (``chunker.ranges_predicate``) that reaches
  the parquet/JDBC scan (PushedFilters)
- both sides' sums are restricted to the changed ids by the broadcast
  semi-join drilldown also uses (``compare.in_chunks``), so a read the
  cap widened still compares exactly the changed chunks; the
  mismatched ids are collected once

At 100 TB this turns a nightly full compare into an incremental one
proportional to churn, with pushdown text O(max_ranges) even at
reference-style 500-row chunks (millions of chunks, high churn).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbms_spark.operators.compare import chunked_checksum, diff_chunk_sums, in_chunks
from dbms_spark.plans.chunker import (
    ChunkPlan,
    _cap_runs,
    _runs,
    assign_chunk_id,
    ranges_predicate,
)


def save_ledger(sums: DataFrame, path: str) -> None:
    """Persist the chunk-sum ledger AND release its cache: ``reverify``
    returns the sums persisted (they back several actions inside one
    round), and the parquet write here is the natural end of that
    lifecycle — a long-lived session running nightly rounds must not
    accumulate cached chunk-sum relations.  Callers that skip
    save_ledger own the ``sums.unpersist()`` call themselves (see the
    reverify docstring)."""
    sums.write.mode("overwrite").parquet(path)
    sums.unpersist()


def load_ledger(spark: SparkSession, path: str) -> DataFrame | None:
    try:
        return spark.read.parquet(path)
    except Exception:
        return None


def changed_chunks(src_sums: DataFrame, ledger: DataFrame | None) -> DataFrame:
    """Chunk ids whose source checksum differs from the ledger (or all
    of them when there is no ledger yet)."""
    if ledger is None:
        return src_sums.select("chunk_id")
    return diff_chunk_sums(src_sums, ledger).filter(~F.col("same")).select("chunk_id")


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


def _ids(df: DataFrame) -> list[int]:
    return sorted(r["chunk_id"] for r in df.select("chunk_id").collect())


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

    Lifecycle: the returned sums are PERSISTED (they back multiple
    actions within the round).  :func:`save_ledger` unpersists them
    after the parquet write — the normal nightly flow.  A caller that
    does not save the ledger must call ``sums.unpersist()`` itself, or
    a long-lived session accumulates cached chunk-sum relations.

    Driver transfer: two id-only collects (changed, then mismatched),
    each at most ``plan.n_chunks`` ints; the sums stay distributed."""
    cols = cols or src.columns
    src_sums = chunked_checksum(
        src, assign_chunk_id(plan, src), cols, oracle_empty_is_null
    ).persist()
    ids = _ids(changed_chunks(src_sums, ledger))
    if not ids:
        return src_sums, ReverifyReport([], [], plan.n_chunks, [])
    dst_sub = dst.filter(F.expr(ranges_predicate(plan, ids, max_ranges)))
    dst_sums = chunked_checksum(
        dst_sub, assign_chunk_id(plan, dst_sub), cols, oracle_empty_is_null)
    bad = _ids(diff_chunk_sums(in_chunks(src_sums, ids), in_chunks(dst_sums, ids))
               .filter(~F.col("same")))
    return src_sums, ReverifyReport(
        ids, bad, plan.n_chunks, _cap_runs(_runs(ids), max_ranges))
