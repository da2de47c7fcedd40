"""Incremental re-verify: only chunks whose source checksum moved are
recompared; untouched chunk ranges are not re-read on the target."""

import pytest
from pyspark.sql import functions as F

from dbms_spark.operators import reverify as R
from dbms_spark.plans import chunker
from dbms_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders").cache()
    yield df
    # released, so later modules' identical load_table plans are not
    # served from this cache (their job counts would depend on order)
    df.unpersist()


@pytest.fixture(scope="module")
def plan(orders):
    return chunker.plan_chunks(orders, ["o_orderkey"], 10)


def test_first_run_checks_everything(orders, plan):
    sums, rep = R.reverify(orders, orders, plan, ledger=None)
    assert rep.checked_chunks and rep.mismatched_chunks == []
    assert len(rep.checked_chunks) <= rep.total_chunks


def test_unchanged_source_skips_target_entirely(orders, plan, tmp_path, spark):
    sums, _ = R.reverify(orders, orders, plan, ledger=None)
    R.save_ledger(sums, str(tmp_path / "ledger"))
    ledger = R.load_ledger(spark, str(tmp_path / "ledger"))
    # dst is silently BROKEN — but src is unchanged, so the incremental
    # contract trusts the prior verified run and never reads dst
    broken_dst = orders.filter("o_orderkey % 2 = 0")
    sums2, rep = R.reverify(orders, broken_dst, plan, ledger=ledger)
    assert rep.checked_chunks == [] and rep.mismatched_chunks == []


def test_changed_chunks_recompared_and_pruned(orders, plan, spark, tmp_path):
    sums, _ = R.reverify(orders, orders, plan, ledger=None)
    ledger_path = str(tmp_path / "ledger")
    R.save_ledger(sums, ledger_path)
    ledger = R.load_ledger(spark, ledger_path)
    # mutate src rows in a few chunks
    src2 = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 501 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice")),
    )
    expected = {
        r["cid"] for r in
        orders.filter("o_orderkey % 501 = 0")
        .withColumn("cid", chunker.assign_chunk_id(plan, orders))
        .select("cid").distinct().collect()
    }
    _, rep = R.reverify(src2, orders, plan, ledger=ledger)
    assert set(rep.checked_chunks) == expected     # only moved chunks recompared
    assert set(rep.mismatched_chunks) == expected  # and they do differ from dst
    # the target read is range-restricted: the predicate keeps only
    # checked-chunk keys (behavioral proxy for scan pruning)
    pred = " OR ".join(f"({chunker.chunk_predicate(plan, i)})" for i in rep.checked_chunks)
    outside = orders.filter(~F.expr(pred)).withColumn(
        "cid", chunker.assign_chunk_id(plan, orders)
    )
    assert outside.filter(F.col("cid").isin(rep.checked_chunks)).count() == 0


def test_matching_change_on_both_sides_is_clean(orders, plan, spark, tmp_path):
    sums, _ = R.reverify(orders, orders, plan, ledger=None)
    ledger = spark.createDataFrame(sums.collect(), sums.schema)
    both = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 733 == 0, F.col("o_totalprice") + 2.0)
        .otherwise(F.col("o_totalprice")),
    )
    _, rep = R.reverify(both, both, plan, ledger=ledger)
    assert rep.checked_chunks != [] and rep.mismatched_chunks == []


def test_runs_and_cap():
    """Run coalescing + gap-merge cap: smallest gaps swallowed first,
    output always sorted, disjoint, covering the input ids."""
    assert R._runs([1, 2, 3, 7, 9, 10]) == [(1, 3), (7, 7), (9, 10)]
    runs = [(0, 0), (2, 2), (10, 10), (11, 12), (40, 41)]
    # cap 2 keeps the single largest gap (12->40); the 0-2 and 2-10
    # gaps are swallowed into one covering run
    assert R._cap_runs(runs, 2) == [(0, 12), (40, 41)]
    assert R._cap_runs(runs, 99) == runs


def test_target_predicate_bounded_at_high_churn():
    """~10^4 chunks with 50% churn in the worst (alternating) pattern:
    the rendered pushdown text is O(max_ranges), not O(churn)."""
    n = 10_000
    plan = chunker.ChunkPlan(("k",), tuple((i,) for i in range(1, n)))
    changed = list(range(0, n, 2))               # 5,000 isolated runs
    pred = chunker.ranges_predicate(plan, changed, max_ranges=64)
    assert pred.count(" OR ") <= 63 + 2 * 64     # runs + per-range parts
    assert len(pred) < 64 * 200                  # bounded text, ~? per range
    # un-capped per-chunk form would be ~5,000 OR-terms; sanity that the
    # cap actually engaged
    assert len(R._cap_runs(R._runs(changed), 64)) == 64
    # full-churn degenerates to the whole-table read, constant text
    assert chunker.ranges_predicate(plan, list(range(n))) == "1 = 1"
    assert chunker.ranges_predicate(plan, []) == "FALSE"


def test_reverify_driver_transfer_bounded_by_plan(orders, plan, spark, tmp_path,
                                                 monkeypatch):
    """Driver-memory contract: what crosses to the driver is per-chunk
    sums — every collected frame carries only ``chunk_id``, the side
    tag and the sum columns, never row data, and holds at most
    ``plan.n_chunks`` rows per side (the plan the driver already holds
    bounds it).  Sums rather than ids only: comparing them on the
    driver replaces a join job, a semi-join broadcast and a persisted
    relation with a few numbers per chunk."""
    from collections import Counter

    try:  # Spark 4: the concrete class overrides the abstract base
        from pyspark.sql.classic.dataframe import DataFrame as SparkDF
    except ImportError:
        from pyspark.sql import DataFrame as SparkDF
    collected = []
    orig = SparkDF.collect

    def spy(self):
        rows = orig(self)
        collected.append((set(self.columns), Counter(r["__side"] for r in rows)))
        return rows

    monkeypatch.setattr(SparkDF, "collect", spy)
    sums, _ = R.reverify(orders, orders, plan, ledger=None)
    R.save_ledger(sums, str(tmp_path / "ledger"))
    ledger = R.load_ledger(spark, str(tmp_path / "ledger"))
    src2 = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 501 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice")),
    )
    R.reverify(src2, orders, plan, ledger=ledger)
    assert len(collected) == 4, "two collects per round"
    for cols, per_side in collected:
        assert cols == {"chunk_id", "__side", "cnt", "h0", "h1", "h2", "h3"}, cols
        assert max(per_side.values()) <= plan.n_chunks, (per_side, plan.n_chunks)


def test_capped_read_still_exact(orders, spark, tmp_path):
    """With max_ranges=1 the target read widens to a covering range
    (superset I/O) but the compared chunk set — and the verdict — are
    identical to the uncapped run: the semi-join is the correctness
    boundary, the predicate only prunes I/O."""
    plan50 = chunker.plan_chunks(orders, ["o_orderkey"], 50)
    sums, _ = R.reverify(orders, orders, plan50, ledger=None)
    ledger = spark.createDataFrame(sums.collect(), sums.schema)
    src2 = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 211 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice")),
    )
    _, uncapped = R.reverify(src2, orders, plan50, ledger=ledger)
    _, capped = R.reverify(src2, orders, plan50, ledger=ledger, max_ranges=1)
    assert capped.checked_chunks == uncapped.checked_chunks
    assert capped.mismatched_chunks == uncapped.mismatched_chunks
    assert len(uncapped.checked_chunks) > 1      # the cap actually bit


def test_reverify_leaves_nothing_persisted(orders, plan, spark):
    """No verb leaves cached blocks behind: a round that never calls
    save_ledger still adds no persistent RDD, on the first run and on
    an incremental one that reads the target."""
    orders.count()   # the module's cached fixture is materialized first
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keys())

    before = persisted()
    sums, _ = R.reverify(orders, orders, plan, ledger=None)
    src2 = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 501 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice")),
    )
    _, rep = R.reverify(src2, orders, plan, ledger=sums)
    assert rep.checked_chunks and rep.mismatched_chunks == rep.checked_chunks
    assert persisted() == before
