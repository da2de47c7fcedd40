"""Job-budget regression gate: engine verbs must not grow extra Spark
jobs.  Each entry's budget is the measured job count of one call,
counted per job group through ``statusTracker`` — a future edit
cannot add a probe ``collect()`` or an eager materialization to a
verb's hot path without this test saying so (the shuffle twin of
this gate is ``test_plan_budget``)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from dbms_spark.engine import DbmsEngine
from dbms_spark.operators import compare
from dbms_spark.operators import reverify as R
from dbms_spark.plans import chunker
from dbms_spark.sources.catalog import load_table, register_views
from dbms_spark.streaming import cdc

#: verb -> max Spark jobs per call
JOB_BUDGET = {
    # no-DDL, single-table micro-batch: 1 DDL probe (the table set
    # rides its observe) + 2 for the pinned dedup and its observed
    # probe + the broadcast of the batch keys + the clustered write
    "apply_cdc_batch": 7,
    # 4-chunk migrate with a ledger: plan_chunks (its row count and
    # the sampled ntile collect) + one observed write per chunk, run
    # from worker threads under the caller's job group; the ledger is
    # a driver-side journal and runs no job
    "data_migrate": 8,
    # custom-SQL migrate over registered views: ONE observed write;
    # the count is not a second run of the user's query, and the
    # catalog reads each table's schema from its parquet footer, so a
    # cold session registers its views without a job
    "sql_migrate": 1,
    # clean 10-chunk verify: ONE collect of the chunk-sum join (both
    # sides' parallelism guards and sum exchanges); the row counts are
    # the sums of the per-chunk counts
    "data_verify": 5,
    # ONE collect of the source sums with the ledger + ONE collect of
    # the range-pruned target's sums; both comparisons run on the
    # driver, and nothing is persisted
    "reverify": 6,
    # whole-table MD5 compare (no plan: every row is chunk 0): ONE
    # collect of both sides' sums, compared on the driver
    "data_compare": 5,
    # row diff of the mismatched chunks: the range-pruned read of each
    # side restricted by an isin on the chunk id, no broadcast
    "drilldown_chunks": 5,
    # one batch of a hist SketchStore: the build and the merge with
    # the stored snapshot, then its write; the manifest commit runs no
    # job and the snapshot is read with its declared schema
    "sketch_store_apply_batch": 4,
    # one time-ordered batch of the active-days store: the merge's
    # probe of the batch's days against the stored ledger, then the
    # snapshot write
    "active_days_store_batch": 6,
}


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _ev(qtype, ts, key, new=None, old=None, ddl=None):
    return ("db", "orders", qtype, ts,
            json.dumps({"id": key}) if key is not None else None,
            json.dumps(new) if new is not None else None,
            json.dumps(old) if old is not None else None,
            qtype == "DDL", ddl)


@pytest.fixture()
def loaded(spark, tmp_path):
    """A 400-row store, and a writer of event batches as parquet files
    (the shape the streaming file source hands ``foreachBatch``)."""
    base = str(tmp_path / "store")
    os.makedirs(base)
    store = cdc.ParquetTableStore(spark, base, {"orders": "id bigint, v string"},
                                  {"orders": ["id"]})
    n = [0]

    def batch(rows):
        n[0] += 1
        path = str(tmp_path / f"batch{n[0]}")
        spark.createDataFrame(rows, cdc.CDC_EVENT_SCHEMA).write.parquet(path)
        return spark.read.schema(cdc.CDC_EVENT_SCHEMA).parquet(path)

    cdc.apply_cdc_batch(store, batch([
        _ev("INSERT", i, i, {"id": i, "v": f"v{i}"}) for i in range(400)]))
    return store, batch


def _mixed(ts0):
    return ([_ev("INSERT", ts0 + i, 1000 + i, {"id": 1000 + i, "v": "new"})
             for i in range(20)]
            + [_ev("UPDATE", ts0 + 100 + i, i, {"id": i, "v": "upd"},
                   old={"id": i, "v": f"v{i}"}) for i in range(0, 60, 3)]
            + [_ev("DELETE", ts0 + 200 + i, 300 + i, old={"id": 300 + i})
               for i in range(10)])


def test_apply_cdc_batch_job_budget(spark, loaded):
    store, batch = loaded
    b = batch(_mixed(1000))
    jobs = _jobs(spark, "budget-apply_cdc_batch", lambda: cdc.apply_cdc_batch(store, b))
    assert jobs <= JOB_BUDGET["apply_cdc_batch"], jobs
    assert store.read("orders").count() == 400 + 20 - 10


def test_apply_cdc_batch_with_ddl_job_budget(spark, loaded):
    """A DDL barrier splits the batch into two applies around the DDL:
    at most twice the no-DDL budget."""
    store, batch = loaded
    rows = _mixed(1000) + [_ev("DDL", 1150, None, ddl="ALTER TABLE orders ADD COLUMN z INT")]
    b = batch(rows)
    jobs = _jobs(spark, "budget-apply_cdc_batch-ddl", lambda: cdc.apply_cdc_batch(store, b))
    assert jobs <= 2 * JOB_BUDGET["apply_cdc_batch"], jobs
    assert "z int" in store.schemas["orders"]
    assert store.read("orders").count() == 400 + 20 - 10


@pytest.fixture()
def verify_pair(spark, sf_dir, tmp_path):
    """orders as the source and a parquet copy of it as the target,
    with a 10-chunk plan — the shape the cutover verbs see."""
    src = load_table(spark, sf_dir, "orders")
    src.write.parquet(str(tmp_path / "dst"))
    dst = spark.read.parquet(str(tmp_path / "dst"))
    return src, dst, chunker.plan_chunks(src, ["o_orderkey"], 10)


def test_data_verify_job_budget(spark, verify_pair):
    src, dst, plan = verify_pair
    rep = []
    jobs = _jobs(spark, "budget-data_verify", lambda: rep.append(
        DbmsEngine(spark).data_verify(src, dst, "orders", plan=plan)))
    assert rep[0][0].equal
    assert jobs <= JOB_BUDGET["data_verify"], jobs


def test_data_migrate_job_budget(spark, sf_dir, tmp_path):
    """The plan's jobs plus exactly one job per chunk: the chunk
    writes run on worker threads, and a thread that lost the caller's
    job group would drop its job out of this count."""
    src = load_table(spark, sf_dir, "orders")
    plan_jobs = _jobs(spark, "budget-data_migrate-plan",
                      lambda: chunker.plan_chunks(src, ["o_orderkey"], 4))
    n = []
    jobs = _jobs(spark, "budget-data_migrate", lambda: n.append(DbmsEngine(spark).data_migrate(
        src, str(tmp_path / "sink"), ["o_orderkey"], 4, str(tmp_path / "ledger"), "budget")))
    assert n[0] == src.count()
    assert jobs == plan_jobs + 4, (plan_jobs, jobs)
    assert jobs <= JOB_BUDGET["data_migrate"], jobs


def test_sql_migrate_job_budget(spark, sf_dir, tmp_path):
    register_views(spark, sf_dir)
    out = str(tmp_path / "sink")
    n = []
    jobs = _jobs(spark, "budget-sql_migrate", lambda: n.append(DbmsEngine(spark).sql_migrate(
        "SELECT o_orderkey FROM orders WHERE rand() < 0.5", sf_dir, out)))
    assert n[0] == spark.read.parquet(out).count()
    assert jobs <= JOB_BUDGET["sql_migrate"], jobs


def test_sql_migrate_cold_session_job_budget(spark, sf_dir, tmp_path, monkeypatch):
    """With no table loaded yet, registering every view reads footers
    on the driver: the migrate still runs one job."""
    from dbms_spark.sources import catalog

    monkeypatch.setattr(catalog, "_META_MEMO", {})
    monkeypatch.setattr(catalog, "_DF_MEMO", {})
    out = str(tmp_path / "sink")
    n = []
    jobs = _jobs(spark, "budget-sql_migrate-cold", lambda: n.append(DbmsEngine(spark).sql_migrate(
        "SELECT o_orderkey FROM orders WHERE rand() < 0.5", sf_dir, out)))
    assert n[0] == spark.read.parquet(out).count()
    assert jobs <= JOB_BUDGET["sql_migrate"], jobs


def test_sketch_store_apply_batch_job_budget(spark, tmp_path):
    from dbms_spark.operators.sketch import hist_build, hist_merge
    from dbms_spark.streaming.incremental_agg import SketchStore

    store = SketchStore(
        spark, str(tmp_path / "hist"),
        build_fn=lambda b: hist_build(b, "v", 0.0, 100.0, 20),
        merge_fn=hist_merge, schema="bin bigint, cnt bigint")
    full = spark.range(3000).selectExpr("id", "CAST(id % 100 AS DOUBLE) AS v")
    jobs = [_jobs(spark, f"budget-sketch_store-{i}", lambda: store.apply_batch(
        full.filter(f"id % 3 = {i}"), batch_id=i)) for i in range(3)]
    assert store.read().agg(F.sum("cnt")).first()[0] == 3000
    assert max(jobs) <= JOB_BUDGET["sketch_store_apply_batch"], jobs


def test_active_days_store_job_budget(spark, sf_dir, tmp_path):
    from dbms_spark.operators.events import active_days
    from dbms_spark.streaming.events import active_days_store

    ev = load_table(spark, sf_dir, "events")
    c1, c2 = (F.lit(c).cast("timestamp") for c in ("2024-01-12", "2024-01-22"))
    batches = [ev.filter(F.col("ts") < c1),
               ev.filter((F.col("ts") >= c1) & (F.col("ts") < c2)),
               ev.filter(F.col("ts") >= c2)]
    store = active_days_store(spark, str(tmp_path / "days"))
    jobs = [_jobs(spark, f"budget-active_days-{i}", lambda: store.apply_batch(b, batch_id=i))
            for i, b in enumerate(batches)]
    assert store.read().count() == active_days(ev).count()
    assert max(jobs) <= JOB_BUDGET["active_days_store_batch"], jobs


def _drifted(src):
    return src.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 501 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice")))


def test_reverify_job_budget(spark, verify_pair, tmp_path):
    src, dst, plan = verify_pair
    sums, _ = R.reverify(src, dst, plan, ledger=None)
    R.save_ledger(sums, str(tmp_path / "ledger"))
    ledger = R.load_ledger(spark, str(tmp_path / "ledger"))
    drifted = _drifted(src)
    out = []
    jobs = _jobs(spark, "budget-reverify",
                 lambda: out.append(R.reverify(drifted, dst, plan, ledger)[1]))
    assert out[0].checked_chunks and out[0].checked_chunks == out[0].mismatched_chunks
    assert jobs <= JOB_BUDGET["reverify"], jobs


def test_data_compare_job_budget(spark, verify_pair):
    src, dst, _ = verify_pair
    rep = []
    jobs = _jobs(spark, "budget-data_compare",
                 lambda: rep.append(DbmsEngine(spark).data_compare(_drifted(src), dst)))
    assert not rep[0].equal and rep[0].mismatched_chunks == [0]
    assert rep[0].src_cnt == rep[0].dst_cnt == src.count()
    assert jobs <= JOB_BUDGET["data_compare"], jobs


def test_drilldown_chunks_job_budget(spark, verify_pair):
    src, dst, plan = verify_pair
    drifted = _drifted(src)
    bad = sorted({r["cid"] for r in drifted.filter("o_orderkey % 501 = 0")
                  .select(chunker.assign_chunk_id(plan, drifted).alias("cid")).collect()})
    rows = []
    jobs = _jobs(spark, "budget-drilldown_chunks", lambda: rows.extend(
        compare.drilldown_chunks(drifted, dst, plan, bad).collect()))
    # every drifted order shows up once per side, in its own chunk
    assert len(rows) == 2 * drifted.filter("o_orderkey % 501 = 0").count()
    assert {r["chunk_id"] for r in rows} == set(bad)
    assert jobs <= JOB_BUDGET["drilldown_chunks"], jobs
