"""Job-budget regression gate: engine verbs must not grow extra Spark
jobs.  Each entry's budget is the measured job count of one call,
counted per job group through ``statusTracker`` — a future edit
cannot add a probe ``collect()`` or an eager materialization to a
verb's hot path without this test saying so (the shuffle twin of
this gate is ``test_plan_budget``)."""

import json
import os

import pytest

from dbms_spark.streaming import cdc

#: verb -> max Spark jobs per call
JOB_BUDGET = {
    # no-DDL, single-table micro-batch: 1 DDL probe (the table set
    # rides its observe) + 2 for the pinned dedup and its observed
    # probe + the broadcast of the batch keys + the clustered write
    "apply_cdc_batch": 7,
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
