"""Incremental aggregate maintenance (streaming/incremental_agg.py):
the maintained rollup must equal a from-scratch aggregation of the
surviving rows after any I/U/D replay — including group-moving
updates and delete-to-empty groups."""

import json

from pyspark.sql import functions as F

from dbms_spark.streaming import incremental_agg as IA
from dbms_spark.streaming.cdc import CDC_EVENT_SCHEMA

TYPES = {"region": "string", "amount": "bigint"}


def _ev(spark, rows):
    def mk(qt, ts, key, new=None, old=None):
        return ("s", "t", qt, ts, json.dumps({"id": key}),
                json.dumps(new) if new else None,
                json.dumps(old) if old else None, False, None)

    data = [mk(*r) for r in rows]
    return spark.createDataFrame(data, CDC_EVENT_SCHEMA)


def test_incremental_agg_matches_direct(spark, tmp_path):
    store = IA.AggStore(spark, str(tmp_path / "agg"), ["region"], ["amount"], TYPES)

    b1 = _ev(spark, [
        ("INSERT", 1, 1, {"id": 1, "region": "eu", "amount": 10}),
        ("INSERT", 2, 2, {"id": 2, "region": "eu", "amount": 5}),
        ("INSERT", 3, 3, {"id": 3, "region": "us", "amount": 7}),
    ])
    store.apply_batch(b1)
    got = {r["region"]: (r["n_rows"], r["sum_amount"]) for r in store.read().collect()}
    assert got == {"eu": (2, 15), "us": (1, 7)}

    # update that MOVES a row across groups + a delete emptying "us"
    b2 = _ev(spark, [
        ("UPDATE", 4, 2, {"id": 2, "region": "us", "amount": 6},
         {"id": 2, "region": "eu", "amount": 5}),
        ("DELETE", 5, 3, None, {"id": 3, "region": "us", "amount": 7}),
        ("UPDATE", 6, 1, {"id": 1, "region": "eu", "amount": 11},
         {"id": 1, "region": "eu", "amount": 10}),
    ])
    store.apply_batch(b2)
    got = {r["region"]: (r["n_rows"], r["sum_amount"]) for r in store.read().collect()}
    # surviving rows: id1 (eu, 11), id2 (us, 6)
    assert got == {"eu": (1, 11), "us": (1, 6)}

    # delete the last eu row: the group must disappear entirely
    b3 = _ev(spark, [
        ("DELETE", 7, 1, None, {"id": 1, "region": "eu", "amount": 11}),
    ])
    store.apply_batch(b3)
    got = {r["region"]: (r["n_rows"], r["sum_amount"]) for r in store.read().collect()}
    assert got == {"us": (1, 6)}


def test_batch_delta_is_additive(spark):
    """Splitting a batch in two and merging must equal folding it
    whole (additivity — the property that makes replay order between
    batches irrelevant)."""
    rows = [
        ("INSERT", 1, 1, {"id": 1, "region": "eu", "amount": 4}),
        ("INSERT", 2, 2, {"id": 2, "region": "us", "amount": 9}),
        ("UPDATE", 3, 1, {"id": 1, "region": "eu", "amount": 6},
         {"id": 1, "region": "eu", "amount": 4}),
    ]
    whole = IA.batch_delta(_ev(spark, rows), ["region"], ["amount"], TYPES)
    d1 = IA.batch_delta(_ev(spark, rows[:2]), ["region"], ["amount"], TYPES)
    d2 = IA.batch_delta(_ev(spark, rows[2:]), ["region"], ["amount"], TYPES)
    merged = (
        d1.unionByName(d2).groupBy("region")
        .agg(F.sum("d_count").alias("d_count"), F.sum("d_amount").alias("d_amount"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))


def test_apply_batch_idempotent_under_redelivery(spark, tmp_path):
    """foreachBatch redelivers a batch after a crash-before-commit;
    with batch_id passed, the second delivery must be a no-op."""
    store = IA.AggStore(spark, str(tmp_path / "agg2"), ["region"], ["amount"], TYPES)
    b = _ev(spark, [("INSERT", 1, 1, {"id": 1, "region": "eu", "amount": 10})])
    store.apply_batch(b, batch_id=0)
    store.apply_batch(b, batch_id=0)  # redelivery
    got = {r["region"]: (r["n_rows"], r["sum_amount"]) for r in store.read().collect()}
    assert got == {"eu": (1, 10)}
    store.apply_batch(b, batch_id=1)  # genuinely new batch applies
    got = {r["region"]: (r["n_rows"], r["sum_amount"]) for r in store.read().collect()}
    assert got == {"eu": (2, 20)}


def test_apply_batch_crash_between_snapshot_and_pointer(spark, tmp_path, monkeypatch):
    """Crash injected AFTER the new snapshot is written but BEFORE the
    ``manifest.json`` replace: the store must still read the OLD state
    with the OLD batch marker, and the redelivered batch must then
    apply exactly once (the manifest replace is the single atomic
    commit point)."""
    import os as _os

    from dbms_spark.streaming import cdc as CDC

    store = IA.AggStore(spark, str(tmp_path / "agg4"), ["region"], ["amount"], TYPES)
    b0 = _ev(spark, [("INSERT", 1, 1, {"id": 1, "region": "eu", "amount": 10})])
    store.apply_batch(b0, batch_id=0)

    real_replace = _os.replace

    def crashing_replace(src, dst):
        if dst.endswith("manifest.json"):
            raise OSError("simulated crash before manifest commit")
        return real_replace(src, dst)

    b1 = _ev(spark, [("INSERT", 2, 2, {"id": 2, "region": "eu", "amount": 5})])
    jsc = spark.sparkContext._jsc
    pinned = set(jsc.getPersistentRDDs().keys())
    monkeypatch.setattr(CDC.os, "replace", crashing_replace)
    try:
        store.apply_batch(b1, batch_id=1)
    except OSError:
        pass
    monkeypatch.setattr(CDC.os, "replace", real_replace)
    # old state + old marker fully intact
    assert store.last_batch_id() == 0
    got = {r["region"]: (r["n_rows"], r["sum_amount"]) for r in store.read().collect()}
    assert got == {"eu": (1, 10)}
    # redelivery applies exactly once; only the bucket dirs the
    # retained manifests reference are left on disk
    store.apply_batch(b1, batch_id=1)
    got = {r["region"]: (r["n_rows"], r["sum_amount"]) for r in store.read().collect()}
    assert got == {"eu": (2, 15)}
    assert set(jsc.getPersistentRDDs().keys()) <= pinned   # nothing left pinned
    m = store._read_manifest(store.TABLE)
    referenced = {rel for r in store._retained_manifests(store.TABLE, m)
                  for rel in r["buckets"].values()}
    files_root = _os.path.join(store.table_path(store.TABLE), "files")
    on_disk = {_os.path.join("files", v, kb)
               for v in _os.listdir(files_root)
               for kb in _os.listdir(_os.path.join(files_root, v))}
    assert on_disk == referenced


def test_store_of_retired_pointer_layout_raises(spark, tmp_path):
    """A store written in the retired layout — a ``CURRENT`` pointer
    under the path, or a ``<path>.applied_batch`` marker beside it —
    must refuse to open: read as empty state, every batch it already
    holds would be applied again."""
    import pytest

    pointer = tmp_path / "ptr"
    pointer.mkdir()
    (pointer / "CURRENT").write_text("v_000003 3")
    with pytest.raises(ValueError, match="CURRENT"):
        IA.AggStore(spark, str(pointer), ["region"], ["amount"], TYPES)
    marker = tmp_path / "legacy"
    spark.createDataFrame([("eu", 2, 25)],
                          "region string, n_rows bigint, sum_amount bigint"
                          ).coalesce(1).write.parquet(str(marker))
    (tmp_path / "legacy.applied_batch").write_text("3")
    with pytest.raises(ValueError, match="applied_batch"):
        IA.SketchStore(spark, str(marker), lambda b: b, lambda c, d: d,
                       "region string, n_rows bigint, sum_amount bigint")


def test_agg_store_behind_foreach_batch(spark, tmp_path):
    """The maintained rollup driven by an actual Structured Streaming
    query: foreachBatch passes its batch_id through, so the store is
    exactly-once under the checkpoint contract."""
    src = tmp_path / "cdc"; src.mkdir()
    ckpt = str(tmp_path / "ck")
    store = IA.AggStore(spark, str(tmp_path / "agg3"), ["region"], ["amount"], TYPES)

    with open(src / "b1.json", "w") as f:
        for qt, ts, key, new, old in [
            ("INSERT", 1, 1, {"id": 1, "region": "eu", "amount": 10}, None),
            ("INSERT", 2, 2, {"id": 2, "region": "us", "amount": 3}, None),
        ]:
            f.write(json.dumps({
                "schema_name": "s", "table_name": "t", "query_type": qt,
                "commit_ts": ts, "key_json": json.dumps({"id": key}),
                "new_json": json.dumps(new) if new else None,
                "old_json": json.dumps(old) if old else None,
                "is_ddl": False, "ddl_query": None}) + "\n")

    stream = spark.readStream.schema(CDC_EVENT_SCHEMA).json(str(src))
    q = (stream.writeStream
         .foreachBatch(lambda batch, bid: store.apply_batch(batch, batch_id=bid))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["region"]: (r["n_rows"], r["sum_amount"]) for r in store.read().collect()}
    assert got == {"eu": (1, 10), "us": (1, 3)}


def test_update_without_old_image_contributes_nothing_negative(spark):
    """Sources that don't ship old row images: the UPDATE's +new still
    applies, but no NULL-keyed negative delta may appear."""
    ev = _ev(spark, [
        ("UPDATE", 1, 1, {"id": 1, "region": "eu", "amount": 10}, None),
    ])
    d = IA.batch_delta(ev, ["region"], ["amount"], TYPES)
    rows = {r["region"]: (r["d_count"], r["d_amount"]) for r in d.collect()}
    assert rows == {"eu": (1, 10)}  # and no None key


def test_sketch_store_hist_ledger_and_redelivery(spark, tmp_path):
    """SketchStore folds histogram batches forward losslessly (ledger
    == direct sketch of everything applied), and a redelivered
    batch_id is an exactly-once no-op."""
    from dbms_spark.operators.sketch import hist_build, hist_merge
    from dbms_spark.streaming.incremental_agg import SketchStore

    store = SketchStore(
        spark, str(tmp_path / "hist_ledger"),
        build_fn=lambda b: hist_build(b, "v", 0.0, 100.0, 20),
        merge_fn=lambda cur, d: hist_merge(cur, d),
        schema="bin bigint, cnt bigint")
    full = spark.range(3000).selectExpr("CAST(id % 100 AS DOUBLE) AS v")
    for i in range(3):
        store.apply_batch(full.filter(f"id % 3 = {i}"), batch_id=i)
    ledger = sorted((r.bin, r.cnt) for r in store.read().collect())
    direct = sorted((r.bin, r.cnt)
                    for r in hist_build(full, "v", 0.0, 100.0, 20).collect())
    assert ledger == direct
    assert store.last_batch_id() == 2

    # redelivery (foreachBatch crash-replay): same id -> no double count
    store.apply_batch(full.filter("id % 3 = 2"), batch_id=2)
    assert sorted((r.bin, r.cnt) for r in store.read().collect()) == direct


def test_sketch_store_hll_and_kmv_ledgers(spark, tmp_path):
    """The same store machinery carries register-MAX (HLL) and
    re-top-k (KMV) merges — ledger state identical to a one-shot
    sketch of the union."""
    from dbms_spark.operators.sketch import (hll_merge, hll_registers,
                                             kmv_build, kmv_merge)
    from dbms_spark.streaming.incremental_agg import SketchStore

    full = spark.range(5000).selectExpr("CAST(id % 900 AS STRING) AS k")
    hll = SketchStore(
        spark, str(tmp_path / "hll"),
        build_fn=lambda b: hll_registers(b, "k"),
        merge_fn=lambda cur, d: hll_merge(cur, d),
        schema="bucket bigint, register bigint")
    kmv = SketchStore(
        spark, str(tmp_path / "kmv"),
        build_fn=lambda b: kmv_build(b, "k", k=64),
        merge_fn=lambda cur, d: kmv_merge(cur, d, k=64),
        schema="hkey string, key string")
    for i in range(2):
        part = full.filter(f"id % 2 = {i}")
        hll.apply_batch(part, batch_id=i)
        kmv.apply_batch(part, batch_id=i)
    assert sorted(map(tuple, hll.read().collect())) == \
        sorted(map(tuple, hll_registers(full, "k").collect()))
    assert sorted(map(tuple, kmv.read().collect())) == \
        sorted(map(tuple, kmv_build(full, "k", k=64).collect()))
