"""CDC consume: kernel tests mirroring the reference's two unit-tested
kernels (TestCmp-style diff covered in test_compare; TestResolve-style
flush here), plus an end-to-end streaming run through a file source
with DDL barrier, idempotent re-apply, and checkpoint resume."""

import json
import os

import pytest
from pyspark.sql import functions as F

from dbms_spark.streaming import cdc


def make_events(spark, rows):
    return spark.createDataFrame(rows, cdc.CDC_EVENT_SCHEMA)


def ev(table, qtype, ts, key, new=None, old=None, ddl=None):
    return (
        "db", table, qtype, ts,
        json.dumps(key) if key is not None else None,
        json.dumps(new) if new is not None else None,
        json.dumps(old) if old is not None else None,
        qtype == "DDL", ddl,
    )


@pytest.fixture()
def store(spark, tmp_path):
    base = str(tmp_path / "store")
    os.makedirs(base)
    return cdc.ParquetTableStore(
        spark, base,
        schemas={"t1": "id bigint, v string", "t2": "id bigint, x double"},
        key_cols={"t1": ["id"], "t2": ["id"]},
    )


def test_flush_before_resolved(spark):
    events = make_events(spark, [
        ev("t1", "INSERT", 5, {"id": 1}, {"id": 1, "v": "a"}),
        ev("t1", "INSERT", 10, {"id": 2}, {"id": 2, "v": "b"}),
        ev("t1", "INSERT", 11, {"id": 3}, {"id": 3, "v": "c"}),
    ])
    flushable, pending = cdc.flush_before_resolved(events, 10)
    assert flushable.count() == 2   # <= resolvedTs flushes (boundary inclusive)
    assert pending.count() == 1


def test_dedup_last_per_key(spark):
    events = make_events(spark, [
        ev("t1", "INSERT", 1, {"id": 1}, {"id": 1, "v": "a"}),
        ev("t1", "UPDATE", 2, {"id": 1}, {"id": 1, "v": "b"}),
        ev("t1", "UPDATE", 3, {"id": 1}, {"id": 1, "v": "c"}),
        ev("t1", "INSERT", 1, {"id": 2}, {"id": 2, "v": "x"}),
    ])
    last = cdc.dedup_last_per_key(events)
    rows = {json.loads(r["key_json"])["id"]: r for r in last.collect()}
    assert len(rows) == 2
    assert json.loads(rows[1]["new_json"])["v"] == "c"


def test_obsolete_dropped(spark):
    events = make_events(spark, [
        ev("t1", "INSERT", 1, {"id": 1}, {"id": 1, "v": "a"}),
        ev("t1", "INSERT", 9, {"id": 2}, {"id": 2, "v": "b"}),
    ])
    assert cdc.drop_obsolete(events, 5).count() == 1


def test_ddl_rewrite():
    rules = {"CREATE TABLE a": "CREATE TABLE b"}
    assert cdc.rewrite_ddl("CREATE TABLE a", rules) == "CREATE TABLE b"
    assert cdc.rewrite_ddl("ALTER TABLE a ADD c INT", {"a": "z"}) == "ALTER TABLE z ADD c INT"


def test_split_batch_at_ddls(spark):
    events = make_events(spark, [
        ev("t1", "INSERT", 1, {"id": 1}, {"id": 1, "v": "a"}),
        ev("t1", "DDL", 5, None, ddl="ALTER TABLE t1 ADD col2 INT"),
        ev("t1", "INSERT", 7, {"id": 2}, {"id": 2, "v": "b"}),
        ev("t1", "DDL", 8, None, ddl="ALTER TABLE t1 DROP col2"),
        ev("t1", "INSERT", 9, {"id": 3}, {"id": 3, "v": "c"}),
    ])
    segs = cdc.split_batch_at_ddls(events)
    assert len(segs) == 3
    (s1, d1), (s2, d2), (s3, d3) = segs
    assert [r["commit_ts"] for r in s1.collect()] == [1]
    assert d1["ddl_query"].endswith("ADD col2 INT")
    assert [r["commit_ts"] for r in s2.collect()] == [7]
    assert d2["ddl_query"].endswith("DROP col2")
    assert [r["commit_ts"] for r in s3.collect()] == [9]
    assert d3 is None


def test_apply_batch_insert_update_delete(spark, store):
    batch = make_events(spark, [
        ev("t1", "INSERT", 1, {"id": 1}, {"id": 1, "v": "a"}),
        ev("t1", "INSERT", 2, {"id": 2}, {"id": 2, "v": "b"}),
        ev("t1", "UPDATE", 3, {"id": 1}, {"id": 1, "v": "A"}),
        ev("t1", "DELETE", 4, {"id": 2}, old={"id": 2, "v": "b"}),
        ev("t2", "INSERT", 2, {"id": 7}, {"id": 7, "x": 1.5}),
    ])
    cdc.apply_cdc_batch(store, batch)
    t1 = {r["id"]: r["v"] for r in store.read("t1").collect()}
    assert t1 == {1: "A"}
    t2 = {r["id"]: r["x"] for r in store.read("t2").collect()}
    assert t2 == {7: 1.5}


def test_apply_is_idempotent(spark, store):
    batch = make_events(spark, [
        ev("t1", "INSERT", 1, {"id": 1}, {"id": 1, "v": "a"}),
        ev("t1", "UPDATE", 2, {"id": 1}, {"id": 1, "v": "b"}),
    ])
    cdc.apply_cdc_batch(store, batch)
    first = sorted(tuple(r) for r in store.read("t1").collect())
    cdc.apply_cdc_batch(store, batch)  # replay the whole batch
    second = sorted(tuple(r) for r in store.read("t1").collect())
    assert first == second == [(1, "b")]


def test_ddl_barrier_ordering(spark, store):
    batch = make_events(spark, [
        ev("t1", "INSERT", 1, {"id": 1}, {"id": 1, "v": "a"}),
        ev("t1", "DDL", 5, None, ddl="ALTER TABLE t1 COMMENT 'mid'"),
        ev("t1", "UPDATE", 7, {"id": 1}, {"id": 1, "v": "post-ddl"}),
    ])
    cdc.apply_cdc_batch(store, batch)
    assert store.applied_ddls == ["ALTER TABLE t1 COMMENT 'mid'"]
    assert {r["v"] for r in store.read("t1").collect()} == {"post-ddl"}
    with open(os.path.join(store.base_path, "_ddl_log")) as f:
        assert "mid" in f.read()


def test_late_event_does_not_regress_state(spark, store):
    """C6: an out-of-order event older than the applied watermark must
    be dropped, not overwrite newer state."""
    b1 = make_events(spark, [
        ev("t1", "INSERT", 1, {"id": 1}, {"id": 1, "v": "a"}),
        ev("t1", "UPDATE", 7, {"id": 1}, {"id": 1, "v": "new"}),
    ])
    cdc.apply_cdc_batch(store, b1)
    late = make_events(spark, [
        ev("t1", "UPDATE", 3, {"id": 1}, {"id": 1, "v": "STALE"}),
    ])
    cdc.apply_cdc_batch(store, late)
    assert {r["v"] for r in store.read("t1").collect()} == {"new"}


def test_streaming_end_to_end_with_checkpoint(spark, store, tmp_path):
    """Drive the real streaming entry point through a JSON file source,
    twice, verifying checkpoint resume does not re-apply old files."""
    src_dir = tmp_path / "cdc_in"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, events):
        with open(src_dir / name, "w") as f:
            for e in events:
                f.write(json.dumps(e) + "\n")

    write_batch("b1.json", [
        {"schema_name": "db", "table_name": "t1", "query_type": "INSERT", "commit_ts": 1,
         "key_json": '{"id": 1}', "new_json": '{"id": 1, "v": "a"}', "old_json": None,
         "is_ddl": False, "ddl_query": None},
        {"schema_name": "db", "table_name": "t1", "query_type": "INSERT", "commit_ts": 2,
         "key_json": '{"id": 2}', "new_json": '{"id": 2, "v": "b"}', "old_json": None,
         "is_ddl": False, "ddl_query": None},
    ])
    stream = spark.readStream.schema(cdc.CDC_EVENT_SCHEMA).json(str(src_dir))
    q = cdc.consume_cdc_stream(store, stream, ckpt)
    q.awaitTermination(120)
    assert {r["id"]: r["v"] for r in store.read("t1").collect()} == {1: "a", 2: "b"}

    # second run: only the new file should apply (checkpoint resume)
    write_batch("b2.json", [
        {"schema_name": "db", "table_name": "t1", "query_type": "DELETE", "commit_ts": 3,
         "key_json": '{"id": 1}', "new_json": None, "old_json": '{"id": 1, "v": "a"}',
         "is_ddl": False, "ddl_query": None},
    ])
    stream2 = spark.readStream.schema(cdc.CDC_EVENT_SCHEMA).json(str(src_dir))
    q2 = cdc.consume_cdc_stream(store, stream2, ckpt)
    q2.awaitTermination(120)
    assert {r["id"]: r["v"] for r in store.read("t1").collect()} == {2: "b"}


def test_streaming_applies_late_events(spark, store, tmp_path):
    """An event whose commit_ts lags an earlier micro-batch's by far
    more than any watermark delay still reaches the apply: the consumer
    has no stateful operator, so lateness is the store's call (its
    per-table applied watermark), never the stream's."""
    src_dir = tmp_path / "cdc_in"
    src_dir.mkdir()
    sec = 1_000_000
    # one event per file, one file per micro-batch, file order = arrival
    arrivals = [("t1", 1, 600 * sec), ("t2", 1, 0), ("t1", 2, 1200 * sec), ("t2", 2, 1 * sec)]
    for i, (table, key, ts) in enumerate(arrivals):
        path = src_dir / f"b{i}.json"
        path.write_text(json.dumps({
            "schema_name": "db", "table_name": table, "query_type": "INSERT",
            "commit_ts": ts, "key_json": json.dumps({"id": key}),
            "new_json": json.dumps({"id": key, "v" if table == "t1" else "x":
                                    "a" if table == "t1" else 1.0}),
            "old_json": None, "is_ddl": False, "ddl_query": None}) + "\n")
        os.utime(path, (1_000 + i, 1_000 + i))
    stream = (spark.readStream.schema(cdc.CDC_EVENT_SCHEMA)
              .option("maxFilesPerTrigger", 1).json(str(src_dir)))
    q = cdc.consume_cdc_stream(store, stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert len(q.recentProgress) >= len(arrivals)
    assert sorted(r["id"] for r in store.read("t1").collect()) == [1, 2]
    assert sorted(r["id"] for r in store.read("t2").collect()) == [1, 2]


def test_windowed_event_counts_streaming(spark, tmp_path):
    """The same windowed aggregation as a REAL stream: file source,
    watermark, append mode after window close."""
    src = tmp_path / "wev"
    src.mkdir()
    rows = [
        {"schema_name": "db", "table_name": "t1", "query_type": "INSERT",
         "commit_ts": 1_000_000 * 60 * m, "key_json": None, "new_json": None,
         "old_json": None, "is_ddl": False, "ddl_query": None}
        for m in (1, 2, 3, 30, 31)  # two 5-min windows, far apart
    ]
    with open(src / "a.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    stream = spark.readStream.schema(cdc.CDC_EVENT_SCHEMA).json(str(src))
    agg = cdc.windowed_event_counts(stream, "5 minutes", "1 minute")
    q = (agg.writeStream.outputMode("append").format("memory")
         .queryName("wout").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["window_start"].minute, r["table_name"]): r["n"]
           for r in spark.sql("SELECT * FROM wout").collect()}
    # append mode emits only windows the watermark has closed: the
    # 0-5min window (3 events) closed once the 30/31-min events arrived
    assert got.get((0, "t1")) == 3
    assert (30, "t1") not in got  # last window still open at stream end


def test_windowed_event_counts_batch_shape(spark):
    events = make_events(spark, [
        ev("t1", "INSERT", 1_000_000 * 60, {"id": 1}, {"id": 1}),
        ev("t1", "INSERT", 1_000_000 * 90, {"id": 2}, {"id": 2}),
        ev("t2", "INSERT", 1_000_000 * 400, {"id": 3}, {"id": 3}),
    ])
    out = cdc.windowed_event_counts(events, "5 minutes", "10 minutes").collect()
    got = {(r["table_name"], r["window_start"].minute): r["n"] for r in out}
    assert got[("t1", 0)] == 2
    assert got[("t2", 5)] == 1


def test_apply_prunes_untouched_buckets(store, spark):
    """Apply cost must be proportional to touched keys: buckets whose
    keys aren't in the batch keep their exact data dirs (no rewrite)."""
    seed = make_events(spark, [
        ev("t1", "INSERT", i, {"id": i}, {"id": i, "v": f"v{i}"}) for i in range(1, 33)
    ])
    store.apply_dml("t1", seed)
    m1 = store._read_manifest("t1")
    assert len(m1["buckets"]) > 4  # keys spread over several buckets
    # update ONE key -> only that key's bucket may change
    upd = make_events(spark, [ev("t1", "UPDATE", 100, {"id": 7}, {"id": 7, "v": "new"})])
    store.apply_dml("t1", upd)
    m2 = store._read_manifest("t1")
    changed = {b for b in m1["buckets"] if m1["buckets"][b] != m2["buckets"].get(b)}
    assert len(changed) == 1  # exactly the bucket id=7 hashes into
    untouched_dirs = [os.path.join(store.table_path("t1"), m1["buckets"][b])
                      for b in m1["buckets"] if b not in changed]
    assert untouched_dirs and all(os.path.isdir(d) for d in untouched_dirs)
    got = {r["id"]: r["v"] for r in store.read("t1").collect()}
    assert got[7] == "new" and got[8] == "v8" and len(got) == 32
    # every bucket a commit writes is ONE parquet file (the staged
    # write is clustered on the bucket column), not one per task
    for m in (m1, m2):
        for rel in m["buckets"].values():
            files = [f for f in os.listdir(os.path.join(store.table_path("t1"), rel))
                     if f.endswith(".parquet")]
            assert len(files) == 1, (rel, files)
    # on-disk bucket dirs == exactly what the RETAINED snapshots
    # (current + previous, retention=2) reference — nothing more
    retained = store._retained_manifests("t1", m2)
    referenced = {rel for m in retained for rel in m["buckets"].values()}
    files_root = os.path.join(store.table_path("t1"), "files")
    on_disk = {
        os.path.join("files", v, kb)
        for v in os.listdir(files_root)
        for kb in os.listdir(os.path.join(files_root, v))
        if kb.startswith("_kb=")
    }
    assert on_disk == referenced


@pytest.mark.parametrize(
    "kind", ["table_store", "ann_store", "agg_pointer", "live_manifest"])
def test_manifest_commit_fsyncs_before_replace(spark, tmp_path, monkeypatch, kind):
    """Durability, shown by call order: what a commit publishes (and a
    store manifest's history entry) is fsynced BEFORE the replace or
    rename publishes it — else a power loss can keep the rename but
    not the content, and an empty manifest or pointer wedges every
    later read.  Covers every replace-writer: the table and ANN store
    manifests, a SketchStore apply's manifest commit (``agg_pointer``:
    an AggStore batch) and the compaction ``_LIVE_MANIFEST``."""
    from dbms_spark.llm.ann_store import AnnIndexStore
    from dbms_spark.operators import migrate
    from dbms_spark.streaming import incremental_agg as IA

    if kind in ("table_store", "ann_store"):
        if kind == "table_store":
            store = cdc.ParquetTableStore(spark, str(tmp_path), {"t1": "id bigint"},
                                          {"t1": ["id"]})
            root = store.table_path("t1")

            def commit():
                store._commit_manifest("t1", {"version": 3, "watermark": 7})
        else:
            ann = AnnIndexStore(spark, str(tmp_path / "ix"))
            root = ann.path

            def commit():
                ann._commit_manifest({"version": 3, "watermark": 7})
        published = os.path.join(root, "manifest.json")
        durable = [os.path.join(root, "manifests", "v3.json"), published]
    elif kind == "agg_pointer":
        agg = IA.AggStore(spark, str(tmp_path / "agg"), ["region"], ["amount"],
                          {"region": "string", "amount": "bigint"})
        root = agg.table_path(agg.TABLE)

        def commit():
            agg.apply_batch(spark.createDataFrame([], cdc.CDC_EVENT_SCHEMA), batch_id=0)
        published = os.path.join(root, "manifest.json")
        durable = [os.path.join(root, "manifests", "v1.json"), published]
    else:
        live = tmp_path / "live"
        live.mkdir()

        def commit():
            migrate._write_live_manifest(str(live), [str(live / "part-0.parquet")])
        published = str(live / "_LIVE_MANIFEST")
        durable = [published]
    events = []
    real_fsync, real_replace, real_rename = os.fsync, os.replace, os.rename

    def fsync(fd):
        events.append(("fsync", os.fstat(fd).st_ino))
        return real_fsync(fd)

    def publish(real):
        def inner(src, dst):
            events.append(("publish", os.stat(src).st_ino))
            return real(src, dst)
        return inner

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", publish(real_replace))
    monkeypatch.setattr(os, "rename", publish(real_rename))
    commit()
    monkeypatch.undo()
    at = events.index(("publish", os.stat(published).st_ino))
    synced = {ino for op, ino in events[:at] if op == "fsync"}
    assert {os.stat(p).st_ino for p in durable} <= synced, events


def test_apply_crash_leaves_consistent_snapshot(store, spark, monkeypatch):
    """A failure before the manifest commit must leave data AND
    watermark at the previous snapshot (exactly-once across crashes)."""
    seed = make_events(spark, [
        ev("t1", "INSERT", 1, {"id": 1}, {"id": 1, "v": "a"}),
        ev("t1", "INSERT", 2, {"id": 2}, {"id": 2, "v": "b"}),
    ])
    store.apply_dml("t1", seed)
    wm_before = store.get_watermark("t1")
    before = {r["id"]: r["v"] for r in store.read("t1").collect()}

    def boom(table, manifest):
        raise RuntimeError("simulated crash before commit")

    monkeypatch.setattr(store, "_commit_manifest", boom)
    crash = make_events(spark, [ev("t1", "UPDATE", 9, {"id": 1}, {"id": 1, "v": "X"})])
    with pytest.raises(RuntimeError):
        store.apply_dml("t1", crash)
    monkeypatch.undo()
    # snapshot unchanged: data and watermark both at the old commit
    assert {r["id"]: r["v"] for r in store.read("t1").collect()} == before
    assert store.get_watermark("t1") == wm_before
    # replaying the same batch after "restart" applies cleanly
    store.apply_dml("t1", crash)
    assert {r["id"]: r["v"] for r in store.read("t1").collect()} == {1: "X", 2: "b"}
    assert store.get_watermark("t1") == 9


def oms_msg(rtype, db, table, seq, pk=None, pkv=None, post=None, prev=None, ddl=None):
    m = {
        "recordType": rtype,
        "prevStruct": ({**prev, "__light_type": "1"} if prev is not None else
                       {"__light_type": "1"}),
        "postStruct": (post if post is not None else ({"ddl": ddl} if ddl else None)),
        "allMetaData": {
            "checkpoint": "cp", "record_primary_key": pk, "record_primary_value": pkv,
            "source_identity": "src", "dbType": "OB_MYSQL", "storeDataSequence": seq,
            "table_name": table, "db": db, "timestamp": str(seq), "uniqueId": "u",
            "transId": "tx", "clusterId": "c1", "ddlType": "ALTER TABLE" if ddl else None,
        },
    }
    return (json.dumps(m),)


def test_oms_envelope_decode_and_apply(store, spark):
    """S8: OMS-shaped messages decode into the shared event shape and
    run the SAME downstream pipeline (barrier, dedup, apply)."""
    raw = spark.createDataFrame([
        oms_msg("INSERT", "tenant1.db", "t1", 5, "id", "1", {"id": "1", "v": "a"}),
        oms_msg("INSERT", "tenant1.db", "t1", 6, "id", "2", {"id": "2", "v": "b"}),
        oms_msg("HEARTBEAT", "tenant1.db", "t1", 7),
        oms_msg("UPDATE", "tenant1.db", "t1", 8, "id", "2",
                {"id": "2", "v": "b2"}, prev={"id": "2", "v": "b"}),
        oms_msg("DDL", "tenant1.db", "t1", 9, ddl="ALTER TABLE t1 ADD COLUMN z INT"),
        oms_msg("DELETE", "tenant1.db", "t1", 10, "id", "1",
                prev={"id": "1", "v": "a"}),
    ], "value string")
    events = cdc.parse_oms_json(raw)
    rows = {r["commit_ts"]: r for r in events.collect()}
    assert len(rows) == 5  # heartbeat dropped
    assert rows[5]["schema_name"] == "db" and rows[5]["table_name"] == "t1"
    assert json.loads(rows[5]["key_json"]) == {"id": "1"}
    assert json.loads(rows[8]["old_json"]) == {"id": "2", "v": "b"}  # marker stripped
    assert rows[9]["is_ddl"] and rows[9]["ddl_query"].startswith("ALTER TABLE")
    assert rows[10]["query_type"] == "DELETE" and rows[10]["new_json"] is None
    cdc.apply_cdc_batch(store, events)
    assert {r["id"]: r["v"] for r in store.read("t1").collect()} == {2: "b2"}
    assert store.applied_ddls == ["ALTER TABLE t1 ADD COLUMN z INT"]


def test_oms_composite_pk_split(spark):
    raw = spark.createDataFrame([
        oms_msg("INSERT", "tenant1.db", "t2", 3, "a\x01b", "x\x011",
                {"a": "x", "b": "1", "v": "y"}),
    ], "value string")
    row = cdc.parse_oms_json(raw).collect()[0]
    assert json.loads(row["key_json"]) == {"a": "x", "b": "1"}


def test_key_changing_update_splits(store, spark):
    """An UPDATE that changes the PK must remove the OLD key's row
    (TiCDC pre-splits these upstream, consumer.go:694-699; the engine
    normalizes feeds that don't)."""
    seed = make_events(spark, [
        ev("t1", "INSERT", 1, {"id": 1}, {"id": 1, "v": "a"}),
        ev("t1", "INSERT", 2, {"id": 2}, {"id": 2, "v": "b"}),
    ])
    store.apply_dml("t1", seed)
    # id 1 renamed to id 9 — key_json carries the NEW key, old_json the old row
    rekey = make_events(spark, [
        ev("t1", "UPDATE", 5, {"id": 9}, {"id": 9, "v": "a2"}, old={"id": 1, "v": "a"}),
    ])
    store.apply_dml("t1", rekey)
    got = {r["id"]: r["v"] for r in store.read("t1").collect()}
    assert got == {9: "a2", 2: "b"}, f"old-key row must be deleted, got {got}"


def test_split_key_updates_scans_input_once(spark, tmp_path):
    """The split is one pass: its optimized plan over a parquet frame
    holds a single scan, and a key-changing UPDATE still becomes
    DELETE(old key) + INSERT(new key) beside the untouched rows."""
    path = str(tmp_path / "ev")
    make_events(spark, [
        ev("t1", "INSERT", 1, {"id": 1}, {"id": 1, "v": "a"}),
        ev("t1", "UPDATE", 5, {"id": 9}, {"id": 9, "v": "a2"}, old={"id": 1, "v": "a"}),
        ev("t1", "UPDATE", 6, {"id": 2}, {"id": 2, "v": "b2"}, old={"id": 2, "v": "b"}),
    ]).write.parquet(path)
    out = cdc.split_key_updates(spark.read.parquet(path), ["id"])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation ") == 1, plan
    assert out.columns == cdc.CDC_EVENT_SCHEMA.names
    got = sorted((r["commit_ts"], r["query_type"], json.loads(r["key_json"]),
                  r["new_json"] is None, r["old_json"] is None) for r in out.collect())
    assert got == [
        (1, "INSERT", {"id": 1}, False, True),
        (5, "DELETE", {"id": "1"}, True, False),
        (5, "INSERT", {"id": 9}, False, True),
        (6, "UPDATE", {"id": 2}, False, False),
    ]


def test_key_changing_update_scd2(spark, tmp_path):
    import os

    from dbms_spark.streaming import scd2

    base = str(tmp_path / "scd2k")
    os.makedirs(base)
    h = scd2.Scd2TableStore(
        spark, base, schemas={"t1": "id bigint, v string"}, key_cols={"t1": ["id"]},
    )
    h.apply_dml("t1", make_events(spark, [
        ev("t1", "INSERT", 1, {"id": 1}, {"id": 1, "v": "a"}),
    ]))
    h.apply_dml("t1", make_events(spark, [
        ev("t1", "UPDATE", 5, {"id": 9}, {"id": 9, "v": "a2"}, old={"id": 1, "v": "a"}),
    ]))
    hist = {(r["id"], r["valid_from"]): r for r in h.read("t1").collect()}
    assert hist[(1, 1)]["valid_to"] == 5 and hist[(1, 1)]["is_current"] is False
    assert hist[(9, 5)]["is_current"] is True and hist[(9, 5)]["v"] == "a2"


def test_time_travel_with_retention(store, spark):
    """Retained snapshots stay readable (read_version); past-retention
    snapshots and their exclusive bucket dirs are GC'd."""
    for ts, v in [(1, "a"), (2, "b"), (3, "c")]:
        store.apply_dml("t1", make_events(spark, [
            ev("t1", "INSERT" if ts == 1 else "UPDATE", ts, {"id": 1}, {"id": 1, "v": v}),
        ]))
    cur = store._read_manifest("t1")["version"]
    assert {r["v"] for r in store.read_version("t1", cur).collect()} == {"c"}
    assert {r["v"] for r in store.read_version("t1", cur - 1).collect()} == {"b"}
    with pytest.raises(ValueError):
        store.read_version("t1", cur - 2)  # past retention=2
    # watermark applies to current, not historical reads
    assert store.get_watermark("t1") == 3


def test_ddl_schema_evolution(store, spark):
    """C9 metadata refresh: ADD/DROP/RENAME COLUMN evolve the tracked
    schema so post-DDL events parse with the new shape; old rows show
    NULL for added columns; rename rewrites live buckets."""
    batch = make_events(spark, [
        ev("t1", "INSERT", 1, {"id": 1}, {"id": 1, "v": "a"}),
        ev("t1", "DDL", 5, None, ddl="ALTER TABLE t1 ADD COLUMN score BIGINT"),
        ev("t1", "INSERT", 7, {"id": 2}, {"id": 2, "v": "b", "score": 42}),
    ])
    cdc.apply_cdc_batch(store, batch)
    rows = {r["id"]: r for r in store.read("t1").collect()}
    assert rows[2]["score"] == 42
    assert rows[1]["score"] is None          # pre-DDL row: NULL-filled
    # rename: data survives under the new name (bucket rewrite)
    cdc.apply_cdc_batch(store, make_events(spark, [
        ev("t1", "DDL", 9, None, ddl="ALTER TABLE t1 RENAME COLUMN v TO label"),
    ]))
    assert "label" in store.schemas["t1"] and " v " not in store.schemas["t1"]
    rows = {r["id"]: r["label"] for r in store.read("t1").collect()}
    assert rows == {1: "a", 2: "b"}
    # drop: the column disappears from reads
    cdc.apply_cdc_batch(store, make_events(spark, [
        ev("t1", "DDL", 11, None, ddl="ALTER TABLE t1 DROP COLUMN score"),
    ]))
    assert "score" not in store.read("t1").columns
    # events after the drop apply cleanly with the narrowed schema
    cdc.apply_cdc_batch(store, make_events(spark, [
        ev("t1", "UPDATE", 13, {"id": 1}, {"id": 1, "label": "a2"}),
    ]))
    assert {r["id"]: r["label"] for r in store.read("t1").collect()} == {1: "a2", 2: "b"}


def test_windowed_event_counts_sliding_streaming(spark, tmp_path):
    """Sliding windows in a real streaming query: window 10 min, slide
    5 min — each event lands in two windows."""
    src = tmp_path / "win_src"
    rows = [ev("t1", "INSERT", 60_000_000 * m, {"id": m}, {"id": m})
            for m in (2, 7)]  # minutes 2 and 7
    spark.createDataFrame(rows, cdc.CDC_EVENT_SCHEMA).write.parquet(str(src))
    stream = spark.readStream.schema(cdc.CDC_EVENT_SCHEMA).parquet(str(src))
    agg = cdc.windowed_event_counts(stream, "10 minutes", "1 minute", slide="5 minutes")
    q = (agg.writeStream.format("memory").queryName("slidewin")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = sorted((r["window_start"].minute, r["n"])
                 for r in spark.sql("SELECT * FROM slidewin").collect())
    # min-2 event -> windows starting 55 (prev hour, [-5,5)) and 0
    # ([0,10)); min-7 -> [0,10) and [5,15)
    assert got == [(0, 2), (5, 1), (55, 1)]


def test_dedup_stream_drops_redelivered(spark, tmp_path):
    """Redelivered copies of the same event are dropped inside the
    watermark horizon (at-least-once transport -> exactly-once intake)."""
    src = tmp_path / "dedup_src"
    rows = [ev("t1", "INSERT", 60_000_000, {"id": 1}, {"id": 1})] * 3 + [
        ev("t1", "INSERT", 120_000_000, {"id": 2}, {"id": 2}),
        # same (key, commit_ts) as the first event: a redelivery under
        # the default dedup keys even though query_type differs
        ev("t1", "UPDATE", 60_000_000, {"id": 1}, {"id": 1}),
    ]
    spark.createDataFrame(rows, cdc.CDC_EVENT_SCHEMA).write.parquet(str(src))
    stream = spark.readStream.schema(cdc.CDC_EVENT_SCHEMA).parquet(str(src))
    out = cdc.dedup_stream(stream, "5 minutes")
    q = (out.writeStream.format("memory").queryName("dedupstream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = sorted((r["commit_ts"], r["query_type"])
                 for r in spark.sql("SELECT * FROM dedupstream").collect())
    assert got == [(60_000_000, "INSERT"), (120_000_000, "INSERT")] or \
           got == [(60_000_000, "UPDATE"), (120_000_000, "INSERT")]
    assert len(got) == 2


def test_session_event_counts_streaming(spark, tmp_path):
    """Native session_window streaming: events 2 and 7 minutes apart
    merge into one session under a 10-minute gap; an event an hour
    later opens a second session."""
    src = tmp_path / "sess_src"
    rows = [ev("t1", "INSERT", 60_000_000 * m, {"id": m}, {"id": m})
            for m in (2, 7, 70)]
    spark.createDataFrame(rows, cdc.CDC_EVENT_SCHEMA).write.parquet(str(src))
    stream = spark.readStream.schema(cdc.CDC_EVENT_SCHEMA).parquet(str(src))
    agg = cdc.session_event_counts(stream, gap="10 minutes", watermark="1 minute")
    q = (agg.writeStream.format("memory").queryName("sesswin")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = sorted((r["session_start"].minute, r["session_end"].minute, r["n"])
                 for r in spark.sql("SELECT * FROM sesswin").collect())
    # session 1: [2, 17) (7-min event extends the close to 7+10);
    # session 2: [70 -> minute 10 of next hour +10 = 20)
    assert got == [(2, 17, 2), (10, 20, 1)]


def test_attribute_conversions_stream_stream_join(spark, tmp_path):
    """Stream-stream interval join: purchases attribute to same-user
    clicks within the window; out-of-window and cross-user clicks
    don't match."""
    csrc, psrc = tmp_path / "clicks", tmp_path / "purch"
    M = 60_000_000
    clicks = [
        dict(event_id=1, user_id=7, commit_ts=5 * M),    # in window for p@20
        dict(event_id=2, user_id=7, commit_ts=18 * M),   # in window for p@20
        dict(event_id=3, user_id=7, commit_ts=100 * M),  # after purchase
        dict(event_id=4, user_id=8, commit_ts=19 * M),   # other user
    ]
    purchases = [dict(event_id=50, user_id=7, commit_ts=20 * M)]
    schema = "event_id long, user_id long, commit_ts long"
    spark.createDataFrame([tuple(c.values()) for c in clicks], schema) \
        .write.parquet(str(csrc))
    spark.createDataFrame([tuple(p.values()) for p in purchases], schema) \
        .write.parquet(str(psrc))
    cs = spark.readStream.schema(schema).parquet(str(csrc))
    ps = spark.readStream.schema(schema).parquet(str(psrc))
    out = cdc.attribute_conversions(cs, ps, within="30 minutes", watermark="1 minute")
    q = (out.writeStream.format("memory").queryName("attrib")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = sorted((r["purchase_id"], r["click_id"])
                 for r in spark.sql("SELECT * FROM attrib").collect())
    assert got == [(50, 1), (50, 2)]


def test_parse_cdc_json_with_deadletter(spark):
    """Unparseable or field-missing envelopes land in the dead-letter
    frame with their raw payload; well-formed events decode normally."""
    import json as _json

    from dbms_spark.streaming.cdc import parse_cdc_json_with_deadletter

    good = _json.dumps({"schema_name": "s", "table_name": "t", "query_type": "INSERT",
                        "commit_ts": 5, "key_json": "{\"id\": 1}",
                        "new_json": "{\"id\": 1}", "is_ddl": False})
    missing_table = _json.dumps({"schema_name": "s", "query_type": "INSERT",
                                 "commit_ts": 6})
    not_json = "%%% not json %%%"
    raw = spark.createDataFrame([(good,), (missing_table,), (not_json,)], "value string")
    events, dead = parse_cdc_json_with_deadletter(raw)
    assert events.count() == 1
    assert events.first()["table_name"] == "t"
    dead_vals = {r["raw_value"] for r in dead.collect()}
    assert dead_vals == {missing_table, not_json}


def test_kafka_reader_option_plumbing():
    """S7/S8 contract: the Kafka reader's option map — topic,
    startingOffsets, intake throttle, failOnDataLoss, and kafka.*
    passthrough (C8 compression rides here) — assembled exactly, with
    explicit args winning over extra duplicates.  No broker needed:
    this is everything between the API and the socket."""
    opts = cdc.kafka_reader_options(
        "b1:9092,b2:9092", "ticdc-events",
        starting_offsets="latest", max_offsets_per_trigger=50_000,
        fail_on_data_loss=False,
        extra={"kafka.compression.type": "zstd",
               "subscribe": "IGNORED-DUP",
               "kafka.security.protocol": "SASL_SSL"})
    assert opts == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "ticdc-events",
        "startingOffsets": "latest",
        "maxOffsetsPerTrigger": "50000",
        "failOnDataLoss": "false",
        "kafka.compression.type": "zstd",
        "kafka.security.protocol": "SASL_SSL",
    }
    # defaults: earliest, no throttle keys at all
    d = cdc.kafka_reader_options("b:9092", "t")
    assert d["startingOffsets"] == "earliest"
    assert "maxOffsetsPerTrigger" not in d and "failOnDataLoss" not in d


def test_kafka_shaped_stream_end_to_end(spark, tmp_path):
    """Drive the exact kafka downstream (binary value column ->
    parse_cdc_json) through the built-in rate source: proves the
    decode stack accepts the kafka wire shape (value is BINARY, not
    STRING) in a real streaming query — the only line of
    kafka_cdc_stream left unexecuted is the socket .format('kafka')."""
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500").option("numPartitions", "2")
        .load()
        .select(F.encode(F.format_string(
            '{"schema_name":"s","table_name":"t%d","query_type":"INSERT",'
            '"commit_ts":%d,"key_json":"{\\"id\\":%d}",'
            '"new_json":"{\\"id\\":%d}","is_ddl":false}',
            F.col("value") % 3, F.col("value"), F.col("value"),
            F.col("value")), "UTF-8").alias("value"))
    )
    events = cdc.parse_cdc_json(raw, "value")   # same call kafka_cdc_stream makes
    q = (events.writeStream.format("memory").queryName("kcontract")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(processingTime="1 second").start())
    try:
        import time
        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) c FROM kcontract").collect()[0]["c"]
            if n >= 10:
                break
            time.sleep(1)
        assert n >= 10, f"only {n} events decoded from the rate stream"
        rows = spark.sql(
            "SELECT DISTINCT table_name FROM kcontract").collect()
        assert {r["table_name"] for r in rows} <= {"t0", "t1", "t2"}
        one = spark.sql(
            "SELECT * FROM kcontract ORDER BY commit_ts LIMIT 1").collect()[0]
        assert one["query_type"] == "INSERT" and one["is_ddl"] is False
    finally:
        q.stop()
