"""``cdc_catchup`` workload: drain a CDC backlog into a table store.

Set-up loads a seeded ``orders`` snapshot into a fresh
``streaming.cdc.ParquetTableStore`` (as INSERT events through
``apply_cdc_batch``) and writes the backlog: one parquet file per
micro-batch, ~30% inserts of new keys, ~55% updates skewed to recent
keys, ~15% deletes, and one ``ALTER TABLE orders ADD COLUMN`` half-way
through the backlog, so the DDL barrier is on the path.

The warm-up drains the first few batches; the timed part drains the
rest through ``DbmsEngine.cdc_consume`` (file source,
``maxFilesPerTrigger=1``, ``availableNow``): closed loop, batches
commit strictly in order.  Per-batch latency is the streaming
progress' ``triggerExecution``.

Check, outside the timed region: the final store equals a DuckDB
last-writer-wins fold of snapshot and backlog, added column included.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import gen
import spans as T

SNAPSHOT_ROWS = 5_000
BATCH_EVENTS = 200
WARM_BATCHES = 2
BATCHES_PER_SECOND = 0.8          # timed batches per second of --seconds
MIN_BATCHES = 8
SCHEMA = ("o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
          "o_totalprice double, o_orderdate timestamp, o_orderpriority string")
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority", gen.ADDED_COL]


def n_batches(seconds: float) -> int:
    return max(MIN_BATCHES, int(round(seconds * BATCHES_PER_SECOND)))


def setup(ctx) -> None:
    """Write the snapshot events and the backlog files (numpy + pyarrow)."""
    d = os.path.join(ctx.work, "inputs")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    rng = np.random.default_rng(ctx.seed)
    snap = gen.orders(rng, SNAPSHOT_ROWS)
    pq.write_table(gen.snapshot_events(snap), os.path.join(d, "snapshot.parquet"))
    timed = n_batches(ctx.seconds)
    ddl_batch = timed // 2 | 1          # odd: a batch the traced run traces
    everything = os.path.join(d, "backlog")
    gen.cdc_backlog(rng, SNAPSHOT_ROWS, everything, WARM_BATCHES + timed,
                    BATCH_EVENTS, ddl_batch=WARM_BATCHES + ddl_batch)
    files = []
    backlog = sorted(glob.glob(os.path.join(everything, "*.parquet")))
    for sub, part in (("warm", backlog[:WARM_BATCHES]), ("main", backlog[WARM_BATCHES:])):
        os.makedirs(os.path.join(d, sub))
        for f in part:
            files.append(os.path.join(d, sub, os.path.basename(f)))
            os.replace(f, files[-1])
    ctx.state = {"dir": d, "files": files, "timed": timed, "ddl_batch": ddl_batch,
                 "events": sum(pq.ParquetFile(f).metadata.num_rows
                               for f in files[WARM_BATCHES:]),
                 "upserts": [_upserted_keys(f) for f in files[WARM_BATCHES:]]}


def _upserted_keys(path: str) -> int:
    """Keys whose last event in the batch file is an INSERT or UPDATE."""
    t = pq.read_table(path, columns=["query_type", "commit_ts", "key_json"]).to_pylist()
    last: dict = {}
    for r in sorted((r for r in t if r["key_json"]), key=lambda r: r["commit_ts"]):
        last[r["key_json"]] = r["query_type"]
    return sum(1 for q in last.values() if q != "DELETE")


def _drain(ctx, sub: str):
    from dbms_spark.engine import DbmsEngine
    from dbms_spark.streaming import cdc

    st = ctx.state
    events = (ctx.spark.readStream.schema(cdc.CDC_EVENT_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(os.path.join(st["dir"], sub)))
    q = DbmsEngine(ctx.spark).cdc_consume(st["store"], events,
                                          os.path.join(st["dir"], f"ckpt-{sub}"))
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return [p for p in q.recentProgress if p.numInputRows > 0]


def warmup(ctx) -> None:
    """Load the snapshot into a fresh store, then drain the first
    ``WARM_BATCHES`` batches: in a fresh JVM batch latency halves over
    the first few batches."""
    from dbms_spark.streaming import cdc

    st = ctx.state
    store = cdc.ParquetTableStore(ctx.spark, os.path.join(st["dir"], "store"),
                                  {"orders": SCHEMA}, {"orders": ["o_orderkey"]})
    os.makedirs(store.base_path)
    cdc.apply_cdc_batch(store, ctx.spark.read.parquet(os.path.join(st["dir"], "snapshot.parquet")))
    st["store"] = store
    ctx.op("cdc_consume.warmup", _drain, ctx, "warm")
    ctx.leaked_rdds()


def measure(ctx, seconds: float) -> dict:
    """Drain the timed backlog (sized from ``--seconds`` in set-up).  A
    traced run traces every other batch of the same drain."""
    st = ctx.state
    tr = ctx.tracer
    calls: list[dict] = []
    with _instrumented(ctx, calls) if ctx.trace else contextlib.nullcontext():
        t0 = time.perf_counter()
        with tr.span("engine.cdc_consume") as drain:
            progress = ctx.op("cdc_consume", _drain, ctx, "main") or []
        drain_s = time.perf_counter() - t0
    leaks = ctx.leaked_rdds()
    # the progress' numInputRows counts a row once per action on the
    # batch, so the event count comes from the backlog files
    events = st["events"]
    lat = [p.durationMs["triggerExecution"] / 1000.0 for p in progress]
    over = [(p.durationMs["triggerExecution"] - p.durationMs.get("addBatch", 0)) / 1000.0
            for p in progress]
    ctx.check("all_batches_committed", len(progress) == st["timed"],
              f"{len(progress)} != {st['timed']}")
    tail, pct = T.tail(lat)
    ctx.detail.update({
        "cdc_events_per_s": events / drain_s, "cdc_batch_p50_s": statistics.median(lat),
        "cdc_batch_tail_s": tail, "cdc_batch_tail_pct": pct, "batches": len(lat),
        "events": events, "batch_latencies_s": lat,
    })
    res = {"op_s": statistics.median(lat), "rate_per_s": events / drain_s}
    if ctx.trace:
        res["layers"] = _layers(ctx, drain, calls, lat, over, leaks)
    return res


def _instrumented(ctx, calls: list[dict]):
    """Wrap ``apply_cdc_batch`` (called by the stream's foreachBatch)
    and trace every other call, so traced and untraced batches of one
    drain give the tracing overhead.  Traced calls open a span (job
    group) and read the store manifest before and after."""
    from dbms_spark.streaming import cdc

    tr = ctx.tracer
    store = ctx.state["store"]

    def factory(fn):
        def inner(s, batch, *a, **kw):
            i = len(calls)
            rec = {"i": i, "traced": i % 2 == 1}
            calls.append(rec)
            if not rec["traced"]:
                t0 = time.perf_counter()
                fn(s, batch, *a, **kw)
                rec["wall"] = time.perf_counter() - t0
                return
            before = store._read_manifest("orders")
            with tr.span("cdc.apply_cdc_batch", batch=i) as sp:
                fn(s, batch, *a, **kw)
            after = store._read_manifest("orders")
            old, new = before["buckets"], after["buckets"]
            changed = sum(1 for k in set(old) | set(new) if old.get(k) != new.get(k))
            # rows read now: later commits garbage-collect this version
            rec.update(wall=sp.wall, span=sp, rewritten=changed / store.n_buckets,
                       rows_written=_rows_written(store.table_path("orders"), before, after))
        return inner

    return T.patched(cdc, "apply_cdc_batch", factory)


def _rows_written(table_dir: str, before: dict, after: dict) -> int:
    n = 0
    for v in range(before["version"] + 1, after["version"] + 1):
        for f in glob.glob(os.path.join(table_dir, "files", f"v{v}", "*", "*.parquet")):
            n += pq.ParquetFile(f).metadata.num_rows
    return n


def _layers(ctx, drain, calls, lat, over, leaks) -> dict:
    st = ctx.state
    store = st["store"]
    ctx.tracer.harvest()
    table_dir = store.table_path("orders")
    # the DDL batch (reported as cdc.ddl_s) and the last batch, which
    # runs slower traced or not, are left out of the like-for-like medians
    ddl = [c for c in calls if c["i"] == st["ddl_batch"]]
    usual = [c for c in calls[:-1] if c not in ddl]
    traced = [c for c in usual if c["traced"]]
    plain = [c for c in usual if not c["traced"]]
    med = statistics.median
    amp = [c["rows_written"] / st["upserts"][c["i"]] for c in traced if st["upserts"][c["i"]]]
    manifest = store._read_manifest("orders")
    live = {os.path.join(table_dir, rel) for rel in manifest["buckets"].values()}
    all_bytes = live_bytes = 0
    for f in glob.glob(os.path.join(table_dir, "files", "*", "*", "*.parquet")):
        size = os.path.getsize(f)
        all_bytes += size
        if os.path.dirname(f) in live:
            live_bytes += size
    apply_med = med(c["wall"] for c in traced) if traced else 0.0
    plain_med = med(c["wall"] for c in plain) if plain else 0.0
    tail, _ = T.tail(lat)
    layers = {
        "cdc.apply_s": apply_med,
        "cdc.jobs_per_batch": med(len(c["span"].jobs) for c in traced) if traced else 0,
        "cdc.buckets_rewritten_ratio": med(c["rewritten"] for c in traced) if traced else 0.0,
        "cdc.write_amp": med(amp) if amp else 0.0,
        "cdc.space_amp": all_bytes / live_bytes if live_bytes else 0.0,
        "cdc.ddl_s": ddl[0]["wall"] - apply_med if ddl else 0.0,
        "cdc.trigger_overhead_s": med(over) if over else 0.0,
        "cdc.batch_tail_s": tail,
        "trace.untraced_op_s": plain_med,
        "trace.traced_op_s": apply_med,
        "trace.overhead_ratio": apply_med / plain_med - 1 if plain_med else 0.0,
    }
    layers.update({f"cdc_catchup.{k}": v for k, v in T.runtime_totals([drain]).items()})
    layers["cdc_catchup.leaked_rdds"] = leaks
    return layers


def check(ctx) -> None:
    """The store equals a last-writer-wins fold of snapshot + backlog."""
    import duckdb

    st = ctx.state
    files = [os.path.join(st["dir"], "snapshot.parquet")] + st["files"]
    listing = ", ".join(f"'{f}'" for f in files)
    con = duckdb.connect()
    want = con.sql(f"""
        WITH ev AS (SELECT * FROM read_parquet([{listing}]) WHERE NOT is_ddl),
        last AS (SELECT key_json, arg_max(query_type, commit_ts) AS qt,
                        arg_max(new_json, commit_ts) AS img
                 FROM ev GROUP BY key_json)
        SELECT CAST(json_extract_string(img, '$.o_orderkey') AS BIGINT),
               CAST(json_extract_string(img, '$.o_custkey') AS BIGINT),
               json_extract_string(img, '$.o_orderstatus'),
               CAST(json_extract_string(img, '$.o_totalprice') AS DOUBLE),
               CAST(json_extract_string(img, '$.o_orderdate') AS TIMESTAMP),
               json_extract_string(img, '$.o_orderpriority'),
               json_extract_string(img, '$.{gen.ADDED_COL}')
        FROM last WHERE qt <> 'DELETE'""").fetchall()
    got_df = ctx.op("store_read", lambda: st["store"].read("orders").select(*COLS).collect())
    got = sorted(tuple(r) for r in got_df or [])
    want = sorted(want)
    diff = next(((a, b) for a, b in zip(got, want) if a != b), None)
    ctx.check("store_equals_lww_fold", got == want,
              f"{len(got)} rows vs {len(want)} expected; first difference {diff}")
    ctx.check("ddl_applied", gen.ADDED_COL in st["store"].schemas["orders"])
