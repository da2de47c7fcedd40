"""``cutover`` workload: migrate a table, prove the copy, repair drift.

One cutover is three steps, each a public verb of ``dbms_spark``:

1. ``DbmsEngine.data_migrate`` of lineitem into a fresh parquet sink,
   keyed on ``(l_orderkey, l_linenumber)``, 4 chunks, with a
   ``ChunkLedger``.
2. A 32-chunk ``plans.chunker.plan_chunks`` and ``DbmsEngine.data_verify``
   of source against the landed copy: the clean acceptance pass.
3. ``operators.reverify.reverify`` of a drifted source against the
   landed copy with the chunk-sum ledger of the clean source, then
   ``compare.drilldown_chunks`` and ``DbmsEngine.gen_fix_sql`` on the
   mismatched chunks.

Set-up writes the source and the drifted source (a few hundred rows
changed at a handful of places, from the seed); the warm-up builds the
chunk-sum ledger of the clean source and runs one untimed cutover.
Checks, outside the timed region: the sink is multiset-equal to the
source (DuckDB), the clean pass reports equal, reverify's checked and
mismatched chunks are the chunks holding the drift (computed in Python
from the plan's bounds), and the fix-statement count matches the drift.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np

import gen
import spans as T

KEYS = ["l_orderkey", "l_linenumber"]
# sized so a run (JVM start, warm-up cutover, timed cutover) fits ~60 s
# on 4 cores: a cutover costs per Spark job and per driver-side plan
# (the chunk-id expression grows with the bound count), not per row
LINEITEM_ORDERS = 12_500          # ~50k lineitem rows
MIGRATE_CHUNKS = 4
VERIFY_CHUNKS = 32
CUTOVER_EST_S = 15.0              # cutovers per run: round(seconds / this), >= 1


def _paths(ctx) -> dict:
    d = os.path.join(ctx.work, "inputs")
    return {"dir": d, "src": os.path.join(d, "lineitem.parquet"),
            "drift": os.path.join(d, "lineitem_drifted.parquet"),
            "ledger": os.path.join(d, "chunk_sums")}


def setup(ctx) -> None:
    """Write the source and the drifted source (numpy + pyarrow)."""
    p = _paths(ctx)
    shutil.rmtree(p["dir"], ignore_errors=True)
    os.makedirs(p["dir"])
    rng = np.random.default_rng(ctx.seed)
    src = gen.lineitem(rng, LINEITEM_ORDERS)
    drifted, drift = gen.drift(rng, src)
    gen.write_table(src, p["src"])
    gen.write_table(drifted, p["drift"])
    ctx.state = {"paths": p, "drift": drift, "rows": src.num_rows,
                 "src_keys": _key_codes(src), "drift_keys": _key_codes(drifted),
                 "src_bytes": os.path.getsize(p["src"])}


def warmup(ctx) -> None:
    """Build the chunk-sum ledger of the clean source (the verified
    state reverify starts from), then run one untimed cutover: the
    first one in a fresh JVM takes about twice as long as later ones."""
    from dbms_spark.operators import compare, reverify
    from dbms_spark.plans import chunker

    st = ctx.state
    p = st["paths"]
    sdf = ctx.spark.read.parquet(p["src"])
    st["plan"] = chunker.plan_chunks(sdf, KEYS, VERIFY_CHUNKS)
    reverify.save_ledger(
        compare.chunked_checksum(sdf, chunker.assign_chunk_id(st["plan"], sdf)), p["ledger"])
    r = one_cutover(ctx, -1, T.Tracer(ctx.spark, "warmup", False))
    shutil.rmtree(os.path.dirname(r["sink"]), ignore_errors=True)


def _key_codes(t) -> np.ndarray:
    """(l_orderkey, l_linenumber) as one order-preserving int
    (linenumbers stay below 100)."""
    return t.column("l_orderkey").to_numpy() * 100 + t.column("l_linenumber").to_numpy()


def _chunk_ids(bounds, codes) -> np.ndarray:
    """Chunk id per key: the number of plan bounds strictly below it
    (chunk i covers (bounds[i-1], bounds[i]])."""
    b = np.array([k[0] * 100 + k[1] for k in bounds], dtype=np.int64)
    return np.searchsorted(b, codes, side="left")


def one_cutover(ctx, it: int, tr: T.Tracer) -> dict:
    """One timed cutover; returns step times and what the checks need."""
    from dbms_spark.engine import DbmsEngine
    from dbms_spark.operators import compare, reverify
    from dbms_spark.plans import chunker

    spark, st = ctx.spark, ctx.state
    p = st["paths"]
    eng = DbmsEngine(spark)
    out = os.path.join(ctx.work, f"it{it}")
    sink = os.path.join(out, "sink")
    leaks = 0
    r: dict = {"sink": sink}
    with tr.span("cutover", iteration=it) as top:
        with tr.span("step.migrate") as s1:
            src = spark.read.parquet(p["src"])
            cols = src.columns
            with tr.span("engine.data_migrate"):
                r["migrated"] = ctx.op("data_migrate", eng.data_migrate, src, sink, KEYS,
                                       MIGRATE_CHUNKS, os.path.join(out, "chunk_ledger"),
                                       f"bench-{it}")
        leaks += ctx.leaked_rdds()
        with tr.span("step.verify") as s2:
            dst = spark.read.parquet(sink).select(*cols)
            plan = ctx.op("plan_chunks", chunker.plan_chunks, src, KEYS, VERIFY_CHUNKS)
            with tr.span("engine.data_verify"):
                v = ctx.op("data_verify", eng.data_verify, src, dst, "lineitem", plan=plan)
        leaks += ctx.leaked_rdds()
        with tr.span("step.reverify") as s3:
            drifted = spark.read.parquet(p["drift"])
            ledger = reverify.load_ledger(spark, p["ledger"])
            with tr.span("reverify.reverify"):
                rv = ctx.op("reverify", lambda: _reverify(reverify, drifted, dst, plan, ledger))
            bad = rv[1] if rv else []
            with tr.span("compare.drilldown_chunks"):
                diff = ctx.op("drilldown_chunks", compare.drilldown_chunks,
                              drifted, dst, plan, bad, cols)
            with tr.span("engine.gen_fix_sql"):
                stmts = ctx.op("gen_fix_sql", lambda: eng.gen_fix_sql(
                    diff.drop("chunk_id"), "lineitem", cols))
            if rv:
                rv[2].unpersist()
        leaks += ctx.leaked_rdds()
    r.update(migrate_s=s1.wall, verify_s=s2.wall, reverify_s=s3.wall,
             cutover_s=s1.wall + s2.wall + s3.wall, plan=plan, verify=v,
             reverify=rv, stmts=stmts, leaks=leaks, top=top, src=src, dst=dst)
    return r


def _reverify(reverify, drifted, dst, plan, ledger):
    sums, rep = reverify.reverify(drifted, dst, plan, ledger)
    return rep.checked_chunks, rep.mismatched_chunks, sums, rep.n_checked, rep.total_chunks


def measure(ctx, seconds: float) -> dict:
    """``round(seconds / CUTOVER_EST_S)`` cutovers back to back (at
    least one).  A traced run makes one more and traces only that
    one; the untraced ones before it give the tracing overhead."""
    n = max(1, round(seconds / CUTOVER_EST_S))
    runs = []
    for i in range(n + ctx.trace):
        traced = ctx.trace and i == n
        if traced:
            with _instrumented(ctx.tracer):
                r = one_cutover(ctx, i, ctx.tracer)
        else:
            r = one_cutover(ctx, i, T.Tracer(ctx.spark, "untraced", False))
        r["traced"] = traced
        runs.append(r)
    ctx.state["runs"] = runs
    return _metrics(ctx, runs)


def _instrumented(tr: T.Tracer):
    """Spans around the public calls the verbs make inside: chunk
    planning and the migrate ledger."""
    import contextlib

    from dbms_spark.operators import migrate
    from dbms_spark.plans import chunker

    def wrap(name):
        def factory(fn):
            def inner(*a, **kw):
                with tr.span(name):
                    return fn(*a, **kw)
            return inner
        return factory

    stack = contextlib.ExitStack()
    stack.enter_context(T.patched(chunker, "plan_chunks", wrap("chunker.plan_chunks")))
    stack.enter_context(T.patched(migrate.ChunkLedger, "log", wrap("migrate.ChunkLedger.log")))
    stack.enter_context(T.patched(migrate.ChunkLedger, "pending",
                                  wrap("migrate.ChunkLedger.pending")))
    return stack


def expected_chunks(st: dict) -> list[int]:
    """Chunks of the ledger's plan that hold a drifted key."""
    codes = np.array([k * 100 + ln for k, ln in st["drift"]["keys"]])
    return sorted(set(_chunk_ids(st["plan"].bounds, codes).tolist()))


def check(ctx) -> None:
    """For every cutover: the sink is multiset-equal to the source
    (DuckDB), the clean pass reports equal, reverify checked and
    flagged exactly the drifted chunks, and the fix SQL has one
    statement per drifted row image."""
    import duckdb

    st = ctx.state
    n = st["rows"]
    want = expected_chunks(st)
    con = duckdb.connect()
    src = f"read_parquet('{st['paths']['src']}')"
    for r in st["runs"]:
        ctx.check("migrated_rows", r["migrated"] == n, f"{r['migrated']} != {n}")
        sink = f"read_parquet('{r['sink']}/*/*.parquet', hive_partitioning=false)"
        cols = ", ".join(r["src"].columns)
        diff = ctx.op("sink_multiset_diff", lambda: [con.sql(
            f"SELECT count(*) FROM (SELECT {cols} FROM {a} EXCEPT ALL SELECT {cols} FROM {b})"
        ).fetchone()[0] for a, b in ((src, sink), (sink, src))])
        ctx.check("sink_multiset_equal", diff == [0, 0], f"{diff}")
        v = r["verify"]
        ctx.check("clean_verify_equal", bool(v) and v[0].equal and v[0].src_cnt == n
                  and v[0].dst_cnt == n and not v[2])
        ctx.check("plan_matches_ledger_plan", r["plan"] == st["plan"])
        rv = r["reverify"]
        ctx.check("reverify_checked_chunks", bool(rv) and rv[0] == want,
                  f"{rv and rv[0]} != {want}")
        ctx.check("reverify_mismatched_chunks", bool(rv) and rv[1] == want,
                  f"{rv and rv[1]} != {want}")
        ctx.check("fix_statement_count", r["stmts"] is not None
                  and len(r["stmts"]) == st["drift"]["fix_statements"],
                  f"{r['stmts'] and len(r['stmts'])} != {st['drift']['fix_statements']}")


def _metrics(ctx, runs: list[dict]) -> dict:
    from statistics import median

    st = ctx.state
    timed = [r for r in runs if not r["traced"]]
    n = st["rows"]
    mig = [n / r["migrate_s"] for r in timed]
    ver = [2 * n / r["verify_s"] for r in timed]
    ctx.detail.update({
        "cutovers": len(timed),
        "cutover_s": median(r["cutover_s"] for r in timed),
        "migrate_rows_per_s": median(mig),
        "verify_rows_per_s": median(ver),
        "reverify_s": median(r["reverify_s"] for r in timed),
        "rows": n, "drifted_rows": st["drift"]["updated_rows"] + 2,
        "drift_chunks": expected_chunks(st),
        "leaked_rdds_per_cutover": [r["leaks"] for r in runs],
        "cutover_walls_s": [r["cutover_s"] for r in timed],
        "step_walls_s": [[r["migrate_s"], r["verify_s"], r["reverify_s"]] for r in timed],
    })
    res = {"op_s": ctx.detail["cutover_s"], "rate_per_s": ctx.detail["migrate_rows_per_s"]}
    if ctx.trace:
        res["layers"] = _layers(ctx, runs[-1], timed)
    return res


def _layers(ctx, r: dict, untraced: list[dict]) -> dict:
    """Per-layer metrics of the traced cutover ``r``."""
    from statistics import median

    from pyspark.sql import functions as F

    from dbms_spark.functions import canonical
    from dbms_spark.operators import compare
    from dbms_spark.plans import chunker

    tr, st = ctx.tracer, ctx.state
    src, plan = r["src"], r["plan"]
    n = st["rows"]

    def timed(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    # measured probes on the same input, after the traced cutover
    with_ids = timed(lambda: compare.chunked_checksum(
        src, chunker.assign_chunk_id(plan, src)).collect())
    const_id = timed(lambda: compare.chunked_checksum(src, F.lit(0)).collect())
    checksum = timed(lambda: canonical.table_checksum(src).collect())
    tr.harvest()

    def one(name):
        s = tr.named(name)
        return s[-1] if s else None

    mig, ver, rev = one("engine.data_migrate"), one("engine.data_verify"), one("reverify.reverify")
    dd, fix = one("compare.drilldown_chunks"), one("engine.gen_fix_sql")
    plans = tr.named("chunker.plan_chunks")
    ledger = [s for s in tr.spans if s.name.startswith("migrate.ChunkLedger")]
    sink_files = glob.glob(os.path.join(r["sink"], "*", "*.parquet"))
    sink_bytes = sum(os.path.getsize(f) for f in sink_files)
    bad = expected_chunks(st)
    in_bad = int(np.isin(_chunk_ids(plan.bounds, st["drift_keys"]), bad).sum()
                 + np.isin(_chunk_ids(plan.bounds, st["src_keys"]), bad).sum())
    rv = r["reverify"]
    fix_jobs = T.job_time(fix) if fix else 0.0
    rev_input = sum(j.input_records for j in rev.jobs) if rev else 0
    rt = T.runtime_totals([r["top"]])
    untraced_s = median(u["cutover_s"] for u in untraced) if untraced else 0.0
    layers = {
        "chunker.plan_s": sum(s.wall for s in plans),
        "chunker.plan_jobs": sum(len(s.jobs) for s in plans),
        "chunker.assign_s": with_ids - const_id,
        "migrate.jobs": len(mig.jobs),
        "migrate.jobs_per_chunk": len(mig.jobs) / MIGRATE_CHUNKS,
        "migrate.ledger_s": sum(s.wall for s in ledger),
        "migrate.ledger_writes": sum(1 for s in ledger if s.name.endswith(".log")),
        "migrate.files": len(sink_files),
        "migrate.space_amp": sink_bytes / st["src_bytes"],
        "canonical.checksum_ns_per_row": checksum / n * 1e9,
        "compare.verify_jobs": len(ver.jobs),
        "compare.verify_scans": sum(j.scan_stages for j in ver.jobs),
        "compare.drilldown_s": dd.wall + fix_jobs,
        "compare.drilldown_read_ratio": (sum(j.input_records for j in fix.jobs) / in_bad
                                         if in_bad else 0.0),
        "compare.fix_sql_s": fix.wall - fix_jobs,
        "compare.fix_statements": len(r["stmts"] or []),
        "reverify.checksum_s": rev.wall,
        "reverify.checked_chunk_ratio": rv[3] / rv[4] if rv else 0.0,
        # every row reverify's scans read: the drifted source once (its
        # chunk sums are persisted), the ledger, and the target's
        # range-pruned reads, the part that moves
        "reverify.rows_read": rev_input,
        "trace.untraced_op_s": untraced_s,
        "trace.traced_op_s": r["cutover_s"],
        "trace.overhead_ratio": r["cutover_s"] / untraced_s - 1 if untraced_s else 0.0,
    }
    layers.update({f"cutover.{k}": v for k, v in rt.items()})
    layers["cutover.leaked_rdds"] = r["leaks"]
    return layers

