"""``curate_gates`` workload: one pass over seven registry gates.

The gates exercise the layers the two verb workloads do not reach:
``llm.dedup`` (q100, q248), ``operators.graph`` (q192),
``llm.similarity`` and ``llm.ann_store`` (q302, q310) and
``streaming.events`` (q303, q311, the snapshot-ledger and day-ledger
twins).  Each gate is built with ``queries.queries()[name](spark,
corpus)`` and materialized to the ``noop`` sink; most of its cost is
driver-side construction (eager checkpoints, store commits).

The corpus is generated from the seed; ``SPARK_GRAFT_ORACLE_SF_DIR``
points at it before ``dbms_spark.queries`` is imported, so the oracle
SQL is built from the same files.  Check, outside the timed region:
each gate's rows equal its DuckDB oracle's.

A run takes about two minutes on a 4-core box (a cold warm-up pass and
a timed pass), about twice the per-run time the benchmark's run budget
allows, so it is not listed in ``BENCHMARK.json``; run it by hand with
``--workload curate_gates``.
"""

from __future__ import annotations

import os

import gen
import spans as T

GATES = ["q100", "q192", "q248", "q302", "q303", "q310", "q311"]
SIZES = {"orders": 5_000, "lineitem_orders": 1_250, "documents": 2_000,
         "embeddings": 1_000, "events": 40_000, "users": 800}


def setup(ctx) -> None:
    corpus = os.environ["SPARK_GRAFT_ORACLE_SF_DIR"]
    gen.write_corpus(corpus, ctx.seed, SIZES)
    ctx.state = {"corpus": corpus}


def _gates() -> dict:
    from dbms_spark import queries as Q

    reg = Q.queries()
    return {g: next((k, fn) for k, fn in reg.items() if k.split("_")[0] == g)
            for g in GATES}


def _pass(ctx, tr: T.Tracer, oracle=None) -> dict:
    """Build and materialize every gate.  With ``oracle`` (a DuckDB
    connection) each gate's rows are checked right after it runs,
    outside its timers and before its leaked RDDs are released (a
    released localCheckpoint cannot be re-read)."""
    out = {}
    corpus = ctx.state["corpus"]
    for g, (name, fn) in _gates().items():
        with tr.span(f"gate.{g}.build") as b:
            df = ctx.op(f"{g}.build", fn, ctx.spark, corpus)
        with tr.span(f"gate.{g}.exec") as e:
            if df is not None:
                ctx.op(f"{g}.exec", lambda: df.write.format("noop").mode("overwrite").save())
        leaked = ctx.spark.sparkContext._jsc.getPersistentRDDs().size()
        if oracle is not None and df is not None:
            _check_gate(ctx, oracle, g, name, df)
        ctx.leaked_rdds()
        out[g] = {"build": b, "exec": e, "leaked": leaked}
    return out


def _pass_s(gates: dict) -> float:
    return sum(r["build"].wall + r["exec"].wall for r in gates.values())


def warmup(ctx) -> None:
    """One untimed pass: the first pass in a fresh JVM takes about
    twice as long as later ones."""
    _pass(ctx, T.Tracer(ctx.spark, "warmup", False))


def measure(ctx, seconds: float) -> dict:
    """One timed pass, each gate checked against its DuckDB oracle; a
    traced run adds a traced pass after it."""
    p = _pass(ctx, T.Tracer(ctx.spark, "untraced", False), _oracle(ctx))
    pass_s = _pass_s(p)
    ctx.detail.update({
        "curate_pass_s": pass_s,
        **{f"{g}.build_s": r["build"].wall for g, r in p.items()},
        **{f"{g}.exec_s": r["exec"].wall for g, r in p.items()},
        "leaked_rdds": {g: r["leaked"] for g, r in p.items()},
    })
    res = {"op_s": pass_s, "rate_per_s": len(GATES) / pass_s}
    if ctx.trace:
        with ctx.tracer.span("curate_pass") as top:
            tp = _pass(ctx, ctx.tracer)
        traced_s = _pass_s(tp)
        ctx.tracer.harvest()
        layers = {}
        for g, r in tp.items():
            layers[f"gates.{g}.build_s"] = r["build"].wall
            layers[f"gates.{g}.exec_s"] = r["exec"].wall
            layers[f"gates.{g}.jobs"] = len(r["build"].jobs) + len(r["exec"].jobs)
        layers["gates.leaked_rdds"] = sum(r["leaked"] for r in tp.values())
        layers.update({f"curate_gates.{k}": v for k, v in T.runtime_totals([top]).items()})
        layers["curate_gates.leaked_rdds"] = layers["gates.leaked_rdds"]
        layers.update({"trace.untraced_op_s": pass_s, "trace.traced_op_s": traced_s,
                       "trace.overhead_ratio": traced_s / pass_s - 1})
        res["layers"] = layers
    return res


def _oracle(ctx):
    import duckdb

    from dbms_spark.sources.catalog import TABLES, table_path

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{table_path(ctx.state['corpus'], t)}')")
    return con


def _check_gate(ctx, con, g: str, name: str, df) -> None:
    """The gate's rows equal its DuckDB oracle's on the same corpus."""
    from dbms_spark import queries as Q

    got = ctx.op(f"{g}.collect", df.toPandas)
    if got is None:
        return
    want = con.sql(Q.oracle_sql()[name]).df()
    cols = sorted(got.columns)
    same = (sorted(want.columns) == cols and got[cols].sort_values(cols)
            .reset_index(drop=True).astype(str).equals(
                want[cols].sort_values(cols).reset_index(drop=True).astype(str)))
    ctx.check(f"{g}.oracle", same, f"{len(got)} rows vs {len(want)}")


def check(ctx) -> None:
    """Gates are checked inside the timed pass, right after each one
    runs (see :func:`_pass`)."""
