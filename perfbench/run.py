#!/usr/bin/env python3
"""Benchmark of the dbms_spark user verbs.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload cutover --seed 1 --seconds 10 --trace 0

Workloads (one closed-loop client, one Spark action in flight):

- ``cutover``: chunked ``data_migrate`` of a lineitem table, a clean
  32-chunk ``data_verify``, then ``reverify`` of a drifted source with
  drilldown and fix SQL on the mismatched chunks.
- ``cdc_catchup``: ``cdc_consume`` drains a backlog of CDC micro-batches
  (file source, one file per batch, ``availableNow``) into a
  ``ParquetTableStore`` holding an orders snapshot, across an
  ``ALTER TABLE ... ADD COLUMN``.
- ``curate_gates`` (by hand only, see its module): one pass over seven
  curation and store gates of the query registry.

Each run builds its inputs from ``--seed`` under ``.perfbench_work/``
in the checkout (removed at exit), sets up ``SETUP_REPS`` times and
keeps the median, warms up, measures, then checks every output
against an independent oracle (DuckDB or plain Python) outside the
timed region.  The last stdout line is one JSON object ``{"correct",
"attempted", "failed", "metrics"}``: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a traced run
(spans around each public call, a Spark job group per span; the span
dump goes to ``.perfbench_out/``).  The line before it holds the
details: the workload's own figures, sample counts, percentiles,
failures and the run environment.  Metric names and units come from
``BENCHMARK.json``.

End-to-end metrics, the same names on every workload:

- ``setup_s``: median over set-ups of (SparkSession start + input
  generation), plus the warm-up (which builds the engine-side state:
  the chunk-sum ledger, the loaded snapshot).
- ``op_s``: median wall time of the workload's unit of work: one whole
  cutover; one CDC micro-batch commit.
- ``rate_per_s``: source rows landed per second of the migrate step;
  backlog events applied per second of drain.

The driver JVM runs with ``-XX:TieredStopAtLevel=1`` (C1 only).  With
the default tiered compiler a cutover keeps getting faster for several
more cutovers after the first (about 21, 18, 14 s on a 4-core box),
longer than a run can last; with C1 it is flat from the second one on,
so the timed region is steady.  Both sides of a comparison run the
same flags.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SETUP_REPS = 3
WORKLOADS = ("cutover", "cdc_catchup", "curate_gates")


class Ctx:
    """Per-run state handed to a workload: session, work dir, seed,
    tracer, and the operation ledger behind ``attempted``/``failed``."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool):
        self.work, self.seed, self.seconds, self.trace = work, seed, seconds, trace
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failures: list[str] = []
        self.detail: dict = {}
        self.state: dict = {}

    def op(self, name: str, fn, *a, **kw):
        """Run one operation; an exception counts as a failed op and
        returns None."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception:               # a failed verb must not end the run
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            return None

    def check(self, name: str, ok: bool, why: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(f"check {name} failed {why}")
        return ok

    def leaked_rdds(self) -> int:
        """Count the persistent RDDs left behind, then release them so
        later operations are not billed for them."""
        rdds = self.spark.sparkContext._jsc.getPersistentRDDs()
        n = rdds.size()
        for r in list(rdds.values()):
            r.unpersist(True)
        return n


def pin_environment(work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem_mb = max(1024, min(4096, phys_mb // 4))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "TMPDIR": tmp,
        "SPARK_GRAFT_ORACLE_SF_DIR": os.path.join(work, "corpus"),
    })
    import tempfile
    tempfile.tempdir = tmp
    return {"cpus": cpus, "driver_mem_mb": mem_mb, "phys_mem_mb": phys_mb}


def versions(spark) -> dict:
    import duckdb
    import pyspark

    jvm = spark.sparkContext._jvm.System
    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__, "java": jvm.getProperty("java.version"),
            "java_vm": jvm.getProperty("java.vm.name")}


def start_session(work: str):
    from dbms_spark import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark("perfbench", extra_conf={
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "40000",
    })


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the driver JVM (and the
    Python workers under it) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()          # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dbms_spark", "engine.py")):
        print("perfbench: run from the root of a dbms_spark checkout "
              "(dbms_spark/engine.py not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".perfbench_work", run_id)
    os.makedirs(work)
    env = pin_environment(work)

    import importlib

    import spans as T
    wl = importlib.import_module(args.workload)
    ctx = Ctx(work, args.seed, args.seconds, bool(args.trace))
    try:
        setups, sessions = [], []
        for _ in range(SETUP_REPS):
            if ctx.spark is not None:
                ctx.spark.stop()
            t0 = time.perf_counter()
            ctx.spark = start_session(work)
            t1 = time.perf_counter()
            ctx.tracer = T.Tracer(ctx.spark, run_id, ctx.trace)
            wl.setup(ctx)
            setups.append(time.perf_counter() - t0)
            sessions.append(t1 - t0)
        t0 = time.perf_counter()
        wl.warmup(ctx)
        warmup_s = time.perf_counter() - t0
        res = wl.measure(ctx, args.seconds)
        ctx.op("check", wl.check, ctx)
        rss = T.driver_peak_rss_mb()
        env.update(versions(ctx.spark))
        if ctx.trace:
            ctx.tracer.dump(os.path.join(root, ".perfbench_out", f"spans-{run_id}.jsonl"))
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    setup_s = statistics.median(setups) + warmup_s
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "setup_reps_s": setups, "session_start_s": sessions, "warmup_s": warmup_s,
        "failed_ops_ratio": len(ctx.failures) / max(ctx.attempted, 1),
        "failures": ctx.failures[:5], "peak_rss_mb": rss, "env": env,
        **ctx.detail,
    }
    print(json.dumps({"detail": detail}))
    spec = _spec(root)
    if ctx.trace:
        # every per-layer metric on every workload: a layer the
        # workload does not cross reads 0
        values = {m["name"]: 0 for m in spec["per_layer"]}
        values.update(res["layers"])
        values["session.start_s"] = sessions[0]
        values["process.peak_rss_mb"] = rss
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = {"setup_s": setup_s, "op_s": res["op_s"], "rate_per_s": res["rate_per_s"]}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    metrics = {k: {"value": v, "unit": units.get(k) or _unit(k)} for k, v in sorted(values.items())}
    print(json.dumps({"correct": not ctx.failures, "attempted": ctx.attempted,
                      "failed": len(ctx.failures), "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    """Unit of a metric missing from BENCHMARK.json (the by-hand
    workload's), from its name's suffix."""
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "B"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def _spec(root: str) -> dict:
    """BENCHMARK.json: metric names and units."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
