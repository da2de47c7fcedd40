"""Command-line entry: the reference's task modes as subcommands.

The reference is driven by a CLI + task config (reference:
component/cli — dbms-ctl task verbs); this maps the same verbs onto
:class:`dbms_spark.engine.DbmsEngine` over parquet paths.  Output is
one JSON line per command (machine-parseable, like the reference's
task status responses).

    python -m dbms_spark assess --sf-dir /data/sf0.1
    python -m dbms_spark compare --src a.parquet --dst b.parquet \
        --keys id --chunks 8
    python -m dbms_spark dedup --docs docs.parquet --out kept/
    python -m dbms_spark chunk --docs docs.parquet --out chunks/ \
        --window 512 --stride 384
    python -m dbms_spark mix --docs docs.parquet --out mixed/ \
        --rates web=80,books=100
    python -m dbms_spark struct --spec schema_spec.json --if-not-exists
"""

from __future__ import annotations

import argparse
import json
import sys


def _parse_rates(s: str) -> dict[str, float]:
    out: dict[str, float] = {}
    for part in s.split(","):
        k, v = part.split("=", 1)
        out[k] = float(v)
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dbms_spark")
    p.add_argument("--cpus", default=None, help="local[N] override")
    sub = p.add_subparsers(dest="verb", required=True)

    sp = sub.add_parser("assess")
    sp.add_argument("--sf-dir", required=True)

    sp = sub.add_parser("compare")
    sp.add_argument("--src", required=True)
    sp.add_argument("--dst", required=True)
    sp.add_argument("--keys", default=None, help="comma-separated key columns")
    sp.add_argument("--chunks", type=int, default=1)

    sp = sub.add_parser("dedup")
    sp.add_argument("--docs", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--min-sim", type=float, default=0.7)
    sp.add_argument("--keep-best", default=None, metavar="SCORE_COL",
                    help="keep the highest-SCORE_COL member of each "
                         "duplicate group instead of the min id")
    sp.add_argument("--drop-contained", action="store_true",
                    help="also drop docs >= 90%% shingle-contained in "
                         "another doc (quote-inclusion geometry)")

    sp = sub.add_parser("overlap")
    sp.add_argument("--docs", required=True)
    sp.add_argument("--group-col", default="source")
    sp.add_argument("--key-col", default="text")
    sp.add_argument("--k", type=int, default=64)
    sp.add_argument("--sparse", action="store_true",
                    help="emit only pairs sharing a sketch hash "
                         "(scales past ~10^3 groups)")

    sp = sub.add_parser("search")
    sp.add_argument("--docs", required=True)
    sp.add_argument("--terms", required=True, help="comma-separated query")
    sp.add_argument("--k", type=int, default=10)

    sp = sub.add_parser("events")
    sp.add_argument("--events", required=True, help="events parquet path")
    sp.add_argument("--funnel", default=None,
                    help="comma-separated ordered step types")
    sp.add_argument("--anomalies", action="store_true",
                    help="rolling 3-sigma anomaly count")
    sp.add_argument("--attribute", default=None,
                    help="CONV:TOUCH1|TOUCH2 last-touch attribution share")
    sp.add_argument("--heartbeat-gap", type=int, default=None,
                    help="report silent periods longer than N seconds")
    sp.add_argument("--activity-curve", type=int, default=None,
                    metavar="DAYS",
                    help="power-user curve over the trailing N days")
    sp.add_argument("--cohort-value", type=int, default=None,
                    metavar="BUCKET_DAYS",
                    help="cumulative cents per cohort by age bucket")

    sp = sub.add_parser("chunk")
    sp.add_argument("--docs", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--window", type=int, default=512)
    sp.add_argument("--stride", type=int, default=384)

    sp = sub.add_parser("mix")
    sp.add_argument("--docs", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--rates", required=True, help="source=pct[,source=pct...]")

    sp = sub.add_parser("report")
    sp.add_argument("--docs", required=True)

    sp = sub.add_parser("verify")
    sp.add_argument("--src", required=True)
    sp.add_argument("--dst", required=True)
    sp.add_argument("--keys", required=True, help="comma-separated PK columns")
    sp.add_argument("--table", default="t")
    sp.add_argument("--dialect", default="mysql")

    sp = sub.add_parser("snapshot-diff")
    sp.add_argument("--src", required=True)
    sp.add_argument("--dst", required=True)
    sp.add_argument("--keys", required=True, help="comma-separated PK columns")
    sp.add_argument("--out", default=None, help="optional parquet worklist path")

    sp = sub.add_parser("profile")
    sp.add_argument("--sf-dir", required=True)
    sp.add_argument("--table", required=True)

    sp = sub.add_parser("status")
    sp.add_argument("--ledger", required=True)
    sp.add_argument("--task", default="default")

    sp = sub.add_parser("cdc")
    sp.add_argument("--events", required=True, help="dir of CDC JSON envelope files")
    sp.add_argument("--store", required=True)
    sp.add_argument("--table", required=True)
    sp.add_argument("--keys", required=True)
    sp.add_argument("--row-schema", required=True,
                    help='e.g. "id bigint, v string"')
    sp.add_argument("--checkpoint", default=None)

    sp = sub.add_parser("migrate")
    sp.add_argument("--src", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--keys", default=None)
    sp.add_argument("--chunks", type=int, default=1)
    sp.add_argument("--format", default="parquet", choices=["parquet", "csv"])
    sp.add_argument("--ledger", default=None)

    sp = sub.add_parser("scan")
    sp.add_argument("--src", required=True)
    sp.add_argument("--cols", required=True)
    sp.add_argument("--sample-pct", type=float, default=100.0)
    sp.add_argument("--sample-key", default=None)

    sp = sub.add_parser("cluster")
    sp.add_argument("--vectors", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--k", type=int, default=8)
    sp.add_argument("--iters", type=int, default=2)
    sp.add_argument("--dims", type=int, default=64)

    sp = sub.add_parser("ann")
    sp.add_argument("--vectors", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--method", default="exact",
                    choices=["exact", "lsh", "ivf", "ivfpq"])
    sp.add_argument("--query-filter", default="vec_id % 100 = 0")
    sp.add_argument("--k", type=int, default=5)

    sp = sub.add_parser("struct")
    sp.add_argument("--spec", required=True,
                    help="JSON file: {tables: {name: [column specs]}, sequences: [...]}")
    sp.add_argument("--target-schema", default="DWH")
    sp.add_argument("--if-not-exists", action="store_true")

    args = p.parse_args(argv)

    import os

    if args.cpus:
        os.environ["SPARK_GRAFT_CPUS"] = args.cpus

    if args.verb == "status":     # a journal read: no Spark session
        from dbms_spark.operators.migrate import ChunkLedger

        out: dict = {}
        for event in ChunkLedger(args.ledger, args.task).state().values():
            agg = out.setdefault(event["status"], {"chunks": 0, "rows": 0})
            agg["chunks"] += 1
            agg["rows"] += event["rows"]
        print(json.dumps({"verb": "status", "task": args.task, "by_status": out}))
        return 0

    from dbms_spark import get_spark
    from dbms_spark.engine import DbmsEngine

    spark = get_spark(f"dbms_spark_{args.verb}")
    eng = DbmsEngine(spark)

    if args.verb == "assess":
        out = {name: df.count() for name, df in eng.assess(args.sf_dir).items()}
        print(json.dumps({"verb": "assess", "blocks": out}))
        return 0

    if args.verb == "struct":
        from dbms_spark.operators import structm as S

        with open(args.spec) as f:
            spec = json.load(f)
        tables = {
            t: [S.ColumnSpec(**c) for c in cols]
            for t, cols in spec.get("tables", {}).items()
        }
        ddls = eng.struct_migrate(tables)
        seq_ddls = []
        if spec.get("sequences"):
            seqs = S.sequences_to_df(
                spark, spec.get("source_schema", "ODS"),
                [S.SequenceSpec(**s) for s in spec["sequences"]])
            seq_ddls = [r["ddl"] for r in S.sequence_migrate(
                seqs, args.target_schema,
                if_not_exists=args.if_not_exists).collect()]
        print(json.dumps({"verb": "struct", "tables": ddls,
                          "sequences": seq_ddls}))
        return 0

    if args.verb == "compare":
        src = spark.read.parquet(args.src)
        dst = spark.read.parquet(args.dst)
        keys = args.keys.split(",") if args.keys else None
        rep = eng.data_compare(src, dst, key_cols=keys, n_chunks=args.chunks)
        print(json.dumps({
            "verb": "compare", "equal": rep.equal,
            "src_rows": rep.src_cnt, "dst_rows": rep.dst_cnt,
            "mismatched_chunks": list(rep.mismatched_chunks or []),
        }))
        return 0 if rep.equal else 1

    if args.verb == "verify":
        from pyspark.sql import functions as F

        rep = eng.full_verify(spark.read.parquet(args.src),
                              spark.read.parquet(args.dst), args.table,
                              args.keys.split(","), dialect=args.dialect)
        out = {"verb": "verify", "struct_equal": rep["struct_equal"],
               "data_equal": rep["compare"].equal,
               "src_rows": rep["compare"].src_cnt, "dst_rows": rep["compare"].dst_cnt}
        if "key_diff" in rep:
            out["changes"] = {r["change_type"]: r["n"] for r in
                              rep["key_diff"].groupBy("change_type")
                              .agg(F.count(F.lit(1)).alias("n")).collect()}
            out["fix_statements"] = len(rep["fix_sql"])
        print(json.dumps(out))
        return 0 if rep["struct_equal"] and rep["compare"].equal else 1

    if args.verb == "snapshot-diff":
        from pyspark.sql import functions as F

        from dbms_spark.operators.compare import snapshot_diff

        diff = snapshot_diff(spark.read.parquet(args.src),
                             spark.read.parquet(args.dst), args.keys.split(","))
        if args.out:
            diff.write.mode("overwrite").parquet(args.out)
            diff = spark.read.parquet(args.out)
        counts = {r["change_type"]: r["n"] for r in
                  diff.groupBy("change_type").agg(F.count(F.lit(1)).alias("n")).collect()}
        print(json.dumps({"verb": "snapshot-diff", "changes": counts}))
        return 0 if not counts else 1

    if args.verb == "profile":
        from dbms_spark.operators.assess import column_profile

        rows = [r.asDict() for r in column_profile(spark, args.sf_dir, args.table).collect()]
        print(json.dumps({"verb": "profile", "table": args.table, "columns": rows},
                         default=str))
        return 0

    if args.verb == "cdc":
        from dbms_spark.streaming import cdc as cdc_mod

        store = cdc_mod.ParquetTableStore(
            spark, args.store,
            schemas={args.table: args.row_schema},
            key_cols={args.table: args.keys.split(",")})
        stream = spark.readStream.schema(cdc_mod.CDC_EVENT_SCHEMA).json(args.events)
        ckpt = args.checkpoint or (args.store.rstrip("/") + "_checkpoint")
        q = eng.cdc_consume(store, stream, ckpt)
        q.awaitTermination()
        n = store.read(args.table).count()
        print(json.dumps({"verb": "cdc", "table": args.table, "rows": n,
                          "watermark": store.get_watermark(args.table)}))
        return 0

    if args.verb == "migrate":
        src = spark.read.parquet(args.src)
        keys = args.keys.split(",") if args.keys else None
        n = eng.data_migrate(src, args.out, key_cols=keys, n_chunks=args.chunks,
                             ledger_path=args.ledger, fmt=args.format)
        print(json.dumps({"verb": "migrate", "rows": n, "format": args.format,
                          "chunks": args.chunks}))
        return 0

    if args.verb == "scan":
        src = spark.read.parquet(args.src)
        out = eng.data_scan(src, args.cols.split(","),
                            sample_pct=args.sample_pct, sample_key=args.sample_key)
        print(json.dumps({"verb": "scan", "profile": [r.asDict() for r in out.collect()]}))
        return 0

    if args.verb == "cluster":
        from pyspark.sql import functions as F

        from dbms_spark.llm.cluster import kmeans_assign

        vecs = spark.read.parquet(args.vectors)
        a = kmeans_assign(vecs, k=args.k, iters=args.iters, dims=args.dims)
        a.write.mode("overwrite").parquet(args.out)
        sizes = {str(r["cid"]): r["n"] for r in
                 spark.read.parquet(args.out).groupBy("cid")
                 .agg(F.count(F.lit(1)).alias("n")).collect()}
        print(json.dumps({"verb": "cluster", "k": args.k, "sizes": sizes}))
        return 0

    if args.verb == "ann":
        vecs = spark.read.parquet(args.vectors)
        qs = vecs.filter(args.query_filter)
        out = eng.similarity_search(vecs, qs, k=args.k, method=args.method,
                                    train_path=args.vectors)
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"verb": "ann", "method": args.method,
                          "queries": qs.count(),
                          "results": spark.read.parquet(args.out).count()}))
        return 0

    if args.verb == "events":
        from pyspark.sql import functions as F

        ev = spark.read.parquet(args.events)
        out = {"verb": "events", "n_events": ev.count()}
        if args.funnel:
            out["funnel"] = {r.event_type: r.n_users for r in
                             eng.funnel(ev, args.funnel.split(",")).collect()}
        if args.anomalies:
            from dbms_spark.operators.events import rolling_anomaly

            out["anomalies"] = (rolling_anomaly(ev, id_cols=["event_id"])
                                .filter("is_anomaly")
                                .count())
        if args.attribute:
            conv, touches = args.attribute.split(":", 1)
            att = eng.attribute(ev, conv, touches.split("|"),
                                tiebreak=["event_id"])
            out["attribution"] = {
                (r.touch_type or "organic"): r.n for r in
                att.groupBy("touch_type")
                .agg(F.count(F.lit(1)).alias("n")).collect()}
        if args.heartbeat_gap is not None:
            if args.heartbeat_gap < 0:
                raise SystemExit("--heartbeat-gap must be non-negative")
            from dbms_spark.operators.events import heartbeat_gaps

            out["heartbeat_gaps"] = heartbeat_gaps(
                ev, max_gap_seconds=args.heartbeat_gap,
                tiebreak=["event_id"]).count()
        if args.activity_curve is not None:
            if args.activity_curve < 1:
                raise SystemExit("--activity-curve must be >= 1 day")
            out["activity_curve"] = {
                r.n_active_days: r.n_users for r in
                eng.activity_curve(ev, days=args.activity_curve)
                .collect()}
        if args.cohort_value is not None:
            if args.cohort_value < 1:
                raise SystemExit("--cohort-value must be >= 1 bucket day")
            out["cohort_value_rows"] = eng.cohort_value(
                ev, bucket_days=args.cohort_value).count()
        print(json.dumps(out))
        return 0

    docs = spark.read.parquet(args.docs)
    if args.verb == "search":
        ranked = eng.rank_bm25(docs, args.terms.split(","), k=args.k)
        print(json.dumps({"verb": "search",
                          "results": [r.asDict() for r in ranked.collect()]}))
        return 0

    if args.verb == "dedup":
        if args.keep_best:
            kept = eng.dedup_keep_best(docs, args.keep_best,
                                       min_sim=args.min_sim)
        else:
            kept = eng.dedup_pipeline(docs, min_sim=args.min_sim)
        if args.drop_contained:
            kept = eng.drop_contained(kept)
        kept.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"verb": "dedup", "in": docs.count(), "kept": n}))
        return 0
    if args.verb == "overlap":
        from pyspark.sql import functions as F

        m = eng.source_overlap(docs, args.group_col, args.key_col, k=args.k,
                               sparse=args.sparse)
        rows = [r.asDict() for r in
                m.orderBy(F.desc("jaccard_ppm"), "g_a", "g_b").collect()]
        print(json.dumps({"verb": "overlap", "groups_pairs": len(rows),
                          "top": rows[:20]}))
        return 0
    if args.verb == "chunk":
        ch = eng.chunk(docs, window=args.window, stride=args.stride)
        ch.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"verb": "chunk", "docs": docs.count(),
                          "chunks": spark.read.parquet(args.out).count()}))
        return 0
    if args.verb == "mix":
        mixed = eng.mix(docs, _parse_rates(args.rates))
        mixed.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"verb": "mix", "in": docs.count(),
                          "kept": spark.read.parquet(args.out).count()}))
        return 0
    if args.verb == "report":
        rep = eng.corpus_report(docs)
        out = {
            "languages": {r["pred_lang"]: r["n_docs"]
                          for r in rep["languages"].collect()},
            "token_totals": rep["token_totals"].first().asDict(),
            "dup_line_pressure": rep["dup_line_pressure"].first().asDict(),
            "exact_dup_groups": rep["exact_dup_groups"].count(),
        }
        print(json.dumps({"verb": "report", **out}, default=str))
        return 0
    return 2


if __name__ == "__main__":
    sys.exit(main())
