#!/usr/bin/env python3
"""Incremental ANN index smoke (round-9 judge ask #4): O(batch)
append vs full rebuild at a corpus ~100x the nightly batch.

    python tools/ann_smoke.py [replicas] [auto|unrolled|hof]

Replicates the sf0.1 embeddings table ``replicas`` times (ids
shifted per replica — the scale_smoke recipe), persists the IVF+PQ
index for all-but-one replica as the "overnight" state, then
measures (a) appending the last replica against the frozen
quantizers vs (b) rebuilding the whole index — both materialized
through the noop sink.  The append must cost ~one replica's encode
plus an index scan, not the corpus's encode.  Prints one JSON line
per case.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from dbms_spark import get_spark  # noqa: E402
from dbms_spark.llm import similarity as S  # noqa: E402
from dbms_spark.sources.catalog import load_table, table_path  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    # auto: the operators pick unrolled past the ~10^5-rows/stage
    # crossover from a Catalyst row estimate; forcing a mode moves
    # that crossover to 0 rows (unrolled) or out of reach (hof)
    mode = sys.argv[2] if len(sys.argv) > 2 else "auto"
    S._UNROLL_ROWS = {"auto": S._UNROLL_ROWS, "unrolled": 0, "hof": 1 << 62}[mode]
    spark = get_spark("ann_smoke")
    emb = load_table(spark, SF, "embeddings")
    base = emb.count()
    shift = F.col("__r") * (emb.agg(F.max("vec_id")).collect()[0][0] + 1)
    reps = spark.range(replicas).select(F.col("id").alias("__r"))
    big = (emb.crossJoin(reps)
           .select((F.col("vec_id") + shift).alias("vec_id"), "embedding"))
    # __r was consumed by the id shift; split by id range instead —
    # replica 0 occupies ids [0, base)
    cut = base
    corpus, batch = big.filter(F.col("vec_id") >= cut), big.filter(
        F.col("vec_id") < cut)

    cents = S.train_ivf_centroids(table_path(SF, "embeddings"), k=8)
    books = S.train_pq_codebooks(table_path(SF, "embeddings"), m=8, ksub=16)

    ipath = tempfile.mkdtemp() + "/index"
    t0 = time.perf_counter()
    S.ivf_index_build(corpus, cents, books).write.partitionBy(
        "cluster").parquet(ipath)
    print(json.dumps({"case": "overnight_index_build", "mode": mode,
                      "rows": base * (replicas - 1),
                      "sec": round(time.perf_counter() - t0, 2)}),
          flush=True)

    index = spark.read.parquet(ipath)
    t0 = time.perf_counter()
    S.ivf_index_append(index, batch, cents, books).write.format(
        "noop").mode("overwrite").save()
    append_s = round(time.perf_counter() - t0, 2)
    print(json.dumps({"case": "append_one_batch", "mode": mode,
                      "batch_rows": base, "sec": append_s}), flush=True)

    t0 = time.perf_counter()
    S.ivf_index_build(big, cents, books).write.format(
        "noop").mode("overwrite").save()
    rebuild_s = round(time.perf_counter() - t0, 2)
    print(json.dumps({"case": "full_rebuild", "mode": mode,
                      "rows": base * replicas,
                      "sec": rebuild_s,
                      "rebuild_over_append": round(rebuild_s / append_s, 1)
                      }), flush=True)

    # the PERSISTED store's append must be FLAT in index size: the
    # watermark guard decides redelivery before any job and no index
    # row is read, so appending one batch onto a 10x-smaller index
    # and onto the full index costs the same O(batch) encode+write
    from dbms_spark.llm.ann_store import AnnIndexStore

    for frac, tag in ((max(2, replicas // 10), "index_0.1x"),
                      (replicas, "index_1x")):
        corpus_f = big.filter(F.col("vec_id") >= base * (replicas - frac + 1))
        store = AnnIndexStore(spark, tempfile.mkdtemp() + "/ix")
        store.build(corpus_f, quantizers=(cents, books))
        t0 = time.perf_counter()
        store.append(batch, batch_id=1)
        print(json.dumps({"case": f"store_append_{tag}", "mode": mode,
                          "index_rows": base * (frac - 1),
                          "batch_rows": base,
                          "sec": round(time.perf_counter() - t0, 2)}),
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
