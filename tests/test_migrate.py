"""Migrate operators: CSV sink option mapping, safe-mode upsert,
chunk-ledger resume (the reference's checkpoint re-entrancy,
example/stmt_migrate_task.toml:69 enable-checkpoint)."""

import json
import os
import sys
import threading

import pytest
from pyspark.sql import functions as F

from dbms_spark.operators import migrate as M
from dbms_spark.plans import chunker
from dbms_spark.sources.catalog import load_table


def test_csv_roundtrip_with_options(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "nation")
    opts = M.CsvSinkOptions(header=True, separator="|", null_value="\\N")
    out = str(tmp_path / "nation_csv")
    M.write_csv(src, out, opts, num_files=1)
    back = spark.read.options(header="true", sep="|", nullValue="\\N", inferSchema="true").csv(out)
    assert back.count() == src.count()
    assert set(back.columns) == set(src.columns)
    src_names = {r["n_name"] for r in src.collect()}
    back_names = {r["n_name"] for r in back.collect()}
    assert src_names == back_names


def test_upsert_replace_semantics(spark):
    existing = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id int, v string")
    incoming = spark.createDataFrame([(2, "B"), (4, "D")], "id int, v string")
    out = {r["id"]: r["v"] for r in M.upsert(existing, incoming, ["id"]).collect()}
    assert out == {1: "a", 2: "B", 3: "c", 4: "D"}


def test_ledger_resume(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "orders")
    plan = chunker.plan_chunks(src, ["o_orderkey"], 4)
    preds = chunker.predicates(plan)
    ledger_path = str(tmp_path / "ledger")
    sink = str(tmp_path / "sink")

    ledger = M.ChunkLedger(ledger_path, task="t1")
    n1 = M.migrate_chunked(src, preds, sink, ledger)
    assert n1 == src.count()
    # all chunks done -> re-run migrates nothing
    ledger2 = M.ChunkLedger(ledger_path, task="t1")
    assert ledger2.pending(list(range(len(preds)))) == []
    n2 = M.migrate_chunked(src, preds, sink, ledger2)
    assert n2 == 0
    # migrated data is complete and correct
    back = spark.read.parquet(sink)
    assert back.count() == src.count()
    assert back.select(F.sum("o_orderkey")).collect()[0][0] == \
           src.select(F.sum("o_orderkey")).collect()[0][0]


def test_ledger_partial_resume(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "orders")
    plan = chunker.plan_chunks(src, ["o_orderkey"], 4)
    preds = chunker.predicates(plan)
    ledger = M.ChunkLedger(str(tmp_path / "ledger"), task="t2")
    # simulate a crash: chunks 0,1 done, chunk 2 stuck 'running'
    ledger.log(0, preds[0], "done", 1)
    ledger.log(1, preds[1], "done", 1)
    ledger.log(2, preds[2], "running")
    assert ledger.pending(list(range(4))) == [2, 3]


def test_ledger_torn_last_line_stays_pending(tmp_path):
    """A crash mid-append leaves a torn last line: its chunk stays
    pending, and the next append is not swallowed by it."""
    path = str(tmp_path / "ledger")
    ledger = M.ChunkLedger(path, task="t3")
    ledger.log(0, "p0", "done", 5)
    ledger.log(1, "p1", "running")
    with open(path) as f:
        whole = f.read()
    ledger.log(1, "p1", "done", 7)
    with open(path) as f:
        done_line = f.read()[len(whole):]
    # crash mid-append: chunk 1's 'done' line is cut in half
    with open(path, "w") as f:
        f.write(whole + done_line[: len(done_line) // 2])
    torn = M.ChunkLedger(path, task="t3")
    assert torn.pending([0, 1, 2]) == [1, 2]
    assert torn.state()[1]["status"] == "running"
    torn.log(2, "p2", "done", 3)
    assert torn.pending([0, 1, 2]) == [1]
    assert M.ChunkLedger(path, task="other").pending([0, 1]) == [0, 1]


def test_migrate_empty_chunk_logs_zero_rows(spark, sf_dir, tmp_path):
    """A chunk predicate that matches no rows still writes, logs
    'done' with 0 rows, and returns: its row count comes from an
    observation on the write, which must arrive for an empty write."""
    import threading

    src = load_table(spark, sf_dir, "orders")
    preds = ["o_orderkey < 0", "1 = 0", "o_orderkey >= 0"]
    ledger = M.ChunkLedger(str(tmp_path / "ledger"), task="t4")
    out = []
    t = threading.Thread(target=lambda: out.append(
        M.migrate_chunked(src, preds, str(tmp_path / "sink"), ledger)), daemon=True)
    t.start()
    t.join(300)
    assert out, "migrate_chunked did not return"
    assert out[0] == src.count()
    state = ledger.state()
    assert [(state[i]["status"], state[i]["rows"]) for i in range(3)] == \
        [("done", 0), ("done", 0), ("done", src.count())]


def test_migrate_failed_chunk_stays_pending(spark, sf_dir, tmp_path):
    """Chunks run concurrently: when one chunk's write fails, the
    others still end 'done' with their counts, the failed chunk stays
    'running', the error reaches the caller, and a re-run writes only
    the failed chunk."""
    src = load_table(spark, sf_dir, "orders")
    preds = chunker.predicates(chunker.plan_chunks(src, ["o_orderkey"], 4))
    # the last chunk fails at run time; the earlier chunks are started
    # before it whatever the pool size
    broken = preds[:3] + [f"({preds[3]}) AND raise_error('chunk 3 down') IS NULL"]
    ledger_path, sink = str(tmp_path / "ledger"), str(tmp_path / "sink")
    ledger = M.ChunkLedger(ledger_path, task="t5")
    with pytest.raises(Exception, match="chunk 3 down"):
        M.migrate_chunked(src, broken, sink, ledger)
    state = ledger.state()
    expected = [src.filter(p).count() for p in preds]
    assert [(state[i]["status"], state[i]["rows"]) for i in range(3)] == \
        [("done", n) for n in expected[:3]]
    assert state[3]["status"] == "running"
    assert ledger.pending(list(range(4))) == [3]

    with open(ledger_path) as f:
        before = f.read()
    assert M.migrate_chunked(src, preds, sink, ledger) == expected[3]
    with open(ledger_path) as f:
        added = [json.loads(ln) for ln in f.read()[len(before):].splitlines() if ln]
    assert [(e["chunk_id"], e["status"]) for e in added] == [(3, "running"), (3, "done")]
    back = spark.read.parquet(sink).drop("chunk")
    assert back.count() == src.count()
    assert back.exceptAll(src).count() == 0 and src.exceptAll(back).count() == 0


def test_ledger_concurrent_appends_stay_whole(tmp_path, monkeypatch):
    """Appends from many threads at once leave one whole, parseable
    line each, even where one append reaches the file in pieces (a
    filesystem without atomic appends, or a short write)."""
    import time

    whole_write = M.write_durably

    def write_in_pieces(path, text, mode="w"):
        half = len(text) // 2
        whole_write(path, text[:half], mode)
        time.sleep(0.001)
        whole_write(path, text[half:], mode)

    monkeypatch.setattr(M, "write_durably", write_in_pieces)
    path = str(tmp_path / "ledger")
    ledger = M.ChunkLedger(path, task="t6")
    n = 16                                  # more threads than cores
    start = threading.Barrier(n, timeout=60)

    def append(i):
        start.wait()
        ledger.log(i, f"o_orderkey > {i}", "done", i)

    threads = [threading.Thread(target=append, args=(i,)) for i in range(n)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    with open(path) as f:
        lines = [ln for ln in f.read().splitlines() if ln]
    assert len(lines) == n
    events = [json.loads(ln) for ln in lines]
    assert sorted((e["chunk_id"], e["predicate"], e["rows"]) for e in events) == \
        [(i, f"o_orderkey > {i}", i) for i in range(n)]
    assert ledger.pending(list(range(n))) == []


def test_migrate_chunked_csv_returns_source_count(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "orders")
    preds = chunker.predicates(chunker.plan_chunks(src, ["o_orderkey"], 3))
    sink = str(tmp_path / "csv_sink")
    assert M.migrate_chunked(src, preds, sink, fmt="csv") == src.count()
    back = spark.read.options(header="true").csv(sink)
    assert back.count() == src.count()


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    """write_parquet(partition_by=) must produce a layout where a
    partition-key filter scans ONLY matching partition directories —
    the inputFiles set is the proof (plan-level PartitionFilters)."""
    src = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate"))
    out = str(tmp_path / "orders_by_year")
    M.write_parquet(src, out, partition_by=["order_year"])

    pruned = spark.read.parquet(out).filter(F.col("order_year") == 1996)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the filter must land in PartitionFilters (directory pruning),
    # not PushedFilters (row-group skipping) — the scan never lists
    # the other years' files
    assert "PartitionFilters" in plan and "1996" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0], plan
    # the layout really has multiple partition dirs to prune between
    all_files = spark.read.parquet(out).inputFiles()
    assert len({f.split("order_year=")[1].split("/")[0] for f in all_files}) > 1
    # correctness: pruned read equals a post-filter of the source
    assert pruned.count() == src.filter("order_year = 1996").count()


def test_max_records_per_file_caps_output(spark, sf_dir, tmp_path):
    """max_records_per_file rolls files WITHOUT a shuffle: one input
    partition still yields multiple size-capped files (the reference's
    DiskUsageFactor contract for CSV chunks)."""
    import glob

    src = load_table(spark, sf_dir, "customer").coalesce(1)
    out = str(tmp_path / "cust_csv")
    M.write_csv(src, out, num_files=None, max_records_per_file=40)
    files = glob.glob(out + "/part-*")
    n = src.count()
    assert len(files) >= n // 40, f"expected >= {n // 40} files, got {len(files)}"
    back = spark.read.options(header="true").csv(out)
    assert back.count() == n


def test_compact_parquet_reduces_file_count(spark, sf_dir, tmp_path):
    src_dir = str(tmp_path / "frag")
    out_dir = str(tmp_path / "compact")
    src = load_table(spark, sf_dir, "orders")
    src.repartition(16).write.parquet(src_dir)
    import glob

    assert len(glob.glob(src_dir + "/part-*")) == 16
    n_out = M.compact_parquet(spark, src_dir, out_dir, target_file_bytes=1 << 30)
    assert n_out == 1
    assert spark.read.parquet(out_dir).count() == src.count()


def test_write_sorted_parquet_disjoint_file_ranges(spark, sf_dir, tmp_path):
    """Range-clustered layout: per-file (min, max) of the sort column
    must be pairwise disjoint, so min/max stats skip whole files."""
    import glob

    import pyarrow.parquet as pq

    out = str(tmp_path / "sorted")
    src = load_table(spark, sf_dir, "orders")
    M.write_sorted_parquet(src, out, ["o_orderkey"], num_files=4)
    ranges = []
    for f in glob.glob(out + "/part-*"):
        md = pq.read_metadata(f)
        col_idx = md.schema.names.index("o_orderkey")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min); maxs.append(st.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: ({lo1},{hi1}) vs ({lo2},{hi2})"
    assert spark.read.parquet(out).count() == src.count()


def test_write_zordered_parquet_prunes_both_dims(spark, tmp_path):
    """Z-order layout: per-file min/max of BOTH interleaved columns
    must be tighter than the global range, so a point-range predicate
    on EITHER column can skip files — the property a single-column
    sort only gives its leading column."""
    import glob

    import pyarrow.parquet as pq

    side = 64
    rows = [(x, y, x * side + y) for x in range(side) for y in range(side)]
    src = spark.createDataFrame(rows, "x long, y long, payload long")
    out = str(tmp_path / "zorder")
    M.write_zordered_parquet(src, out, "x", "y", bits=6, num_files=16)

    def file_ranges(col):
        rngs = []
        for f in glob.glob(out + "/part-*"):
            md = pq.read_metadata(f)
            ci = md.schema.names.index(col)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                mins.append(st.min); maxs.append(st.max)
            if mins:
                rngs.append((min(mins), max(maxs)))
        return rngs

    xr, yr = file_ranges("x"), file_ranges("y")
    assert len(xr) >= 8
    # every file covers a sub-square: strictly narrower than global on
    # both dims (a plain x-sort would leave y spanning 0..63 everywhere)
    assert all(hi - lo < side - 1 for lo, hi in xr)
    assert all(hi - lo < side - 1 for lo, hi in yr)
    # pruning: a 1/8-wide band on y overlaps only a minority of files
    band = [r for r in yr if not (r[1] < 24 or r[0] > 31)]
    assert len(band) <= len(yr) // 2
    assert spark.read.parquet(out).count() == side * side


def test_jsonl_roundtrip_and_shard_cap(spark, sf_dir, tmp_path):
    import glob
    import json

    out = str(tmp_path / "docs_jsonl")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    M.write_jsonl(src, out, max_records_per_file=40)
    files = glob.glob(out + "/part-*.json")
    assert files, "no jsonl shards written"
    # shard cap respected
    for f in files:
        with open(f) as fh:
            lines = [json.loads(l) for l in fh if l.strip()]
        assert len(lines) <= 40
        assert all({"doc_id", "text", "lang"} <= set(d) for d in lines)
    back = M.read_jsonl(spark, out, "doc_id long, text string, lang string")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_ignore_corrupt_files_skips_damaged_shard(spark, tmp_path):
    """At 100 TB some shard is always damaged: with
    spark.sql.files.ignoreCorruptFiles the scan must skip it and keep
    the healthy rows instead of failing the whole job."""
    import glob

    out = str(tmp_path / "shards")
    spark.range(1000).withColumnRenamed("id", "v").repartition(4) \
        .write.parquet(out)
    victim = sorted(glob.glob(out + "/part-*"))[0]
    with open(victim, "wb") as f:
        f.write(b"not parquet at all")
    try:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
        # schema must be pinned: inference itself reads every footer
        # and dies on the damaged one BEFORE the scan conf applies
        n = spark.read.schema("v long").parquet(out).count()
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")
    assert 0 < n < 1000  # healthy shards survive, damaged one skipped


def test_compact_small_files_leaves_big_ones(spark, tmp_path):
    """Selective compaction merges only the undersized tail; the
    well-sized file's bytes are untouched (same inode content)."""
    import glob

    out = str(tmp_path / "tbl")
    # one "big" file (1000 rows) + a fragmented tail of 6 tiny files
    spark.range(1000).coalesce(1).write.parquet(out)
    big = glob.glob(out + "/part-*")[0]
    big_size = os.path.getsize(big)
    for i in range(6):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode("append").parquet(out)

    rep = M.compact_small_files(spark, out, small_threshold_bytes=big_size,
                                target_file_bytes=1 << 30)
    assert rep["compacted"] == 6
    assert rep["files_after"] == 2  # big file + one merged replacement
    assert os.path.exists(big) and os.path.getsize(big) == big_size
    assert spark.read.parquet(out).count() == 1000 + 60
    # the manifest names exactly the live set: a manifest reader sees a
    # consistent snapshot even mid-swap (commit is the manifest rename)
    assert M.read_live_manifest(spark, out).count() == 1000 + 60
    with open(os.path.join(out, "_LIVE_MANIFEST")) as f:
        lines = [ln for ln in f.read().splitlines() if ln]
    assert len([ln for ln in lines if not ln.startswith("!")]) == 2
    # merged sources are named as pending-delete so readers exclude
    # them BY NAME (no mtime heuristics)
    assert len([ln for ln in lines if ln.startswith("!")]) == 6

    # append-aware: sink files landing AFTER the compaction are part of
    # the live set even though the manifest predates them...
    import time
    time.sleep(0.01)
    spark.range(5000, 5020).coalesce(1).write.mode("append").parquet(out)
    assert M.read_live_manifest(spark, out).count() == 1000 + 60 + 20
    # ...but an unlisted part-compacted-* file (mid-swap replacement of
    # an in-flight compaction) is NOT double-read
    import glob as g
    import shutil
    src_file = g.glob(out + "/part-compacted-*")[0]
    shutil.copy(src_file, os.path.join(out, "part-compacted-inflight-0.parquet"))
    assert M.read_live_manifest(spark, out).count() == 1000 + 60 + 20



def test_compaction_crash_leftovers_not_recompacted(spark, tmp_path):
    """A merged source surviving a crash between manifest commit and
    deletion (a ``!name`` manifest entry still on disk) is (a) excluded
    by readers regardless of its mtime, and (b) deleted — not merged
    AGAIN into duplicates — by the next compaction."""
    import glob
    import shutil

    out = str(tmp_path / "tbl2")
    for i in range(4):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode("append").parquet(out)
    M.compact_small_files(spark, out, small_threshold_bytes=1 << 30,
                          target_file_bytes=1 << 30)
    # simulate the crash: resurrect one merged source under its
    # manifest-named (!) name, mtime equal to the manifest's
    with open(os.path.join(out, "_LIVE_MANIFEST")) as f:
        removed = [ln[1:] for ln in f.read().splitlines() if ln.startswith("!")]
    assert len(removed) == 4
    donor = glob.glob(out + "/part-compacted-*")[0]
    ghost = os.path.join(out, removed[0])
    shutil.copy(donor, ghost)
    m_time = os.path.getmtime(os.path.join(out, "_LIVE_MANIFEST"))
    os.utime(ghost, (m_time, m_time))

    # (a) readers exclude the ghost by name — no double rows
    assert M.read_live_manifest(spark, out).count() == 40
    # (b) the next compaction finishes the crashed deletion instead of
    # re-merging the ghost's rows into a duplicate replacement
    M.compact_small_files(spark, out, small_threshold_bytes=1 << 30,
                          target_file_bytes=1 << 30)
    assert not os.path.exists(ghost)
    assert M.read_live_manifest(spark, out).count() == 40
    assert spark.read.parquet(out).count() == 40


def test_compaction_names_files_appended_during_merge(spark, tmp_path):
    """The commit re-glob: a sink file landing while the merge runs is
    NAMED live by the manifest (not just tolerated by the appended
    heuristic)."""
    import glob

    out = str(tmp_path / "tbl3")
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode("append").parquet(out)

    # inject the concurrent append between the candidate glob and the
    # manifest commit: the first replacement-file rename is inside that
    # window, so appending from there simulates a racing sink
    orig_rename = os.rename
    state = {"done": False}

    def sneaky(a, b):
        if not state["done"] and "part-compacted-" in str(b):
            state["done"] = True
            spark.range(900, 910).coalesce(1).write.mode("append").parquet(out)
        return orig_rename(a, b)

    os.rename = sneaky
    try:
        M.compact_small_files(spark, out, small_threshold_bytes=1 << 30,
                              target_file_bytes=1 << 30)
    finally:
        os.rename = orig_rename
    assert state["done"]
    with open(os.path.join(out, "_LIVE_MANIFEST")) as f:
        live = [ln for ln in f.read().splitlines() if ln and not ln.startswith("!")]
    # replacement + the appended tail file are both NAMED
    assert M.read_live_manifest(spark, out).count() == 40
    assert spark.read.parquet(out).count() == 40
    assert len(live) == 2
