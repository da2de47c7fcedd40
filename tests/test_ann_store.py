"""AnnIndexStore (llm/ann_store.py): the persisted IVF(+PQ) index —
O(batch) appends (watermark redelivery guard, NO index read), static
partition pruning on serving reads, crash-safe pointer commits, and
retrain-and-swap.  The identity contract throughout: the maintained
store answers exactly like a one-shot build over everything applied."""

import os

import pytest
from pyspark.sql import functions as F

from dbms_spark.llm import similarity as S
from dbms_spark.llm.ann_store import AnnIndexStore


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from dbms_spark.sources.catalog import load_table

    return load_table(spark, sf_dir, "embeddings").localCheckpoint()


@pytest.fixture(scope="module")
def quant(sf_dir):
    from dbms_spark.sources.catalog import table_path

    p = table_path(sf_dir, "embeddings")
    return (S.train_ivf_centroids(p, k=8),
            S.train_pq_codebooks(p, m=8, ksub=16))


def _rows(df):
    return sorted((r[0], tuple(r[1]), r[2], r[3]) for r in
                  df.select("vec_id", "q", "norm", "cluster").collect())


def test_build_append_equals_one_shot(spark, emb, quant, tmp_path):
    cents, books = quant
    store = AnnIndexStore(spark, str(tmp_path / "ix"))
    store.build(emb.filter("vec_id % 3 = 1"), quantizers=(cents, books))
    store.append(emb.filter("vec_id % 3 = 2"), batch_id=1)
    store.append(emb.filter("vec_id % 3 = 0"), batch_id=2)
    store.append(emb.filter("vec_id % 3 = 0"), batch_id=2)  # redelivery
    assert store.last_batch_id() == 2
    want = _rows(S.ivf_index_build(emb, cents, books))
    assert _rows(store.read()) == want
    # serving search == one-shot index search
    qs = emb.filter("vec_id % 100 = 0")
    got = sorted(tuple(r) for r in store.search(qs, k=5).collect())
    exp = sorted(tuple(r) for r in S.ivf_pq_topk_from_index(
        S.ivf_index_build(emb, cents, books), qs, cents, books,
        k=5).collect())
    assert got == exp


def test_append_never_reads_the_index(spark, emb, quant, tmp_path):
    """THE O(batch) pin: an append must not scan any existing segment
    — we make the built segment unreadable (rename it away) and the
    append still succeeds, then restore it and prove the relation is
    exactly the one-shot build (so the guard wasn't just skipped
    cheaply; nothing ever needed the index)."""
    cents, _ = quant
    store = AnnIndexStore(spark, str(tmp_path / "ix"))
    store.build(emb.filter("vec_id % 2 = 0"), quantizers=(cents, None))
    seg = str(tmp_path / "ix" / "segments" / "s1")
    hide = str(tmp_path / "hidden_s1")           # outside GC's reach
    os.rename(seg, hide)
    store.append(emb.filter("vec_id % 2 = 1"), batch_id=1)  # must not read s1
    os.rename(hide, seg)
    assert _rows(store.read()) == _rows(S.ivf_index_build(emb, cents))
    # and the redelivery guard runs BEFORE any job: no index, no batch
    os.rename(seg, hide)
    store.append(emb.filter("vec_id % 2 = 1"), batch_id=1)   # no-op
    os.rename(hide, seg)
    assert store.last_batch_id() == 1


def test_serving_read_statically_pruned(spark, emb, quant, tmp_path):
    cents, _ = quant
    store = AnnIndexStore(spark, str(tmp_path / "ix"))
    store.build(emb.filter("vec_id % 2 = 0"), quantizers=(cents, None))
    store.append(emb.filter("vec_id % 2 = 1"), batch_id=1)
    plan = (store.read_clusters([0, 3])._jdf.queryExecution()
            .executedPlan().toString())
    # every segment scan carries the literal partition filter
    assert plan.count("PartitionFilters: [cluster") == 2
    got = sorted(r["cluster"] for r in
                 store.read_clusters([0, 3]).select("cluster")
                 .distinct().collect())
    assert set(got) <= {0, 3}


def test_crash_at_commit_keeps_previous_snapshot(spark, emb, quant,
                                                 tmp_path, monkeypatch):
    import dbms_spark.llm.ann_store as AS

    cents, _ = quant
    store = AnnIndexStore(spark, str(tmp_path / "ix"))
    store.build(emb.filter("vec_id % 2 = 0"), quantizers=(cents, None))
    before = _rows(store.read())
    real = os.replace

    def boom(src, dst):
        if dst.endswith("manifest.json"):
            raise OSError("injected crash at the commit point")
        return real(src, dst)

    monkeypatch.setattr(AS.os, "replace", boom)
    with pytest.raises(OSError):
        store.append(emb.filter("vec_id % 2 = 1"), batch_id=1)
    monkeypatch.setattr(AS.os, "replace", real)
    assert _rows(store.read()) == before          # previous snapshot
    assert store.last_batch_id() == -1
    store.append(emb.filter("vec_id % 2 = 1"), batch_id=1)  # redelivered
    assert _rows(store.read()) == _rows(S.ivf_index_build(emb, cents))


def test_retrain_swap_given_quantizers(spark, emb, quant, tmp_path):
    """Swap machinery: retrain with GIVEN quantizers must equal a
    fresh build with them, atomically (old readers keep resolving)."""
    cents, books = quant
    bad = [(c, n) for c, n in cents[:2]]          # deliberately coarse
    store = AnnIndexStore(spark, str(tmp_path / "ix"))
    store.build(emb.filter("vec_id % 3 != 0"), quantizers=(bad, None))
    store.append(emb.filter("vec_id % 3 = 0"), batch_id=1)
    old = store.read()
    old_rows = _rows(old)                         # resolve old manifest
    store.retrain(quantizers=(cents, books))
    assert _rows(store.read()) == _rows(S.ivf_index_build(emb, cents,
                                                          books))
    # post-swap serving equals a fresh-build serving
    qs = emb.filter("vec_id % 100 = 0")
    got = sorted(tuple(r) for r in store.search(qs, k=3).collect())
    exp = sorted(tuple(r) for r in S.ivf_pq_topk_from_index(
        S.ivf_index_build(emb, cents, books), qs, cents, books,
        k=3).collect())
    assert got == exp
    # a reader that resolved the OLD manifest still completes
    # (retention keeps the prior version's segments)
    assert _rows(old) == old_rows
    # watermark survives the swap: the next batch id continues
    assert store.last_batch_id() == 1


def test_retrain_self_trained_matches_fresh_training(spark, emb, quant,
                                                     sf_dir, tmp_path):
    """Self-retrain trains on the index's reconstructed vectors —
    bit-identical quantizers to training on the original corpus (the
    round-trip q = round(x*SCALE) contract) and a search equal to a
    fresh build."""
    from dbms_spark.sources.catalog import table_path

    cents, _ = quant
    bad = cents[:2]
    store = AnnIndexStore(spark, str(tmp_path / "ix"))
    store.build(emb, quantizers=(bad, None))
    store.retrain(n_cells=8)
    new_cents, new_books = store.quantizers()
    assert new_books is None
    fresh = S.train_ivf_centroids(table_path(sf_dir, "embeddings"), k=8)
    assert new_cents == fresh
    assert _rows(store.read()) == _rows(S.ivf_index_build(emb, fresh))


def test_drift_trigger_and_compact(spark, emb, quant, tmp_path):
    cents, _ = quant
    store = AnnIndexStore(spark, str(tmp_path / "ix"))
    store.build(emb, quantizers=(cents, None))
    d0 = store.drift()
    assert d0["retrain"] is False                # fresh index: healthy
    # funnel a pile of duplicates of one vector into one cell ->
    # occupancy skew trips the trigger
    one = emb.orderBy("vec_id").limit(1).collect()[0]
    skewed = spark.createDataFrame(
        [(10_000 + i, list(one["embedding"])) for i in range(2000)],
        "vec_id long, embedding array<double>")
    store.append(skewed, batch_id=1)
    d1 = store.drift()
    assert d1["retrain"] is True
    assert "occupancy_skew" in d1["reasons"]
    # compact folds segments into one, bit-identically
    before = _rows(store.read())
    store.compact()
    assert len(store._read_manifest()["segments"]) == 1
    assert _rows(store.read()) == before


def test_streaming_intake_end_to_end(spark, emb, quant, tmp_path):
    """readStream -> foreachBatch(store.foreach_batch()) maintains
    the index exactly-once: after the stream drains, the relation
    equals the one-shot build over base + streamed rows, and
    RESTARTING the stream over the same checkpoint (engine replays
    the last batch) changes nothing — the watermark no-op."""
    cents, _ = quant
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    store = AnnIndexStore(spark, str(tmp_path / "ix"))
    store.build(emb.filter("vec_id % 2 = 0"), quantizers=(cents, None))
    (emb.filter("vec_id % 2 = 1").coalesce(1)
     .write.mode("overwrite").parquet(str(src)))

    def run():
        stream = (spark.readStream.schema(emb.schema)
                  .parquet(str(src)))
        q = (stream.writeStream.foreachBatch(store.foreach_batch())
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run()
    want = _rows(S.ivf_index_build(emb, cents))
    assert _rows(store.read()) == want
    wm = store.last_batch_id()
    run()                                  # restart: replay must no-op
    assert _rows(store.read()) == want
    assert store.last_batch_id() == wm


def test_auto_compaction_bounds_segments(spark, emb, quant, tmp_path):
    """Nightly appends must not grow the serving plan forever: past
    max_segments the append auto-compacts (amortized O(index /
    max_segments) per append), and the relation stays bit-identical
    through the fold."""
    cents, _ = quant
    store = AnnIndexStore(spark, str(tmp_path / "ix"), max_segments=3)
    store.build(emb.filter("vec_id % 5 = 0"), quantizers=(cents, None))
    for i in range(1, 5):
        store.append(emb.filter(f"vec_id % 5 = {i}"), batch_id=i)
    assert len(store._read_manifest()["segments"]) <= 3
    assert store.last_batch_id() == 4          # compaction keeps wm
    assert _rows(store.read()) == _rows(S.ivf_index_build(emb, cents))


def test_maintain_closes_the_lifecycle_loop(spark, emb, quant, tmp_path):
    """maintain() = drift verdict -> retrain when tripped, else fold
    segments: the one nightly verb an orchestrator calls."""
    cents, _ = quant
    store = AnnIndexStore(spark, str(tmp_path / "ix"))
    store.build(emb, quantizers=(cents, None))
    # healthy index, single segment: nothing to do
    r0 = store.maintain()
    assert (r0["retrain"], r0["action"]) == (False, "none")
    # healthy index, two segments: housekeeping compacts
    store.append(emb.limit(0), batch_id=1)
    store.append(emb.limit(0), batch_id=2)
    r1 = store.maintain()
    assert r1["action"] == "compact"
    assert len(store._read_manifest()["segments"]) == 1
    # skew-drifted index: maintain retrains and the NEW baseline is
    # healthy (a second maintain finds nothing to do)
    one = emb.orderBy("vec_id").limit(1).collect()[0]
    skewed = spark.createDataFrame(
        [(10_000 + i, list(one["embedding"])) for i in range(2000)],
        "vec_id long, embedding array<double>")
    store.append(skewed, batch_id=3)
    rows_before = sorted(r["vec_id"] for r in
                         store.read().select("vec_id").collect())
    r2 = store.maintain()
    assert r2["action"] == "retrain"
    assert sorted(r["vec_id"] for r in
                  store.read().select("vec_id").collect()) == rows_before
    assert store.last_batch_id() == 3            # watermark survives
    # the engine facade is the same verb (one JSON row per night)
    from dbms_spark.engine import DbmsEngine

    r3 = DbmsEngine(spark).ann_index_maintain(str(tmp_path / "ix"))
    assert r3["action"] in ("none",)             # fresh baseline holds


def test_projected_store_indexes_the_pca_space(spark, emb, sf_dir, tmp_path):
    """OPQ-ish composition as ONE store: a manifest-carried PCA
    projection is applied to build corpus, every append batch, and
    every search query — and the result is exactly the manual
    compose (project the relation, run ivf_topk in the projected
    space)."""
    from dbms_spark.sources.catalog import table_path

    proj = S.train_pca_projection(table_path(sf_dir, "embeddings"),
                                  out_dims=8)
    pu = S.pca_project_unit(emb, proj).localCheckpoint()
    pdir = str(tmp_path / "proj.parquet")
    pu.write.parquet(pdir)
    cents = S.train_ivf_centroids(pdir, k=8)   # trained IN the space

    store = AnnIndexStore(spark, str(tmp_path / "ix"))
    store.build(emb.filter("vec_id % 3 != 0"), quantizers=(cents, None),
                projection=proj)
    store.append(emb.filter("vec_id % 3 = 0"), batch_id=1)
    qs = emb.filter("vec_id % 100 = 0")
    got = sorted(tuple(r) for r in store.search(qs, k=5).collect())
    want = sorted(tuple(r) for r in S.ivf_topk(
        pu, pu.filter("vec_id % 100 = 0"), cents, k=5).collect())
    assert got == want and got
    # retrain stays in the projected space (reconstruction is NOT
    # re-projected) and future queries still project
    store.retrain()
    after = store.search(qs, k=5)
    per_q = after.groupBy("query_id").count().collect()
    assert per_q and all(r["count"] == 5 for r in per_q)
    assert store._read_manifest().get("projection") is not None


@pytest.mark.parametrize("observe_cells", [AnnIndexStore._OBSERVE_CELLS, 0],
                         ids=["observed", "fallback"])
def test_zero_norm_vectors_get_a_defined_stat(spark, emb, quant, tmp_path,
                                              monkeypatch, observe_cells):
    """A zero-norm vector has no cosine: its own_ppm is NULL.  A segment
    whose only cell holds such vectors commits with an own-sum of 0 on
    both stats paths (observe on the write, or the post-write
    aggregate past the observe cap) instead of raising once the
    segment has landed."""
    monkeypatch.setattr(AnnIndexStore, "_OBSERVE_CELLS", observe_cells)
    cents, _ = quant
    store = AnnIndexStore(spark, str(tmp_path / "ix"))
    store.build(emb, quantizers=(cents, None))
    dim = len(emb.first()["embedding"])
    zero = spark.createDataFrame([(10_000 + i, [0.0] * dim) for i in range(3)],
                                 "vec_id long, embedding array<double>")
    store.append(zero, batch_id=1)
    m = store._read_manifest()
    assert m["watermark"] == 1
    landed = store.read().filter("vec_id >= 10000").select("cluster", "own_ppm").collect()
    assert len(landed) == 3 and all(r["own_ppm"] is None for r in landed)
    cell = landed[0]["cluster"]
    assert m["seg_stats"][m["segments"][-1]] == [[cell, 3, 0]]
    assert isinstance(store.drift()["retrain"], bool)
