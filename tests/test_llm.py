"""Semantic properties of the LLM-pipeline operators (the parity suite
covers cross-engine equivalence; these pin the actual meanings)."""

import pytest
from pyspark.sql import functions as F

from dbms_spark.llm import dedup as D
from dbms_spark.llm import multimodal as MM
from dbms_spark.llm import similarity as S
from dbms_spark.llm import text as TX


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),          # near dup of 1
        (4, "der hund ist nicht mit der katze und das haus"),        # German
        (5, "完全是中文文本没有空格"),                                  # CJK
        (6, ""),                                                      # empty
        (7, "zqx wvu ttt completely different tokens here now ok"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lang_id_semantics(docs):
    out = {r["doc_id"]: r["pred_lang"] for r in TX.lang_id(docs).collect()}
    assert out[1] == "en"
    assert out[4] == "de"
    assert out[5] == "zh"
    assert out[6] == "unknown"


def test_token_stats_and_quality(docs):
    stats = TX.token_stats_prepared(docs)
    got = {r["doc_id"]: r for r in stats.collect()}
    assert got[1]["n_tokens"] == 9
    assert got[1]["n_distinct"] == 8  # 'the' twice
    assert got[6]["n_tokens"] == 0 and got[6]["avg_token_len"] == 0.0
    q = {r["doc_id"]: r["quality"] for r in
         stats.select("doc_id", TX.quality_score_expr().alias("quality")).collect()}
    assert all(0.0 <= v <= 1.0 for v in q.values())
    assert q[6] == 0.0
    assert q[1] > q[6]


def test_fingerprint_properties(docs):
    fp = {r["doc_id"]: r for r in TX.fingerprint(docs).collect()}
    assert fp[1]["content_md5"] == fp[2]["content_md5"]
    assert fp[1]["poly_hash"] == fp[2]["poly_hash"]
    assert fp[1]["content_md5"] != fp[3]["content_md5"]
    assert fp[6]["poly_hash"] == 0


def test_exact_dedup(docs):
    groups = D.exact_dedup(docs).collect()
    assert len(groups) == 1
    assert groups[0]["canonical_id"] == 1 and groups[0]["group_size"] == 2


def test_minhash_identical_docs_always_candidates(docs):
    sigs = D.minhash_signatures(docs)
    pairs = {(r["a_id"], r["b_id"]) for r in D.lsh_candidate_pairs(sigs).collect()}
    assert (1, 2) in pairs  # identical docs share every band


def test_simhash_distance_ordering(docs):
    sh = {r["doc_id"]: (r["simhash_hi"], r["simhash_lo"]) for r in D.simhash(docs).collect()}
    assert sh[1] == sh[2]  # identical docs -> identical signature

    def hamming(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    assert hamming(sh[1], sh[3]) < hamming(sh[1], sh[7])  # near-dup closer than unrelated


def test_jaccard_extremes(spark):
    rows = [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w v u")]
    df = spark.createDataFrame(rows + [(4, "t") for _ in range(0)], "doc_id long, text string")
    # pair rule is (i, i + n/2): craft ids so 1 pairs with 2 (n=3//2=1 -> (1,2),(2,3))
    out = {(r["a_id"], r["b_id"]): r["jaccard"] for r in D.jaccard_fixed_pairs(df).collect()}
    assert out[(1, 2)] == 1.0
    assert out[(2, 3)] == 0.0


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    rows = []
    for i in range(20):
        base = [math.sin(i * 0.37 + d) for d in range(8)]
        rows.append((i, [float(x) for x in base]))
    # vec 100: exact copy of vec 0
    rows.append((100, rows[0][1]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact_copy_ranks_first(vectors):
    queries = vectors.filter("vec_id = 0")
    out = S.cosine_topk(vectors, queries, k=3, vec_col="embedding")
    rows = out.orderBy(F.desc("cos_sim"), "neighbor_id").collect()
    assert rows[0]["neighbor_id"] == 100
    assert rows[0]["cos_sim"] >= 0.999999
    assert len(rows) == 3
    assert all(r["query_id"] == 0 for r in rows)


def test_lsh_same_vector_same_bucket(vectors):
    buckets = {r["vec_id"]: r["bucket"] for r in S.lsh_buckets(vectors, 8, 8).collect()}
    assert buckets[0] == buckets[100]
    assert all(len(b) == 8 and set(b) <= {"0", "1"} for b in buckets.values())


def test_lsh_topk_subset_of_bruteforce(vectors):
    queries = vectors.filter("vec_id = 0")
    brute = {(r["query_id"], r["neighbor_id"]): r["cos_sim"]
             for r in S.cosine_topk(vectors, queries, k=21, vec_col="embedding").collect()}
    approx = S.lsh_topk(vectors, queries, k=5, n_planes=4, dims=8).collect()
    assert approx, "bucketed search must return candidates"
    for r in approx:
        assert brute[(r["query_id"], r["neighbor_id"])] == r["cos_sim"]


def test_multimodal_decode_and_plan(spark, docs):
    assets = MM.synthesize_assets(docs.filter("doc_id != 6"), "doc_id", "text")
    decoded = MM.decode_assets(assets)
    rows = {r["asset_id"]: r for r in decoded.collect()}
    assert len(rows) == 6
    for r in rows.values():
        assert 1 <= r["width"] <= 1920 and 1 <= r["height"] <= 1080
        assert r["n_bytes"] > 0
    # determinism
    again = {r["asset_id"]: r["sha_prefix"] for r in MM.decode_assets(assets).collect()}
    assert again == {k: v["sha_prefix"] for k, v in rows.items()}
    # resize plan caps the long side
    planned = MM.resize_images_stub(decoded, max_side=256).collect()
    for r in planned:
        assert max(r["target_width"], r["target_height"]) <= 256
    # frame sampling only for video, step respected
    frames = MM.frame_sample_plan(decoded, every_n=24).collect()
    assert all(r["frame_idx"] % 24 == 0 for r in frames)


def test_multimodal_empty_payload_error_modes(spark):
    bad = spark.createDataFrame(
        [(1, "image", "application/octet-stream", b"", "{}")], MM.ASSET_SCHEMA
    )
    assert MM.decode_assets(bad, on_error="skip").count() == 0
    with pytest.raises(Exception):
        MM.decode_assets(bad, on_error="fail").collect()


def test_jaccard_on_pairs_carried_equals_joined(spark):
    """The map-side carried-shingle path and the id-join path of
    jaccard_on_pairs must agree on the full LSH pipeline output."""
    rows = [(i, f"w{i} common text body shared tokens everywhere {i % 3}") for i in range(1, 21)]
    rows += [(100, rows[0][1]), (101, rows[1][1])]  # exact dups -> certain candidates
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs_plain = D.minhash_signatures(df)
    cands_plain = D.lsh_candidate_pairs(sigs_plain)
    joined = {(r["a_id"], r["b_id"]): r["jaccard"]
              for r in D.jaccard_on_pairs(df, cands_plain).collect()}
    sigs = D.minhash_signatures(df, keep_shingles=True)
    carried = {(r["a_id"], r["b_id"]): r["jaccard"]
               for r in D.jaccard_on_pairs(df, D.lsh_candidate_pairs(sigs, carry=["sh"])).collect()}
    assert joined == carried and len(carried) > 0
    assert carried[(1, 100)] == 1.0  # exact dup pair verified at similarity 1


def test_ivf_ann(spark, sf_dir):
    """IVF coarse quantizer: deterministic training, exact cross-run
    assignment, and useful recall vs the exact top-k baseline."""
    from dbms_spark.sources.catalog import load_table, table_path
    from dbms_spark.llm import similarity as S

    path = table_path(sf_dir, "embeddings")
    cents = S.train_ivf_centroids(path, k=8)
    assert cents == S.train_ivf_centroids(path, k=8)  # deterministic
    assert len(cents) == 8 and all(len(c) == 64 for c, _ in cents)

    emb = load_table(spark, sf_dir, "embeddings")
    assign = S.ivf_assign(emb, cents)
    clusters = assign.groupBy("cluster").count().collect()
    assert 1 < len(clusters) <= 8          # data actually spreads over cells
    assert assign.count() == emb.count()   # every vector lands in exactly one

    qs = emb.filter("vec_id % 50 = 0")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in S.cosine_topk(emb, qs, k=5).collect()}

    def recall(nprobe):
        approx = {(r["query_id"], r["neighbor_id"])
                  for r in S.ivf_topk(emb, qs, cents, k=5, nprobe=nprobe).collect()}
        return len(exact & approx) / len(exact)

    r2, r4 = recall(2), recall(4)
    assert r2 >= 0.3, f"IVF nprobe=2 recall too low: {r2:.2f}"
    assert r4 >= r2  # probing more cells can only help
    # probing every cell degenerates to the exact baseline
    assert recall(len(cents)) == 1.0


def test_ivf_index_incremental_maintenance(spark, sf_dir):
    """The index-as-relation contract: append(build(A), B) equals
    build(A ∪ B) ROW-FOR-ROW (frozen quantizer ⇒ each row's encode is
    independent); re-appending an already-applied batch is a no-op
    (redelivery safety); the PQ-built index answers both ranking
    modes; drift stats drop for an out-of-distribution batch."""
    from dbms_spark.sources.catalog import load_table, table_path
    from dbms_spark.llm import similarity as S
    import pyspark.sql.functions as F

    path = table_path(sf_dir, "embeddings")
    cents = S.train_ivf_centroids(path, k=8)
    books = S.train_pq_codebooks(path, m=8, ksub=16)
    emb = load_table(spark, sf_dir, "embeddings")
    a, b = emb.filter("vec_id % 3 != 0"), emb.filter("vec_id % 3 = 0")

    idx = S.ivf_index_append(S.ivf_index_build(a, cents, books),
                             b, cents, books)
    full = S.ivf_index_build(emb, cents, books)
    key = ["vec_id", "cluster", "codes"]
    assert idx.select(*key).exceptAll(full.select(*key)).count() == 0
    assert full.select(*key).exceptAll(idx.select(*key)).count() == 0

    # redelivered batch: no duplicate rows, same count
    again = S.ivf_index_append(idx, b, cents, books)
    assert again.count() == idx.count()

    # one index, both ranking modes, equal to the one-shot forms
    qs = emb.filter("vec_id % 50 = 0")
    got_cos = {tuple(r) for r in
               S.ivf_topk_from_index(idx, qs, cents, k=3).collect()}
    want_cos = {tuple(r) for r in S.ivf_topk(emb, qs, cents, k=3).collect()}
    assert got_cos == want_cos
    got_adc = {tuple(r) for r in S.ivf_pq_topk_from_index(
        idx, qs, cents, books, k=3).collect()}
    want_adc = {tuple(r) for r in S.ivf_pq_topk(
        emb, qs, cents, books, k=3).collect()}
    assert got_adc == want_adc

    # drift trigger: an inverted-sign batch scores WORSE against the
    # frozen centroids than the in-distribution index
    stats = S.ivf_index_stats(idx, cents)
    base_mean = (stats.agg(F.avg("mean_own_cos_ppm")).collect()[0][0])
    drifted = b.select("vec_id", F.expr(
        "transform(embedding, x -> -x)").alias("embedding"))
    d_idx = S.ivf_index_build(drifted, cents)
    d_mean = (S.ivf_index_stats(d_idx, cents)
              .agg(F.avg("mean_own_cos_ppm")).collect()[0][0])
    assert d_mean < base_mean - 50_000     # > 5 pp drop: retrain fires


def test_ivf_index_persisted_serving_read_prunes(spark, sf_dir, tmp_path):
    """The serving story: persist the index partitionBy(cluster),
    collect the query batch's probe cells driver-side (bounded by the
    cell count), and the literal ``cluster IN`` read must land as a
    STATIC partition filter — machine-checked, the active_days_merge
    rule — while returning the same top-k as the in-memory probe."""
    from dbms_spark.sources.catalog import load_table, table_path
    from dbms_spark.llm import similarity as S
    import pyspark.sql.functions as F

    path = table_path(sf_dir, "embeddings")
    cents = S.train_ivf_centroids(path, k=8)
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter("vec_id % 50 = 0")

    ipath = str(tmp_path / "ivf_index")
    S.ivf_index_build(emb, cents).write.partitionBy("cluster") \
        .parquet(ipath)
    cells = S.ivf_probe_cells(qs, cents, nprobe=2)
    assert 0 < len(cells) <= len(cents)
    pruned = spark.read.parquet(ipath).filter(F.col("cluster").isin(cells))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cluster" in ln and " IN " in ln.upper() for ln in pf), pf

    got = {tuple(r) for r in
           S.ivf_topk_from_index(pruned, qs, cents, k=3).collect()}
    want = {tuple(r) for r in S.ivf_topk(emb, qs, cents, k=3).collect()}
    assert got == want


def test_dedup_groups_components(spark):
    # components: {1,2,3,7} (chain 1-2, 2-3, 3-7), {10,11}, pair order mixed
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (10, 11)], "a_id bigint, b_id bigint")
    got = sorted(tuple(r) for r in D.dedup_groups(pairs).collect())
    assert got == [(1, 1), (2, 1), (3, 1), (7, 1), (10, 10), (11, 10)]
    # one more round changes nothing (converged at iters=4)
    got5 = sorted(tuple(r) for r in D.dedup_groups(pairs, iters=5).collect())
    assert got5 == got


def test_dedup_groups_matches_duck_oracle(spark):
    import duckdb

    pairs = [(1, 5), (5, 9), (2, 4), (100, 1)]
    sdf = spark.createDataFrame(pairs, "a_id bigint, b_id bigint")
    got = sorted(tuple(r) for r in D.dedup_groups(sdf).collect())
    vals = ", ".join(f"({a}, {b})" for a, b in pairs)
    sql = D.dedup_groups_sql(f"SELECT * FROM (VALUES {vals}) AS t(a_id, b_id)")
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == want


def test_repetition_signals_values(spark):
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "x"), (3, "  ")], "doc_id bigint, text string")
    rows = {r["doc_id"]: r for r in TX.repetition_signals(docs).collect()}
    assert set(rows) == {1, 2}  # token-less doc dropped
    r1 = rows[1]
    assert (r1["n_words"], r1["n_distinct_words"], r1["top_word_count"]) == (3, 2, 2)
    assert (r1["n_bigrams"], r1["n_distinct_bigrams"]) == (2, 2)
    assert r1["dup_word_frac"] == 1.0 / 3 and r1["top_word_frac"] == 2.0 / 3
    assert r1["dup_bigram_frac"] == 0.0
    r2 = rows[2]
    assert (r2["n_words"], r2["n_bigrams"], r2["top_word_frac"]) == (1, 0, 1.0)


def test_top_ngrams_deterministic_topk(spark):
    docs = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "a b c d")], "doc_id bigint, text string")
    got = [(r["ngram"], r["cnt"]) for r in TX.top_ngrams(docs, k=3).collect()]
    # 'a b c' x3; ties ('b c a','b c d','c a b' x1) break by text asc
    assert got == [("a b c", 3), ("b c a", 1), ("b c d", 1)]


def test_contamination_check_broadcast_probe(spark):
    train = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z w v")], "doc_id bigint, text string")
    bench = spark.createDataFrame([("a b c d q",)], "text string")
    got = {r["doc_id"]: r["n_hits"] for r in
           TX.contamination_check(train, bench, n=3).collect()}
    # train doc 1 shares trigrams 'a b c' and 'b c d'; doc 2 shares none
    assert got == {1: 2}
    plan = TX.contamination_check(train, bench, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pii_scan_counts_and_redaction(spark):
    docs = spark.createDataFrame(
        [(1, "mail me at bob@corp.io or sue@x.org now"),
         (2, "call +1-555-123-4567 today"),
         (3, "clean text only")], "doc_id bigint, text string")
    rows = {r["doc_id"]: r for r in TX.pii_scan(docs).collect()}
    assert (rows[1]["n_emails"], rows[1]["n_phones"]) == (2, 0)
    assert (rows[2]["n_emails"], rows[2]["n_phones"]) == (0, 1)
    assert (rows[3]["n_emails"], rows[3]["n_phones"]) == (0, 0)
    import hashlib
    assert rows[2]["redacted_md5"] == hashlib.md5(b"call <PHONE> today").hexdigest()


def test_chunk_documents_windows(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b"), (3, "")],
        "doc_id bigint, text string")
    rows = sorted((r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_tokens"])
                  for r in TX.chunk_documents(docs, window=4, stride=3).collect())
    d1 = [r for r in rows if r[0] == 1]
    # 10 tokens, w=4 s=3 -> ceil((10-4)/3)+1 = 3 chunks at offsets 0,3,6
    assert [r[1] for r in d1] == [0, 1, 2]
    assert d1[0][2] == "t0 t1 t2 t3" and d1[0][3] == 4
    assert d1[2][2] == "t6 t7 t8 t9" and d1[2][3] == 4
    assert rows[-2:] == [(2, 0, "a b", 2), (3, 0, "", 0)]


def test_mix_sources_deterministic(spark):
    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(300)], "doc_id bigint, source string")
    out = TX.mix_sources(docs, {"s0": 50.0, "s1": 100.0})
    got = {r["source"] for r in out.collect()}
    assert got == {"s0", "s1"}  # s2 dropped entirely
    n_s1 = out.filter("source = 's1'").count()
    assert n_s1 == docs.filter("source = 's1'").count()  # 100% keeps all
    # deterministic: second run identical
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in TX.mix_sources(docs, {"s0": 50.0, "s1": 100.0}).collect())
    assert a == b


def test_quality_filter_first_failing_rule(spark):
    docs = spark.createDataFrame(
        [(1, "short doc"),                                  # too_short
         (2, " ".join(f"w{i}" for i in range(40))),         # distinct, no stopwords
         (3, " ".join(["the dup"] * 25))],                  # 50 toks, heavy dup
        "doc_id bigint, text string")
    got = {r["doc_id"]: r["verdict"] for r in
           TX.quality_filter(docs, min_tokens=30, min_quality=0.2,
                             max_dup_word_frac=0.5).collect()}
    assert got[1] == "too_short" and got[3] == "repetitive" and got[2] == "kept"


def test_duplicate_line_stats_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "shared line\nunique one\n\n  shared line  "),
            (2, "shared line\nunique two"),
            (3, "all unique here\nanother unique"),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in D.duplicate_line_stats(docs).collect()}
    # doc 1: 3 non-empty lines after trim; 'shared line' occurs 3x
    # corpus-wide (twice in doc 1, once in doc 2)
    assert got[1]["n_lines"] == 3 and got[1]["n_dup_lines"] == 2
    assert got[2]["n_lines"] == 2 and got[2]["n_dup_lines"] == 1
    assert got[3]["n_dup_lines"] == 0
    assert got[2]["dup_line_ratio"] == pytest.approx(0.5)


def test_bloom_no_false_negatives_and_superset(spark):
    train = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta epsilon zeta{i}") for i in range(20)],
        "doc_id bigint, text string")
    bench = spark.createDataFrame([("alpha beta gamma delta x",)], "text string")
    bloom = {r["doc_id"]: r for r in
             TX.bloom_contamination_check(train, bench, n=3, m=256).collect()}
    exact = {r["doc_id"]: r["n_hits"] for r in
             TX.contamination_check(train, bench, n=3).collect()}
    # every exact hit is bloom-flagged (no false negatives), and the
    # bloom count dominates the exact count per doc
    for d, n_hits in exact.items():
        assert d in bloom
        assert bloom[d]["n_bloom_hits"] >= bloom[d]["n_exact_hits"] == n_hits


def test_pq_adc_ann(spark, sf_dir):
    """PQ codebooks: deterministic training, valid codes, and ADC
    neighbor recall comparable to the exact L2-on-quantized baseline."""
    from dbms_spark.sources.catalog import load_table, table_path

    path = table_path(sf_dir, "embeddings")
    books = S.train_pq_codebooks(path, m=8, ksub=16)
    assert books == S.train_pq_codebooks(path, m=8, ksub=16)  # deterministic
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)  # 64 dims / 8 subspaces

    emb = load_table(spark, sf_dir, "embeddings")
    enc = S.pq_encode(emb, books)
    assert enc.count() == emb.count()
    rng = enc.selectExpr("min(array_min(codes)) AS lo", "max(array_max(codes)) AS hi").first()
    assert rng["lo"] >= 0 and rng["hi"] < 16

    # ground truth: the distributed ADC ranking must equal a numpy
    # reimplementation bit-for-bit (fixed-point => order-independent)
    import numpy as np
    import pyarrow.parquet as pq_

    t = pq_.read_table(path, columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    X = np.round(np.array(t.column("embedding").to_pylist(), dtype=np.float64) * 10000)
    code_map = {r["vec_id"]: r["codes"] for r in enc.collect()}
    B = [np.array(b, dtype=np.float64) for b in books]

    def adc_np(qv, cs):
        return sum(((qv[j * 8:(j + 1) * 8] - B[j][cs[j]]) ** 2).sum() for j in range(8))

    got = S.pq_adc_topk(emb, emb.filter("vec_id % 50 = 0"), books, k=5).collect()
    for r in got:
        qv = X[ids == r["query_id"]][0]
        assert r["adc_dist"] == int(adc_np(qv, code_map[r["neighbor_id"]]))
    # and the full per-query ranking matches numpy's
    q_ids = sorted({r["query_id"] for r in got})
    for qid in q_ids:
        qv = X[ids == qid][0]
        dists = {int(i): adc_np(qv, code_map[int(i)]) for i in ids if int(i) != qid}
        want = sorted(dists, key=lambda i: (dists[i], i))[:5]
        have = [r["neighbor_id"] for r in sorted(
            (r for r in got if r["query_id"] == qid),
            key=lambda r: (r["adc_dist"], r["neighbor_id"]))]
        assert have == want, f"query {qid}: {have} != {want}"


def test_ivf_pq_degenerates_to_full_adc(spark, sf_dir):
    """With nprobe = n_cells the IVF pruning is a no-op, so IVF-PQ must
    return exactly the full compressed-domain ADC scan's top-k."""
    from dbms_spark.sources.catalog import load_table, table_path

    path = table_path(sf_dir, "embeddings")
    cents = S.train_ivf_centroids(path, k=8)
    books = S.train_pq_codebooks(path, m=8, ksub=16)
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter("vec_id % 50 = 0")
    full = {(r["query_id"], r["neighbor_id"], r["adc_dist"])
            for r in S.pq_adc_topk(emb, qs, books, k=5).collect()}
    ivfpq = {(r["query_id"], r["neighbor_id"], r["adc_dist"])
             for r in S.ivf_pq_topk(emb, qs, cents, books, k=5, nprobe=len(cents)).collect()}
    assert ivfpq == full


def test_stratified_sample_deterministic_and_nested(spark):
    from dbms_spark.operators.scan import stratified_sample

    rows = [(i, "en" if i % 3 else "de") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    a = {r["doc_id"] for r in
         stratified_sample(df, "lang", "doc_id", {"en": 50.0, "de": 25.0}).collect()}
    b = {r["doc_id"] for r in
         stratified_sample(df, "lang", "doc_id", {"en": 50.0, "de": 25.0}).collect()}
    assert a == b and a  # reproducible, non-empty
    # unknown strata are dropped
    c = stratified_sample(df, "lang", "doc_id", {"fr": 100.0}).count()
    assert c == 0
    # thresholds nest: a lower rate selects a subset of a higher rate
    lo = {r["doc_id"] for r in
          stratified_sample(df, "lang", "doc_id", {"en": 12.5}).collect()}
    hi = {r["doc_id"] for r in
          stratified_sample(df, "lang", "doc_id", {"en": 50.0}).collect()}
    assert lo <= hi


def test_incremental_dedup_finds_known_clones(spark):
    """Every clone in the new batch must surface its original as a
    cross-corpus candidate (identical docs share every band)."""
    old_rows = [(i, f"text body {i} with shared phrasing tokens {i % 5}") for i in range(30)]
    df_old = spark.createDataFrame(old_rows, "doc_id bigint, text string")
    new = spark.createDataFrame(
        [(i + 1000, t) for i, t in old_rows[:5]], "doc_id bigint, text string")
    pairs = {(r["new_id"], r["old_id"]) for r in D.lsh_candidate_pairs_between(
        D.minhash_signatures(new), D.minhash_signatures(df_old)).collect()}
    for i in range(5):
        assert (i + 1000, i) in pairs


def test_projected_topk_matches_numpy_ground_truth(spark, sf_dir):
    """The distributed projected-space ranking must equal a numpy
    reimplementation exactly (fixed-point inputs, integer plane
    components => bit-exact dots), and be deterministic across runs.
    (On this near-random synthetic corpus, projected-vs-exact recall is
    not meaningful — top-5 among near-equidistant vectors is decided by
    tiny margins any compression scrambles; exactness of the plan is
    the testable property, as with PQ.)"""
    import numpy as np
    import pyarrow.parquet as pq_

    from dbms_spark.sources.catalog import load_table, table_path

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter("vec_id % 50 = 0")
    got = S.projected_topk(emb, qs, k=5).collect()
    again = S.projected_topk(emb, qs, k=5).collect()
    assert {tuple(r) for r in got} == {tuple(r) for r in again}

    t = pq_.read_table(table_path(sf_dir, "embeddings"), columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    X = np.round(np.array(t.column("embedding").to_pylist(), dtype=np.float64) * 10000)
    R = np.array([S.plane_components(1000 + i, 64) for i in range(16)], dtype=np.float64)
    P = X @ R.T
    norms = np.sqrt((P * P).sum(axis=1))
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        qi = int(np.where(ids == qid)[0][0])
        sims = {}
        for j, nid in enumerate(ids):
            if int(nid) == qid:
                continue
            s = float(P[qi] @ P[j] / (norms[qi] * norms[j]))
            sims[int(nid)] = np.floor(s * 1e6) / 1e6
        want = sorted(sims, key=lambda i: (-sims[i], i))[:5]
        have = [r["neighbor_id"] for r in sorted(rows, key=lambda r: (-r["cos_sim"], r["neighbor_id"]))]
        assert have == want, f"query {qid}: {have} != {want}"


def test_pack_sequences_semantics(spark):
    """Bins fill in doc order per shard; offsets are running totals mod
    capacity; a doc's bin_id is the window its FIRST token lands in."""
    from dbms_spark.llm.shard import pack_sequences, shard_assign

    docs = spark.createDataFrame(
        [(i, 100 + (i % 3) * 50) for i in range(30)], "doc_id long, n_tokens long")
    out = pack_sequences(docs, capacity=256, n_shards=2).collect()
    by_shard = {}
    for r in sorted(out, key=lambda r: (r["shard_id"], r["doc_id"])):
        run = by_shard.get(r["shard_id"], 0)
        assert r["bin_id"] == run // 256, r
        assert r["bin_offset"] == run % 256, r
        by_shard[r["shard_id"]] = run + r["n_tokens"]
    # shard assignment is deterministic and matches shard_assign
    expect = {r["doc_id"]: r["shard_id"]
              for r in shard_assign(docs, 2).collect()}
    assert all(r["shard_id"] == expect[r["doc_id"]] for r in out)


def test_prefix_filter_pairs_exact_vs_bruteforce(spark):
    """Prefix filtering is EXACT: it must find precisely the pairs a
    brute-force all-pairs 5-gram-shingle Jaccard >= 0.7 finds."""
    from itertools import combinations

    from dbms_spark.llm.dedup import prefix_filter_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (1, base),
        (2, base),                             # exact clone -> pair
        (3, base + " lambda"),                 # near clone -> pair
        (4, "one two three four five six seven eight nine ten"),
        (5, "totally different words entirely here now and then again more"),
        (6, base.replace("alpha", "mu").replace("beta", "nu")),  # farther
    ]

    def shingles(text, n=5):
        t = text.split()
        if len(t) < n:
            return {" ".join(t)}
        return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}

    expect = set()
    for (ia, ta), (ib, tb) in combinations(docs, 2):
        sa, sb = shingles(ta), shingles(tb)
        inter = len(sa & sb)
        uni = len(sa | sb)
        if inter * 10 >= uni * 7:
            expect.add((min(ia, ib), max(ia, ib)))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["a_id"], r["b_id"]) for r in prefix_filter_pairs(df).collect()}
    assert got == expect and (1, 2) in got and (1, 3) in got


def test_lsh_capped_pairs_bounds_megabucket_same_groups(spark):
    """A mega-cluster (40 identical docs) must cost O(cluster) pairs
    under the cap, not O(cluster²) — and the downstream dedup GROUPS
    must be identical to the full expansion (the hub star has graph
    diameter 1, so bounded label propagation closes it in one round).
    Small buckets keep exact all-pairs semantics."""
    from dbms_spark.llm.dedup import (dedup_groups, lsh_candidate_pairs,
                                      lsh_candidate_pairs_capped,
                                      minhash_signatures)

    rows = [(i, "the same boilerplate page content repeated verbatim here")
            for i in range(40)]
    rows += [(100 + i, f"unique document number {i} with its own words "
              f"{i * 7} and tail {i * 13}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs)
    full = lsh_candidate_pairs(sigs)
    capped = lsh_candidate_pairs_capped(sigs, bucket_cap=8)
    n_full, n_capped = full.count(), capped.count()
    assert n_full >= 40 * 39 // 2          # quadratic in the cluster
    assert n_capped == 39                  # linear: one star edge per member
    groups = lambda p: sorted(
        (r["group_id"], r["count"])
        for r in dedup_groups(p).groupBy("group_id").count().collect())
    assert groups(full) == groups(capped)  # same dedup outcome


def test_strip_duplicated_lines(spark):
    """Boilerplate lines (df > max_occ) vanish, unique lines survive in
    original order; an all-boilerplate doc still emits a row with
    clean_text '' and n_kept_lines 0 (every input doc appears)."""
    from dbms_spark.llm.dedup import strip_duplicated_lines

    docs = spark.createDataFrame(
        [(1, "HEADER\nalpha beta\nFOOTER"),
         (2, "HEADER\ngamma delta\nepsilon zeta\nFOOTER"),
         (3, "HEADER\nFOOTER")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           strip_duplicated_lines(docs, max_occ=1).collect()}
    assert out[1]["clean_text"] == "alpha beta"
    assert out[2]["clean_text"] == "gamma delta\nepsilon zeta"   # order kept
    assert out[2]["n_kept_lines"] == 2
    # all lines were boilerplate: doc survives, empty
    assert out[3]["clean_text"] == "" and out[3]["n_kept_lines"] == 0
    # max_occ=3 keeps everything (df of HEADER/FOOTER is 3)
    all_kept = {r["doc_id"]: r["n_kept_lines"] for r in
                strip_duplicated_lines(docs, max_occ=3).collect()}
    assert all_kept == {1: 3, 2: 4, 3: 2}

    # surviving lines are VERBATIM (indentation intact), blank lines
    # are structure (kept, uncounted), and matching is on the TRIM so
    # indented boilerplate variants still collapse
    code = spark.createDataFrame(
        [(1, "  BOILER\ndef f():\n    return 1\n\nprint(f())"),
         (2, "BOILER\nother body")],
        "doc_id long, text string")
    out2 = {r["doc_id"]: r for r in
            strip_duplicated_lines(code, max_occ=1).collect()}
    assert out2[1]["clean_text"] == "def f():\n    return 1\n\nprint(f())"
    assert out2[1]["n_kept_lines"] == 3      # blank line kept but not counted
    assert out2[2]["clean_text"] == "other body"


# ---------------------------------------------------------------------------
# Duplicate-passage operators (cross-doc n-token windows)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def passage_docs(spark):
    rows = [
        (1, "a b c d e"),    # windows: [a b c, b c d, c d e]
        (2, "x a b c y"),    # shares 'a b c' at pos 1
        (3, "q r s"),        # unique single window
        (4, "a b c"),        # shares 'a b c'; fully covered after strip
        (5, "z z"),          # shorter than n=3: zero windows
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicate_passage_stats_hand_computed(passage_docs):
    got = {r["doc_id"]: r for r in
           D.duplicate_passage_stats(passage_docs, n=3).collect()}
    assert len(got) == 5  # every input doc, including the too-short one
    assert (got[1]["n_windows"], got[1]["n_dup_windows"]) == (3, 1)
    assert got[1]["dup_window_ppm"] == 333333
    assert (got[2]["n_windows"], got[2]["n_dup_windows"]) == (3, 1)
    assert (got[3]["n_windows"], got[3]["n_dup_windows"]) == (1, 0)
    assert (got[4]["n_windows"], got[4]["n_dup_windows"]) == (1, 1)
    assert got[4]["dup_window_ppm"] == 1000000
    assert (got[5]["n_windows"], got[5]["n_dup_windows"], got[5]["dup_window_ppm"]) == (0, 0, 0)


def test_top_duplicate_passages_hand_computed(passage_docs):
    rows = D.top_duplicate_passages(passage_docs, n=3).collect()
    assert len(rows) == 1  # only 'a b c' crosses docs
    r = rows[0]
    assert r["passage"] == "a b c"
    assert r["n_docs"] == 3 and r["n_occurrences"] == 3


def test_strip_duplicated_passages_hand_computed(passage_docs):
    got = {r["doc_id"]: r for r in
           D.strip_duplicated_passages(passage_docs, n=3).collect()}
    assert got[1]["clean_text"] == "d e" and got[1]["n_kept_tokens"] == 2
    assert got[2]["clean_text"] == "x y" and got[2]["n_kept_tokens"] == 2
    assert got[3]["clean_text"] == "q r s" and got[3]["n_kept_tokens"] == 3
    # fully-covered doc survives with empty text, not a dropped row
    assert got[4]["clean_text"] == "" and got[4]["n_kept_tokens"] == 0
    # too-short doc keeps everything
    assert got[5]["clean_text"] == "z z" and got[5]["n_kept_tokens"] == 2


def test_duplicate_passages_between_hand_computed(spark):
    corpus = spark.createDataFrame(
        [(1, "a b c d e"), (2, "p q r s t")], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "z a b c z"),   # 'a b c' known to corpus -> 1 of 3 windows
         (11, "m n o"),      # nothing shared
         (12, "x y")],       # too short: zero windows
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           D.duplicate_passages_between(batch, corpus, n=3).collect()}
    assert (got[10]["n_windows"], got[10]["n_corpus_dup_windows"]) == (3, 1)
    assert got[10]["dup_window_ppm"] == 333333
    assert (got[11]["n_windows"], got[11]["n_corpus_dup_windows"]) == (1, 0)
    assert (got[12]["n_windows"], got[12]["n_corpus_dup_windows"],
            got[12]["dup_window_ppm"]) == (0, 0, 0)


def test_winnowed_fingerprints_guarantee(spark):
    """Winnowing guarantee: docs sharing a passage of >= n + w - 1
    tokens share at least one selected fingerprint, regardless of the
    passage's alignment offset in each doc."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = n+w-1 (n=5, w=4)
    rows = [
        (1, f"one two {shared} tail piece here"),
        (2, f"{shared} completely different ending words"),          # offset 0
        (3, f"pre1 pre2 pre3 pre4 pre5 {shared}"),                   # offset 5
        (4, "totally unrelated content with zero overlap anywhere"),
        (5, "too short"),                                            # < n tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = D.winnowed_fingerprints(docs, n=5, w=4)
    by_doc = {i: {r["fp"] for r in g} for i, g in
              __import__("itertools").groupby(
                  sorted(fps.collect(), key=lambda r: r["doc_id"]),
                  key=lambda r: r["doc_id"])}
    assert by_doc[1] & by_doc[2], "offset-0 copy must share a fingerprint"
    assert by_doc[1] & by_doc[3], "offset-5 copy must share a fingerprint"
    assert by_doc[2] & by_doc[3]
    assert not (by_doc[4] & (by_doc[1] | by_doc[2] | by_doc[3]))
    assert 5 not in by_doc                        # too short -> no fingerprints

    stats = {r["doc_id"]: r for r in
             D.winnowed_duplicate_stats(docs, n=5, w=4).collect()}
    assert len(stats) == 5                        # every doc emits a row
    for i in (1, 2, 3):
        assert stats[i]["n_dup_fps"] >= 1
    assert stats[4]["n_dup_fps"] == 0 and stats[4]["n_fps"] >= 1
    assert (stats[5]["n_fps"], stats[5]["dup_fp_ppm"]) == (0, 0)


def test_winnowed_density(spark):
    """Selected fingerprints are a small fraction of all windows —
    the 2/(w+1) density that makes winnowing the scale path."""
    import random
    rng = random.Random(7)
    words = [f"w{rng.randrange(500)}" for _ in range(4000)]
    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    n_fps = D.winnowed_fingerprints(docs, n=5, w=4).count()
    n_windows = 4000 - 5 + 1
    # expected density 2/(w+1) = 0.4 of positions, minus per-doc
    # array_distinct collapsing repeated selections
    assert n_fps < 0.55 * n_windows
    assert n_fps > 0.1 * n_windows


def test_winnowing_guarantee_property(spark):
    """Property form of the winnowing guarantee (Schleimer 2003): for
    ANY two docs sharing a contiguous passage of >= n + w - 1 tokens,
    at whatever alignment, at least one selected fingerprint is
    common.  Randomized passages/paddings with a fixed seed — 30
    deterministic cases in one Spark job."""
    import random
    rng = random.Random(20260815)
    n, w = 5, 4
    rows, expect_pairs = [], []
    did = 0
    for case in range(30):
        plen = rng.randrange(n + w - 1, n + w + 6)     # >= guarantee length
        passage = [f"p{case}_{i}" for i in range(plen)]
        pre_a = [f"a{case}_{i}" for i in range(rng.randrange(0, 7))]
        suf_a = [f"sa{case}_{i}" for i in range(rng.randrange(0, 7))]
        pre_b = [f"b{case}_{i}" for i in range(rng.randrange(0, 7))]
        suf_b = [f"sb{case}_{i}" for i in range(rng.randrange(0, 7))]
        a, b = did, did + 1
        did += 2
        rows.append((a, " ".join(pre_a + passage + suf_a)))
        rows.append((b, " ".join(pre_b + passage + suf_b)))
        expect_pairs.append((a, b))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = D.winnowed_fingerprints(docs, n=n, w=w)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    for a, b in expect_pairs:
        assert by_doc[a] & by_doc[b], (a, b)


def test_hll_merge_operator(spark, sf_dir):
    """hll_merge(parts...) equals the whole-corpus sketch for any
    3-way split — the lossless rollup that makes the sketch useful."""
    from dbms_spark.operators.sketch import hll_merge, hll_registers
    from dbms_spark.sources.catalog import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    parts = [hll_registers(orders.filter(f"o_custkey % 3 = {i}"), "o_custkey")
             for i in range(3)]
    merged = {r["bucket"]: r["register"] for r in hll_merge(*parts).collect()}
    whole = {r["bucket"]: r["register"]
             for r in hll_registers(orders, "o_custkey").collect()}
    assert merged == whole


def test_winnowed_duplicates_between_guarantee(spark):
    """Cross-corpus winnowing guarantee: a batch doc sharing a passage
    of >= n + w - 1 tokens with a corpus doc registers corpus-dup
    fingerprints, regardless of alignment; disjoint and too-short
    batch docs register zero / empty."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = n+w-1
    corpus = spark.createDataFrame(
        [(100, f"cpre1 cpre2 {shared} ctail"),
         (101, "filler corpus words having no overlap at all")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1, f"{shared} fresh suffix here"),                  # offset 0
         (2, f"x1 x2 x3 {shared}"),                           # offset 3
         (3, "completely novel batch content nothing shared"),
         (4, "tiny")],                                        # < n tokens
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           D.winnowed_duplicates_between(batch, corpus, n=5, w=4).collect()}
    assert len(got) == 4                                      # every batch doc
    assert got[1]["n_corpus_dup_fps"] >= 1 and got[1]["dup_fp_ppm"] > 0
    assert got[2]["n_corpus_dup_fps"] >= 1
    assert got[3]["n_corpus_dup_fps"] == 0 and got[3]["n_fps"] >= 1
    assert (got[4]["n_fps"], got[4]["dup_fp_ppm"]) == (0, 0)


def test_sample_vectors_bounded_and_exact(tmp_path, monkeypatch):
    """The ANN training sample read is memory-bounded AND bit-identical
    to the old whole-column read: streaming batches with a running
    smallest-`sample` set picks exactly the `sample` lowest vec_ids even
    when they are scattered across row groups (so 'read the first row
    group' would be WRONG — this asserts the running-min merge)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq_
    from dbms_spark.llm import similarity as S

    rng = np.random.default_rng(7)
    n, dims, sample = 1000, 8, 64
    ids = rng.permutation(n).astype("int64")      # low ids scattered everywhere
    vecs = rng.normal(size=(n, dims)).astype("float32")
    t = pa.table({"vec_id": ids,
                  "embedding": [v.tolist() for v in vecs]})
    path = str(tmp_path / "emb.parquet")
    pq_.write_table(t, path, row_group_size=100)  # 10 row groups

    # old (unbounded) shape, computed inline as the oracle
    full = pq_.read_table(path, columns=["vec_id", "embedding"])
    order = np.argsort(full.column("vec_id").to_numpy())[:sample]
    want = np.array(full.column("embedding").to_pylist(),
                    dtype=np.float64)[order]

    # tiny batch size => the merge runs many times; result must not change
    monkeypatch.setattr(S, "_SAMPLE_BATCH", 37)
    got = S._sample_vectors(path, sample, "embedding")
    assert got.shape == (sample, dims)
    assert np.array_equal(got, want)

    # bounded: instrument the merge by spying on the dataset batches —
    # at no point does the function hold more than sample + batch rows.
    # (Structural: best_vecs is truncated to `sample` every batch; we
    # assert the observable consequence — correctness above — plus that
    # a 1-row sample also works at any batch size.)
    monkeypatch.setattr(S, "_SAMPLE_BATCH", 1)
    one = S._sample_vectors(path, 1, "embedding")
    assert np.array_equal(one, want[:1])


def test_sample_vectors_distributed_matches_streaming(tmp_path, spark):
    """The spark path (orderBy+limit = executor-side top-k, the 100 TB
    shape: I/O parallel, only k rows at the driver) selects the exact
    same rows as the driver-streaming path, so trained literals are
    identical whichever path a deployment uses."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq_
    from dbms_spark.llm import similarity as S

    rng = np.random.default_rng(11)
    ids = rng.permutation(500).astype("int64")
    vecs = rng.normal(size=(500, 8)).astype("float32")
    path = str(tmp_path / "emb.parquet")
    pq_.write_table(pa.table(
        {"vec_id": ids, "embedding": [v.tolist() for v in vecs]}),
        path, row_group_size=64)
    a = S._sample_vectors(path, 100, "embedding")
    b = S._sample_vectors(path, 100, "embedding", spark=spark)
    assert np.array_equal(a, b)
    cents_stream = S.train_ivf_centroids(path, k=4, sample=100)
    cents_spark = S.train_ivf_centroids(path, k=4, sample=100, spark=spark)
    assert cents_stream == cents_spark


def test_ann_training_bounded_read(sf_dir):
    """train_ivf_centroids / train_pq_codebooks go through the bounded
    sampler (no whole-column pq.read_table) and still produce the same
    literals as before the fix — the q51/q81/q82 gates depend on it."""
    from dbms_spark.sources.catalog import table_path
    from dbms_spark.llm import similarity as S

    calls = []
    orig = S._sample_vectors

    def spy(path, sample, vec_col, spark=None):
        calls.append(sample)
        return orig(path, sample, vec_col, spark)

    S._sample_vectors = spy
    try:
        path = table_path(sf_dir, "embeddings")
        cents = S.train_ivf_centroids(path, k=8)
        books = S.train_pq_codebooks(path, m=8, ksub=16)
    finally:
        S._sample_vectors = orig
    assert calls == [4096, 4096]       # both trainers use the bounded path
    assert len(cents) == 8 and len(books) == 8


def test_ingest_utf8(spark):
    """Binary ingest canonicalization: one U+FFFD per MAXIMAL invalid
    sequence (a truncated 3-byte lead collapses to one replacement,
    two standalone bad bytes give two), valid text bit-unchanged,
    garble char configurable — reference CharsetConvertReplace
    semantics (utils/stringutil/string.go:776-805)."""
    from dbms_spark.llm.text import ingest_utf8_expr

    df = spark.createDataFrame(
        [(1, b"he\xffllo"), (2, b"ok"), (3, b"tr\xc3"),
         (4, "héllo✓".encode()), (5, b"a\xe4\xb8b"), (6, b"\xff\xfe"),
         (7, b"")],
        "id int, raw binary")
    got = {r["id"]: r["t"] for r in
           df.select("id", ingest_utf8_expr("raw", "?").alias("t")).collect()}
    assert got == {1: "he?llo", 2: "ok", 3: "tr?", 4: "héllo✓",
                   5: "a?b", 6: "??", 7: ""}
    kept = {r["id"]: r["t"] for r in
            df.select("id", ingest_utf8_expr("raw").alias("t")).collect()}
    assert kept[1] == "he�llo" and kept[4] == "héllo✓"  # default keeps U+FFFD


def test_derive_n_planes_and_auto(spark):
    """Plane count scales log2(n/occupancy); n_planes=None derives it
    and still mines real near-dup pairs."""
    from dbms_spark.llm.similarity import derive_n_planes, near_dup_pairs

    assert derive_n_planes(1000) == 4                   # floor
    assert derive_n_planes(256 * 16) == 4
    assert derive_n_planes(256 * 1024) == 10
    assert derive_n_planes(10**9) == 22                 # 100TB-ish corpus

    import numpy as np
    rng = np.random.default_rng(3)
    base = rng.normal(size=(30, 8))
    rows = [(i, [float(x) for x in base[i % 30] + (0.001 if i >= 30 else 0)])
            for i in range(60)]                          # 30 near-dup pairs
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = near_dup_pairs(df, threshold=0.99, n_planes=None, dims=8)
    got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    assert len(got & {(i, i + 30) for i in range(30)}) >= 20  # LSH recall


def test_ingest_charset_gbk_big5(spark):
    """Legacy-charset decode parity with Python codecs: GBK and BIG5
    round-trips, invalid bytes -> U+FFFD -> configurable garble char,
    NULL payloads pass through, non-binary columns survive."""
    from dbms_spark.llm.text import ingest_charset

    gbk = "数据校验".encode("gbk")
    big5 = "資料驗證".encode("big5")
    bad = "坏".encode("gbk") + b"\xff" + "好".encode("gbk")
    df = spark.createDataFrame(
        [(1, "a", gbk), (2, "b", bad), (3, "c", None)],
        "id int, tag string, raw binary")
    got = {r["id"]: (r["tag"], r["text"]) for r in
           ingest_charset(df, "raw", "gbk").collect()}
    assert got[1] == ("a", "数据校验")
    assert got[2] == ("b", "坏�好")
    assert got[3] == ("c", None)
    q = {r["id"]: r["text"] for r in
         ingest_charset(df, "raw", "gbk", garbled_replace="?").collect()}
    assert q[2] == "坏?好"
    b5 = spark.createDataFrame([(1, big5)], "id int, raw binary")
    assert ingest_charset(b5, "raw", "big5").collect()[0]["text"] == "資料驗證"


def test_encode_charset_roundtrip_and_replace(spark):
    """Write-side hop: UTF-8 -> GBK bytes round-trips through
    ingest_charset; characters GBK can't represent become the
    encoder's replacement ('?'), mirroring ReplaceUnsupported."""
    from dbms_spark.llm.text import encode_charset, ingest_charset

    df = spark.createDataFrame(
        [(1, "数据校验"), (2, "emoji ☃ breaks gbk"), (3, None)],
        "id int, text string")
    enc = encode_charset(df, "text", "gbk")
    got = {r["id"]: r["raw"] for r in enc.collect()}
    assert bytes(got[1]) == "数据校验".encode("gbk")
    assert bytes(got[2]) == b"emoji ? breaks gbk"   # unsupported -> '?'
    assert got[3] is None
    back = {r["id"]: r["text"] for r in
            ingest_charset(enc, "raw", "gbk").collect()}
    assert back[1] == "数据校验" and back[3] is None


def test_winnowed_between_persisted_fps(spark):
    """corpus_fps short-circuit: passing the persisted fingerprint
    relation gives identical per-doc stats to mining the corpus live —
    the nightly-intake form that never re-reads the raw corpus."""
    rows = [(i, f"alpha beta gamma delta epsilon zeta eta theta doc{i}")
            for i in range(1, 9)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch, corpus = df.filter("doc_id <= 2"), df.filter("doc_id > 2")
    live = {tuple(r) for r in
            D.winnowed_duplicates_between(batch, corpus).collect()}
    fps = D.winnowed_fingerprints(corpus).select("fp")
    persisted = {tuple(r) for r in
                 D.winnowed_duplicates_between(batch, None, corpus_fps=fps).collect()}
    assert live == persisted and live


def test_embedding_decontaminate_crafted(spark):
    """An exact copy of a bench vector is contaminated at cos 1.0; an
    orthogonal vector is clean; cosine ties resolve to the SMALLEST
    bench id (packed-argmax decode)."""
    from dbms_spark.llm.similarity import embedding_decontaminate

    bench = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]), (11, [1.0, 0.0, 0.0]), (12, [0.0, 1.0, 0.0])],
        "vec_id BIGINT, embedding ARRAY<FLOAT>")
    train = spark.createDataFrame(
        [(1, [2.0, 0.0, 0.0]),    # scaled copy of bench 10/11 -> cos 1.0, tie
         (2, [0.0, 0.0, 5.0]),    # orthogonal to every bench vector
         (3, [1.0, 1.0, 0.0])],   # cos ~0.707 to 10/11 and to 12
        "vec_id BIGINT, embedding ARRAY<FLOAT>")
    got = {r.train_id: r for r in
           embedding_decontaminate(train, bench, threshold=0.9).collect()}
    assert got[1].contaminated and got[1].max_cos >= 0.999
    assert got[1].nearest_bench_id == 10          # tie -> smallest bench id
    assert not got[2].contaminated and got[2].max_cos == 0.0
    assert not got[3].contaminated
    assert abs(got[3].max_cos - 0.7071) < 1e-3
    assert got[3].nearest_bench_id == 10


def test_mix_to_budget_semantics_and_prefilter(spark):
    """Per-source kept weight reaches budget and overshoots by at most
    one (straddling) document; unlisted sources drop; the
    expected_totals pre-filter returns the identical kept set even
    with totals off by 2x."""
    from pyspark.sql import functions as F

    from dbms_spark.llm.text import mix_to_budget

    df = spark.range(600).selectExpr(
        "id AS doc_id",
        "concat('s', CAST(id % 3 AS STRING)) AS source",
        "CAST(10 + id % 90 AS BIGINT) AS n_chars")
    budgets = {"s0": 1000, "s1": 250}
    kept = mix_to_budget(df, budgets)
    agg = {r.source: (r.w, r.mx) for r in
           kept.groupBy("source")
           .agg(F.sum("n_chars").alias("w"), F.max("n_chars").alias("mx"))
           .collect()}
    assert set(agg) == {"s0", "s1"}          # s2 has no budget -> dropped
    for s, b in budgets.items():
        w, mx = agg[s]
        assert w >= b, f"{s}: kept weight {w} below budget {b}"
        assert w - b < mx, f"{s}: overshoot {w - b} exceeds one document"

    base = sorted(tuple(r) for r in kept.collect())
    totals = {r.source: int(r.t) for r in
              df.groupBy("source").agg(F.sum("n_chars").alias("t")).collect()}
    # UNDERestimated totals only widen the filter — identical result;
    # exact totals leave the margin intact
    for factor in (0.5, 1.0):
        est = {s: max(1, int(t * factor)) for s, t in totals.items()}
        pf = sorted(tuple(r) for r in
                    mix_to_budget(df, budgets, expected_totals=est).collect())
        assert pf == base, f"prefilter diverged at factor {factor}"
    # OVERestimating totals past the margin cuts the admitted prefix —
    # and the documented detection fires: some source's kept weight
    # lands below its budget even though the source had more data
    est = {s: t * 2 for s, t in totals.items()}
    cut = mix_to_budget(df, budgets, expected_totals=est, margin=1.5)
    cut_w = {r.source: r.w for r in
             cut.groupBy("source").agg(F.sum("n_chars").alias("w")).collect()}
    assert any(cut_w.get(s, 0) < b for s, b in budgets.items()), \
        "2x-overestimated totals should be detectable as under-budget keeps"


def test_mix_to_budget_many_sources_constant_depth(spark):
    """Budgets travel as a broadcast rules relation — a 2,000-source
    dict must plan and run (a nested CASE chain StackOverflows near
    1k arms, the assign_chunk_id lesson)."""
    from dbms_spark.llm.text import mix_to_budget

    df = spark.range(20_000).selectExpr(
        "id AS doc_id",
        "concat('s', CAST(id % 2000 AS STRING)) AS source",
        "CAST(10 + id % 90 AS BIGINT) AS n_chars")
    budgets = {f"s{i}": 60 for i in range(2000)}
    kept = mix_to_budget(df, budgets)
    assert kept.count() >= 2000  # every source keeps at least one doc


def test_split_assign_stability_and_proportions(spark):
    """Split membership is a pure function of the id: unchanged when
    the corpus doubles; proportions converge to the weights; every
    listed split name appears and nothing else."""
    from dbms_spark.llm.text import split_assign

    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    big = spark.range(20_000).selectExpr("id AS doc_id")
    full = {r.doc_id: r.split for r in split_assign(big, w).collect()}
    half = {r.doc_id: r.split for r in
            split_assign(big.filter("doc_id < 10000"), w).collect()}
    assert all(full[k] == v for k, v in half.items())
    import collections
    c = collections.Counter(full.values())
    assert set(c) == set(w)
    for name, frac in w.items():
        assert abs(c[name] / 20_000 - frac) < 0.02, (name, c[name])


def test_corpus_frequency_score_semantics(spark):
    """Common-word docs outscore rare/OOV docs; OOV-only docs score 0;
    the shuffle-join model path is identical to broadcast."""
    from dbms_spark.llm.text import corpus_frequency_score, token_frequency_model

    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(10)]
        + [(100, "zyzzyva qwyjibo")],
        "doc_id long, text string")
    model = token_frequency_model(ref)
    docs = spark.createDataFrame(
        [(1, "the cat sat"),            # all high-frequency tokens
         (2, "zyzzyva qwyjibo"),        # rare tokens (cnt 1 each)
         (3, "xxxx yyyy zzzz")],        # fully OOV
        "doc_id long, text string")
    got = {r.doc_id: r.mean_tok_freq_x1000
           for r in corpus_frequency_score(docs, model).collect()}
    assert got[1] > got[2] > got[3] == 0
    shuf = {r.doc_id: r.mean_tok_freq_x1000
            for r in corpus_frequency_score(docs, model,
                                            broadcast_model=False).collect()}
    assert shuf == got


def test_compression_ratio_orders_junk_below_prose(spark):
    """Repetitive junk compresses far below varied prose; empty text
    reports ratio 1.0; determinism across calls."""
    from dbms_spark.llm.text import compression_ratio

    docs = spark.createDataFrame(
        [(1, "aaaaaaaaaa " * 60),                              # degenerate
         (2, "the quick brown fox jumps over the lazy dog " * 12),  # repetitive
         (3, "Across the harbour, fishermen hauled nets while gulls "
             "argued over scraps; a ferry horn rolled through the fog "
             "and the market stalls opened one by one."),       # varied prose
         (4, ""), (5, None)],
        "doc_id long, text string")
    got = {r.doc_id: r for r in compression_ratio(docs).collect()}
    assert got[1].compression_ratio < got[2].compression_ratio < got[3].compression_ratio
    assert got[4].compression_ratio == 1.0 and got[5].compression_ratio == 1.0
    again = {r.doc_id: r.compressed_bytes for r in compression_ratio(docs).collect()}
    assert again == {k: v.compressed_bytes for k, v in got.items()}


def test_c4_line_filter_rule_arms(spark):
    """Each C4 rule fires: short/unpunctuated lines drop, punctuated
    lines reassemble in order, lorem-ipsum and brace docs drop whole,
    fully-filtered docs disappear."""
    from dbms_spark.llm.text import c4_line_filter

    docs = spark.createDataFrame(
        [(1, "This is a good line.\nshort\nAnother proper sentence here!\nno punct line at all"),
         (2, "lorem ipsum dolor sit amet. Otherwise fine."),
         (3, "function f() { return 1; } This has braces."),
         (4, "only\nshort\nlines"),
         (5, 'He said "stop".\nA second fine line ends here?')],
        "doc_id long, text string")
    got = {r.doc_id: r for r in c4_line_filter(docs).collect()}
    assert set(got) == {1, 5}
    assert got[1].text == "This is a good line.\nAnother proper sentence here!"
    assert got[1].n_lines_kept == 2 and got[1].n_lines_dropped == 2
    assert got[5].n_lines_dropped == 0


def test_simhash_hamming_pairs_semantics(spark, docs):
    """Pigeonhole recall + exact-distance verification: exact clones
    (hamming 0) are always found; the returned hamming equals the
    Python-computed popcount distance; pairs past max_hamming never
    appear; band_cap drops mega-bucket pairs; max_hamming > 3 raises."""
    import pytest as _pytest

    sigs = D.simhash(docs)
    sh = {r["doc_id"]: (r["simhash_hi"], r["simhash_lo"])
          for r in sigs.collect()}

    def hamming(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    out = {(r["a_id"], r["b_id"]): r["hamming"]
           for r in D.simhash_hamming_pairs(sigs, max_hamming=3).collect()}
    assert out[(1, 2)] == 0                      # exact clone always recalled
    for (a, b), h in out.items():
        assert h == hamming(sh[a], sh[b]) and h <= 3
    # ground truth: EVERY pair within distance 3 must be found (the
    # pigeonhole guarantee is exact recall, not best-effort)
    ids = sorted(sh)
    truth = {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
             if hamming(sh[a], sh[b]) <= 3}
    assert set(out) == truth

    # cap=1: every band bucket holding the two clones exceeds the cap,
    # so the clone pair disappears
    capped = {(r["a_id"], r["b_id"]) for r in
              D.simhash_hamming_pairs(sigs, max_hamming=3, band_cap=1).collect()}
    assert (1, 2) not in capped

    with _pytest.raises(ValueError):
        D.simhash_hamming_pairs(sigs, max_hamming=4)


def test_containment_pairs_semantics(spark):
    """A doc fully embedded in a larger host: containment 1.0 in one
    direction with a hand-computed reverse value; unrelated docs never
    pair; fp_cap drops boilerplate buckets; min_containment filters."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    host = base + " kilo lima mike november oscar papa quebec romeo sierra tango"
    rows = [(1, base), (2, host),
            (3, "one two three four five six seven eight nine ten")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.a_id, r.b_id): (r.c_a_in_b, r.c_b_in_a)
           for r in D.containment_pairs(df, min_containment=0.5).collect()}
    assert set(out) == {(1, 2)}
    # base: 10 tokens -> 6 5-shingles, all inside host (20 tokens, 16
    # shingles): c(1 in 2) = 1.0, c(2 in 1) = 6/16 = 0.375
    assert out[(1, 2)] == (1.0, 0.375)

    # threshold above both directions -> no pairs
    assert D.containment_pairs(df, min_containment=0.9,
                               fp_cap=None).where("a_id = 1").count() == 1
    hi = D.containment_pairs(df, min_containment=1.1)
    assert hi.count() == 0

    # fp_cap=1: every shared fingerprint bucket (the 1-2 overlap) is
    # wider than the cap, so the pair disappears
    assert D.containment_pairs(df, fp_cap=1).count() == 0


def test_hamming_pairs_between_identity(spark):
    """Incremental SimHash intake: exact clones across the
    batch/corpus boundary are always recalled (hamming 0); the
    between-run equals the full-corpus run on the union restricted to
    cross pairs; band_cap drops corpus mega-buckets."""
    corpus = [(i, f"unique doc number {i} with words w{i} x{i} y{i} z{i} q{i}")
              for i in range(15)]
    batch = ([(100 + i, corpus[i][1]) for i in range(4)]       # clones
             + [(200, "entirely fresh content never seen before here")])
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    bdf = spark.createDataFrame(batch, "doc_id long, text string")
    bs, cs = D.simhash(bdf), D.simhash(cdf)
    out = {(r.new_id, r.corpus_id): r.hamming
           for r in D.hamming_pairs_between(bs, cs).collect()}
    for i in range(4):
        assert out[(100 + i, i)] == 0          # boundary clones recalled
    full = D.simhash_hamming_pairs(D.simhash(cdf.unionByName(bdf)))
    cross = {(max(r.a_id, r.b_id), min(r.a_id, r.b_id)): r.hamming
             for r in full.collect() if (r.a_id < 100) != (r.b_id < 100)}
    assert out == cross                        # union identity
    # cap=0 empties every corpus bucket -> no pairs at all
    assert D.hamming_pairs_between(bs, cs, band_cap=0).count() == 0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        D.hamming_pairs_between(bs, cs, max_hamming=4)


def test_containment_pairs_between_identity(spark):
    """Incremental containment intake: a batch excerpt of a corpus doc
    is recalled with containment 1.0; the between-run equals the
    full-corpus run on the union restricted to cross pairs; the
    persisted-corpus-fps ledger path is identical to re-mining; the
    fp_cap counts occupancy over the UNION of both sides."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    host = base + " kilo lima mike november oscar papa quebec romeo sierra"
    corpus = [(1, host),
              (2, "one two three four five six seven eight nine ten")]
    batch = [(101, base)]                      # excerpt of corpus doc 1
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    bdf = spark.createDataFrame(batch, "doc_id long, text string")
    out = {(r.new_id, r.corpus_id): (r.c_new_in_corpus, r.c_corpus_in_new)
           for r in D.containment_pairs_between(
               bdf, cdf, min_containment=0.5).collect()}
    # base: 10 tokens -> 6 5-shingles, all inside host (19 tokens, 15
    # shingles): c(new in corpus) = 1.0, reverse = 6/15 = 0.4
    assert out == {(101, 1): (1.0, 0.4)}
    full = D.containment_pairs(cdf.unionByName(bdf), min_containment=0.5)
    cross = {(max(r.a_id, r.b_id), min(r.a_id, r.b_id)): (r.c_b_in_a, r.c_a_in_b)
             for r in full.collect() if (r.a_id < 100) != (r.b_id < 100)}
    assert out == cross                        # union identity
    # ledger path: persisted corpus fingerprints -> identical output
    fps = D.winnowed_fingerprints(cdf)
    via_ledger = {(r.new_id, r.corpus_id): (r.c_new_in_corpus, r.c_corpus_in_new)
                  for r in D.containment_pairs_between(
                      bdf, cdf, min_containment=0.5,
                      corpus_fps=fps).collect()}
    assert via_ledger == out
    # fp_cap=1: the shared fingerprint appears on BOTH sides (union
    # occupancy 2 > 1), so the pair disappears even though each side
    # alone is under the cap
    assert D.containment_pairs_between(bdf, cdf, fp_cap=1).count() == 0


def test_drop_contained_policy(spark):
    """Embedded doc drops, host stays; mutual containment keeps the
    smaller id; unrelated docs untouched."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    host = base + " kilo lima mike november oscar papa quebec romeo sierra tango"
    rows = [(1, base), (2, host), (3, base),
            (4, "one two three four five six seven eight nine ten")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r.doc_id for r in D.drop_contained(df, min_containment=0.9).collect()}
    # 1 and 3 are mutually contained (keep 1, drop 3); 1 is contained
    # in host 2 (drop 1, keep 2); 4 unrelated
    assert kept == {2, 4}


def test_derive_fp_cap_scale_rule():
    """Floor holds to ~250 docs (gate scale stays effectively
    uncapped: measured occupancy <= 4); log2 growth beyond; total
    pair volume per kept fingerprint is cap^2 — O(n log n) overall."""
    from dbms_spark.llm.dedup import derive_fp_cap

    assert derive_fp_cap(1) == 64
    assert derive_fp_cap(5_000) == 104          # 8 * ceil(log2(5000))
    assert derive_fp_cap(10 ** 10) == 8 * 34    # 272 at web scale
    assert derive_fp_cap(10 ** 10) < 1_000      # never an all-pairs bucket


def test_containment_auto_cap_kept_set_identity(spark, sf_dir):
    """The derived default must not change results at gate scale:
    drop_contained / containment_pairs with fp_cap='auto' equal the
    explicitly-uncapped run on the documents table (occupancy there
    is far below the floor), while a HOT boilerplate fingerprint
    shared by every doc is dropped by the auto cap — bounding the
    candidate join — without losing genuine subset pairs that share
    any non-boilerplate fingerprint."""
    from dbms_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    auto = {tuple(r) for r in D.containment_pairs(docs).collect()}
    unc = {tuple(r) for r in
           D.containment_pairs(docs, fp_cap=None).collect()}
    assert auto == unc and len(auto) > 0
    kept_a = {r.doc_id for r in D.drop_contained(docs).collect()}
    kept_u = {r.doc_id for r in D.drop_contained(docs, fp_cap=None).collect()}
    assert kept_a == kept_u
    # hot-fingerprint behavior: 200 docs all opening with the same
    # boilerplate sentence; doc 0 is fully embedded in doc 1 and ALSO
    # shares unique content — the auto cap (floor 64 < 200) drops the
    # boilerplate fingerprints yet still recalls the true subset pair
    boiler = " ".join(f"tok{i}" for i in range(12))
    rows = [(i, boiler + f" unique{i} filler{i} body{i} tail{i}")
            for i in range(2, 200)]
    rows.append((0, "special alpha beta gamma delta epsilon zeta eta"))
    rows.append((1, "special alpha beta gamma delta epsilon zeta eta"
                    " plus a much longer host document body here"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.containment_pairs(df, min_containment=0.9)
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    assert (0, 1) in got                       # true subset recalled
    # boilerplate-only overlaps propose no pairs under the auto cap
    assert all(a in (0, 1) and b in (0, 1) for a, b in got)


def test_dhash_pgm_decode_locality_recall(spark):
    """dHash over REAL decoded PGM pixels: a hand-computed 9x8 image
    (grid == pixels) matches the Python dHash bit-for-bit; exact
    clones hash identically; a 1-px change at a SAMPLED grid position
    flips 1-2 bits and the Hamming banding recalls the perturbed
    clone; junk / 16-bit / truncated payloads are dropped."""
    import numpy as np

    from dbms_spark.llm.multimodal import dhash_pgm

    def pgm(w, h, px):
        return bytearray(b"P5\n%d %d\n255\n" % (w, h) + bytes(px))

    rng = np.random.RandomState(3)
    base = rng.randint(0, 256, (24, 32), dtype=np.uint8)   # h=24, w=32
    pert = base.copy()
    # grid cell (gy=1, gx=2) samples row (1*24)//8 = 3, col (2*32)//9
    # = 7 — a pixel the 8x9 grid actually reads
    pert[3, 7] ^= 0xFF
    grid = rng.randint(0, 256, (8, 9), dtype=np.uint8)     # exact-grid
    rows = [(1, pgm(32, 24, base.flatten().tolist())),
            (2, pgm(32, 24, base.flatten().tolist())),     # exact clone
            (3, pgm(32, 24, pert.flatten().tolist())),     # 1-px edit
            (4, pgm(9, 8, grid.flatten().tolist())),
            (5, bytearray(b"JUNK not a pgm")),             # dropped
            (6, bytearray(b"P5\n9 8\n65535\n" + bytes(144))),  # 16-bit
            (7, bytearray(b"P5\n9 8\n255\n" + bytes(10)))]     # truncated
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    sigs = dhash_pgm(df)
    hs = {r.asset_id: (r.simhash_hi, r.simhash_lo) for r in sigs.collect()}
    assert set(hs) == {1, 2, 3, 4}
    assert hs[1] == hs[2]

    def py_dhash(g):
        hi = lo = 0
        for k in range(64):
            gy, gx = k // 8, k % 8
            b = 1 if g[gy][gx] > g[gy][gx + 1] else 0
            if k < 32:
                hi |= b << k
            else:
                lo |= b << (k - 32)
        return hi, lo

    assert hs[4] == py_dhash(grid.tolist())                # bit-exact
    flips = (bin(hs[1][0] ^ hs[3][0]).count("1")
             + bin(hs[1][1] ^ hs[3][1]).count("1"))
    assert 1 <= flips <= 2                                 # locality
    pairs = {(r.a_id, r.b_id): r.hamming
             for r in D.simhash_hamming_pairs(
                 sigs.withColumnRenamed("asset_id", "doc_id")).collect()}
    assert pairs[(1, 2)] == 0                              # clone recalled
    assert pairs[(1, 3)] == flips                          # perturbed too


def test_dhash_stub_locality_and_pipeline(spark):
    """dHash: identical payloads -> identical hash; a one-byte change
    flips few bits; the hamming-pairs pipeline recalls the perturbed
    clone; empty payloads are dropped."""
    from dbms_spark.llm.multimodal import dhash_stub

    t = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, t), (2, t), (3, "X" + t[1:]), (4, "")]
    df = spark.createDataFrame(rows, "asset_id long, text string")
    assets = df.selectExpr("asset_id", "encode(text, 'UTF-8') AS payload")
    h = {r.asset_id: (r.simhash_hi, r.simhash_lo)
         for r in dhash_stub(assets).collect()}
    assert set(h) == {1, 2, 3}          # empty payload dropped
    assert h[1] == h[2]

    def ham(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    assert 1 <= ham(h[1], h[3]) <= 3    # one byte -> few bits

    sigs = dhash_stub(assets)
    pairs = {(r.a_id, r.b_id): r.hamming for r in
             D.simhash_hamming_pairs(sigs, max_hamming=3,
                                     id_col="asset_id").collect()}
    assert pairs[(1, 2)] == 0 and (1, 3) in pairs


def test_dedup_keep_best_policy(spark):
    """Highest score wins within a duplicate group; ties go to the
    smaller id; ungrouped docs untouched."""
    t = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    rows = [(1, t, 10), (2, t, 99), (3, t, 99),
            (4, "unrelated content entirely different tokens here now ok", 1)]
    df = spark.createDataFrame(rows, "doc_id long, text string, score long")
    kept = {r.doc_id for r in D.dedup_keep_best(df, "score").collect()}
    # group {1,2,3}: scores 10,99,99 -> 2 wins (99, smaller id); 4 alone
    assert kept == {2, 4}


def test_strip_html_hand_values(spark):
    """Every rule arm hand-checked: block elements with contents,
    comments, tags, entities (&amp; decoded LAST), whitespace."""
    h = ('<html><style>p {c}</style><!-- no --><body>'
         '<p>Hello   <b>world</b></p><script>var x = "<p>";</script>'
         'A &amp;lt; B &nbsp;&quot;ok&quot;</body></html>')
    df = spark.createDataFrame([(1, h)], "doc_id long, text string")
    out = TX.strip_html(df).collect()[0].text
    # &amp;lt; -> literal '&lt;' (entity decode is not recursive)
    assert out == 'Hello world A &lt; B "ok"'


def test_normalize_text_hand_values(spark):
    """NFC composes the combining mark; case folds; runs collapse; the
    composed and decomposed spellings become hash-identical."""
    decomposed = "CAFÉ   Deluxe"      # E + COMBINING ACUTE
    assert len(decomposed.split()[0]) == 5   # really decomposed
    composed = "café deluxe"           # precomposed, already canonical
    df = spark.createDataFrame(
        [(1, decomposed), (2, composed), (3, None)],
        "doc_id long, text string")
    out = {r.doc_id: r.text for r in TX.normalize_text(df).collect()}
    assert out[1] == out[2] == "café deluxe"
    assert out[3] is None


def test_normalize_text_keeps_metadata_columns(spark):
    """Run-once-at-ingest contract: every non-text column passes
    through unchanged, in the input column order (an earlier form
    selected (id, text) only and silently dropped source/lang)."""
    df = spark.createDataFrame(
        [(1, "web", "  CAFÉ  Runs ", "en")],
        "doc_id long, source string, text string, lang string")
    out = TX.normalize_text(df)
    assert out.columns == ["doc_id", "source", "text", "lang"]
    r = out.collect()[0]
    assert (r.source, r.lang) == ("web", "en")
    assert r.text == "café runs"


def test_adaptive_length_filter_band(spark):
    """The band is corpus-relative: uniform lengths keep ~everything;
    planting extreme tails trims exactly the tails."""
    mk = lambda i, n: (i, " ".join(f"w{j}" for j in range(n)))  # noqa: E731
    body = [mk(i, 50) for i in range(100)]
    tails = [mk(1000 + i, 1) for i in range(3)] + [mk(2000 + i, 400) for i in range(3)]
    df = spark.createDataFrame(body + tails, "doc_id long, text string")
    kept = {r.doc_id for r in
            TX.adaptive_length_filter(df, lo_p=0.05, hi_p=0.95,
                                      max_tokens=512.0).collect()}
    assert all(i in kept for i in range(100))           # the body survives
    assert all(1000 + i not in kept for i in range(3))  # short tail trimmed
    assert all(2000 + i not in kept for i in range(3))  # long tail trimmed
    # columns come back unchanged
    cols = TX.adaptive_length_filter(df).columns
    assert cols == ["doc_id", "text"]


def test_adaptive_length_filter_grouped(spark):
    """Per-group bands are group-local: a length normal for source A
    but extreme for source B survives in A and is trimmed in B."""
    mk = lambda i, g, n: (i, g, " ".join(f"w{j}" for j in range(n)))  # noqa: E731
    rows = ([mk(i, "long", 200) for i in range(50)]
            + [mk(100 + i, "short", 10) for i in range(50)]
            + [mk(900, "short", 200), mk(901, "long", 10)])
    df = spark.createDataFrame(rows, "doc_id long, g string, text string")
    kept = {r.doc_id for r in TX.adaptive_length_filter(
        df, lo_p=0.05, hi_p=0.95, max_tokens=512.0, nbins=64,
        group_col="g").collect()}
    assert all(i in kept for i in range(50))
    assert all(100 + i in kept for i in range(50))
    assert 900 not in kept and 901 not in kept   # extreme within-group


def test_inverted_index_capped_and_segmented(spark):
    """Occupancy controls on the posting lists: max_df drops the
    stop-word-grade head token BEFORE any list materializes; every
    segment array is bounded by segment_size; and the segments of a
    retained token reassemble, in segment order, to exactly its
    uncapped posting list."""
    from pyspark.sql import functions as F

    rows = [(i, f"stopword w{i} tag{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    seg = TX.inverted_index(df, max_df=20, segment_size=4)
    assert seg.filter("token = 'stopword'").count() == 0     # head dropped
    assert seg.agg(F.max(F.size("doc_ids"))).first()[0] <= 4  # bound holds
    # tag0 appears in docs 0,3,6,...,27 (df=10) -> segments of 4,4,2
    t0 = {r.segment: (r.doc_ids, r.seg_count, r.df_count)
          for r in seg.filter("token = 'tag0'").collect()}
    assert t0 == {0: ([0, 3, 6, 9], 4, 10),
                  1: ([12, 15, 18, 21], 4, 10),
                  2: ([24, 27], 2, 10)}
    # cap-off identity: segments concatenate to the uncapped list
    flat = [i for s in sorted(t0) for i in t0[s][0]]
    plain = TX.inverted_index(df).filter("token = 'tag0'").first()
    assert flat == plain.doc_ids and plain.df_count == 10


def test_disjunctive_query_hand_values(spark):
    """n_hits counts DISTINCT query terms present; absent terms and
    repeated in-doc occurrences contribute nothing."""
    df = spark.createDataFrame(
        [(1, "a b c a"), (2, "b"), (3, "x y"), (4, "c c c")],
        "doc_id long, text string")
    got = {r.doc_id: r.n_hits
           for r in TX.disjunctive_query(df, ["a", "c", "zz"]).collect()}
    assert got == {1: 2, 4: 1}    # doc 3 matches nothing -> no row


def test_phrase_query_hand_values(spark):
    """Adjacency AND order: co-occurrence without adjacency misses;
    repeated-term phrases resolve per-index (the anchor trick votes
    once per index a term holds)."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "brown the quick fox"),
         (3, "quick brown"), (4, "the quick lazy brown")],
        "doc_id long, text string")
    got = sorted(r.doc_id for r in
                 TX.phrase_query(df, ["quick", "brown"]).collect())
    assert got == [1, 3]          # 2 has order broken, 4 not adjacent
    rep = spark.createDataFrame(
        [(1, "x x y"), (2, "x y x")], "doc_id long, text string")
    got = sorted(r.doc_id for r in TX.phrase_query(rep, ["x", "x"]).collect())
    assert got == [1]             # repeated terms need true adjacency


def test_adaptive_length_filter_over_max_tokens_kept(spark):
    """max_tokens is the sketch's RESOLUTION ceiling, not a hard
    cutoff: counts past it clamp into the last bin on BOTH the
    histogram and the filter comparison, so hi_p near 1.0 keeps
    over-long docs (an unclamped comparison would always drop them)."""
    mk = lambda i, n: (i, " ".join(f"w{j}" for j in range(n)))  # noqa: E731
    rows = [mk(i, 50) for i in range(100)] + [mk(1000 + i, 300) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r.doc_id for r in TX.adaptive_length_filter(
        df, lo_p=0.01, hi_p=0.99, max_tokens=128.0, nbins=64).collect()}
    # 300-token docs exceed max_tokens=128 but sit inside the p99 band
    # of the CLAMPED distribution -> kept
    assert all(1000 + i in kept for i in range(5))
    assert all(i in kept for i in range(100))
    # tightening hi_p below their mass share trims them: the band
    # still works above the ceiling
    kept_tight = {r.doc_id for r in TX.adaptive_length_filter(
        df, lo_p=0.01, hi_p=0.90, max_tokens=128.0, nbins=64).collect()}
    assert all(1000 + i not in kept_tight for i in range(5))
    assert all(i in kept_tight for i in range(100))


def test_adaptive_length_filter_null_group(spark):
    """Rows with a NULL group form their OWN band (null-safe join)
    instead of being silently dropped, and the grouped form preserves
    the input column order."""
    mk = lambda i, g, n: (i, g, " ".join(f"w{j}" for j in range(n)))  # noqa: E731
    rows = ([mk(i, "a", 50) for i in range(40)]
            + [mk(100 + i, None, 10) for i in range(40)]
            + [mk(900, None, 200)])          # extreme within the NULL group
    df = spark.createDataFrame(rows, "doc_id long, g string, text string")
    out = TX.adaptive_length_filter(df, lo_p=0.05, hi_p=0.95,
                                    max_tokens=512.0, nbins=64, group_col="g")
    assert out.columns == ["doc_id", "g", "text"]   # input order kept
    kept = {r.doc_id for r in out.collect()}
    assert all(i in kept for i in range(40))
    assert all(100 + i in kept for i in range(40))  # NULL group survives
    assert 900 not in kept                          # banded group-locally


def _bm25_model(corpus: dict[int, str], terms: list[str], k: int):
    """Independent Python-int model of the rational BM25 in
    text.bm25_rank (engine-symmetric-bug guard: the differential gate
    can't catch the same wrong formula on both engines)."""
    from collections import Counter, defaultdict

    toks = {i: t.split() for i, t in corpus.items()}
    n = len(corpus)
    t_total = sum(len(v) for v in toks.values())
    tf = {(i, w): c for i, ts in toks.items()
          for w, c in Counter(ts).items() if w in terms}
    dfreq = Counter(w for (_, w) in tf)
    scores: dict[int, int] = defaultdict(int)
    for (i, w), f in tf.items():
        dl, df = len(toks[i]), dfreq[w]
        num = 1_000_000 * 44 * f * t_total * (2 * n - 2 * df + 1)
        den = (20 * f * t_total + 6 * t_total + 18 * dl * n) * (2 * df + 1)
        scores[i] += num // den
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(i, s, r + 1) for r, (i, s) in enumerate(ranked)]


def test_bm25_rank_matches_python_model(spark):
    """Field-for-field identity with the independent integer model,
    plus the two orderings BM25 exists to produce: rare-term idf
    dominance and length normalization."""
    corpus = {
        1: "a common words only here",
        2: "rare a common common",           # rare term + 2x common
        3: "common a b c d e f g h i j k l m n o p q r s t u v w",
        4: "common common",                  # short doc, high tf density
        5: "unrelated text entirely",
    }
    df = spark.createDataFrame(sorted(corpus.items()),
                               "doc_id long, text string")
    got = [(r.doc_id, r.score_x1e6, r.rank)
           for r in TX.bm25_rank(df, ["rare", "common"], k=5)
           .orderBy("rank").collect()]
    assert got == _bm25_model(corpus, ["rare", "common"], 5)
    # rare-term holder wins outright; short dense doc beats the long
    # doc whose single 'common' is buried in 24 tokens
    order = [d for d, _, _ in got]
    assert order[0] == 2
    assert order.index(4) < order.index(3)
    assert 5 not in order                    # no query term -> no row


def test_bm25_rank_term_saturation(spark):
    """k1 saturation: tf 1 -> 2 gains more than tf 5 -> 6 (diminishing
    returns — the property distinguishing BM25 from raw tf scoring)."""
    docs = {i: " ".join(["hit"] * i + ["pad"] * (10 - i))
            for i in range(1, 7)}
    df = spark.createDataFrame(sorted(docs.items()),
                               "doc_id long, text string")
    s = {r.doc_id: r.score_x1e6
         for r in TX.bm25_rank(df, ["hit"], k=6).collect()}
    assert s[2] - s[1] > s[6] - s[5] > 0


def test_token_cooccurrence_hand_values(spark):
    """Hand-computed lift on a crafted corpus: a perfect collocation
    (always together) scores lift = N/df; min_df drops hapax noise;
    min_pair gates singleton pairs."""
    docs = {
        1: "alpha beta filler1",
        2: "alpha beta filler2",
        3: "alpha beta filler3",
        4: "alpha gamma filler4",
        5: "gamma delta filler5",
        6: "gamma delta filler6",
    }
    df = spark.createDataFrame(sorted(docs.items()),
                               "doc_id long, text string")
    out = {(r.tok_a, r.tok_b): (r.n_pair, r.df_a, r.df_b, r.lift_ppm, r.rank)
           for r in TX.token_cooccurrence(
               df, min_df=2, min_pair=2, per_doc_cap=None, k=10).collect()}
    # alpha(df=4) & beta(df=3): together 3x -> 1e6*3*6/(4*3) = 1,500,000
    assert out[("alpha", "beta")][:4] == (3, 4, 3, 1_500_000)
    # gamma(df=3) & delta(df=2): together 2x -> 1e6*2*6/(3*2) = 2,000,000
    assert out[("delta", "gamma")][:4] == (2, 2, 3, 2_000_000)
    # delta-gamma outranks alpha-beta (higher lift), deterministically
    assert out[("delta", "gamma")][4] < out[("alpha", "beta")][4]
    # fillers are hapax (df=1 < min_df): never paired
    assert all("filler" not in a and "filler" not in b for a, b in out)
    # alpha-gamma co-occur once only: min_pair=2 gates it
    assert ("alpha", "gamma") not in out


def test_token_cooccurrence_caps(spark):
    """max_df drops head terms BEFORE pairing; per_doc_cap bounds the
    per-doc expansion deterministically (md5 order, engine-free)."""
    docs = [(i, f"stopword mid{i % 3} mid{(i + 1) % 3} uniq{i}")
            for i in range(12)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # stopword has df=12: max_df=10 removes every pair containing it
    out = TX.token_cooccurrence(df, min_df=2, max_df=10, min_pair=2,
                                per_doc_cap=None, k=50).collect()
    assert out and all("stopword" not in (r.tok_a, r.tok_b) for r in out)
    # per_doc_cap=1 leaves one retained token per doc: no pairs at all
    capped = TX.token_cooccurrence(df, min_df=2, min_pair=1,
                                   per_doc_cap=1, k=50).collect()
    assert capped == []


def test_bm25_index_query_identity_and_pruning(spark, tmp_path):
    """bm25_query over persisted bm25_index relations is row-identical
    to the one-shot bm25_rank; the postings IN filter reaches the
    parquet scan (pushed filter — the pruned-read contract); max_df at
    build time drops head terms from the ledger."""
    docs = {i: f"common mid{i % 5} uniq{i} " + ("rare " if i % 7 == 0 else "")
            for i in range(60)}
    df = spark.createDataFrame(sorted(docs.items()),
                               "doc_id long, text string")
    terms = ["rare", "common", "mid2"]
    direct = [(r.doc_id, r.score_x1e6, r.rank)
              for r in TX.bm25_rank(df, terms, k=12).collect()]

    postings, doclens = TX.bm25_index(df)
    pp, dp = str(tmp_path / "postings"), str(tmp_path / "doclens")
    postings.write.parquet(pp)
    doclens.write.parquet(dp)
    p, d = spark.read.parquet(pp), spark.read.parquet(dp)
    via_index = [(r.doc_id, r.score_x1e6, r.rank)
                 for r in TX.bm25_query(p, d, terms, k=12).collect()]
    assert via_index == direct

    # the query's postings read is a pushed-down IN over the ledger
    # (bm25_query checkpoints that relation, so inspect the scan the
    # checkpoint job runs: the filtered postings plan itself)
    from pyspark.sql import functions as F

    scan_plan = (p.filter(F.col("token").isin(terms))
                 ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [In(token" in scan_plan

    # head-drop at build: 'common' (df=60) gone from the ledger, and a
    # query for it scores only the surviving terms
    postings_capped, _ = TX.bm25_index(df, max_df=50)
    assert postings_capped.filter("token = 'common'").count() == 0


def test_ann_unroll_mode_bit_identical(spark, sf_dir, monkeypatch):
    """Past the row-estimate crossover the kernels swap the
    interpreted HOF folds for unrolled scalar arithmetic (3-8x per-row
    on big corpora, a fixed per-stage compile cost — docs/SCALE.md),
    forced here by moving ``_UNROLL_ROWS``; both modes must be
    BIT-identical on every kernel (same left-to-right FP order):
    IVF assign, PQ codes, LSH buckets, in-cell cosine."""
    from dbms_spark.sources.catalog import load_table, table_path
    from dbms_spark.llm import similarity as S

    path = table_path(sf_dir, "embeddings")
    cents = S.train_ivf_centroids(path, k=8)
    books = S.train_pq_codebooks(path, m=8, ksub=16)
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter("vec_id % 50 = 0")

    def snapshot():
        return (
            sorted(tuple(r) for r in S.ivf_assign(emb, cents).collect()),
            sorted((r[0], tuple(r[1])) for r in
                   S.pq_encode(emb, books).collect()),
            sorted(tuple(r) for r in S.lsh_buckets(emb, 6).collect()),
            sorted(tuple(r) for r in
                   S.ivf_topk(emb, qs, cents, k=3).collect()),
        )

    monkeypatch.setattr(S, "_UNROLL_ROWS", 1 << 62)
    hof = snapshot()
    monkeypatch.setattr(S, "_UNROLL_ROWS", 0)
    unrolled = snapshot()
    assert hof == unrolled


def test_fp_cap_contract_shared_across_engines(spark):
    """The derived fingerprint cap is ONE value in Python, Spark, and
    DuckDB (exact bit-length arithmetic — float log2 could disagree at
    powers of two), and a BINDING cap drops the same pairs on both
    engines."""
    import duckdb

    # 1) cap value identity across the three evaluators
    for n in [0, 1, 2, 3, 255, 256, 257, 10**5, 2**40, 2**40 + 1]:
        py = D.derive_fp_cap(n)
        sdf = spark.range(1).select(
            D._fp_cap_col(F.lit(n).cast("long")).alias("c"))
        duck = duckdb.sql(
            f"SELECT {D._fp_cap_sql_expr(f'SELECT {n}')}").fetchone()[0]
        assert py == sdf.collect()[0]["c"] == duck, n
    # 2) a binding cap (int, shared by operator and twin) drops the
    #    same candidate buckets: 3 docs all sharing one boilerplate
    #    sentence; fp_cap=2 kills the 3-doc fingerprints on BOTH sides
    rows = [(i, "common boiler plate sentence tokens here "
                "plus unique words number %d tail %d" % (i, i))
            for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in D.containment_pairs(
        df, min_containment=0.0, fp_cap=2).collect())
    con = duckdb.connect()
    import pandas as pd  # noqa: F401
    pdf = df.toPandas()
    con.register("docs", pdf)
    want = sorted(tuple(r) for r in con.sql(D.containment_pairs_sql(
        "docs", min_containment=0.0, fp_cap=2)).fetchall())
    assert got == want
    # 3) the default "auto" twins agree end-to-end too
    got_a = sorted(tuple(r) for r in D.containment_pairs(
        df, min_containment=0.0).collect())
    want_a = sorted(tuple(r) for r in con.sql(D.containment_pairs_sql(
        "docs", min_containment=0.0)).fetchall())
    assert got_a == want_a


def test_ann_unroll_auto_selects_from_row_estimate(spark, monkeypatch):
    """The kernel mode is chosen per call from a Catalyst row
    estimate: small inputs keep the fixed-cost-free HOF form, inputs
    past the crossover get the unrolled scalar form."""
    df = spark.createDataFrame(
        [(i, [float(i % 7)] * 8) for i in range(4)],
        "vec_id long, embedding array<double>")
    cents = [([1] * 8, 2.0), ([-1] * 8, 2.0)]

    def plan(d):
        return d._jdf.queryExecution().analyzed().toString()

    # tiny input -> HOF folds, no unrolled element_at chains
    # (the per-row norm stays an HOF fold in BOTH modes — only the
    # k x dims score kernels switch, so element_at presence is the
    # mode witness)
    p_small = plan(S.ivf_index_build(df, cents))
    assert "element_at" not in p_small
    # pretend the crossover is 0 rows -> same call unrolls
    monkeypatch.setattr(S, "_UNROLL_ROWS", 0)
    p_big = plan(S.ivf_index_build(df, cents))
    assert "element_at" in p_big
    # the decision is call-scoped: nothing leaks into the next call
    assert not getattr(S._AUTO_UNROLL, "value", False)
    # a real parquet scan yields a usable nonzero estimate
    est = S._estimate_rows(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    assert est > 0


def _write_anisotropic_vectors(tmp_path, n=200, dims=16):
    """Deterministic vectors with variance concentrated in dims 0-1
    (signal) and near-zero elsewhere — the shape PCA is FOR."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vecs = []
    for i in range(n):
        a = float((i % 17) - 8)            # dominant axis, var ~24
        b = float(((i * 7) % 13) - 6) * 0.5  # second axis, var ~3.5
        v = [0.0] * dims
        v[0], v[1] = a, b
        for j in range(2, dims):           # deterministic micro-noise
            v[j] = 0.01 * float((i * j) % 5 - 2)
        vecs.append(v)
    t = pa.table({"vec_id": pa.array(range(n), pa.int64()),
                  "embedding": pa.array(vecs, pa.list_(pa.float64()))})
    p = str(tmp_path / "aniso.parquet")
    pq.write_table(t, p)
    return p, vecs


def test_pca_projection_tracks_dominant_axes(spark, tmp_path):
    """Hand-computable anisotropy: the first principal component must
    align with the planted dominant axis (positive sign after the
    deterministic fix), explained shares must be descending with the
    two signal axes carrying ~all variance, and training must be
    deterministic."""
    p, _ = _write_anisotropic_vectors(tmp_path)
    proj = S.train_pca_projection(p, out_dims=4, sample=10_000)
    assert proj == S.train_pca_projection(p, out_dims=4, sample=10_000)
    mu, comps = proj
    c0, _, e0 = comps[0]
    c1, _, e1 = comps[1]
    # first PC is the planted e0 direction (sign-fixed positive)
    assert c0[0] > 0.99 * S._SCALE
    assert all(abs(x) < 0.05 * S._SCALE for x in c0[1:])
    # second PC is the planted e1 direction
    assert abs(c1[1]) > 0.99 * S._SCALE
    shares = [c[2] for c in comps]
    assert shares == sorted(shares, reverse=True)
    assert e0 + e1 > 0.99          # two signal axes carry the variance
    # distributed trainer selects the identical sample -> same bits
    assert S.train_pca_projection(p, out_dims=4, sample=10_000,
                                  spark=spark) == proj


def test_pca_topk_recall_and_parity(spark, sf_dir, duck, tmp_path):
    """(1) On anisotropic data, 2 PCA dims + a small re-rank recover
    nearly the exact cosine top-k (numpy oracle); (2) on the real
    embeddings table, operator and DuckDB twin are value-identical —
    candidate SET included, not just the final ranking."""
    import numpy as np

    p, vecs = _write_anisotropic_vectors(tmp_path)
    proj = S.train_pca_projection(p, out_dims=2, sample=10_000)
    df = spark.read.parquet(p)
    got = S.pca_topk(df, df.filter("vec_id % 10 = 0"), proj,
                     k=5, rerank=4).collect()
    got_pairs = {(r["query_id"], r["neighbor_id"]) for r in got}
    # numpy exact-cosine oracle over the same quantized space
    Q = np.round(np.array(vecs) * S._SCALE)
    nrm = np.linalg.norm(Q, axis=1)
    sims = (Q @ Q.T) / np.outer(nrm, nrm)
    want = set()
    for qi in range(0, len(vecs), 10):
        order = sorted((i for i in range(len(vecs)) if i != qi),
                       key=lambda i: (-sims[qi, i], i))
        want |= {(qi, i) for i in order[:5]}
    recall = len(got_pairs & want) / len(want)
    assert recall >= 0.9, recall

    # cross-engine value identity on the real table
    from dbms_spark.queries import _pca_proj, _q312_sql, q312_pca_pruned_topk
    from dbms_spark.sources.catalog import load_table

    sp = sorted(tuple(r) for r in
                q312_pca_pruned_topk(spark, sf_dir).collect())
    du = sorted(tuple(r) for r in duck.sql(_q312_sql()).fetchall())
    assert sp == du
    # projection itself is bit-identical cross-engine
    pr = _pca_proj()
    sp_p = {r["vec_id"]: tuple(r["proj"]) for r in S.pca_project(
        load_table(spark, sf_dir, "embeddings"), pr).collect()}
    du_p = {r[0]: tuple(r[1]) for r in duck.sql(
        S.pca_project_sql("embeddings", pr)).fetchall()}
    assert sp_p == du_p


def test_pca_unroll_modes_bit_identical(spark, sf_dir, monkeypatch):
    """The PCA kernels ride the same two-mode ladder as the other ANN
    kernels: HOF and unrolled forms are bit-identical, and the mode
    witness (element_at chains) follows the row-estimate crossover."""
    from dbms_spark.sources.catalog import load_table, table_path

    pr = S.train_pca_projection(table_path(sf_dir, "embeddings"),
                                out_dims=4)
    emb = load_table(spark, sf_dir, "embeddings")

    def snap():
        return sorted((r["vec_id"], tuple(r["proj"])) for r in
                      S.pca_project(emb, pr).collect())

    monkeypatch.setattr(S, "_UNROLL_ROWS", 1 << 62)
    hof = snap()
    plan_hof = (S.pca_project(emb, pr)
                ._jdf.queryExecution().analyzed().toString())
    assert "element_at" not in plan_hof
    monkeypatch.setattr(S, "_UNROLL_ROWS", 0)
    assert snap() == hof
    plan_unr = (S.pca_project(emb, pr)
                ._jdf.queryExecution().analyzed().toString())
    assert "element_at" in plan_unr


def test_canonicalize_url_hand_cases(spark, duck):
    """Hand-computed canonical forms: case, www., default ports,
    fragments, tracking params, param ORDER, trailing slash, repeated
    keys, malformed rows -> NULL quarantine; and both dialects agree
    bit-for-bit on every case."""
    import pandas as pd

    cases = [
        (1, "HTTPS://WWW.Site.Example.COM:443/path/?utm_source=x&b=2&a=1#f",
         "https://site.example.com/path?a=1&b=2"),
        (2, "https://site.example.com/path?a=1&b=2",
         "https://site.example.com/path?a=1&b=2"),
        (3, "http://Host.org:80/", "http://host.org/"),
        (4, "http://host.org", "http://host.org/"),
        (5, "http://host.org/?gclid=zz&ref=abc", "http://host.org/"),
        (6, "not a url", None),
        (7, "ftp://files.org:21/x/", "ftp://files.org:21/x"),  # non-http port kept
        (8, "https://s.com:8443/p?x=1&x=0", "https://s.com:8443/p?x=0&x=1"),
        (9, "http://a.b/p?&&a=1#x#y", "http://a.b/p?a=1"),
    ]
    df = spark.createDataFrame([(i, u) for i, u, _ in cases],
                               "doc_id long, url string")
    got = {r["doc_id"]: r["c"] for r in df.selectExpr(
        "doc_id", TX.canonicalize_url_expr("url") + " AS c").collect()}
    assert got == {i: c for i, _, c in cases}
    duck.register("__urls", pd.DataFrame(
        [(i, u) for i, u, _ in cases], columns=["doc_id", "url"]))
    dd = {r[0]: r[1] for r in duck.sql(
        f"SELECT doc_id, {TX.canonicalize_url_sql_expr('url')} "
        f"FROM __urls").fetchall()}
    assert dd == got
    # the dedup ledger collapses 3/4/5 into one canon with keep_doc=3
    led = {r["canon_url"]: (r["n_variants"], r["n_rows"], r["keep_doc"])
           for r in TX.url_dedup_stats(df).collect()}
    assert led["http://host.org/"] == (3, 3, 3)
    assert "not a url" not in " ".join(led)      # malformed quarantined


def test_bigram_fluency_hand_case_and_salad(spark):
    """Hand-computed add-1 conditional probabilities, and the
    discrimination property the operator exists for: a shuffled-word
    salad keeps its unigram corpus-frequency score but loses the
    bigram-conditional one."""
    ref = spark.createDataFrame([(0, "a b a c")], "doc_id long, text string")
    uni = TX.token_frequency_model(ref)      # a:2 b:1 c:1 -> V=3
    bgm = TX.bigram_frequency_model(ref)     # 'a b':1 'b a':1 'a c':1
    doc = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    [r] = TX.bigram_fluency(doc, bgm, uni).collect()
    # 'a b': (1+1)*1e6 // (2+3) = 400000 ; 'b c': (0+1)*1e6 // (1+3) = 250000
    assert (r["n_bigrams"], r["mean_bigram_p_x1e6"]) == (2, 325000)
    # < 2 tokens -> absent (corpus_frequency_score's empty-doc rule)
    short = spark.createDataFrame([(9, "a")], "doc_id long, text string")
    assert TX.bigram_fluency(short, bgm, uni).count() == 0

    orig = "the quick brown fox jumps over the lazy dog and runs away"
    shuf = "dog the away fox lazy runs jumps quick and brown over the"
    ref2 = spark.createDataFrame([(0, orig)], "doc_id long, text string")
    pair = spark.createDataFrame([(1, orig), (2, shuf)],
                                 "doc_id long, text string")
    flu = {x["doc_id"]: x["mean_bigram_p_x1e6"] for x in TX.bigram_fluency(
        pair, TX.bigram_frequency_model(ref2),
        TX.token_frequency_model(ref2)).collect()}
    assert flu[1] > 1.5 * flu[2]             # salad collapses
    unig = {x["doc_id"]: x["mean_tok_freq_x1000"] for x in
            TX.corpus_frequency_score(
                pair, TX.token_frequency_model(ref2)).collect()}
    assert unig[1] == unig[2]                # unigram score is blind to it
