"""Chunk planner properties: predicates tile the keyspace exactly,
chunk sizes are balanced, and assign_chunk_id agrees with the
predicate rendering (the reference's divider invariants,
database/processor/data_compare_divider.go)."""

import math
import re

import pytest
from pyspark.sql import functions as F

from dbms_spark.plans import chunker
from dbms_spark.sources.catalog import load_table


def test_single_key_partition_exact(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem")
    plan = chunker.plan_chunks(df, ["l_orderkey"], 8)
    preds = chunker.predicates(plan)
    assert len(preds) == plan.n_chunks
    total = df.count()
    counts = [df.filter(p).count() for p in preds]
    assert sum(counts) == total, "chunks must tile the table exactly"
    # no overlap: pairwise conjunction is empty on adjacent chunks
    assert df.filter(f"({preds[0]}) AND ({preds[1]})").count() == 0


def test_chunks_balanced(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem")
    plan = chunker.plan_chunks(df, ["l_orderkey"], 8)
    counts = [df.filter(p).count() for p in chunker.predicates(plan)]
    avg = sum(counts) / len(counts)
    # sampled boundaries + duplicate orderkeys: generous tolerance
    assert max(counts) < 2.2 * avg and min(counts) > 0.3 * avg, counts


def test_sampled_plan_independent_of_partitioning(spark, sf_dir):
    """Above ``sample_rows`` the plan samples; the sample must depend
    on the rows alone, not on how the input is split: the same table
    read as 3 or as 6 partitions plans identical bounds.  Otherwise a
    migrate resumed under another core count or split size re-plans,
    and its pending chunks no longer tile with its done ones."""
    df = load_table(spark, sf_dir, "lineitem")
    keys = ["l_orderkey", "l_linenumber"]
    assert df.count() > 4 * 500
    plans = [chunker.plan_chunks(df.repartition(n), keys, 8, sample_rows=500)
             for n in (3, 6)]
    assert plans[0] == plans[1]
    assert len(plans[0].bounds) == 7
    counts = [df.filter(p).count() for p in chunker.predicates(plans[0])]
    assert sum(counts) == df.count()
    assert max(counts) < 2.2 * sum(counts) / len(counts), counts


def test_composite_key_partition(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem")
    plan = chunker.plan_chunks(df, ["l_returnflag", "l_orderkey", "l_linenumber"], 6)
    preds = chunker.predicates(plan)
    counts = [df.filter(p).count() for p in preds]
    assert sum(counts) == df.count()
    assert all(c > 0 for c in counts)


def test_assign_chunk_id_matches_predicates(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders")
    plan = chunker.plan_chunks(df, ["o_orderdate", "o_orderkey"], 5)
    with_id = df.withColumn("cid", chunker.assign_chunk_id(plan, df))
    for i, p in enumerate(chunker.predicates(plan)):
        n_pred = df.filter(p).count()
        n_id = with_id.filter(F.col("cid") == i).count()
        assert n_pred == n_id, f"chunk {i}: predicate={n_pred} id={n_id}"


def test_whole_table_fallback(spark, sf_dir):
    df = load_table(spark, sf_dir, "region")
    plan = chunker.plan_chunks(df, ["r_regionkey"], 1)
    assert chunker.predicates(plan) == ["1 = 1"]
    assert df.filter(chunker.predicates(plan)[0]).count() == df.count()


def test_skew_dedup(spark):
    # constant key: all boundaries equal -> must collapse to few chunks
    df = spark.range(1000).select(F.lit("same").alias("k"), F.col("id"))
    plan = chunker.plan_chunks(df, ["k"], 8)
    preds = chunker.predicates(plan)
    assert sum(df.filter(p).count() for p in preds) == 1000


def test_sql_literal_escaping():
    assert chunker.sql_literal("o'neil") == "'o''neil'"
    assert chunker.sql_literal(None) == "NULL"
    assert chunker.sql_literal(5) == "5"


def test_sql_literal_non_finite_doubles():
    """NaN and ±Infinity render as values of each dialect — a bare
    nan / inf parses as a column name — and the dialects whose doubles
    cannot hold them refuse, so no statement silently mis-targets."""
    import duckdb

    inf, nan = float("inf"), float("nan")
    assert chunker.sql_literal(nan, "postgres") == "'NaN'::float8"
    assert chunker.sql_literal(inf, "postgres") == "'Infinity'::float8"
    assert chunker.sql_literal(-inf, "postgres") == "'-Infinity'::float8"
    assert chunker.sql_literal(nan, "oracle") == "BINARY_DOUBLE_NAN"
    assert chunker.sql_literal(inf, "oracle") == "BINARY_DOUBLE_INFINITY"
    assert chunker.sql_literal(-inf, "oracle") == "-BINARY_DOUBLE_INFINITY"
    assert chunker.sql_literal(-inf, "spark") == "CAST('-Infinity' AS DOUBLE)"
    for dialect in ("mysql", "tidb", "derby"):
        for v in (nan, inf, -inf):
            with pytest.raises(ValueError):
                chunker.sql_literal(v, dialect)
    # the Postgres cast syntax evaluates to the intended doubles
    # (DuckDB shares it)
    got = duckdb.sql("SELECT " + ", ".join(
        chunker.sql_literal(v, "postgres") for v in (nan, inf, -inf))).fetchone()
    assert math.isnan(got[0]) and got[1:] == (inf, -inf)
    # chunk predicates over a non-finite bound carry the same literals
    plan = chunker.ChunkPlan(("k",), ((-inf,), (0.0,), (nan,)))
    pg = chunker.predicates(plan, dialect="postgres")
    assert "'-Infinity'::float8" in pg[0] and "'NaN'::float8" in pg[3]
    assert "BINARY_DOUBLE_NAN" in chunker.chunk_predicate(plan, 2, dialect="oracle")
    assert not any(re.search(r"\b(nan|inf)\b", p) for p in pg)
    with pytest.raises(ValueError):
        chunker.predicates(plan, dialect="mysql")


def test_collated_plan_assignment_consistent(spark):
    """Chunk boundaries computed under a case-insensitive collation
    must tile the collated order: rows differing only by case land in
    the same chunk, and predicates agree with assign_chunk_id."""
    import string

    from pyspark.sql import functions as F

    rows = [(w + str(i),) for i, w in enumerate(
        [c for c in string.ascii_letters] * 8)]
    df = spark.createDataFrame(rows, "k string")
    plan = chunker.plan_chunks(df, ["k"], 4, collation="UTF8_LCASE")
    assert plan.collation == "UTF8_LCASE"
    with_cid = df.withColumn("cid", chunker.assign_chunk_id(plan, df))
    # predicate text must select exactly the rows of each chunk id
    for i in range(plan.n_chunks):
        pred_keys = {r["k"] for r in df.filter(F.expr(chunker.chunk_predicate(plan, i))).collect()}
        cid_keys = {r["k"] for r in with_cid.filter(F.col("cid") == i).collect()}
        assert pred_keys == cid_keys, f"chunk {i} predicate/assignment disagree"
    assert "COLLATE UTF8_LCASE" in chunker.chunk_predicate(plan, 0)
    # chunks partition: every row in exactly one chunk
    assert with_cid.groupBy("cid").count().agg(F.sum("count")).collect()[0][0] == len(rows)


def test_binary_plan_unchanged_by_default(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "k long")
    plan = chunker.plan_chunks(df, ["k"], 4)
    assert plan.collation is None
    assert "COLLATE" not in chunker.chunk_predicate(plan, 1)


def test_oracle_dialect_predicate_rendering(spark):
    df = spark.createDataFrame([(f"w{i}", i) for i in range(200)], "k string, n long")
    plan = chunker.plan_chunks(df, ["k", "n"], 4, collation="UTF8_LCASE")
    pred = chunker.chunk_predicate(plan, 1, dialect="oracle")
    # NLSSORT wraps BOTH sides of every string comparison
    assert "NLSSORT(\"k\", 'NLS_SORT=BINARY_CI')" in pred
    assert "NLSSORT('" in pred
    assert "`" not in pred and "COLLATE" not in pred
    # numeric columns stay bare
    assert '"n"' in pred
    # spark rendering unchanged
    assert "COLLATE UTF8_LCASE" in chunker.chunk_predicate(plan, 1)
    # uncollated oracle: plain quoted identifiers, no NLSSORT
    p2 = chunker.plan_chunks(df, ["k"], 4)
    assert "NLSSORT" not in chunker.chunk_predicate(p2, 1, dialect="oracle")
    assert '"k"' in chunker.chunk_predicate(p2, 1, dialect="oracle")
    assert len(chunker.predicates(plan, dialect="oracle")) == plan.n_chunks


def test_rebalance_chunks_resplits_oversize(spark, sf_dir):
    """A deliberately coarse 2-chunk plan over orders re-splits until
    every chunk holds <= ~cap rows; the refined plan still tiles the
    keyspace exactly (counts sum to the table total)."""
    from pyspark.sql import functions as F

    from dbms_spark.plans.chunker import (assign_chunk_id, plan_chunks,
                                          rebalance_chunks)

    src = load_table(spark, sf_dir, "orders")
    total = src.count()
    cap = max(1, total // 8)
    coarse = plan_chunks(src, ["o_orderkey"], 2)
    refined = rebalance_chunks(src, coarse, cap)
    assert refined.n_chunks > coarse.n_chunks
    counts = [r["cnt"] for r in src.groupBy(
        assign_chunk_id(refined, src).alias("cid"))
        .agg(F.count(F.lit(1)).alias("cnt")).collect()]
    assert sum(counts) == total
    # equal-count re-tiling: every refined chunk is within ~2x the cap
    assert max(counts) <= 2 * cap
    # a plan already under the cap is returned unchanged
    assert rebalance_chunks(src, refined, total) is refined


def test_assign_chunk_id_binary_search_equivalence(spark, monkeypatch):
    """The two assignment forms — additive when-chain and unrolled
    binary search — agree on EVERY row, across composite keys, NULLs,
    string keys (incl. a collated plan), duplicate boundary values and
    keys exactly on boundaries.  (The chain StackOverflows near 1,000
    bounds; the search is the at-scale form, so divergence here would
    silently mis-bucket chunks.)"""
    import random

    from dbms_spark.plans import chunker as C

    rng = random.Random(20260815)
    rows = [(rng.randrange(0, 500) if rng.random() > 0.05 else None,
             rng.choice(["aa", "Ab", "b", "zz", None]),
             i) for i in range(2000)]
    df = spark.createDataFrame(rows, "k1 int, k2 string, rid long")

    def both(plan):
        monkeypatch.setattr(C, "_BINARY_SEARCH_THRESHOLD", 10**9)
        chain = {r["rid"]: r["cid"] for r in
                 df.select("rid", C.assign_chunk_id(plan, df).alias("cid")).collect()}
        monkeypatch.setattr(C, "_BINARY_SEARCH_THRESHOLD", 0)
        bs = {r["rid"]: r["cid"] for r in
              df.select("rid", C.assign_chunk_id(plan, df).alias("cid")).collect()}
        assert chain == bs, "chain vs binary-search assignment diverged"
        return chain

    # composite numeric+string keys, boundaries sampled from the data
    # (so keys land EXACTLY on bounds), duplicates kept
    samples = sorted((r[0], r[1]) for r in rows[:400] if r[0] is not None
                     and r[1] is not None)
    bounds = tuple(samples[i] for i in range(0, len(samples), 3))
    got = both(C.ChunkPlan(("k1", "k2"), bounds))
    assert len(set(got.values())) > 10          # spread over many chunks

    # single string key under a collation — bounds must be sorted by
    # the PLAN's comparator (ChunkPlan documents sorted bounds;
    # plan_chunks sorts under the collation), so case-insensitive order
    # here: aa < Ab < b
    sbounds = tuple((s,) for s in sorted(["Ab", "aa", "b"], key=str.lower))
    both(C.ChunkPlan(("k2",), sbounds, collation="UTF8_LCASE"))

    # NULL-field bounds (an all-NULL ntile emits one): struct ordering
    # treats NULL fields as smallest on BOTH forms, so they stay
    # equivalent with the NULL bound sorted first
    nb = tuple([(None, None)] + samples[50:60])
    both(C.ChunkPlan(("k1", "k2"), nb))

    # backslash / quote boundary values (round-5 advice: Spark's
    # parser processes backslash escapes inside the rendered array
    # literal, so an unescaped backslash bound silently diverged from
    # the chain's F.lit form past the 128-bound threshold)
    esc_vals = ["a\\b", "c\\\\d", "it's\\ok", "z\\", "plain"]
    esc_rows = [(v, i) for i, v in enumerate(esc_vals * 40)]
    esc_df = spark.createDataFrame(esc_rows, "k2 string, rid long")
    esc_bounds = tuple((v,) for v in sorted(esc_vals)[:-1])

    def both_on(df_, plan):
        monkeypatch.setattr(C, "_BINARY_SEARCH_THRESHOLD", 10**9)
        chain = {r["rid"]: r["cid"] for r in
                 df_.select("rid", C.assign_chunk_id(plan, df_).alias("cid")).collect()}
        monkeypatch.setattr(C, "_BINARY_SEARCH_THRESHOLD", 0)
        bs = {r["rid"]: r["cid"] for r in
              df_.select("rid", C.assign_chunk_id(plan, df_).alias("cid")).collect()}
        assert chain == bs, "chain vs binary-search diverged on backslash keys"
        return chain

    esc_got = both_on(esc_df, C.ChunkPlan(("k2",), esc_bounds))
    assert len(set(esc_got.values())) == len(esc_bounds) + 1  # all chunks hit

    # non-finite double bounds must render as values (a bare nan or
    # inf parses as a column name).  Spark orders -Infinity < finite <
    # Infinity < NaN, and NaN equals NaN.
    inf, nan = float("inf"), float("nan")
    fvals = [-inf, -1.5, 0.0, 2.25, inf, nan, None]
    f_df = spark.createDataFrame([(v, i) for i, v in enumerate(fvals * 20)],
                                 "k double, rid long")
    f_got = both_on(f_df, C.ChunkPlan(("k",), ((-inf,), (0.0,), (inf,), (nan,))))
    by_val = {rid % len(fvals): cid for rid, cid in f_got.items()}
    assert [by_val[i] for i in range(len(fvals))] == [0, 1, 1, 2, 2, 3, 0]

    # all-NULL-key rows land in chunk 0 in both forms
    nulls = spark.createDataFrame([(None, None, 1)], "k1 int, k2 string, rid long")
    monkeypatch.setattr(C, "_BINARY_SEARCH_THRESHOLD", 0)
    plan = C.ChunkPlan(("k1", "k2"), bounds)
    assert nulls.select(C.assign_chunk_id(plan, nulls).alias("cid")) \
        .collect()[0]["cid"] == 0


def test_assign_chunk_id_survives_many_bounds(spark):
    """10^4 boundaries: the when-chain form StackOverflowed here; the
    binary-search form assigns correctly with a flat plan."""
    from dbms_spark.plans import chunker as C
    from pyspark.sql import functions as F

    n = 10_000
    plan = C.ChunkPlan(("k",), tuple((i * 10,) for i in range(1, n)))
    df = spark.range(0, 100_000, 7).select(F.col("id").alias("k"))
    out = df.select("k", C.assign_chunk_id(plan, df).alias("cid"))
    # bounds are 10,20,...,99990; cid = #bounds strictly below k
    # = max(0, floor((k-1)/10)), capped at the last chunk id
    expect = F.least(
        F.greatest(F.lit(0), F.floor((F.col("k") - 1) / 10)), F.lit(n - 1)
    ).cast("int")
    bad = out.filter(F.col("cid") != expect).count()
    assert bad == 0
