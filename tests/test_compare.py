"""Compare-operator properties, mirroring the reference's TestCmp
table-driven structure (database/processor/compare_row_cmp_test.go:26)
at Spark scale: compare(T,T) is clean; compare(T, mutate(T)) localizes
exactly the mutated rows/chunks/columns."""

import pytest
from pyspark.sql import functions as F

from dbms_spark.operators import compare as X
from dbms_spark.plans import chunker
from dbms_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").cache()


@pytest.fixture(scope="module")
def mutated(orders):
    """Deterministic mutation: drop %53==0, duplicate %97==0, and bump
    o_totalprice on %41==0 rows."""
    kept = orders.filter("o_orderkey % 53 != 0")
    dup = orders.filter("o_orderkey % 97 = 0 AND o_orderkey % 53 != 0")
    bumped = kept.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 41 == 0, F.col("o_totalprice") + 1.0).otherwise(F.col("o_totalprice")),
    )
    return bumped.unionAll(dup).cache()


def test_identical_is_clean(orders):
    assert X.multiset_diff(orders, orders).count() == 0
    rep = X.compare_table(orders, orders)
    assert rep.equal and rep.mismatched_chunks == []


def test_diff_localizes_mutations(orders, mutated):
    diff = X.multiset_diff(orders, mutated).cache()
    rows = diff.collect()
    for r in rows:
        k = r["o_orderkey"]
        assert k % 53 == 0 or k % 41 == 0 or k % 97 == 0, f"unexpected diff row {k}"
    # dropped rows appear as src_cnt=1/dst_cnt=0
    dropped = [r for r in rows if r["src_cnt"] == 1 and r["dst_cnt"] == 0]
    assert all(r["o_orderkey"] % 53 == 0 or r["o_orderkey"] % 41 == 0 for r in dropped)
    # duplicated rows appear as src_cnt=1/dst_cnt=2
    dup = [r for r in rows if r["dst_cnt"] == 2]
    assert all(r["o_orderkey"] % 97 == 0 for r in dup)
    diff.unpersist()


def test_hashed_diff_agrees_with_plain(orders, mutated):
    plain = X.multiset_diff(orders, mutated)
    hashed = X.multiset_diff_hashed(orders, mutated, key_cols=["o_orderkey"])
    assert plain.count() == hashed.count()
    assert plain.agg(F.sum("src_cnt"), F.sum("dst_cnt")).collect()[0] == \
           hashed.agg(F.sum("src_cnt"), F.sum("dst_cnt")).collect()[0]


def test_chunk_compare_localizes(orders, mutated):
    plan = chunker.plan_chunks(orders, ["o_orderkey"], 10)
    rep = X.compare_table(orders, mutated, plan=plan, method="MD5_SLICES")
    bad_ids = set(rep.mismatched_chunks)
    assert bad_ids, "mutations must be detected"
    assert not rep.equal
    assert (rep.src_cnt, rep.dst_cnt) == (orders.count(), mutated.count())
    # every chunk containing a mutated key must be flagged
    mutated_keys = orders.filter(
        "o_orderkey % 53 = 0 OR o_orderkey % 41 = 0 OR o_orderkey % 97 = 0"
    ).withColumn("cid", chunker.assign_chunk_id(plan, orders))
    expect = {r["cid"] for r in mutated_keys.select("cid").distinct().collect()}
    assert bad_ids == expect


def test_seek_columns_flags_only_mutated_column(orders):
    bumped = orders.withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    out = {r["col_name"]: r["equal"] for r in X.seek_columns(orders, bumped).collect()}
    assert out["o_totalprice"] is False
    for c in orders.columns:
        if c != "o_totalprice":
            assert out[c] is True, f"column {c} should be equal"


def test_compare_method_ladder(spark):
    from pyspark.sql import types as T

    plain = T.StructType([T.StructField("a", T.LongType())])
    with_blob = T.StructType([T.StructField("a", T.BinaryType())])
    assert X.compare_method_for(plain) == "MD5_SLICES"
    assert X.compare_method_for(plain, only_compare_row=True) == "ROWS"
    assert X.compare_method_for(with_blob) == "HASH_PROGRAM"
    assert X.compare_method_for(plain, disable_md5=True) == "CRC32_SLICES"
    # only_compare_row wins over everything (reference ladder order)
    assert X.compare_method_for(with_blob, only_compare_row=True) == "ROWS"


def test_crc32_golden_reference_semantics(spark):
    """Golden test pinning the CRC32 path to the reference's exact
    semantics (data_compare_row.go:1554-1577): SUM(CRC32(utf-8 bytes of
    CONCAT_WS(sep, canonical cols))), with CRC-32/ISO-HDLC — the same
    polynomial as MySQL CRC32() and Python binascii.crc32."""
    import binascii

    from dbms_spark.functions import canonical as C

    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, None, -3.25), (3, "", 100.0), (4, "O'Neil|#|x", None)],
        "id long, s string, v double",
    )
    # independently recompute the canonical strings the kernel hashes
    canon = [r[0] for r in df.select(C.canonical_row(df).alias("c")).collect()]
    expected = sum(binascii.crc32(c.encode("utf-8")) for c in canon)
    got = X.chunked_checksum_crc32(df, F.lit(0)).collect()[0]
    assert got["cnt"] == 4
    assert int(got["crc_sum"]) == expected
    # per-row agreement too (order by id for determinism)
    rows = df.select("id", C.row_crc32(df).alias("crc")).orderBy("id").collect()
    for r, c in zip(rows, canon):
        assert r["crc"] == binascii.crc32(c.encode("utf-8"))


def test_crc32_chunked_compare_localizes(orders, mutated):
    plan = chunker.plan_chunks(orders, ["o_orderkey"], 10)
    mutated_keys = orders.filter(
        "o_orderkey % 53 = 0 OR o_orderkey % 41 = 0 OR o_orderkey % 97 = 0"
    ).withColumn("cid", chunker.assign_chunk_id(plan, orders))
    expect = {r["cid"] for r in mutated_keys.select("cid").distinct().collect()}
    rep = X.compare_table(orders, orders, plan=plan, method="CRC32_SLICES")
    assert rep.equal and rep.mismatched_chunks == []
    rep2 = X.compare_table(orders, mutated, plan=plan, method="CRC32_SLICES")
    assert not rep2.equal and rep2.mismatched_chunks == sorted(expect)


def test_rows_method_reports_per_chunk_count_mismatches(orders, mutated):
    """ROWS compares per-chunk COUNTs: with a plan it reports exactly
    the chunks whose row counts differ (a value-only change is
    invisible to it); with no plan the whole table is chunk 0."""
    plan = chunker.plan_chunks(orders, ["o_orderkey"], 10)

    def counts(df):
        return {r["cid"]: r["n"] for r in df.groupBy(
            chunker.assign_chunk_id(plan, df).alias("cid")).agg(
            F.count(F.lit(1)).alias("n")).collect()}

    a, b = counts(orders), counts(mutated)
    expect = sorted(c for c in set(a) | set(b) if a.get(c, 0) != b.get(c, 0))
    assert expect, "fixture must change some chunk's row count"
    rep = X.compare_table(orders, mutated, plan=plan, method="ROWS")
    assert rep.mismatched_chunks == expect and not rep.equal
    assert (rep.src_cnt, rep.dst_cnt) == (sum(a.values()), sum(b.values()))
    bumped = orders.withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    assert X.compare_table(orders, bumped, plan=plan, method="ROWS").equal
    whole = X.compare_table(orders, orders.filter("o_orderkey % 53 != 0"), method="ROWS")
    assert not whole.equal and whole.mismatched_chunks == [0]
    assert X.compare_table(orders, bumped, method="ROWS").mismatched_chunks == []


def test_gen_fix_sql(orders, mutated, spark):
    diff = X.multiset_diff(orders, mutated)
    stmts = X.gen_fix_sql(diff, "orders", orders.columns)
    n_insert = sum(1 for s in stmts if s.startswith("INSERT"))
    n_delete = sum(1 for s in stmts if s.startswith("DELETE"))
    sums = diff.agg(
        F.sum(F.greatest(F.col("src_cnt") - F.col("dst_cnt"), F.lit(0))).alias("ins"),
    ).collect()[0]
    assert n_insert == sums["ins"]
    assert n_delete == diff.filter("dst_cnt > src_cnt").count()
    assert all(s.endswith(";") for s in stmts)


def test_gen_fix_sql_dialects(spark):
    import datetime

    from dbms_spark.plans.chunker import sql_literal

    diff = spark.createDataFrame(
        [(1, "O'Neil", bytearray(b"\x01\xab"), 2, 0),   # missing in dst: insert 2
         (2, "x", bytearray(b"\xff"), 0, 3)],           # surplus in dst: delete 3
        "id long, name string, payload binary, src_cnt long, dst_cnt long",
    )
    cols = ["id", "name", "payload"]
    # binary literals render per dialect (not str(bytearray) — ADVICE fix)
    assert sql_literal(b"\x01\xab") == "X'01AB'"
    assert sql_literal(b"\x01\xab", "oracle") == "HEXTORAW('01AB')"
    assert sql_literal(b"\x01\xab", "postgres") == "'\\x01AB'::bytea"
    assert sql_literal(datetime.date(2020, 1, 2)) == "DATE '2020-01-02'"

    my = X.gen_fix_sql(diff, "db.t", cols, dialect="mysql")
    assert sum(s.startswith("INSERT INTO `db`.`t`") for s in my) == 2
    assert any(s == "DELETE FROM `db`.`t` WHERE `id` = 2 AND `name` = 'x' "
                    "AND `payload` = X'FF' LIMIT 3;" for s in my)
    assert any("X'01AB'" in s for s in my)

    my_safe = X.gen_fix_sql(diff, "db.t", cols, dialect="mysql", safe_mode=True)
    assert sum(s.startswith("REPLACE INTO `db`.`t`") for s in my_safe) == 1  # idempotent: one

    ora = X.gen_fix_sql(diff, "db.t", cols, dialect="oracle", safe_mode=True)
    merge = next(s for s in ora if s.startswith("MERGE"))
    assert 'USING (SELECT 1 AS "id", \'O\'\'Neil\' AS "name", '\
           'HEXTORAW(\'01AB\') AS "payload" FROM DUAL) T2' in merge
    assert "WHEN NOT MATCHED THEN INSERT" in merge and "WHEN MATCHED" not in merge
    assert any("ROWNUM <= 3" in s and "LIMIT" not in s for s in ora)

    pg = X.gen_fix_sql(diff, "db.t", cols, dialect="postgres", safe_mode=True)
    ins = next(s for s in pg if s.startswith("INSERT"))
    assert 'ON CONFLICT ("id", "name", "payload") DO UPDATE SET "id" = excluded."id"' in ins
    delete = next(s for s in pg if s.startswith("DELETE"))
    assert 'ctid IN (SELECT ctid FROM "db"."t" WHERE' in delete and "LIMIT 3" in delete

    hinted = X.gen_fix_sql(diff, "t", cols, dialect="tidb", sql_hint="/*+ HINT */")
    assert all("/*+ HINT */" in s for s in hinted)


def test_gen_fix_sql_non_finite_doubles(spark):
    """A double column holding NaN / ±Infinity repairs with the
    dialect's own literals; MySQL cannot store them, so it refuses
    instead of emitting a bare nan column reference."""
    diff = spark.createDataFrame(
        [(1, float("nan"), 1, 0), (2, float("inf"), 0, 1), (3, float("-inf"), 1, 0)],
        "id long, x double, src_cnt long, dst_cnt long")
    pg = X.gen_fix_sql(diff, "t", ["id", "x"], dialect="postgres")
    assert any("VALUES (1, 'NaN'::float8)" in s for s in pg)
    assert any('"x" = \'Infinity\'::float8' in s for s in pg)
    assert any("VALUES (3, '-Infinity'::float8)" in s for s in pg)
    ora = " ".join(X.gen_fix_sql(diff, "t", ["id", "x"], dialect="oracle"))
    assert "BINARY_DOUBLE_NAN" in ora and '"x" = BINARY_DOUBLE_INFINITY' in ora
    assert "-BINARY_DOUBLE_INFINITY" in ora
    with pytest.raises(ValueError):
        X.gen_fix_sql(diff, "t", ["id", "x"], dialect="mysql")


def test_multiset_diff_collated(spark):
    src = spark.createDataFrame(
        [(1, "Alpha"), (2, "beta"), (3, "gamma"), (4, "delta")], "id long, s string")
    dst = spark.createDataFrame(
        [(1, "ALPHA"), (2, "beta"), (3, "changed"), (5, "new")], "id long, s string")
    binary = {(r["id"], r["s"]) for r in X.multiset_diff(src, dst).collect()}
    # binary: case drift on 1 counts as a difference
    assert (1, "Alpha") in binary and (1, "ALPHA") in binary
    ci = {(r["id"], r["s"], r["src_cnt"], r["dst_cnt"])
          for r in X.multiset_diff_collated(src, dst).collect()}
    ids = {t[0] for t in ci}
    assert 1 not in ids and 2 not in ids       # case drift cancels under UTF8_LCASE
    assert (3, "changed", 0, 1) in ci and (3, "gamma", 1, 0) in ci
    assert (4, "delta", 1, 0) in ci and (5, "new", 0, 1) in ci
    # representative is the deterministic min of the class
    both = spark.createDataFrame([(9, "x")], "id long, s string")
    dup = spark.createDataFrame([(9, "X"), (9, "x")], "id long, s string")
    out = X.multiset_diff_collated(both, dup).collect()
    assert len(out) == 1 and out[0]["src_cnt"] == 1 and out[0]["dst_cnt"] == 2


def test_drilldown_chunks_prunes_and_localizes(orders, mutated, spark):
    plan = chunker.plan_chunks(orders, ["o_orderkey"], 10)
    bad = X.compare_table(orders, mutated, plan=plan).mismatched_chunks
    drill = X.drilldown_chunks(orders, mutated, plan, bad)
    full = X.multiset_diff(orders, mutated)
    # chunk-restricted drilldown finds exactly the full diff (every
    # mismatched row lives in a mismatched chunk by construction)
    assert drill.count() == full.count()
    assert {r["chunk_id"] for r in drill.collect()} <= set(bad)
    # the scans really are range-restricted
    pred = " OR ".join(f"({chunker.chunk_predicate(plan, i)})" for i in bad)
    assert "o_orderkey" in pred


def test_engine_data_verify_end_to_end(orders, mutated, spark):
    from dbms_spark.engine import DbmsEngine

    eng = DbmsEngine(spark)
    plan = chunker.plan_chunks(orders, ["o_orderkey"], 10)
    rep, diff, stmts = eng.data_verify(orders, mutated, "orders", plan=plan,
                                       dialect="mysql", safe_mode=True)
    assert not rep.equal and rep.mismatched_chunks
    assert diff.count() > 0
    assert stmts and any(s.startswith("REPLACE INTO") for s in stmts)
    # clean pair: report equal, empty diff, no statements
    rep2, diff2, stmts2 = eng.data_verify(orders, orders, "orders", plan=plan)
    assert rep2.equal and diff2.count() == 0 and stmts2 == []


def test_multiset_diff_hashed_collated(spark):
    import pytest as _pytest

    src = spark.createDataFrame(
        [(1, "Alpha"), (2, "beta"), (3, "gamma"), (4, "delta")], "id long, s string")
    dst = spark.createDataFrame(
        [(1, "ALPHA"), (2, "beta"), (3, "changed"), (5, "new")], "id long, s string")
    # binary hash: case drift on id 1 is a difference
    binary_ids = {r["id"] for r in X.multiset_diff_hashed(
        src, dst, key_cols=["id"]).collect()}
    assert 1 in binary_ids
    # folded hash: same disagreement classes as the collated compare
    # (dst-only classes carry no src key — same contract as binary)
    folded = X.multiset_diff_hashed(src, dst, key_cols=["id"], collation="UTF8_LCASE")
    got = [(r["id"], r["src_cnt"], r["dst_cnt"]) for r in folded.collect()]
    assert sorted(t for t in got if t[1] > 0) == [(3, 1, 0), (4, 1, 0)]
    assert sorted(t for t in got if t[1] == 0) == [(None, 0, 1), (None, 0, 1)]
    with _pytest.raises(ValueError):
        X.multiset_diff_hashed(src, dst, collation="UNICODE")


def test_validate_fk_orphans_and_pk_duplicates(spark):
    from dbms_spark.operators.validate import fk_orphan_report, pk_duplicates

    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk bigint")
    child = spark.createDataFrame(
        [(1, "a"), (2, "b"), (9, "orphan"), (None, "null-fk")],
        "fk bigint, v string")
    rep = {r["relation"]: r["orphan_rows"] for r in
           fk_orphan_report([(child, parent, "fk", "pk", "c->p")]).collect()}
    # NULL FK is not an orphan; key 9 is
    assert rep == {"c->p": 1}

    dup = spark.createDataFrame([(1, "x"), (1, "y"), (1, "z"), (2, "w")], "k bigint, v string")
    row = pk_duplicates(dup, ["k"], "t").first()
    assert row["dup_keys"] == 1 and row["surplus_rows"] == 2
    clean = pk_duplicates(dup.filter("v = 'w'"), ["k"], "t").first()
    assert clean["dup_keys"] == 0 and clean["surplus_rows"] == 0


def test_snapshot_diff_classifies_iud(spark):
    src = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "id int, v string, amt double")
    # dst: missing id=2 (INSERT), changed id=3 (UPDATE), extra id=9 (DELETE)
    dst = spark.createDataFrame(
        [(1, "a", 10.0), (3, "c", 31.0), (4, "d", 40.0), (9, "z", 99.0)],
        "id int, v string, amt double")
    from dbms_spark.operators.compare import snapshot_diff

    out = {r["id"]: r["change_type"] for r in snapshot_diff(src, dst, ["id"]).collect()}
    assert out == {2: "INSERT", 3: "UPDATE", 9: "DELETE"}


def test_drilldown_capped_ranges_exact(orders, mutated, spark):
    """With max_ranges=1 the scan predicate widens to one covering
    range (superset I/O) but the semi-join keeps gap-chunk rows out of
    the diff — identical output to the uncapped form even when rows in
    the swallowed gap differ between the sides."""
    from dbms_spark.plans import chunker

    plan = chunker.plan_chunks(orders, ["o_orderkey"], 20)
    # mutate EXTRA rows in a middle chunk that is NOT requested: under
    # the capped covering read those rows are scanned, and must still
    # not appear in the diff
    gap_key = orders.filter("o_orderkey % 97 = 5").limit(1).collect()[0]["o_orderkey"]
    dst = mutated.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == gap_key, F.col("o_totalprice") + 9)
        .otherwise(F.col("o_totalprice")))
    bad = X.compare_table(orders, mutated, plan=plan).mismatched_chunks
    assert bad, "fixture must produce mismatched chunks"
    want = {tuple(r) for r in X.drilldown_chunks(orders, dst, plan, bad).collect()}
    got = {tuple(r) for r in
           X.drilldown_chunks(orders, dst, plan, bad, max_ranges=1).collect()}
    assert got == want
    gap_cid = orders.filter(F.col("o_orderkey") == gap_key).select(
        chunker.assign_chunk_id(plan, orders).alias("cid")).collect()[0]["cid"]
    if gap_cid not in bad:   # the crafted gap chunk is outside the request
        assert all(r[-1] != gap_cid for r in got)


def test_apply_diff_multiplicities(spark):
    """Repair handles every multiplicity direction: 3-copies-vs-1,
    0-vs-2 (lost), 2-vs-0 (surplus), and untouched rows; the repaired
    multiset equals the source exactly."""
    src = spark.createDataFrame(
        [(1, "a")] * 1 + [(2, "b")] * 2 + [(3, "c")] * 1 + [(4, "d")] * 2,
        "k int, v string")
    dst = spark.createDataFrame(
        [(1, "a")] * 3 + [(3, "c")] * 1 + [(5, "x")] * 2,
        "k int, v string")
    repaired = X.apply_diff(dst, X.multiset_diff(src, dst))
    assert X.multiset_diff(src, repaired).count() == 0
    got = sorted(tuple(r) for r in repaired.collect())
    assert got == sorted([(1, "a"), (2, "b"), (2, "b"), (3, "c"),
                          (4, "d"), (4, "d")])


def test_sequence_gaps_hand_values(spark):
    """Gaps strictly between observed min/max; duplicates tolerated;
    NULLs ignored; contiguous sequence -> empty."""
    from dbms_spark.operators.validate import sequence_gaps

    df = spark.createDataFrame(
        [(1,), (2,), (2,), (5,), (6,), (9,), (None,)], "id long")
    got = sorted((r.gap_lo, r.gap_hi, r.n_missing)
                 for r in sequence_gaps(df, "id").collect())
    assert got == [(3, 4, 2), (7, 8, 2)]
    solid = spark.createDataFrame([(i,) for i in range(5)], "id long")
    assert sequence_gaps(solid, "id").count() == 0
    one = spark.createDataFrame([(42,)], "id long")
    assert sequence_gaps(one, "id").count() == 0


def test_sequence_gaps_grouped(spark):
    """Per-group key spaces: gaps detected within each group; a value
    missing in one group but present in another still reports."""
    from dbms_spark.operators.validate import sequence_gaps

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 5), ("b", 1), ("b", 3), ("b", 4)],
        "g string, id long")
    got = sorted((r.g, r.gap_lo, r.gap_hi, r.n_missing)
                 for r in sequence_gaps(df, "id", group_col="g").collect())
    assert got == [("a", 3, 4, 2), ("b", 2, 2, 1)]


def test_sequence_gaps_global_equals_grouped(spark):
    """The global form's distributed range-bucket pairing must equal
    the per-group windowed form run with a constant group — same
    algebra, different physical shape (the grouped path windows per
    group; the global path buckets + carries).  Ids engineered so
    runs straddle many range buckets, including singleton runs (an id
    that both starts and ends its run, the probe-sees-own-anchor
    edge) and a duplicate-heavy region."""
    import pyspark.sql.functions as F

    from dbms_spark.operators.validate import sequence_gaps

    ids = []
    for base in range(0, 20_000, 97):        # runs of varying length
        ids.extend(range(base, base + (base // 97) % 5 + 1))
    ids += [31_000, 31_002, 31_004]          # singleton runs
    ids += [5_000] * 50                      # duplicates
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    g_global = sorted((r.gap_lo, r.gap_hi, r.n_missing)
                      for r in sequence_gaps(df, "id").collect())
    g_grouped = sorted(
        (r.gap_lo, r.gap_hi, r.n_missing)
        for r in sequence_gaps(df.withColumn("g", F.lit(1)), "id",
                               group_col="g").collect())
    assert g_global == g_grouped and len(g_global) > 100


def test_sequence_gaps_null_group_is_one_group(spark, duck):
    """A NULL group value forms ONE group (PARTITION BY semantics),
    matching the DuckDB twin on the same rows — pinned because a
    null-unsafe join formulation would silently report no gaps for
    the NULL group."""
    import pandas as pd

    from dbms_spark.operators.validate import sequence_gaps, sequence_gaps_sql

    rows = [(None, 1), (None, 2), (None, 5), ("a", 1), ("a", 4)]
    df = spark.createDataFrame(rows, "g string, id long")
    got = sorted(((r.g or "", r.gap_lo, r.gap_hi, r.n_missing)
                  for r in sequence_gaps(df, "id",
                                         group_col="g").collect()))
    assert got == [("", 3, 4, 2), ("a", 2, 3, 2)]
    duck.register("null_g", pd.DataFrame(rows, columns=["g", "id"]))
    want = sorted((x or "", int(a), int(b), int(c)) for x, a, b, c in
                  duck.sql(sequence_gaps_sql(
                      "null_g", "id", group_col="g")).fetchall())
    assert got == want
