"""Data-verification (compare) operators — the reference's flagship path.

Re-expresses the compare pipeline (reference: database/taskflow/
data_compare.go Start; per-chunk dual-sided checksums
database/processor/data_compare_row.go:472-899 CompareMd5ORCrc32;
client-side multiset diff database/processor/data_compare_row.go:
2132-2163 Cmp; column-localizing seek database/processor/
data_compare_seek.go:49-430) as declarative Spark plans:

- J1 multiset diff  -> groupBy-count + full-outer join (hash or
  sort-merge picked by Catalyst; null-safe key equality).
- J2 chunk checksum -> map-side chunk-id + partial-aggregated slice
  sums; both sides' sums (at most n_chunks rows each) are the one
  collect, compared chunk-to-chunk on the driver, and the unequal
  chunks drive the drilldown.
- J3 column seek    -> one pass computing per-column slice sums for
  every column simultaneously (no per-column rescans like the
  reference's drill-down loop needed — columnar scan amortizes it).
- fix-SQL generation from the (small, collected) diff result
  (reference: database/processor/data_compare_file.go:52-215).

Scale notes: a full-row multiset diff shuffles both tables once on the
md5 of the canonical row (32-byte keys, not wide rows) when
``hash_rows=True``; chunk compare shuffles only (chunk_id -> 5 numbers)
per side.  The driver collects per-chunk sums (bounded by the chunk
plan) and mismatch rows, never table rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbms_spark.functions import canonical as C
from dbms_spark.plans.chunker import ChunkPlan, assign_chunk_id
from dbms_spark.plans.parallelism import literal_df


def compare_method_for(
    schema,
    only_compare_row: bool = False,
    disable_md5: bool = False,
) -> str:
    """Compare-method selection ladder (reference: database/processor/
    data_compare_rule.go:661-672): ROWS when the caller wants count-only;
    HASH_PROGRAM (client-side hashing, our md5 path over binary-safe
    canonical forms) when LOB/binary columns would defeat DB-side
    checksums; MD5 by default; CRC32-style slice-sum when md5 is
    disabled (we keep md5 slice-sums as the commutative aggregate in
    all hash modes — DuckDB-checkable, overflow-safe)."""
    from pyspark.sql import types as T

    if only_compare_row:
        return "ROWS"
    has_binary = any(isinstance(f.dataType, T.BinaryType) for f in schema.fields)
    if has_binary:
        return "HASH_PROGRAM"
    return "CRC32_SLICES" if disable_md5 else "MD5_SLICES"


def multiset_diff(
    src: DataFrame,
    dst: DataFrame,
    cols: list[str] | None = None,
    oracle_empty_is_null: bool = False,
) -> DataFrame:
    """Full multiset comparison with multiplicities (J1).

    Returns only differing rows: ``*cols, src_cnt, dst_cnt`` where the
    per-side multiplicities disagree (0 = absent).  Equivalent to
    EXCEPT ALL in both directions but reports both counts at once,
    like the reference's Cmp returning add/delete row sets.
    """
    cols = cols or src.columns
    a = src.groupBy(*cols).agg(F.count(F.lit(1)).alias("src_cnt"))
    b = dst.groupBy(*cols).agg(F.count(F.lit(1)).alias("dst_cnt"))
    joined = a.join(b, on=cols, how="full_outer")
    return (
        joined.select(
            *cols,
            F.coalesce(F.col("src_cnt"), F.lit(0)).alias("src_cnt"),
            F.coalesce(F.col("dst_cnt"), F.lit(0)).alias("dst_cnt"),
        )
        .filter(F.col("src_cnt") != F.col("dst_cnt"))
    )


def multiset_diff_collated(
    src: DataFrame,
    dst: DataFrame,
    cols: list[str] | None = None,
    collation: str = "UTF8_LCASE",
) -> DataFrame:
    """J1 under a non-binary collation: rows whose string fields are
    equal under ``collation`` cancel out regardless of binary form —
    the compare-side answer to linguistic-collation sources (the
    reference's NLSSORT boundary concern, utils/structure/chunk.go:
    80-95, applied to row equality).  Non-string columns compare
    binary as usual.

    Output: one row per collation-equivalence class with disagreeing
    multiplicities; string fields report the class's minimum binary
    representative (deterministic)."""
    cols = cols or src.columns
    fields = {f.name: f.dataType for f in src.schema.fields}

    def grouped(df: DataFrame, cnt_alias: str) -> DataFrame:
        gkeys = [
            (F.collate(F.col(c), collation) if isinstance(fields[c], T.StringType) else F.col(c))
            .alias(f"__g_{c}")
            for c in cols
        ]
        return df.groupBy(*gkeys).agg(
            F.count(F.lit(1)).alias(cnt_alias),
            *[F.min(c).alias(c) for c in cols],
        )

    a = grouped(src, "src_cnt")
    b = grouped(dst, "dst_cnt").select(
        *[F.col(f"__g_{c}") for c in cols], "dst_cnt",
        *[F.col(c).alias(f"__d_{c}") for c in cols],
    )
    j = a.join(b, on=[f"__g_{c}" for c in cols], how="full_outer")
    return (
        j.select(
            *[F.coalesce(F.col(c), F.col(f"__d_{c}")).alias(c) for c in cols],
            F.coalesce(F.col("src_cnt"), F.lit(0)).alias("src_cnt"),
            F.coalesce(F.col("dst_cnt"), F.lit(0)).alias("dst_cnt"),
        )
        .filter(F.col("src_cnt") != F.col("dst_cnt"))
    )


#: collations whose equivalence classes have a computable canonical
#: string (hash that, and hash-compare works under the collation).
_FOLDABLE_COLLATIONS = {"UTF8_BINARY": None, "UTF8_LCASE": F.lower}


def multiset_diff_hashed(
    src: DataFrame,
    dst: DataFrame,
    cols: list[str] | None = None,
    key_cols: list[str] | None = None,
    oracle_empty_is_null: bool = False,
    collation: str | None = None,
) -> DataFrame:
    """J1 at scale: group by the 32-byte canonical-row MD5 instead of
    the full wide row, so the shuffle carries (hash, count) pairs.
    ``key_cols`` (if given) are carried through for row identification
    in fix-SQL; they must be functionally dependent on the row hash.

    ``collation`` extends the hashed path to case-insensitive sources:
    string fields are folded to the collation's canonical form (lower
    for UTF8_LCASE) BEFORE hashing, so collation-equal rows cancel just
    as in :func:`multiset_diff_collated` — but the shuffle still
    carries only (hash, count).  Collations with no computable
    canonical string (linguistic UNICODE tailorings) can't ride a hash;
    use :func:`multiset_diff_collated`, which compares instead.
    """
    from dbms_spark.plans.parallelism import ensure_parallelism

    cols = cols or src.columns
    keep = key_cols or []
    if collation is not None and collation not in _FOLDABLE_COLLATIONS:
        raise ValueError(
            f"collation {collation!r} has no canonical fold; "
            "use multiset_diff_collated for linguistic collations")
    fold = _FOLDABLE_COLLATIONS.get(collation) if collation else None
    fields = {f.name: f.dataType for f in src.schema.fields}

    def hashed(df: DataFrame, cnt_alias: str) -> DataFrame:
        df = ensure_parallelism(df)
        if fold is not None:
            hash_in = df.select(*[
                (fold(F.col(c)) if isinstance(fields[c], T.StringType) else F.col(c)).alias(c)
                for c in cols
            ], *[F.col(k).alias(f"__k_{k}") for k in keep])
            keeps = [F.min(F.col(f"__k_{k}")).alias(k) for k in keep]
            return (
                hash_in.select(
                    C.row_md5(hash_in, cols, oracle_empty_is_null).alias("row_md5"),
                    *[f"__k_{k}" for k in keep])
                .groupBy("row_md5")
                .agg(F.count(F.lit(1)).alias(cnt_alias), *keeps)
            )
        # min not first: all rows in an md5 group are identical, and min
        # keeps the result deterministic for differential checking
        keeps = [F.min(F.col(k)).alias(k) for k in keep]
        return (
            df.select(*cols, C.row_md5(df.select(*cols), cols, oracle_empty_is_null).alias("row_md5"))
            .groupBy("row_md5")
            .agg(F.count(F.lit(1)).alias(cnt_alias), *keeps)
        )

    a = hashed(src, "src_cnt")
    b = hashed(dst, "dst_cnt").select("row_md5", "dst_cnt")
    return (
        a.join(b, "row_md5", "full_outer")
        .select(
            "row_md5",
            *keep,
            F.coalesce(F.col("src_cnt"), F.lit(0)).alias("src_cnt"),
            F.coalesce(F.col("dst_cnt"), F.lit(0)).alias("dst_cnt"),
        )
        .filter(F.col("src_cnt") != F.col("dst_cnt"))
    )


def snapshot_diff(
    src: DataFrame,
    dst: DataFrame,
    key_cols: list[str],
    cols: list[str] | None = None,
    oracle_empty_is_null: bool = False,
) -> DataFrame:
    """Key-level snapshot diff: classify every primary key as INSERT
    (present in src, missing from dst), DELETE (dst only), or UPDATE
    (both sides, non-key canonical hash differs) — the repair worklist
    the fix-SQL generator consumes, relative to making dst match src
    (reference: the compare->repair flow of data_compare_row.go; the
    I/U/D split mirrors the three statement kinds gen_fix_sql emits).

    Contract: keys are unique per side (PK semantics) — keyless or
    duplicated-row tables take :func:`multiset_diff` instead.

    Scale shape: each side reduces map-side to (key, 32-byte value
    hash) before the single full-outer shuffle on the key — the value
    columns never move, and unchanged keys are filtered immediately
    after the join."""
    from dbms_spark.plans.parallelism import ensure_parallelism

    cols = cols or src.columns
    val_cols = [c for c in cols if c not in key_cols]

    def side(df: DataFrame, alias: str) -> DataFrame:
        # key-partitioned guard: the exchange that spreads the md5 work
        # already satisfies the full-outer join's distribution, so each
        # side moves exactly once
        df = ensure_parallelism(df, keys=key_cols)
        return df.select(
            *key_cols, C.row_md5(df, val_cols, oracle_empty_is_null).alias(alias))

    a = side(src, "src_md5")
    b = side(dst, "dst_md5")
    change = (
        F.when(F.col("dst_md5").isNull(), F.lit("INSERT"))
        .when(F.col("src_md5").isNull(), F.lit("DELETE"))
        .when(F.col("src_md5") != F.col("dst_md5"), F.lit("UPDATE"))
    )
    return (
        a.join(b, key_cols, "full_outer")
        .select(*key_cols, change.alias("change_type"))
        .filter(F.col("change_type").isNotNull())
    )


def snapshot_diff_sql(
    src_sql: str,
    dst_sql: str,
    key_cols: list[str],
    fields: dict,
    cols: list[str] | None = None,
    oracle_empty_is_null: bool = False,
) -> str:
    """DuckDB twin of :func:`snapshot_diff` (``fields`` from
    ``parquet_field_types``)."""
    cols = cols or list(fields)
    val_cols = [c for c in cols if c not in key_cols]
    canon = C.canonical_row_sql_from_types(fields, val_cols, oracle_empty_is_null)
    keys = ", ".join(key_cols)
    return f"""
WITH s AS (SELECT {keys}, md5({canon}) AS src_md5 FROM ({src_sql})),
d AS (SELECT {keys}, md5({canon}) AS dst_md5 FROM ({dst_sql}))
SELECT {keys},
       CASE WHEN dst_md5 IS NULL THEN 'INSERT'
            WHEN src_md5 IS NULL THEN 'DELETE'
            WHEN src_md5 <> dst_md5 THEN 'UPDATE' END AS change_type
FROM s FULL OUTER JOIN d USING ({keys})
WHERE (CASE WHEN dst_md5 IS NULL THEN 'INSERT'
            WHEN src_md5 IS NULL THEN 'DELETE'
            WHEN src_md5 <> dst_md5 THEN 'UPDATE' END) IS NOT NULL
"""


def chunked_checksum(
    df: DataFrame,
    chunk_id: Column,
    cols: list[str] | None = None,
    oracle_empty_is_null: bool = False,
) -> DataFrame:
    """Per-chunk (cnt, h0..h3): A1 count + A2/A3 checksum in one agg.

    ``chunk_id`` is any deterministic map-side expression (from
    :func:`dbms_spark.plans.chunker.assign_chunk_id`, a modulus, a
    time bucket...).  Partial aggregation makes the shuffle tiny.
    """
    from dbms_spark.plans.parallelism import ensure_parallelism

    cols = cols or df.columns
    src = ensure_parallelism(df)
    # md5 materialized as its own column (round 11): the 4 slice
    # expressions then reference it instead of carrying 4 copies of
    # the md5(canonical-row) tree — codegen CSE recovers most of the
    # duplication but not all of it (A/B on the sf0.1 lineitem
    # checksum: 1.33 -> 1.22 s median, and tighter spread); the
    # two-project shape survives CollapseProject because the md5 is
    # non-cheap and referenced four times.
    return (
        src.select(
            chunk_id.alias("chunk_id"),
            C.row_md5(src, cols, oracle_empty_is_null).alias("__md5"),
        )
        .select("chunk_id", *C.md5_slice_cols(F.col("__md5")))
        .groupBy("chunk_id")
        .agg(F.count(F.lit(1)).alias("cnt"), *[F.sum(f"s{i}").alias(f"h{i}") for i in range(4)])
    )


def chunked_checksum_crc32(
    df: DataFrame,
    chunk_id: Column,
    cols: list[str] | None = None,
    oracle_empty_is_null: bool = False,
) -> DataFrame:
    """Per-chunk (cnt, crc_sum) — the CRC32_SLICES method of the
    selection ladder: the reference's default MySQL/PG chunk checksum
    ``SUM(CRC32(CONCAT_WS(...)))`` (data_compare_row.go:1554-1577) as a
    map-side crc32 + partial-aggregated sum."""
    from dbms_spark.plans.parallelism import ensure_parallelism

    cols = cols or df.columns
    src = ensure_parallelism(df)
    return (
        src.select(
            chunk_id.alias("chunk_id"),
            C.row_crc32(src, cols, oracle_empty_is_null).alias("row_crc"),
        )
        .groupBy("chunk_id")
        .agg(F.count(F.lit(1)).alias("cnt"), C.crc32_sum_agg())
    )


def collect_chunk_sums(*sides: DataFrame) -> list[dict[int, tuple]]:
    """Per-chunk sums of every side in ONE Spark job: tag each side,
    union, collect, split.  Each side is a ``chunk_id`` column plus sum
    columns — ``cnt`` (ROWS), ``cnt, h0..h3`` (MD5) or ``cnt, crc_sum``
    (CRC32) — named alike on every side.  Returns, per side,
    ``{chunk_id: sums}`` with the sums in the first side's column order
    (``cnt`` first).  Driver-side summaries only, never row data: at
    most ``n_chunks`` rows per side, the bound the ``ChunkPlan`` the
    driver already holds imposes."""
    names = [c for c in sides[0].columns if c != "chunk_id"]
    tagged = [s.withColumn("__side", F.lit(i)) for i, s in enumerate(sides)]
    union = tagged[0]
    for t in tagged[1:]:
        union = union.unionByName(t)
    out: list[dict[int, tuple]] = [{} for _ in sides]
    for r in union.collect():
        out[r["__side"]][r["chunk_id"]] = tuple(r[c] for c in names)
    return out


def differing_chunks(a: dict[int, tuple], b: dict[int, tuple]) -> list[int]:
    """The chunk-sum comparison every chunked verify shares: sorted ids
    of the chunks whose sums differ between two sides.  A chunk present
    on one side only differs."""
    return sorted(c for c in a.keys() | b.keys() if a.get(c) != b.get(c))


def seek_columns(
    src: DataFrame,
    dst: DataFrame,
    cols: list[str] | None = None,
    oracle_empty_is_null: bool = False,
) -> DataFrame:
    """J3 column localization: which columns differ between two sides.

    One scan per side computes per-column canonical-MD5 h0-slice sums
    for ALL columns simultaneously (the reference re-queries per column;
    a columnar scan gets them in one pass).  Output: one row per
    column — ``col_name, src_cnt, dst_cnt, src_h0, dst_h0, equal``.
    """
    cols = cols or [c for c in src.columns if c in set(dst.columns)]
    fields_s = {f.name: f.dataType for f in src.schema.fields}
    fields_d = {f.name: f.dataType for f in dst.schema.fields}

    def side(df: DataFrame, fields: dict) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("cnt")]
        for c in cols:
            canon = F.coalesce(
                C.canon_column(F.col(c), fields[c], oracle_empty_is_null), F.lit(C.NULL_LITERAL)
            )
            h = F.md5(canon)
            aggs.append(
                F.sum(F.conv(F.substring(h, 1, 8), 16, 10).cast("decimal(38,0)")).alias(f"__h_{c}")
            )
        return df.agg(*aggs).withColumn("chunk_id", F.lit(0))

    s, d = (sums[0] for sums in collect_chunk_sums(side(src, fields_s), side(dst, fields_d)))
    rows = [
        (c, s[0], d[0], s[1 + i], d[1 + i], bool(s[0] == d[0] and s[1 + i] == d[1 + i]))
        for i, c in enumerate(cols)
    ]
    return literal_df(src.sparkSession,
        rows, "col_name string, src_cnt long, dst_cnt long, src_h0 decimal(38,0), dst_h0 decimal(38,0), equal boolean"
    )


@dataclass
class CompareReport:
    equal: bool
    src_cnt: int
    dst_cnt: int
    mismatched_chunks: list[int]


def compare_table(
    src: DataFrame,
    dst: DataFrame,
    plan: ChunkPlan | None = None,
    cols: list[str] | None = None,
    oracle_empty_is_null: bool = False,
    method: str = "MD5_SLICES",
) -> CompareReport:
    """End-to-end table compare (J2 with A1/A2): per-chunk sums of
    both sides collected in ONE action (:func:`collect_chunk_sums`) and
    compared on the driver (:func:`differing_chunks`).  ``method`` is a
    ladder value from :func:`compare_method_for`: 'ROWS' sums ``cnt``
    only (the per-chunk COUNT), 'CRC32_SLICES' ``cnt, crc_sum``, and
    'MD5_SLICES' / 'HASH_PROGRAM' ``cnt, h0..h3``.  The chunk id comes
    from ``plan``; with no plan the whole table is chunk 0, so a
    mismatch reports ``[0]``.  Row counts are the sums of the
    per-chunk counts."""
    cols = cols or src.columns

    def sums(df: DataFrame) -> DataFrame:
        cid = assign_chunk_id(plan, df) if plan is not None else F.lit(0)
        if method == "ROWS":
            return df.groupBy(cid.alias("chunk_id")).agg(F.count(F.lit(1)).alias("cnt"))
        check = chunked_checksum_crc32 if method == "CRC32_SLICES" else chunked_checksum
        return check(df, cid, cols, oracle_empty_is_null)

    s, d = collect_chunk_sums(sums(src), sums(dst))
    bad = differing_chunks(s, d)
    return CompareReport(not bad, sum(v[0] for v in s.values()),
                         sum(v[0] for v in d.values()), bad)


def drilldown_chunks(
    src: DataFrame,
    dst: DataFrame,
    plan: ChunkPlan,
    chunk_ids: list[int],
    cols: list[str] | None = None,
    max_ranges: int = 256,
) -> DataFrame:
    """Row-level diff restricted to the given chunks — the reference's
    seek stage after a checksum mismatch (data_compare_seek.go: only
    unequal chunks re-read rows).  Scan pruning comes from a BOUNDED
    range predicate (contiguous mismatched chunks coalesce; capped at
    ``max_ranges`` OR-terms — the same shape as reverify's pushdown,
    so mass corruption at millions of chunks can't blow up the plan
    text), and exactness from an ``isin`` on each side's chunk id (an
    InSet of at most ``n_chunks`` ints, the bound the plan imposes) —
    rows of gap chunks swallowed by the cap never enter the diff.
    Output matches :func:`multiset_diff` plus the chunk_id."""
    from dbms_spark.plans.chunker import ranges_predicate

    if not chunk_ids:
        empty = multiset_diff(src, dst, cols)
        return empty.filter(F.lit(False)).withColumn("chunk_id", F.lit(0))
    ids = sorted(set(chunk_ids))
    pred = ranges_predicate(plan, ids, max_ranges)

    def side(df: DataFrame) -> DataFrame:
        sub = df.filter(F.expr(pred))
        return sub.filter(assign_chunk_id(plan, sub).isin(ids))

    diff = multiset_diff(side(src), side(dst), cols)
    if all(k in diff.columns for k in plan.key_cols):
        return diff.withColumn("chunk_id", assign_chunk_id(plan, diff))
    return diff.withColumn("chunk_id", F.lit(None).cast("int"))


def apply_diff(dst: DataFrame, diff: DataFrame,
               cols: list[str] | None = None) -> DataFrame:
    """Lake-target repair: fold a :func:`multiset_diff` result back
    into ``dst`` so the output is multiset-equal to the source — the
    parquet/lake counterpart of :func:`gen_fix_sql` (which repairs
    JDBC targets statement-by-statement; a lake target rewrites
    partitions instead, reference fix-SQL flow
    data_compare_file.go:66-215 re-expressed as set algebra).

    For every differing row the target's multiplicity moves to
    ``src_cnt``: remove ALL ``dst_cnt`` copies (EXCEPT ALL against the
    diff rows replicated ``dst_cnt`` times), then add back ``src_cnt``
    copies.  Untouched rows pass through.  Both replications explode a
    per-row sequence — no driver materialization, no per-statement
    loop, and the result is exactly reconstructable regardless of
    duplicate multiplicities on either side."""
    cols = cols or [c for c in diff.columns if c not in ("src_cnt", "dst_cnt")]

    def replicate(cnt_col: str) -> DataFrame:
        return (
            diff.filter(F.col(cnt_col) > 0)
            .select(*cols,
                    F.explode(F.sequence(F.lit(1), F.col(cnt_col))).alias("__i"))
            .drop("__i")
        )

    return (
        dst.select(*cols)
        .exceptAll(replicate("dst_cnt"))
        .unionAll(replicate("src_cnt"))
    )


#: identifier quote per dialect (MySQL-compatible backticks vs ANSI)
_IDENT_QUOTE = {"mysql": "`", "tidb": "`", "oracle": '"', "postgres": '"'}


def _qident(name: str, dialect: str) -> str:
    q = _IDENT_QUOTE[dialect]
    return ".".join(f"{q}{part}{q}" for part in name.split("."))


def _gen_insert(table: str, cols: list[str], values: str, dialect: str,
                safe_mode: bool, sql_hint: str) -> str:
    """One repair upsert/insert in the target dialect (reference:
    processor_translate_mysql.go:40,81 REPLACE INTO;
    processor_translate_oracle.go:27-78 MERGE INTO ... FROM DUAL;
    processor_translate_postgres.go:58-62 ON CONFLICT DO UPDATE)."""
    t = _qident(table, dialect)
    qcols = [_qident(c, dialect) for c in cols]
    hint = f"{sql_hint} " if sql_hint else ""
    col_list = ", ".join(qcols)
    if not safe_mode:
        return f"INSERT {hint}INTO {t} ({col_list}) VALUES ({values});"
    if dialect in ("mysql", "tidb"):
        return f"REPLACE {hint}INTO {t} ({col_list}) VALUES ({values});"
    if dialect == "oracle":
        selects = ", ".join(
            f"{v.strip()} AS {c}" for v, c in zip(_split_values(values), qcols)
        )
        on = " AND ".join(f"T1.{c} = T2.{c}" for c in qcols)
        t2_cols = ", ".join(f"T2.{c}" for c in qcols)
        # the reference keys the MERGE on every column; a MATCHED row is
        # then already identical, so no UPDATE clause is emitted
        return (
            f"MERGE {hint}INTO {t} T1 USING (SELECT {selects} FROM DUAL) T2 ON ({on}) "
            f"WHEN NOT MATCHED THEN INSERT ({col_list}) VALUES ({t2_cols});"
        )
    if dialect == "postgres":
        updates = ", ".join(f"{c} = excluded.{c}" for c in qcols)
        return (
            f"INSERT {hint}INTO {t} ({col_list}) VALUES ({values}) "
            f"ON CONFLICT ({col_list}) DO UPDATE SET {updates};"
        )
    raise ValueError(f"unknown dialect {dialect}")


def _split_values(values: str) -> list[str]:
    """Split a rendered value list on top-level commas (quotes-aware)."""
    out, depth, quoted, cur = [], 0, False, []
    i = 0
    while i < len(values):
        ch = values[i]
        if quoted:
            if ch == "'" and i + 1 < len(values) and values[i + 1] == "'":
                cur.append("''")
                i += 2
                continue
            if ch == "'":
                quoted = False
        elif ch == "'":
            quoted = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
            i += 1
            continue
        cur.append(ch)
        i += 1
    out.append("".join(cur))
    return out


def _gen_delete(table: str, conds: str, n: int, dialect: str, sql_hint: str) -> str:
    """Delete exactly ``n`` surplus copies of one row shape.  The
    reference renders ``DELETE ... LIMIT n`` for every dialect
    (processor_translate_{mysql,oracle,postgres}.go:134,:137,:88) —
    valid only on MySQL/TiDB; here Oracle uses ROWNUM and Postgres a
    ctid subselect so the scripts actually run."""
    t = _qident(table, dialect)
    hint = f"{sql_hint} " if sql_hint else ""
    if dialect in ("mysql", "tidb"):
        return f"DELETE {hint}FROM {t} WHERE {conds} LIMIT {n};"
    if dialect == "oracle":
        return f"DELETE {hint}FROM {t} WHERE {conds} AND ROWNUM <= {n};"
    if dialect == "postgres":
        return (
            f"DELETE {hint}FROM {t} WHERE ctid IN "
            f"(SELECT ctid FROM {t} WHERE {conds} LIMIT {n});"
        )
    raise ValueError(f"unknown dialect {dialect}")


def gen_fix_sql(
    diff: DataFrame,
    table: str,
    cols: list[str],
    max_statements: int = 10_000,
    dialect: str = "mysql",
    safe_mode: bool = False,
    sql_hint: str = "",
) -> list[str]:
    """Render repair SQL from a :func:`multiset_diff` result
    (reference: fix-SQL file generation data_compare_file.go:66-215,
    dialect translation processor_translate_{mysql,oracle,postgres}.go).
    DELETE where dst has surplus copies, INSERT (or the dialect's
    safe-mode upsert) where dst is short.  The diff result is
    mismatches-only, hence small; cap defensively."""
    from dbms_spark.plans.chunker import sql_literal

    stmts: list[str] = []
    for r in diff.limit(max_statements).collect():
        d = r.asDict()
        delta = d["src_cnt"] - d["dst_cnt"]
        values = ", ".join(sql_literal(d[c], dialect) for c in cols)
        q = _IDENT_QUOTE[dialect]
        conds = " AND ".join(
            f"{q}{c}{q} IS NULL" if d[c] is None else f"{q}{c}{q} = {sql_literal(d[c], dialect)}"
            for c in cols
        )
        if delta > 0:
            stmt = _gen_insert(table, cols, values, dialect, safe_mode, sql_hint)
            # a safe-mode upsert is idempotent per row shape: one is enough
            stmts.extend([stmt] * (1 if safe_mode else delta))
        else:
            stmts.append(_gen_delete(table, conds, -delta, dialect, sql_hint))
    return stmts
