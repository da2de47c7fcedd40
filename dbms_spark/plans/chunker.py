"""Statistics-driven chunk/range planner.

The reference splits tables into ~equal-row chunks from DB histogram
buckets (reference: database/processor/data_compare_divider.go:41-201,
bucket structures utils/structure/bucket.go:205-306) or Oracle ROWID
ranges (database/oracle/data_migrate.go:350-465), then renders each
chunk as a composite-key range predicate
``(a > x) OR (a = x AND b > y) ...``
(reference: utils/structure/chunk.go:77-631 Range.ToString, boundary
expansion comment at :98-101).

Spark equivalents built here:

- :func:`plan_chunks` — equal-count boundaries via ``ntile`` over a
  *sample* of the key columns (the sample bounds the driver-side sort
  the way DB histograms bounded the reference's planning; full-table
  sort is never required).
- :func:`chunk_predicate` — the same composite-key boundary expansion,
  rendered as SQL text usable both as a DataFrame ``filter`` and as a
  JDBC partition predicate (``spark.read.jdbc(predicates=[...])``).
- :func:`assign_chunk_id` — lexicographic struct comparison against the
  broadcast boundary list, so both compare sides bucket rows
  identically even when their data differs.

Scale notes: boundaries are O(n_chunks) driver-side rows; the sample
aggregate is a single narrow shuffle of ``sample_rows`` rows. Chunk
assignment is a map-side expression (no shuffle, no join).
"""

from __future__ import annotations

import datetime
import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


@dataclass(frozen=True)
class ChunkPlan:
    key_cols: tuple[str, ...]
    #: sorted upper boundaries, one tuple per internal cut point
    #: (n_chunks - 1 entries); chunk i covers (bounds[i-1], bounds[i]]
    bounds: tuple[tuple, ...]
    #: non-binary string ordering for boundary comparisons (a Spark
    #: collation name, e.g. UNICODE or UTF8_LCASE).  The reference hits
    #: the same problem as NLSSORT chunk boundaries on a linguistic-
    #: collation Oracle source (utils/structure/chunk.go:80-95): with
    #: binary comparisons the chunks would tile a DIFFERENT order than
    #: the source's, mis-bucketing rows near boundaries.  Stored on the
    #: plan so planning and assignment can never disagree.
    collation: str | None = None

    @property
    def n_chunks(self) -> int:
        return len(self.bounds) + 1


def _collated(col: Column, dtype, collation: str | None) -> Column:
    """Apply the plan's collation to string columns (no-op otherwise)."""
    from pyspark.sql import types as T

    if collation and isinstance(dtype, T.StringType):
        return F.collate(col, collation)
    return col


def plan_chunks(
    df: DataFrame,
    key_cols: list[str],
    n_chunks: int,
    sample_rows: int = 100_000,
    total_rows: int | None = None,
    collation: str | None = None,
) -> ChunkPlan:
    """Equal-count chunk boundaries from a bounded sample.

    Mirrors the reference's equal-count bucket generation
    (utils/structure/bucket.go:228 StringSliceCreateBuckets) with
    ``ntile`` — the idiomatic Spark replacement for remote histograms.
    With ``collation`` set, string keys order and tile under that
    collation (the NLSSORT case), and the returned plan carries it so
    :func:`assign_chunk_id` compares the same way.
    """
    if n_chunks < 2:
        return ChunkPlan(tuple(key_cols), (), collation)
    total = total_rows if total_rows is not None else df.count()
    if total == 0:
        return ChunkPlan(tuple(key_cols), (), collation)
    fields = {f.name: f.dataType for f in df.schema.fields}
    fraction = min(1.0, sample_rows / max(total, 1))
    sample = df.select(*key_cols)
    if fraction < 1.0:
        # keep a row by a hash of its key, not by a per-partition
        # random stream (``sample(seed=)``): the same input then plans
        # the same bounds under any split size or core count, so a
        # resumed migrate's chunks still tile with its done ones
        sample = sample.where(F.pmod(F.xxhash64(*key_cols), F.lit(1 << 32))
                              < F.lit(int(fraction * (1 << 32))))
    ckeys = [_collated(F.col(c), fields[c], collation) for c in key_cols]
    w = Window.orderBy(*ckeys)
    tiles = (
        sample.withColumn("__nt", F.ntile(n_chunks).over(w))
        .groupBy("__nt")
        .agg(F.max(F.struct(*ckeys)).alias("__hi"))
        .orderBy("__nt")
        .collect()
    )
    bounds = tuple(tuple(r["__hi"]) for r in tiles[:-1])  # last tile is open-ended
    # dedupe adjacent equal boundaries (heavy skew on the key)
    deduped: list[tuple] = []
    for b in bounds:
        if not deduped or b != deduped[-1]:
            deduped.append(b)
    return ChunkPlan(tuple(key_cols), tuple(deduped), collation)


def sql_literal(v, dialect: str = "mysql") -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        # Spark's parser and default-mode MySQL/TiDB process backslash
        # escapes inside string literals (round-5 advice: an unescaped
        # backslash boundary parsed to a DIFFERENT value than the
        # F.lit chain form, silently diverging past the binary-search
        # threshold); Oracle/Postgres/Derby literals are backslash-raw
        if dialect in ("spark", "mysql", "tidb"):
            v = v.replace("\\", "\\\\")
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, (bytes, bytearray)):
        hx = bytes(v).hex().upper()
        if dialect == "oracle":
            return f"HEXTORAW('{hx}')"
        if dialect == "postgres":
            return f"'\\x{hx}'::bytea"
        return f"X'{hx}'"  # MySQL/TiDB hex literal
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float) and not math.isfinite(v):
        # str() gives nan / inf / -inf, which parse as column names
        word = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
        if dialect == "spark":
            return f"CAST('{word}' AS DOUBLE)"
        if dialect == "postgres":
            return f"'{word}'::float8"
        if dialect == "oracle":
            return {"NaN": "BINARY_DOUBLE_NAN", "Infinity": "BINARY_DOUBLE_INFINITY",
                    "-Infinity": "-BINARY_DOUBLE_INFINITY"}[word]
        # MySQL, TiDB and Derby doubles cannot hold these values
        raise ValueError(f"{dialect} cannot represent the double value {v}")
    return str(v)


#: Spark collation name → Oracle NLS_SORT name (the reference plans
#: chunk boundaries through NLSSORT on linguistic-collation sources,
#: utils/structure/chunk.go:80-95).
_NLS_SORT = {
    "UTF8_BINARY": "BINARY",
    "UTF8_LCASE": "BINARY_CI",
    "UNICODE": "GENERIC_M",
    "UNICODE_CI": "GENERIC_M_CI",
}


def _quote(col: str, dialect: str) -> str:
    # oracle + derby (and other ANSI targets) take double-quoted
    # identifiers; spark/mysql/tidb take backticks
    return f'"{col}"' if dialect in ("oracle", "derby") else f"`{col}`"


def _ident(col: str, v, collation: str | None, dialect: str = "spark") -> str:
    """Rendered column reference; string comparisons under a collated
    plan carry the COLLATE clause (same syntax in Spark SQL and MySQL)
    or, for an Oracle source, an NLSSORT() wrap of the reference."""
    base = _quote(col, dialect)
    if collation and isinstance(v, str):
        if dialect == "oracle":
            nls = _NLS_SORT.get(collation, collation)
            return f"NLSSORT({base}, 'NLS_SORT={nls}')"
        if dialect == "derby":
            # Derby has no COLLATE clause / NLSSORT — fail fast rather
            # than ship syntax the engine will reject at read time
            raise ValueError("derby dialect does not support collated "
                             "chunk plans; plan without a collation")
        return f"{base} COLLATE {collation}"
    return base


def _literal(v, collation: str | None, dialect: str) -> str:
    """Literal side of a comparison — under Oracle NLSSORT both sides
    of the comparison must be sort-key encoded."""
    lit = sql_literal(v, dialect)
    if dialect == "oracle" and collation and isinstance(v, str):
        nls = _NLS_SORT.get(collation, collation)
        return f"NLSSORT({lit}, 'NLS_SORT={nls}')"
    return lit


def _eq(col: str, v, collation: str | None = None, dialect: str = "spark") -> str:
    """Null-safe equality (boundary values can be NULL when the sampled
    key is null-heavy)."""
    if v is None:
        return f"{_quote(col, dialect)} IS NULL"
    return f"{_ident(col, v, collation, dialect)} = {_literal(v, collation, dialect)}"


def _cmp(col: str, op: str, v, collation: str | None = None,
         dialect: str = "spark") -> str:
    """One comparison under NULLS-FIRST ordering (NULL sorts below every
    value — Spark's default ASC ordering, which :func:`plan_chunks` uses
    when it ntiles the sample, and the ordering
    :func:`assign_chunk_id`'s struct comparison induces: a NULL field
    never satisfies ``>``).  Rendering NULL-aware comparisons here keeps
    rows with NULL keys in exactly one chunk instead of none (Oracle
    note: its native sort puts NULLs last, but these predicates define
    chunk membership explicitly, so they stay correct there too)."""
    c0 = _quote(col, dialect)
    if v is None:
        always = dialect in ("oracle", "derby")  # no bare boolean literals
        false_ = "1 = 0" if always else "FALSE"
        true_ = "1 = 1" if always else "TRUE"
        return {"<": false_, "<=": f"{c0} IS NULL",
                ">": f"{c0} IS NOT NULL", ">=": true_}[op]
    c = _ident(col, v, collation, dialect)
    lit = _literal(v, collation, dialect)
    if op in ("<", "<="):
        return f"({c0} IS NULL OR {c} {op} {lit})"
    return f"{c} {op} {lit}"  # NULL (smallest) never satisfies > / >=


def _gt_tuple(cols: tuple[str, ...], vals: tuple, strict: bool,
              collation: str | None = None, dialect: str = "spark") -> str:
    """Composite-key comparison expansion, the reference's
    Range.ToString boundary form: (a>x) OR (a=x AND b>y) OR ...
    With strict=False the innermost comparison becomes >=."""
    terms = []
    for i in range(len(cols)):
        eqs = [_eq(cols[j], vals[j], collation, dialect) for j in range(i)]
        op = ">" if (strict or i < len(cols) - 1) else ">="
        terms.append(
            "(" + " AND ".join(eqs + [_cmp(cols[i], op, vals[i], collation, dialect)]) + ")")
    return "(" + " OR ".join(terms) + ")"


def _le_tuple(cols: tuple[str, ...], vals: tuple,
              collation: str | None = None, dialect: str = "spark") -> str:
    terms = []
    for i in range(len(cols)):
        eqs = [_eq(cols[j], vals[j], collation, dialect) for j in range(i)]
        op = "<" if i < len(cols) - 1 else "<="
        terms.append(
            "(" + " AND ".join(eqs + [_cmp(cols[i], op, vals[i], collation, dialect)]) + ")")
    return "(" + " OR ".join(terms) + ")"


def chunk_predicate(plan: ChunkPlan, i: int, dialect: str = "spark") -> str:
    """WHERE-clause text for chunk ``i`` — valid as a DataFrame filter
    or a JDBC partition predicate (one element of ``predicates=[...]``).
    Chunks partition the keyspace exactly under NULLS-FIRST ordering:
    (-inf, b0], (b0, b1], ..., (b_last, +inf), with NULL keys landing in
    chunk 0 (matching :func:`assign_chunk_id`).

    ``dialect="oracle"`` renders double-quoted identifiers, Oracle
    literals, and — when the plan carries a collation — NLSSORT-wrapped
    comparisons on both sides, the reference's boundary form for
    linguistic-collation sources (utils/structure/chunk.go:80-95)."""
    return chunk_range_predicate(plan, i, i, dialect)


def chunk_range_predicate(plan: ChunkPlan, lo: int, hi: int,
                          dialect: str = "spark") -> str:
    """WHERE-clause text covering the contiguous chunk run ``lo..hi``
    (inclusive) — same boundary form as :func:`chunk_predicate` but one
    O(1)-size predicate for the whole run instead of an OR-chain of
    per-chunk predicates.  ``chunk_predicate(plan, i)`` ≡
    ``chunk_range_predicate(plan, i, i)``.  The incremental re-verify
    path uses this to keep its target-side pushdown text bounded when
    many chunks changed (reference resume path
    database/processor/data_compare_task.go:353-378 re-reads per-chunk;
    at millions of 500-row chunks that text would be unbounded)."""
    cols = plan.key_cols
    if plan.n_chunks == 1:
        return "1 = 1"  # whole-table fallback, reference's WHERE 1=1
    parts = []
    if lo > 0:
        parts.append(_gt_tuple(cols, plan.bounds[lo - 1], strict=True,
                               collation=plan.collation, dialect=dialect))
    if hi < len(plan.bounds):
        parts.append(_le_tuple(cols, plan.bounds[hi],
                               collation=plan.collation, dialect=dialect))
    return " AND ".join(parts) if parts else "1 = 1"


def predicates(plan: ChunkPlan, dialect: str = "spark") -> list[str]:
    return [chunk_predicate(plan, i, dialect) for i in range(plan.n_chunks)]


def _runs(ids: list[int]) -> list[tuple[int, int]]:
    """Sorted chunk ids -> maximal contiguous runs ``[(lo, hi), ...]``."""
    runs: list[tuple[int, int]] = []
    for i in ids:
        if runs and i == runs[-1][1] + 1:
            runs[-1] = (runs[-1][0], i)
        else:
            runs.append((i, i))
    return runs


def _cap_runs(runs: list[tuple[int, int]], max_ranges: int) -> list[tuple[int, int]]:
    """Merge runs down to at most ``max_ranges`` by swallowing the
    SMALLEST gaps first — the superset read grows by the fewest extra
    chunks possible.  Keeping a gap == keeping a separator, so the
    optimal cap keeps the ``max_ranges - 1`` largest gaps."""
    if len(runs) <= max_ranges:
        return runs
    gaps = sorted(
        range(len(runs) - 1),
        key=lambda i: (runs[i + 1][0] - runs[i][1], i),
        reverse=True,
    )
    keep = sorted(gaps[: max_ranges - 1])
    merged: list[tuple[int, int]] = []
    start = 0
    for g in keep + [len(runs) - 1]:
        merged.append((runs[start][0], runs[g][1]))
        start = g + 1
    return merged


def ranges_predicate(plan: ChunkPlan, ids: list[int],
                     max_ranges: int = 256, dialect: str = "spark") -> str:
    """Bounded pushdown text covering a chunk-id set: contiguous ids
    coalesce into range predicates, capped at ``max_ranges`` OR-terms
    (beyond that, a minimally-superset covering read).  Callers that
    need the EXACT chunk set must still restrict by chunk id (an
    ``isin`` on :func:`assign_chunk_id`, or a driver-side pick of the
    collected chunk sums) — the predicate is an I/O-pruning
    optimization, not the correctness boundary."""
    if not ids:
        return "FALSE"
    runs = _cap_runs(_runs(sorted(ids)), max_ranges)
    if len(runs) == 1 and runs[0] == (0, plan.n_chunks - 1):
        return "1 = 1"
    return " OR ".join(
        f"({chunk_range_predicate(plan, lo, hi, dialect)})" for lo, hi in runs
    )


#: bound count above which assignment switches from the balanced CASE
#: tree to the unrolled binary search: the tree is faster below it and
#: loses from ~1,000 bounds on (crossover in docs/SCALE.md, "Chunk
#: sums on the driver").
_BINARY_SEARCH_THRESHOLD = 128


def assign_chunk_id(plan: ChunkPlan, df: DataFrame) -> Column:
    """Map-side chunk id expression: count of boundaries strictly below
    the row's key tuple (lexicographic struct comparison, no shuffle).

    The key struct and every bound are rendered as SQL text once and
    parsed once: building them as Columns cost a py4j round trip per
    field per bound.  CASTs pin each bound field to the column's exact
    type (TIMESTAMP_NTZ vs TIMESTAMP, INT vs BIGINT), or the struct
    comparison fails analysis.  Two equivalent forms by bound count,
    both doing ceil(log2(n+1)) comparisons per row against the plan's
    sorted bounds: a balanced CASE tree for small plans, and — past
    :data:`_BINARY_SEARCH_THRESHOLD` — a lower-bound binary search
    unrolled via ``aggregate`` against ONE flat array-of-structs
    literal, so
    reference-style 500-row chunks at scale (10^4-10^6 bounds) assign
    without plan blowup.  NULL keys land in chunk 0 in both forms (a
    NULL comparison counts as 'not greater')."""
    if plan.n_chunks == 1:
        return F.lit(0)
    from pyspark.sql import types as T

    fields = {f.name: f.dataType for f in df.schema.fields}

    def collated(e: str, c: str) -> str:
        if plan.collation and isinstance(fields[c], T.StringType):
            return f"collate({e}, '{plan.collation}')"
        return e

    def struct(exprs: list[str]) -> str:
        return "named_struct(" + ", ".join(
            f"'{c}', {collated(e, c)}" for c, e in zip(plan.key_cols, exprs)) + ")"

    key = struct([_quote(c, "spark") for c in plan.key_cols])

    def bound(b: tuple) -> str:
        return struct([f"CAST({sql_literal(v, 'spark')} AS {fields[c].simpleString()})"
                       for c, v in zip(plan.key_cols, b)])

    n = len(plan.bounds)
    if n <= _BINARY_SEARCH_THRESHOLD:
        def tree(lo: int, hi: int) -> str:
            # chunk ids lo..hi; bound[mid] separates chunk mid from mid + 1
            if lo == hi:
                return str(lo)
            mid = (lo + hi) // 2
            return (f"CASE WHEN {key} > {bound(plan.bounds[mid])} "
                    f"THEN {tree(mid + 1, hi)} ELSE {tree(lo, mid)} END")

        return F.expr(tree(0, n))

    bounds = F.expr("array(" + ", ".join(bound(b) for b in plan.bounds) + ")")
    key_col = F.expr(key)
    depth = math.ceil(math.log2(n + 1))
    init = F.struct(F.lit(0).alias("lo"), F.lit(n).alias("hi"))

    def step(acc: Column, _: Column) -> Column:
        lo, hi = acc["lo"], acc["hi"]
        mid = F.floor((lo + hi) / 2).cast("int")
        # strictly-greater, NULL -> false: matches the tree's
        # CASE WHEN key > bound ... ELSE <left> semantics
        gt = F.coalesce(key_col > F.element_at(bounds, mid + 1), F.lit(False))
        return F.when(
            lo < hi,
            F.when(gt, F.struct((mid + 1).alias("lo"), hi.alias("hi")))
            .otherwise(F.struct(lo.alias("lo"), mid.alias("hi"))),
        ).otherwise(acc)

    found = F.aggregate(F.sequence(F.lit(1), F.lit(depth)), init, step)
    return found["lo"]


def rebalance_chunks(df: DataFrame, plan: ChunkPlan, max_rows_per_chunk: int,
                     sample_rows: int = 100_000) -> ChunkPlan:
    """Oversize-chunk re-split guard (SURVEY risk register: sampling-
    based ntile is approximate — a skewed or mis-sampled key can leave
    one chunk holding far more than its share, and with a JDBC source
    that chunk becomes one giant remote scan).

    One aggregation counts actual rows per chunk (map-side
    ``assign_chunk_id``, no shuffle of rows); every chunk over the cap
    is re-planned WITHIN its own range and the sub-boundaries splice
    into the plan.  Returns the original plan when nothing is over."""
    if not plan.bounds:
        return plan
    counts = {
        r["cid"]: r["cnt"]
        for r in df.groupBy(assign_chunk_id(plan, df).alias("cid"))
        .agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    over = {cid: n for cid, n in counts.items() if n > max_rows_per_chunk}
    if not over:
        return plan
    new_bounds: list[tuple] = []
    for i in range(plan.n_chunks):
        if i in over:
            sub = df.filter(chunk_predicate(plan, i))
            n_sub = -(-over[i] // max_rows_per_chunk)
            subplan = plan_chunks(sub, list(plan.key_cols), n_sub,
                                  sample_rows=sample_rows, total_rows=over[i],
                                  collation=plan.collation)
            new_bounds.extend(subplan.bounds)
        if i < len(plan.bounds):
            new_bounds.append(plan.bounds[i])
    deduped: list[tuple] = []
    for b in new_bounds:
        if not deduped or b != deduped[-1]:
            deduped.append(b)
    return ChunkPlan(plan.key_cols, tuple(deduped), plan.collation)
