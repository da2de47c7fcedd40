"""Similarity search over embedding columns (array<float>).

Two paths:

- :func:`cosine_topk` — brute-force exact top-k: broadcast the (small)
  query set against the corpus, JVM-side ``zip_with``/``aggregate``
  dot products, per-query window top-k.  The O(|Q|·n) baseline.
- :func:`lsh_buckets` / :func:`lsh_topk` — random-hyperplane LSH: a
  deterministic md5-derived plane matrix maps each vector to a sign
  bucket; search joins only within buckets.  The sub-linear scale path
  (buckets shard the corpus; the join shuffles on the bucket key).

Cross-engine exactness trick: vectors are quantized to fixed-point
integers (round(x * 10000)) before any arithmetic.  Every product and
partial sum is then an integer far below 2^53, so double accumulation
is EXACT regardless of summation order — Spark and DuckDB agree
bit-for-bit, with no dependence on either engine's reduction order.
Quantization costs ~1e-4 relative error, irrelevant for neighbor
ranking and a fair trade for a differential-testable operator.
"""

from __future__ import annotations

import functools
import threading as _threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCALE = 10_000


def quantize_expr(col: str = "embedding") -> F.Column:
    return F.expr(f"transform({col}, x -> round(cast(x as double) * {_SCALE}))")


def quantize_sql(col: str = "embedding") -> str:
    return f"list_transform({col}, x -> round(CAST(x AS DOUBLE) * {_SCALE}))"


_DOT_SPARK = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
_NORM_SPARK = "sqrt(aggregate({a}, 0D, (acc, x) -> acc + x * x))"


#: rows-per-stage above which the unrolled kernels win (docs/SCALE.md
#: two-mode table: fixed ~2-4 s analysis+janino cost vs 3-8x per-row)
_UNROLL_ROWS = 100_000
#: assumed bytes/row when only sizeInBytes is known (64-dim float
#: vectors measure ~400 B/row in parquet; erring high keeps small
#: inputs on the fixed-cost-free HOF form)
_UNROLL_BYTES_PER_ROW = 400

_AUTO_UNROLL = _threading.local()


def _unroll() -> bool:
    """ANN-kernel expression mode: Spark's higher-order functions
    (aggregate/zip_with) evaluate INTERPRETED — unrolling them to
    scalar arithmetic measured 3-8x per-row on the 2·10⁵-vector index
    build — but the unrolled trees are ~10³ nodes, and their analysis
    + janino compile adds a FIXED ~2-4 s per stage, which DOMINATES
    at gate scale (2k rows: q51 measured 1.3 → ~3 s).  The mode is
    AUTO-SELECTED per operator call from a cheap Catalyst row
    estimate (:func:`_auto_unroll` wraps each entrypoint; crossover
    ~10⁵ rows/stage per docs/SCALE.md), with SPARK_GRAFT_ANN_UNROLL
    as a manual override: 1/true forces unrolled, 0/false forces HOF,
    unset defers to the estimate.  Both forms are bit-identical (same
    left-to-right FP order), pinned by test — auto-switching can
    never change a result."""
    import os

    env = os.environ.get("SPARK_GRAFT_ANN_UNROLL", "").lower()
    if env in ("1", "true", "yes"):
        return True
    if env in ("0", "false", "no"):
        return False
    return bool(getattr(_AUTO_UNROLL, "value", False))


def _estimate_rows(df: DataFrame) -> int:
    """Cheap (no job) row estimate from Catalyst plan statistics:
    rowCount when the optimizer knows it, else sizeInBytes over an
    assumed vector-row width.  Returns 0 when stats are unreachable
    (e.g. Spark Connect) — which keeps the fixed-cost-free HOF form."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
        size = int(str(stats.sizeInBytes()))
        if size >= 1 << 60:
            # spark.sql.defaultSizeInBytes sentinel: RDD-backed plans
            # report Long.MaxValue when stats are UNKNOWN — unknown
            # means HOF, not "huge"
            return 0
        return size // _UNROLL_BYTES_PER_ROW
    except Exception:
        return 0


class _auto_unroll:
    """Context manager the ANN entrypoints wrap their expression
    construction in: picks unrolled kernels when the LARGEST relation
    the per-row work runs over is estimated past the measured
    crossover.  Thread-local and re-entrant (restores the previous
    decision), so concurrent planners don't fight."""

    def __init__(self, *dfs: DataFrame):
        self._dfs = dfs

    def __enter__(self):
        self._prev = getattr(_AUTO_UNROLL, "value", False)
        est = max((_estimate_rows(d) for d in self._dfs), default=0)
        _AUTO_UNROLL.value = est >= _UNROLL_ROWS
        return self

    def __exit__(self, *exc):
        _AUTO_UNROLL.value = self._prev
        return False


def _auto_unroll_args(fn):
    """Entrypoint decorator: auto-select the kernel mode from the
    largest DataFrame argument's row estimate for the duration of the
    call's expression construction (the decision input is whichever
    relation the per-row kernels scan — corpus, index, or batch; the
    max over all DataFrame args covers each operator's shape)."""
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        dfs = [a for a in (*args, *kwargs.values())
               if isinstance(a, DataFrame)]
        with _auto_unroll(*dfs):
            return fn(*args, **kwargs)
    return wrapper


def _dot_pair_spark(a: str, b: str, dims: int | None) -> str:
    """Pair dot product: unrolled scalar arithmetic when the width is
    statically known AND the mode resolves to unrolled (auto row
    estimate or SPARK_GRAFT_ANN_UNROLL override — see
    :func:`_unroll`), the generic HOF fold otherwise."""
    if dims is None or not _unroll():
        return _DOT_SPARK.format(a=a, b=b)
    return "(" + " + ".join(
        f"element_at({a}, {i}) * element_at({b}, {i})"
        for i in range(1, dims + 1)) + ")"

_DOT_DUCK = "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"
_NORM_DUCK = "sqrt(list_sum(list_transform({a}, x -> x * x)))"


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (excluding self):
    (query_id, neighbor_id, cos_sim) with cos_sim floor-quantized at
    6 dp and ties broken by neighbor id."""
    from pyspark.sql import Window

    # norms are per-vector, computed once in the projection — never per pair
    c = corpus.select(
        F.col(id_col).alias("n_id"), quantize_expr(vec_col).alias("n_vec")
    ).withColumn("n_norm", F.expr(_NORM_SPARK.format(a="n_vec")))
    q = queries.select(
        F.col(id_col).alias("q_id"), quantize_expr(vec_col).alias("q_vec")
    ).withColumn("q_norm", F.expr(_NORM_SPARK.format(a="q_vec")))
    dot = _DOT_SPARK.format(a="q_vec", b="n_vec")
    sim = f"floor({dot} / (q_norm * n_norm) * 1000000) / 1000000"
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", F.expr(sim).alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("n_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("n_id").alias("neighbor_id"),
            "cos_sim",
        )
    )


def cosine_topk_sql(
    table: str,
    query_filter: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    dot = _DOT_DUCK.format(a="q.v", b="c.v")
    sim = f"floor({dot} / (q.nrm * c.nrm) * 1000000) / 1000000"
    norm = _NORM_DUCK.format(a="v")
    return f"""
WITH vecs AS (SELECT {id_col} AS id, v, {norm} AS nrm
              FROM (SELECT {id_col}, {quantize_sql(vec_col)} AS v FROM {table})),
q AS (SELECT id, v, nrm FROM vecs WHERE {query_filter}),
scored AS (
  SELECT q.id AS query_id, c.id AS neighbor_id, {sim} AS cos_sim
  FROM vecs c CROSS JOIN q WHERE q.id <> c.id
)
SELECT query_id, neighbor_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# Random-hyperplane LSH
# ---------------------------------------------------------------------------

def plane_components(plane: int, dims: int) -> list[int]:
    """Deterministic pseudo-random plane in [-500, 500]^dims derived
    from md5 — computed ONCE in Python and embedded as literals in both
    dialects (recomputing the md5 per row cost planes x dims hashes per
    vector; as literals the per-row work is one fold)."""
    import hashlib

    out = []
    for i in range(dims):
        h = hashlib.md5(f"{plane}_{i}".encode()).hexdigest()
        out.append(int(h[:8], 16) % 1001 - 500)
    return out


def plane_expr_spark(plane: int, dims: int, vec: str = "q") -> str:
    comps = plane_components(plane, dims)
    if _unroll():
        dot = " + ".join(f"element_at({vec}, {i + 1}) * {c}D"
                         for i, c in enumerate(comps))
    else:
        arr = ", ".join(f"{c}D" for c in comps)
        dot = (f"aggregate(zip_with({vec}, array({arr}), (x, p) -> x * p), "
               f"0D, (acc, v) -> acc + v)")
    return f"CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END"


def plane_expr_duck(plane: int, dims: int, vec: str = "v") -> str:
    comps = ", ".join(f"CAST({c} AS DOUBLE)" for c in plane_components(plane, dims))
    dot = (
        f"list_sum(list_transform(list_zip({vec}, [{comps}]), p -> p[1] * p[2]))"
    )
    return f"CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END"


@_auto_unroll_args
def lsh_buckets(df: DataFrame, n_planes: int = 8, dims: int = 64,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Vector -> sign-bucket string over n deterministic hyperplanes.
    Map-side only; downstream joins shuffle on the bucket key."""
    with_q = df.select(F.col(id_col), quantize_expr(vec_col).alias("q"))
    bucket = F.concat(*[F.expr(plane_expr_spark(p, dims)) for p in range(n_planes)])
    return with_q.select(F.col(id_col), bucket.alias("bucket"))


def lsh_buckets_sql(table: str, n_planes: int = 8, dims: int = 64,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    bucket = " || ".join(plane_expr_duck(p, dims) for p in range(n_planes))
    return f"""
SELECT {id_col}, {bucket} AS bucket
FROM (SELECT {id_col}, {quantize_sql(vec_col)} AS v FROM {table})
"""


def derive_n_planes(n_rows: int, target_occupancy: int = 256,
                    floor: int = 4) -> int:
    """The plane-count SCALE RULE as a function: bucket count is
    2^n_planes, so planes grow log2(n) to keep average occupancy at
    ``target_occupancy`` and bucket-local pair work LINEAR in corpus
    size (measured: fixed planes at 10x data = 17x wall; scaled = ~1x,
    docs/SCALE.md)."""
    import math

    return max(floor, math.ceil(math.log2(max(1, n_rows / target_occupancy))))


@_auto_unroll_args
def near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.25,
    n_planes: int | None = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates from shared
    LSH bucket (few planes -> high recall), exact fixed-point cosine,
    keep pairs at or above the threshold.  The dedup-family member for
    embedding columns: O(bucket²) per bucket, never O(n²) global.

    SCALE RULE: ``n_planes`` must grow as log2(n) — bucket count is
    2^n_planes, so fixed planes mean occupancy grows linearly with the
    corpus and bucket-local pairs QUADRATICALLY (measured 17x wall at
    10x data with the default; +3 planes restored ~1x, see
    docs/SCALE.md).  Size it so n / 2^n_planes stays near the sf0.1
    default occupancy (~100-500 vectors per bucket), or pass
    ``n_planes=None`` to derive it from a ``count()`` via
    :func:`derive_n_planes` (explicit values keep gates deterministic
    without the extra job)."""
    if n_planes is None:
        n_planes = derive_n_planes(df.count())
    # bucket, quantized vector and norm are ALL map-side expressions
    # of the same row, so they ride ONE projection — the former
    # bucket⋈vector joins per leg re-scanned the corpus four times
    # and paid two broadcast builds for columns the row already had
    # (round 10, guide §2.4: q36 plan 4 scans + 2 joins → 2 scans)
    bucket = F.concat(*[F.expr(plane_expr_spark(p, dims))
                        for p in range(n_planes)])
    r = (df.select(F.col(id_col), quantize_expr(vec_col).alias("q"))
         .select(F.col(id_col), bucket.alias("bucket"),
                 F.col("q").alias("__v"))
         .withColumn("__n", F.expr(_NORM_SPARK.format(a="__v"))))
    a = r.select(F.col(id_col).alias("a_id"), "bucket",
                 F.col("__v").alias("va"), F.col("__n").alias("na"))
    bb = r.select(F.col(id_col).alias("b_id"), "bucket",
                  F.col("__v").alias("vb"), F.col("__n").alias("nb"))
    dot = _dot_pair_spark("va", "vb", dims)
    sim = f"floor({dot} / (na * nb) * 1000000) / 1000000"
    return (
        a.join(bb, "bucket")
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.expr(sim).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def near_dup_pairs_sql(table: str, threshold: float = 0.25, n_planes: int = 4,
                       dims: int = 64, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> str:
    dot = _DOT_DUCK.format(a="a.v", b="b.v")
    sim = f"floor({dot} / (a.nrm * b.nrm) * 1000000) / 1000000"
    norm = _NORM_DUCK.format(a="v")
    return f"""
WITH bk AS ({lsh_buckets_sql(table, n_planes, dims, id_col, vec_col)}),
vecs AS (SELECT {id_col} AS id, v, {norm} AS nrm
         FROM (SELECT {id_col}, {quantize_sql(vec_col)} AS v FROM {table})),
cand AS (
  SELECT x.{id_col} AS aid, y.{id_col} AS bid
  FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.{id_col} < y.{id_col}
)
SELECT aid AS a_id, bid AS b_id, {sim} AS cos_sim
FROM cand JOIN vecs a ON a.id = aid JOIN vecs b ON b.id = bid
WHERE {sim} >= {threshold}
"""


@_auto_unroll_args
def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5, n_planes: int = 8,
             dims: int = 64, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: exact cosine, but only within the query's LSH
    bucket — the candidate-pruned scale path.  Lower n_planes widens
    recall; production would probe neighboring buckets too."""
    from pyspark.sql import Window

    cb = lsh_buckets(corpus, n_planes, dims, id_col, vec_col).alias("cb")
    qb = lsh_buckets(queries, n_planes, dims, id_col, vec_col).alias("qb")
    c = corpus.select(
        F.col(id_col).alias("n_id"), quantize_expr(vec_col).alias("n_vec")
    ).withColumn("n_norm", F.expr(_NORM_SPARK.format(a="n_vec")))
    q = queries.select(
        F.col(id_col).alias("q_id"), quantize_expr(vec_col).alias("q_vec")
    ).withColumn("q_norm", F.expr(_NORM_SPARK.format(a="q_vec")))
    cand = (
        cb.join(qb, F.col(f"cb.bucket") == F.col(f"qb.bucket"))
        .select(F.col(f"qb.{id_col}").alias("q_id"), F.col(f"cb.{id_col}").alias("n_id"))
        .filter(F.col("q_id") != F.col("n_id"))
    )
    dot = _dot_pair_spark("q_vec", "n_vec", dims)
    sim = f"floor({dot} / (q_norm * n_norm) * 1000000) / 1000000"
    scored = (
        cand.join(q, "q_id").join(c, "n_id")
        .select("q_id", "n_id", F.expr(sim).alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("n_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(F.col("q_id").alias("query_id"), F.col("n_id").alias("neighbor_id"), "cos_sim")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: deterministic k-means coarse quantizer
# ---------------------------------------------------------------------------

#: batch size for the streaming training-sample read; memory during
#: sampling is O(sample + _SAMPLE_BATCH) rows regardless of corpus size.
_SAMPLE_BATCH = 8192


def _sample_vectors(parquet_path: str, sample: int, vec_col: str,
                    spark=None):
    """Bounded training-sample read: the ``sample`` rows with the
    smallest ``vec_id``, as a float64 ndarray in ascending vec_id order.

    Two paths, both selecting the identical rows (so every
    centroid/codebook bit is the same):

    - ``spark`` given: distributed ``orderBy(vec_id).limit(sample)`` —
      TakeOrderedAndProject, i.e. per-partition top-k on the executors
      with only k rows merged at the driver.  Both memory AND I/O are
      executor-parallel; this is the 100 TB path.
    - no ``spark``: stream the parquet dataset batch-by-batch keeping a
      running smallest-``sample`` set — driver memory O(sample+batch)
      rows, but the driver reads every batch (bounded memory, full
      column I/O).  Fine for local/offline training.

    (The pre-round-5 shape, ``pq.read_table(...)`` then argsort,
    materialized the entire embedding column driver-side; at 100 TB
    that OOMs before the sample is even taken.)"""
    import numpy as np

    if spark is not None:
        rows = (
            spark.read.parquet(parquet_path).select("vec_id", vec_col)
            .orderBy("vec_id").limit(sample).collect()
        )
        return np.array([r[vec_col] for r in rows], dtype=np.float64)

    import pyarrow.dataset as pads

    dset = pads.dataset(parquet_path)
    best_ids = np.empty(0, dtype=np.int64)
    best_vecs: list = []          # python refs; length capped at `sample`
    for batch in dset.to_batches(columns=["vec_id", vec_col],
                                 batch_size=_SAMPLE_BATCH):
        ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
        vecs = batch.column(vec_col).to_pylist()
        merged_ids = np.concatenate([best_ids, ids])
        order = np.argsort(merged_ids, kind="stable")[:sample]
        merged_vecs = best_vecs + vecs
        best_ids = merged_ids[order]
        best_vecs = [merged_vecs[i] for i in order]
    return np.array(best_vecs, dtype=np.float64)


def train_ivf_centroids(parquet_path: str, k: int = 8, iters: int = 5,
                        sample: int = 4096, vec_col: str = "embedding",
                        spark=None) -> list[tuple[list[int], float]]:
    """Deterministic spherical Lloyd k-means over a bounded sample —
    the IVF coarse quantizer, trained ONCE driver-side and shipped as
    literals into both dialects (same rules-as-data pattern as the LSH
    plane matrices).

    Determinism: init = first k vectors in vec_id order, fixed
    iteration count, argmax ties to the lowest centroid index, float64
    throughout; the result quantizes to fixed-point ints so
    cross-engine assignment is integer-exact.  Returns
    ``[(components_int, norm_float), ...]``."""
    import numpy as np

    X = _sample_vectors(parquet_path, sample, vec_col, spark)
    X = np.round(X * _SCALE)                      # same quantization as queries
    norms = np.linalg.norm(X, axis=1)
    norms[norms == 0] = 1.0
    U = X / norms[:, None]                        # unit sphere
    C = U[:k].copy()
    for _ in range(iters):
        scores = U @ C.T                          # cosine vs unit-ish centroids
        assign = np.argmax(scores, axis=1)        # ties -> lowest index
        for j in range(k):
            members = U[assign == j]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    C[j] = m / n
    out = []
    for j in range(k):
        comps = [int(v) for v in np.round(C[j] * _SCALE)]
        norm = float(np.linalg.norm(np.array(comps, dtype=np.float64)))
        out.append((comps, norm if norm > 0 else 1.0))
    return out


def _ivf_scores_spark(cents: list[tuple[list[int], float]], vec: str = "q") -> str:
    scores = []
    for comps, norm in cents:
        if _unroll():
            dot = "(" + " + ".join(
                f"element_at({vec}, {i + 1}) * {c}D"
                for i, c in enumerate(comps)) + ")"
        else:
            arr = ", ".join(f"{c}D" for c in comps)
            dot = (f"aggregate(zip_with({vec}, array({arr}),"
                   f" (x, c) -> x * c), 0D, (a, v) -> a + v)")
        scores.append(f"{dot} / {norm!r}D")
    return "array(" + ", ".join(scores) + ")"


def _ivf_scores_duck(cents: list[tuple[list[int], float]], vec: str = "v") -> str:
    scores = []
    for comps, norm in cents:
        arr = ", ".join(f"CAST({c} AS DOUBLE)" for c in comps)
        dot = f"list_sum(list_transform(list_zip({vec}, [{arr}]), p -> p[1] * p[2]))"
        scores.append(f"{dot} / {norm!r}")
    return "[" + ", ".join(scores) + "]"


@_auto_unroll_args
def ivf_assign(df: DataFrame, cents: list[tuple[list[int], float]],
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Vector -> nearest-centroid cluster id (map-side, no shuffle):
    integer-exact dots, first-position argmax, 0-based."""
    scores = _ivf_scores_spark(cents)
    cluster = f"array_position({scores}, array_max({scores})) - 1"
    return df.select(
        F.col(id_col), quantize_expr(vec_col).alias("q")
    ).select(F.col(id_col), F.expr(cluster).cast("bigint").alias("cluster"))


def ivf_assign_sql(table: str, cents: list[tuple[list[int], float]],
                   id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    scores = _ivf_scores_duck(cents)
    cluster = f"list_position({scores}, list_max({scores})) - 1"
    return f"""
SELECT {id_col}, CAST({cluster} AS BIGINT) AS cluster
FROM (SELECT {id_col}, {quantize_sql(vec_col)} AS v FROM {table})
"""


def ivf_topk(corpus: DataFrame, queries: DataFrame,
             cents: list[tuple[list[int], float]], k: int = 5, nprobe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF approximate top-k: assign the corpus to clusters, probe each
    query's ``nprobe`` best clusters, exact fixed-point cosine within
    the probed partitions only — the data-adaptive scale path next to
    :func:`lsh_topk` (corpus scan per query drops from O(n) to
    O(n * nprobe / n_cells); ``nprobe = n_cells`` degenerates to the
    exact baseline).

    SCALE RULE (same family as near_dup_pairs' plane count): per-query
    probe cost is n * nprobe / n_cells, so with FIXED cells a 10x
    corpus costs 10x per query — grow ``n_cells`` ~ sqrt(n) (the
    standard IVF sizing) to split growth between cell count and cell
    occupancy; the centroid table stays a driver-side literal at any
    realistic cell count."""
    return ivf_topk_from_index(
        ivf_index_build(corpus, cents, None, id_col, vec_col),
        queries, cents, k, nprobe, id_col, vec_col)


@_auto_unroll_args
def ivf_index_build(corpus: DataFrame,
                    cents: list[tuple[list[int], float]],
                    books: list[list[list[int]]] | None = None,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """The IVF(+PQ) index AS A RELATION: (id, cluster, q, norm[,
    codes]) — the corpus with quantization, cell assignment, norm,
    and (when ``books`` is given) PQ codes materialized ONCE, so
    probe-time queries skip every per-corpus-row encode.  Persist it
    ``.write.partitionBy("cluster").parquet(path)`` and a serving
    read that filters ``cluster IN (<literal probe cells>)`` is a
    statically partition-pruned scan (literal IN over the
    driver-known probe list — the same guaranteed-pruning choice as
    active_days_merge; a join-based probe would depend on DPP
    heuristics that decline on small builds).

    One relation answers BOTH ranking modes: :func:`
    ivf_topk_from_index` (exact fixed-point cosine over q/norm) and
    :func:`ivf_pq_topk_from_index` (ADC over codes).  Maintain it
    incrementally with :func:`ivf_index_append`; monitor drift with
    :func:`ivf_index_stats`.

    ONE map-side select: every index column (quantized vector, norm,
    argmax cell, PQ codes) is an expression of the same row, so the
    build quantizes once and shuffles nothing — the join-per-column
    formulation paid 2-3 corpus-wide shuffles and re-quantized per
    leg.

    ``own_ppm`` (round 11, guide §1.2): the row's own-centroid cosine
    (ppm, floored) — element_at(scores, cluster+1) IS array_max, both
    already computed for the cell argmax, so the column is one extra
    division at encode time.  It makes :func:`ivf_index_stats` (the
    drift monitor) a narrow-column aggregate instead of re-scoring
    every index row against every centroid per health check, and
    lets the ANN store accumulate per-segment stats in the write job
    itself.  Consumers that don't read it prune it at the scan."""
    from dbms_spark.plans.parallelism import ensure_parallelism

    scores = _ivf_scores_spark(cents, vec="q")
    # the k-centroid score array is materialized ONCE as an
    # intermediate column: it is referenced three times (argmax
    # position, argmax value, own cosine), and neither CollapseProject
    # (non-cheap expression, >1 reference) nor codegen subexpression
    # elimination re-duplicates it — measured 0.65 -> 1.0 s on the
    # sf0.1 full encode when own_ppm recomputed the kernel instead
    cluster = ("CAST(array_position(__sc, array_max(__sc)) - 1"
               " AS BIGINT)")
    # identical formula to the stats path's __own (element_at at the
    # argmax position equals array_max even on score ties, because
    # array_position picks the first maximum); norm is referenced as
    # the materialized column for the same no-recompute reason; a
    # zero-norm vector has no cosine, so its own_ppm is NULL (plain
    # division raises under ANSI mode)
    own = "CAST(floor(try_divide(array_max(__sc), norm) * 1000000) AS BIGINT)"
    cols = [F.col(id_col), F.col("q"), F.col("norm"),
            F.expr(cluster).alias("cluster"),
            F.expr(own).alias("own_ppm")]
    if books is not None:
        cols.append(F.expr(_pq_codes_expr(books)).alias("codes"))
    # parallelism guard BEFORE the per-row encode (round 10, guide
    # §2.5/§1.2): the cell-assignment + PQ-code expressions are the
    # expensive per-row work of the whole IVF family, and a small
    # parquet scan arrives in only a couple of splits — the q302 gate
    # measured its entire encode+ADC pipeline on 2 of 32 cores.
    # Hash-partitioning on the id (uniform, deterministic) spreads
    # the encode; on an already-parallel scan the guard no-ops.
    src = ensure_parallelism(
        corpus.select(F.col(id_col), F.col(vec_col)), keys=[id_col])
    return (src.select(F.col(id_col), quantize_expr(vec_col).alias("q"))
            .select(F.col(id_col), F.col("q"),
                    F.expr(scores).alias("__sc"),
                    F.expr(_NORM_SPARK.format(a="q")).alias("norm"))
            .select(*cols))


def ivf_index_append(index: DataFrame, new_df: DataFrame,
                     cents: list[tuple[list[int], float]],
                     books: list[list[list[int]]] | None = None,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     guard: str = "anti") -> DataFrame:
    """Incremental intake for the IVF(+PQ) index — the ledger
    ``*_between`` pattern (duplicate_passages_between, q210) applied
    to vector search: ONLY the batch is quantized, assigned and
    encoded, against the SAME frozen centroids/codebooks the index
    was built with, then appended; the persisted corpus rows are
    never re-encoded.  The expensive half (encode) is O(batch).

    ``guard`` is the redelivery policy — what keeps an id already in
    the index from appending twice:

    - ``"anti"`` (default): left-anti against the full index id
      column.  Exact under ARBITRARY duplicate ids, but NOT O(batch):
      LeftAnti builds its hash table over the index side, so every
      append scans and shuffles the whole id column — O(index), fine
      for one-shot DataFrame composition (the q301/q302 shape), wrong
      for a nightly intake loop at 10⁹ vectors.
    - ``"none"``: no id guard; the caller owns dedup.  This is the
      O(batch) path — :class:`dbms_spark.llm.ann_store.AnnIndexStore`
      uses it because its manifest WATERMARK already makes a
      redelivered batch a no-op before any job runs (the obsolete-
      message skip, message/tidb/consumer.go:446-448), the same
      pointer pattern as the streaming ledgers.

    FROZEN-QUANTIZER CONTRACT + DRIFT RE-TRAIN TRIGGER: appends keep
    the index exactly equal to a full rebuild with the same
    centroids (gates q301/q302 pin top-k identity), but the
    centroids themselves age as the distribution drifts — recall
    decays silently because drifted vectors still assign SOMEWHERE.
    Retrain (and rebuild, a one-shot full-scan job) when
    :func:`ivf_index_stats` shows either (a) the appended batch's
    mean own-centroid cosine dropping below the build-time baseline
    minus a tolerance (default guidance: 5 percentage points), or
    (b) cell-occupancy skew max/mean exceeding ~4 — drifting data
    funnels into few cells, degrading probe pruning toward a full
    scan.  Both statistics are O(index) map-side aggregates; the
    baseline is the stats output at build time, stored beside the
    index."""
    fresh = ivf_index_build(new_df, cents, books, id_col, vec_col)
    if guard == "anti":
        fresh = fresh.join(index.select(id_col), id_col, "left_anti")
    elif guard != "none":
        raise ValueError(f"unknown guard {guard!r}")
    return index.unionByName(fresh)


@_auto_unroll_args
def ivf_index_stats(index: DataFrame,
                    cents: list[tuple[list[int], float]],
                    id_col: str = "vec_id") -> DataFrame:
    """Per-cell index health: (cluster, n_vecs, mean_own_cos_ppm) —
    occupancy plus the mean cosine of each vector to ITS OWN
    centroid, floor-quantized per vector at 6 dp then averaged and
    floored to ppm (deterministic).  Feeds the drift re-train
    trigger documented in :func:`ivf_index_append`.

    When the index carries the build-time ``own_ppm`` column (round
    11), the per-row re-scoring is skipped entirely — the health
    check becomes a two-column scan + aggregate instead of an
    O(rows x cells x dims) score kernel; the stored value is the
    same expression evaluated at encode time over the same frozen
    q/norm/cluster, so the output is bit-identical."""
    if "own_ppm" in index.columns:
        return (index
                .select("cluster", F.col("own_ppm").alias("__own"))
                .groupBy("cluster")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
                     F.floor(F.avg("__own")).cast("bigint")
                     .alias("mean_own_cos_ppm"))
                .orderBy("cluster"))
    scores = _ivf_scores_spark(cents, vec="q")
    own = (f"floor(try_divide(element_at({scores}, CAST(cluster AS INT) + 1),"
           f" norm) * 1000000)")
    return (index
            .select("cluster", F.expr(own).alias("__own"))
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
                 F.floor(F.avg("__own")).cast("bigint")
                 .alias("mean_own_cos_ppm"))
            .orderBy("cluster"))


def ivf_probe_cells(queries: DataFrame,
                    cents: list[tuple[list[int], float]],
                    nprobe: int = 2,
                    vec_col: str = "embedding") -> list[int]:
    """Driver-side UNION of a query batch's probe cells — bounded by
    the cell count regardless of query volume, so it is safe to
    collect and feed back as a LITERAL ``cluster IN (...)`` filter on
    a ``partitionBy("cluster")``-persisted index read: a literal
    filter is a STATIC partition filter (guaranteed pruning,
    machine-checked in tests), where a join-based probe would depend
    on dynamic-partition-pruning heuristics that measurably decline
    to fire on small builds (the active_days_merge rule)."""
    scores = _ivf_scores_spark(cents, vec="q_vec")
    probes = (
        f"transform(slice(array_sort(zip_with({scores}, "
        f"sequence(0, {len(cents) - 1}), (s, i) -> struct(-s AS s, i AS i))), "
        f"1, {nprobe}), x -> cast(x.i AS bigint))"
    )
    rows = (queries.select(quantize_expr(vec_col).alias("q_vec"))
            .select(F.explode(F.expr(probes)).alias("cluster"))
            .distinct().collect())
    return sorted(r["cluster"] for r in rows)


@_auto_unroll_args
def ivf_topk_from_index(index: DataFrame, queries: DataFrame,
                        cents: list[tuple[list[int], float]],
                        k: int = 5, nprobe: int = 2,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """:func:`ivf_topk`'s probe kernel over a prebuilt/maintained
    index relation — the serving path: nprobe best cells per query,
    exact fixed-point cosine within them, top-k.  The corpus side
    comes entirely from the index (q/norm/cluster materialized at
    build/append time)."""
    from pyspark.sql import Window

    c = index.select(F.col(id_col).alias("n_id"), "cluster",
                     F.col("q").alias("n_vec"),
                     F.col("norm").alias("n_norm"))
    scores = _ivf_scores_spark(cents, vec="q_vec")
    # nprobe best cells: sort (-score, idx) structs -> first positions;
    # tie-break to the lower index matches list_sort in the twin
    probes = (
        f"transform(slice(array_sort(zip_with({scores}, "
        f"sequence(0, {len(cents) - 1}), (s, i) -> struct(-s AS s, i AS i))), "
        f"1, {nprobe}), x -> cast(x.i AS bigint))"
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), quantize_expr(vec_col).alias("q_vec")
    ).withColumn("q_norm", F.expr(_NORM_SPARK.format(a="q_vec"))).withColumn(
        "cluster", F.explode(F.expr(probes))
    )
    dot = _dot_pair_spark("q_vec", "n_vec", len(cents[0][0]))
    sim = f"floor({dot} / (q_norm * n_norm) * 1000000) / 1000000"
    scored = (
        q.join(c, "cluster")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", F.expr(sim).alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("n_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(F.col("q_id").alias("query_id"), F.col("n_id").alias("neighbor_id"), "cos_sim")
    )


def ivf_topk_sql(table: str, query_filter: str,
                 cents: list[tuple[list[int], float]], k: int = 5, nprobe: int = 2,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    scores = _ivf_scores_duck(cents, vec="v")
    probes = (
        f"list_transform(list_sort(list_transform(list_zip({scores}, "
        f"range(0, {len(cents)})), p -> {{'s': -p[1], 'i': p[2]}})), "
        f"x -> CAST(x.i AS BIGINT))[1:{nprobe}]"
    )
    norm = _NORM_DUCK.format(a="v")
    dot = _DOT_DUCK.format(a="q.v", b="c.v")
    sim = f"floor({dot} / (q.nrm * c.nrm) * 1000000) / 1000000"
    assign = ivf_assign_sql(table, cents, id_col, vec_col)
    return f"""
WITH vecs AS (SELECT {id_col} AS id, v, {norm} AS nrm
              FROM (SELECT {id_col}, {quantize_sql(vec_col)} AS v FROM {table})),
assigned AS ({assign}),
c AS (SELECT vecs.*, assigned.cluster FROM vecs JOIN assigned ON vecs.id = assigned.{id_col}),
q0 AS (SELECT id, v, nrm FROM vecs WHERE {query_filter}),
qprobe AS (
  SELECT id, v, nrm, unnest({probes}) AS cluster FROM q0
),
scored AS (
  SELECT q.id AS query_id, c.id AS neighbor_id, {sim} AS cos_sim
  FROM qprobe q JOIN c ON q.cluster = c.cluster
  WHERE q.id <> c.id
)
SELECT query_id, neighbor_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# Per-label centroids (clustering / class-prototype support op)
# ---------------------------------------------------------------------------

def label_centroids(df: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding") -> DataFrame:
    """Element-wise vector sums per label — the building block of
    k-means updates, class prototypes, and per-cluster statistics.

    Output: (label, pos, sum_q, n) with ``sum_q`` the fixed-point
    quantized component sum (exact, order-independent — same trick as
    :func:`cosine_topk`); centroid component = sum_q / scale / n.

    Scale shape: posexplode is map-side, the (label, pos) groupBy
    partial-aggregates before the shuffle, so the shuffle carries
    labels x dims rows — independent of corpus size."""
    from dbms_spark.plans.parallelism import ensure_parallelism

    d = ensure_parallelism(df)
    return (
        d.select(
            F.col(label_col).alias("label"),
            F.posexplode(F.expr(
                f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * {_SCALE}) AS BIGINT))"
            )).alias("pos", "vq"),
        )
        .groupBy("label", "pos")
        .agg(F.sum("vq").alias("sum_q"), F.count(F.lit(1)).alias("n"))
        .select("label", F.col("pos").cast("bigint").alias("pos"), "sum_q", "n")
    )


def label_centroids_sql(table: str = "embeddings", label_col: str = "label",
                        vec_col: str = "embedding") -> str:
    return f"""
WITH e AS (
  SELECT {label_col} AS label,
         unnest(list_transform({vec_col},
                (x, i) -> {{'p': i - 1, 'v': CAST(floor(CAST(x AS DOUBLE) * {_SCALE}) AS BIGINT)}})) AS u
  FROM {table}
)
SELECT label, CAST(u.p AS BIGINT) AS pos,
       CAST(SUM(u.v) AS BIGINT) AS sum_q,  -- duck SUM(BIGINT)->HUGEINT->float64 in .df()
       COUNT(*) AS n
FROM e GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC):
# the compressed-domain ANN path.  At 100 TB the corpus vectors cannot
# all hold raw floats in memory; PQ stores m small codes per vector
# (here m bytes) and scans them against a per-query distance table —
# the IVF-PQ half the IVF coarse quantizer (q51) composes with.
# ---------------------------------------------------------------------------

def train_pq_codebooks(parquet_path: str, m: int = 8, ksub: int = 16,
                       iters: int = 5, sample: int = 4096,
                       vec_col: str = "embedding",
                       spark=None) -> list[list[list[int]]]:
    """Deterministic per-subspace Lloyd k-means (plain L2, not
    spherical) over a bounded sample — ``m`` codebooks of ``ksub``
    centroids each, trained ONCE driver-side and shipped as literals
    into both dialects (the rules-as-data pattern of the LSH planes and
    IVF centroids).  Vectors quantize to fixed-point ints first, and
    centroids round to ints, so encode/ADC arithmetic is integer-exact
    cross-engine.  Returns ``books[j][c] = component list``."""
    import numpy as np

    X = _sample_vectors(parquet_path, sample, vec_col, spark)
    X = np.round(X * _SCALE)
    dims = X.shape[1]
    if dims % m:
        raise ValueError(f"dims {dims} not divisible by m {m}")
    d = dims // m
    books: list[list[list[int]]] = []
    for j in range(m):
        S = X[:, j * d:(j + 1) * d]
        C = S[:ksub].copy()
        for _ in range(iters):
            # pairwise squared L2; argmin ties -> lowest centroid index
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(ksub):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books.append([[int(v) for v in np.round(C[c])] for c in range(ksub)])
    return books


def _pq_dist_spark(vec: str, base: int, comps: list[int]) -> str:
    """Squared L2 of ``vec[base .. base+d-1]`` (1-based) vs a literal
    centroid — unrolled under SPARK_GRAFT_ANN_UNROLL (see
    :func:`_unroll`), the HOF fold otherwise; identical FP order."""
    if _unroll():
        terms = [f"(element_at({vec}, {base + t}) - {c}D)"
                 f" * (element_at({vec}, {base + t}) - {c}D)"
                 for t, c in enumerate(comps)]
        return "(" + " + ".join(terms) + ")"
    arr = ", ".join(f"{c}D" for c in comps)
    return (f"aggregate(zip_with(slice({vec}, {base}, {len(comps)}),"
            f" array({arr}), (x, c) -> (x - c) * (x - c)),"
            f" 0D, (a, v) -> a + v)")


def _pq_dist_duck(sub: str, comps: list[int]) -> str:
    arr = ", ".join(f"CAST({c} AS DOUBLE)" for c in comps)
    return (f"list_sum(list_transform(list_zip({sub}, [{arr}]), "
            f"p -> (p[1] - p[2]) * (p[1] - p[2])))")


def _pq_codes_expr(books: list[list[list[int]]], vec: str = "q") -> str:
    """The m-nearest-subspace-centroid codes as ONE expression over an
    already-quantized vector column — shared by the standalone encode
    and the single-select index build."""
    m = len(books)
    d = len(books[0][0])
    code_exprs = []
    for j in range(m):
        dists = "array(" + ", ".join(
            _pq_dist_spark(vec, j * d + 1, c) for c in books[j]) + ")"
        code_exprs.append(f"CAST(array_position({dists}, array_min({dists})) - 1 AS BIGINT)")
    return "array(" + ", ".join(code_exprs) + ")"


@_auto_unroll_args
def pq_encode(df: DataFrame, books: list[list[list[int]]],
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Vector -> m nearest-centroid codes (map-side, no shuffle on
    an already-parallel scan).  Output (id, codes array<bigint>) —
    the compressed corpus representation ADC scans."""
    from dbms_spark.plans.parallelism import ensure_parallelism

    # same encode parallelism guard as ivf_index_build (round 10):
    # the per-row code selection is the family's expensive work and a
    # small scan arrives in a couple of splits; no-op when parallel
    src = ensure_parallelism(
        df.select(F.col(id_col), F.col(vec_col)), keys=[id_col])
    return (
        src.select(F.col(id_col), quantize_expr(vec_col).alias("q"))
        .select(F.col(id_col), F.expr(_pq_codes_expr(books)).alias("codes"))
    )


def pq_encode_sql(table: str, books: list[list[list[int]]],
                  id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    m = len(books)
    d = len(books[0][0])
    code_exprs = []
    for j in range(m):
        sub = f"v[{j * d + 1}:{j * d + d}]"
        dists = "[" + ", ".join(_pq_dist_duck(sub, c) for c in books[j]) + "]"
        code_exprs.append(f"CAST(list_position({dists}, list_min({dists})) - 1 AS BIGINT)")
    codes = "[" + ", ".join(code_exprs) + "]"
    return f"""
SELECT {id_col}, {codes} AS codes
FROM (SELECT {id_col}, {quantize_sql(vec_col)} AS v FROM {table})
"""


def _adc_sum_spark(m: int) -> str:
    """ADC distance as a FLAT m-term sum: the aggregate(sequence(0,
    m-1), ...) fold computes the identical value but interpreted, m
    lambda evaluations per (code, query) PAIR — the scan's inner
    loop.  m is a small literal (len(books), typically 8), so the
    unrolled tree is tiny: always-on, no crossover needed (round 10,
    guide §4).  Left-associative + preserves the fold's FP order, and
    distances are non-negative so the fold's 0D seed is exact."""
    terms = " + ".join(
        f"dtab[{j}][CAST(codes[{j}] AS INT)]" for j in range(m))
    return f"CAST(({terms}) AS BIGINT)"


@_auto_unroll_args
def pq_adc_topk(corpus: DataFrame, queries: DataFrame,
                books: list[list[list[int]]], k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k by asymmetric distance: corpus scanned in
    compressed (code) form, each query carrying its m x ksub distance
    table; per-pair cost is m table lookups instead of a dims-long dot
    product.  All distances are integer-valued doubles < 2^53, so the
    ranking is bit-identical cross-engine.  Output
    (query_id, neighbor_id, adc_dist BIGINT), ascending distance,
    ties -> lower neighbor id."""
    from pyspark.sql import Window

    m = len(books)
    d = len(books[0][0])
    codes = pq_encode(corpus, books, id_col, vec_col) \
        .select(F.col(id_col).alias("n_id"), "codes")
    dtab_exprs = []
    for j in range(m):
        dtab_exprs.append("array(" + ", ".join(
            _pq_dist_spark("q", j * d + 1, c) for c in books[j]) + ")")
    dtab = "array(" + ", ".join(dtab_exprs) + ")"
    q = (
        queries.select(F.col(id_col).alias("q_id"), quantize_expr(vec_col).alias("q"))
        .select("q_id", F.expr(dtab).alias("dtab"))
    )
    adc = _adc_sum_spark(m)
    scored = (
        codes.join(F.broadcast(q))
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", F.expr(adc).alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("n_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(F.col("q_id").alias("query_id"), F.col("n_id").alias("neighbor_id"),
                "adc_dist")
    )


def pq_adc_topk_sql(table: str, query_filter: str,
                    books: list[list[list[int]]], k: int = 5,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    m = len(books)
    d = len(books[0][0])
    dtab_exprs = []
    for j in range(m):
        sub = f"v[{j * d + 1}:{j * d + d}]"
        dtab_exprs.append("[" + ", ".join(_pq_dist_duck(sub, c) for c in books[j]) + "]")
    dtab = "[" + ", ".join(dtab_exprs) + "]"
    adc = (f"CAST(list_sum(list_transform(range(0, {m}), "
           f"j -> dtab[j + 1][CAST(codes[j + 1] AS BIGINT) + 1])) AS BIGINT)")
    return f"""
WITH enc AS ({pq_encode_sql(table, books, id_col, vec_col)}),
q AS (SELECT {id_col} AS q_id, {dtab} AS dtab
      FROM (SELECT {id_col}, {quantize_sql(vec_col)} AS v FROM {table})
      WHERE {query_filter}),
scored AS (
  SELECT q.q_id AS query_id, enc.{id_col} AS neighbor_id, {adc} AS adc_dist
  FROM enc CROSS JOIN q WHERE q.q_id <> enc.{id_col}
)
SELECT query_id, neighbor_id, adc_dist FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn
  FROM scored
) WHERE rn <= {k}
"""


def ivf_pq_topk(corpus: DataFrame, queries: DataFrame,
                cents: list[tuple[list[int], float]],
                books: list[list[list[int]]], k: int = 5, nprobe: int = 2,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ: the full ANN architecture — IVF coarse cells prune the
    corpus to ``nprobe`` partitions per query (q51's quantizer), and
    within them the scan runs in PQ-compressed form via the per-query
    ADC table (q81's scan).  Cost per query drops from O(n * dims)
    to O(n * nprobe / n_cells * m) table lookups, and the scanned
    corpus state is m codes per vector instead of dims floats —
    both reductions are what make 100 TB-scale vector search fit
    executor memory."""
    return ivf_pq_topk_from_index(
        ivf_index_build(corpus, cents, books, id_col, vec_col),
        queries, cents, books, k, nprobe, id_col, vec_col)


@_auto_unroll_args
def ivf_pq_topk_from_index(index: DataFrame, queries: DataFrame,
                           cents: list[tuple[list[int], float]],
                           books: list[list[list[int]]], k: int = 5,
                           nprobe: int = 2, id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """:func:`ivf_pq_topk`'s probe kernel over a prebuilt/maintained
    index relation (built WITH ``books`` so the codes column exists):
    nprobe cells per query, ADC table lookups within them — the
    compressed serving path of the same index that answers
    :func:`ivf_topk_from_index` exactly."""
    from pyspark.sql import Window

    m = len(books)
    d = len(books[0][0])
    c = index.select(F.col(id_col).alias("n_id"), "cluster", "codes")
    dtab_exprs = []
    for j in range(m):
        dtab_exprs.append("array(" + ", ".join(
            _pq_dist_spark("q", j * d + 1, cb) for cb in books[j]) + ")")
    dtab = "array(" + ", ".join(dtab_exprs) + ")"
    scores = _ivf_scores_spark(cents, vec="q")
    probes = (
        f"transform(slice(array_sort(zip_with({scores}, "
        f"sequence(0, {len(cents) - 1}), (s, i) -> struct(-s AS s, i AS i))), "
        f"1, {nprobe}), x -> cast(x.i AS bigint))"
    )
    q = (
        queries.select(F.col(id_col).alias("q_id"), quantize_expr(vec_col).alias("q"))
        .select("q_id", F.expr(dtab).alias("dtab"), F.explode(F.expr(probes)).alias("cluster"))
    )
    adc = _adc_sum_spark(m)
    scored = (
        q.join(c, "cluster")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", F.expr(adc).alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("n_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(F.col("q_id").alias("query_id"), F.col("n_id").alias("neighbor_id"),
                "adc_dist")
    )


def ivf_pq_topk_sql(table: str, query_filter: str,
                    cents: list[tuple[list[int], float]],
                    books: list[list[list[int]]], k: int = 5, nprobe: int = 2,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    m = len(books)
    d = len(books[0][0])
    dtab_exprs = []
    for j in range(m):
        sub = f"v[{j * d + 1}:{j * d + d}]"
        dtab_exprs.append("[" + ", ".join(_pq_dist_duck(sub, cb) for cb in books[j]) + "]")
    dtab = "[" + ", ".join(dtab_exprs) + "]"
    scores = _ivf_scores_duck(cents, vec="v")
    probes = (
        f"list_transform(list_sort(list_transform(list_zip({scores}, "
        f"range(0, {len(cents)})), p -> {{'s': -p[1], 'i': p[2]}})), "
        f"x -> CAST(x.i AS BIGINT))[1:{nprobe}]"
    )
    adc = (f"CAST(list_sum(list_transform(range(0, {m}), "
           f"j -> dtab[j + 1][CAST(codes[j + 1] AS BIGINT) + 1])) AS BIGINT)")
    return f"""
WITH enc AS ({pq_encode_sql(table, books, id_col, vec_col)}),
assigned AS ({ivf_assign_sql(table, cents, id_col, vec_col)}),
c AS (SELECT enc.{id_col} AS n_id, enc.codes, assigned.cluster
      FROM enc JOIN assigned ON enc.{id_col} = assigned.{id_col}),
q0 AS (SELECT {id_col} AS q_id, {dtab} AS dtab, {probes} AS pr
       FROM (SELECT {id_col}, {quantize_sql(vec_col)} AS v FROM {table})
       WHERE {query_filter}),
qprobe AS (SELECT q_id, dtab, unnest(pr) AS cluster FROM q0),
scored AS (
  SELECT q.q_id AS query_id, c.n_id AS neighbor_id, {adc} AS adc_dist
  FROM qprobe q JOIN c ON q.cluster = c.cluster
  WHERE q.q_id <> c.n_id
)
SELECT query_id, neighbor_id, adc_dist FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn
  FROM scored
) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# Random projection (Johnson-Lindenstrauss): the dimension-reduction
# scale path — project 64-dim vectors to a few dims with a
# deterministic md5-derived matrix before clustering/ANN, shrinking
# every downstream dot product and shuffle payload.
# ---------------------------------------------------------------------------

def random_projection_expr(out_dims: int, in_dims: int, vec: str = "q") -> str:
    """Projected vector expression (Spark SQL): out[i] = <vec, R_i>
    with R_i the md5-derived plane ``i`` (reuses the LSH plane
    family).  Inputs are fixed-point ints and plane components are
    ints, so every component is integer-exact cross-engine."""
    comps = []
    for i in range(out_dims):
        arr = ", ".join(f"{c}D" for c in plane_components(1000 + i, in_dims))
        comps.append(
            f"aggregate(zip_with({vec}, array({arr}), (x, p) -> x * p), 0D, (a, v) -> a + v)")
    return "array(" + ", ".join(comps) + ")"


def random_projection_sql_expr(out_dims: int, in_dims: int, vec: str = "v") -> str:
    comps = []
    for i in range(out_dims):
        arr = ", ".join(f"CAST({c} AS DOUBLE)" for c in plane_components(1000 + i, in_dims))
        comps.append(
            f"list_sum(list_transform(list_zip({vec}, [{arr}]), p -> p[1] * p[2]))")
    return "[" + ", ".join(comps) + "]"


def project_vectors(df: DataFrame, out_dims: int = 16, in_dims: int = 64,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, proj array<double>) — map-side only."""
    return (
        df.select(F.col(id_col), quantize_expr(vec_col).alias("q"))
        .select(F.col(id_col),
                F.expr(random_projection_expr(out_dims, in_dims)).alias("proj"))
    )


@_auto_unroll_args
def projected_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                   out_dims: int = 16, in_dims: int = 64,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Top-k by cosine in the PROJECTED space — every pair costs
    out_dims multiplies instead of in_dims, and the corpus state
    shuffled/broadcast downstream is out_dims/in_dims the size.  JL
    preserves angles approximately, so the projected ranking is the
    candidate-generation stage a full-precision re-rank refines."""
    from pyspark.sql import Window

    c = project_vectors(corpus, out_dims, in_dims, id_col, vec_col).select(
        F.col(id_col).alias("n_id"), F.col("proj").alias("n_vec"))
    c = c.withColumn("n_norm", F.expr(_NORM_SPARK.format(a="n_vec")))
    q = project_vectors(queries, out_dims, in_dims, id_col, vec_col).select(
        F.col(id_col).alias("q_id"), F.col("proj").alias("q_vec"))
    q = q.withColumn("q_norm", F.expr(_NORM_SPARK.format(a="q_vec")))
    dot = _dot_pair_spark("q_vec", "n_vec", out_dims)
    sim = f"floor({dot} / (q_norm * n_norm) * 1000000) / 1000000"
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", F.expr(sim).alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("n_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(F.col("q_id").alias("query_id"), F.col("n_id").alias("neighbor_id"), "cos_sim")
    )


def projected_topk_sql(table: str, query_filter: str, k: int = 5,
                       out_dims: int = 16, in_dims: int = 64,
                       id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    proj = random_projection_sql_expr(out_dims, in_dims)
    norm = _NORM_DUCK.format(a="proj")
    dot = _DOT_DUCK.format(a="q.proj", b="c.proj")
    sim = f"floor({dot} / (q.nrm * c.nrm) * 1000000) / 1000000"
    return f"""
WITH pv AS (SELECT {id_col} AS id, proj, {norm} AS nrm
            FROM (SELECT {id_col}, {proj} AS proj
                  FROM (SELECT {id_col}, {quantize_sql(vec_col)} AS v FROM {table}))),
q AS (SELECT id, proj, nrm FROM pv WHERE {query_filter}),
scored AS (
  SELECT q.id AS query_id, c.id AS neighbor_id, {sim} AS cos_sim
  FROM pv c CROSS JOIN q WHERE q.id <> c.id
)
SELECT query_id, neighbor_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# Benchmark decontamination by embedding similarity — the semantic
# counterpart of text.decontaminate (n-gram overlap) and
# text.bloom_contamination_check (exact shingles): a train document is
# contaminated when some bench document's embedding is within a cosine
# threshold, catching paraphrases and translations that share no
# n-grams with the eval set.
#
# Scale shape: bench sets are small (10^3-10^5 rows) and the train
# side is the 100 TB one, so the bench relation is BROADCAST and the
# per-pair relation never shuffles raw text or vectors — the only
# shuffle is the partial-aggregated groupBy(train_id) over one BIGINT
# per surviving pair.  The argmax (nearest bench doc) rides the same
# aggregate via an integer encoding instead of a window: a window
# would sort-shuffle all |train| x |bench| scored rows; max() of
# (cos, -bench_id) packed into one BIGINT is map-side combinable.
# ---------------------------------------------------------------------------

_ENC_SHIFT = 1 << 40   # bench-id field width in the packed argmax key
_ENC_BASE = 2_000_000  # offset keeping every packed key positive


def embedding_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    threshold: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per train doc: (train_id, max_cos, nearest_bench_id,
    contaminated).  max_cos is floor-quantized at 6 dp (same
    fixed-point trick as cosine_topk, so cross-engine exact); ties on
    max_cos resolve to the SMALLEST bench id.  Bench ids must be
    non-negative and < 2^40 (packed-key encoding).  The bench side is
    broadcast by design (eval sets are 10^3-10^5 rows); for a bench
    set past broadcast size, bucket BOTH sides with lsh_buckets and
    run this per bucket (the near_dup_pairs shape) instead.
    Reference parity: the reference has no semantic analogue — this is
    head-room the Spark engine adds beside text.decontaminate."""
    t = train.select(
        F.col(id_col).alias("t_id"), quantize_expr(vec_col).alias("t_vec")
    ).withColumn("t_norm", F.expr(_NORM_SPARK.format(a="t_vec")))
    b = bench.select(
        F.col(id_col).alias("b_id"), quantize_expr(vec_col).alias("b_vec")
    ).withColumn("b_norm", F.expr(_NORM_SPARK.format(a="b_vec")))
    dot = _DOT_SPARK.format(a="t_vec", b="b_vec")
    # integer micro-cosine in [-1e6, 1e6]; packed key is positive and
    # < 3e6 * 2^40 ~ 3.3e18, inside BIGINT
    cos_u = f"CAST(floor({dot} / (t_norm * b_norm) * 1000000) AS BIGINT)"
    pair = (
        t.crossJoin(F.broadcast(b))
        .select("t_id",
                F.expr(f"({cos_u} + {_ENC_BASE}) * {_ENC_SHIFT} - b_id")
                .alias("mkey"))
    )
    agg = pair.groupBy("t_id").agg(F.max("mkey").alias("mkey"))
    # decode: ceil-div of a positive key recovers the cos field even
    # though b_id was subtracted (b_id < shift)
    cos_q = f"((mkey + {_ENC_SHIFT - 1}) DIV {_ENC_SHIFT} - {_ENC_BASE})"
    thr_u = int(round(threshold * 1_000_000))
    return agg.select(
        F.col("t_id").alias("train_id"),
        F.expr(f"CAST({cos_q} AS DOUBLE) / CAST(1000000 AS DOUBLE)").alias("max_cos"),
        F.expr(f"({cos_q} + {_ENC_BASE}) * {_ENC_SHIFT} - mkey")
        .alias("nearest_bench_id"),
        F.expr(f"{cos_q} >= {thr_u}").alias("contaminated"),
    )


def embedding_decontaminate_sql(
    table: str,
    bench_filter: str,
    threshold: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin: train = NOT (bench_filter) rows of ``table``."""
    dot = _DOT_DUCK.format(a="t.v", b="b.v")
    cos_u = f"CAST(floor({dot} / (t.nrm * b.nrm) * 1000000) AS BIGINT)"
    norm = _NORM_DUCK.format(a="v")
    cos_q = f"((mkey + {_ENC_SHIFT - 1}) // {_ENC_SHIFT} - {_ENC_BASE})"
    thr_u = int(round(threshold * 1_000_000))
    return f"""
WITH vecs AS (SELECT {id_col} AS id, v, {norm} AS nrm
              FROM (SELECT {id_col}, {quantize_sql(vec_col)} AS v FROM {table})),
b AS (SELECT id AS b_id, v, nrm FROM vecs WHERE {bench_filter}),
t AS (SELECT id AS t_id, v, nrm FROM vecs WHERE NOT ({bench_filter})),
agg AS (
  SELECT t_id, MAX(({cos_u} + {_ENC_BASE}) * {_ENC_SHIFT} - b_id) AS mkey
  FROM t CROSS JOIN b GROUP BY t_id
)
SELECT t_id AS train_id,
       CAST({cos_q} AS DOUBLE) / CAST(1000000 AS DOUBLE) AS max_cos,
       ({cos_q} + {_ENC_BASE}) * {_ENC_SHIFT} - mkey AS nearest_bench_id,
       {cos_q} >= {thr_u} AS contaminated
FROM agg
"""


# ---------------------------------------------------------------------------
# PCA projection — the DATA-TRAINED counterpart of the JL random
# projection above (random_projection_expr): instead of md5-derived
# planes, the projection axes are the top principal components of a
# bounded training sample, so a given out_dims keeps the MOST variance
# the data has to offer (the standard ANN preprocessing step in front
# of IVF/PQ: rotate-and-truncate before quantizing).  Reference parity
# note: the reference engine has no vector ops at all (wentaojin/dbms
# is a migration/verify tool); this family extends the repo's
# LLM-pipeline surface alongside lsh/ivf/pq.
#
# Rules-as-data, like the IVF centroids / PQ codebooks: trained ONCE
# driver-side over the same bounded sample reader
# (_sample_vectors), shipped as integer literals into BOTH dialects.
# Cross-engine exactness: with q = round(v * SCALE) ints, component
# ints c, and the centering folded into a precomputed integer constant
# K = <mu, c>, each coordinate is (<q, c> - K) / norm — the numerator
# is a sum of 64 integer products bounded ~2^33, exact in a double on
# both engines; the division is one IEEE op.
# ---------------------------------------------------------------------------


def train_pca_projection(parquet_path: str, out_dims: int = 8,
                         sample: int = 4096, vec_col: str = "embedding",
                         spark=None):
    """Top-``out_dims`` principal axes of a bounded sample, as
    dialect-shippable integer literals.

    Deterministic: fixed sample (smallest vec_ids), covariance via one
    X^T X product (dims x dims, driver-side — dims is 64, never the
    corpus), ``numpy.linalg.eigh`` (symmetric, ascending), descending
    eigenvalue order, sign fixed so each component's
    largest-|coordinate| entry is positive (first index on ties).

    Returns ``(mean_ints, [(comps_ints, norm, explained), ...])`` with
    ``explained`` the component's fraction of TOTAL sample variance —
    the sizing diagnostic (pick out_dims where the cumulative share
    plateaus).

    SCALE: training reads ``sample`` rows (executor-parallel top-k
    when ``spark`` is given — see _sample_vectors); the projection
    itself is map-side only at any corpus size."""
    import numpy as np

    X = _sample_vectors(parquet_path, sample, vec_col, spark)
    Q = np.round(X * _SCALE)                       # queries' quantized space
    mu = np.round(Q.mean(axis=0))
    Xc = Q - mu
    C = Xc.T @ Xc                                  # dims x dims, driver-side
    w, V = np.linalg.eigh(C)                       # ascending eigenvalues
    total = float(w.sum()) or 1.0
    out = []
    for j in range(len(w) - 1, len(w) - 1 - out_dims, -1):
        v = V[:, j]
        i = int(np.argmax(np.abs(v)))              # deterministic sign fix
        if v[i] < 0:
            v = -v
        ci = [int(x) for x in np.round(v * _SCALE)]
        nrm = float(np.linalg.norm(np.array(ci, dtype=np.float64)))
        out.append((ci, nrm if nrm > 0 else 1.0, float(w[j]) / total))
    return ([int(m) for m in mu], out)


def _pca_coord_exprs(proj, vec: str, duck: bool) -> list[str]:
    """One expression per output coordinate: (<q, c_j> - K_j) / norm_j
    with K_j = <mu, c_j> folded to a Python-int literal (centering
    without a second zip over the row)."""
    mu, comps = proj
    exprs = []
    for ci, nrm, _ in comps:
        k = sum(m * c for m, c in zip(mu, ci))
        if duck:
            arr = ", ".join(f"CAST({c} AS DOUBLE)" for c in ci)
            dot = f"list_sum(list_transform(list_zip({vec}, [{arr}]), p -> p[1] * p[2]))"
        elif _unroll():
            dot = "(" + " + ".join(
                f"element_at({vec}, {i + 1}) * {c}D"
                for i, c in enumerate(ci)) + ")"
        else:
            arr = ", ".join(f"{c}D" for c in ci)
            dot = (f"aggregate(zip_with({vec}, array({arr}),"
                   f" (x, c) -> x * c), 0D, (a, v) -> a + v)")
        if duck:
            exprs.append(f"({dot} - CAST({k} AS DOUBLE)) / {nrm!r}")
        else:
            exprs.append(f"({dot} - {k}D) / {nrm!r}D")
    return exprs


def pca_projection_expr(proj, vec: str = "q") -> str:
    return "array(" + ", ".join(_pca_coord_exprs(proj, vec, duck=False)) + ")"


def pca_projection_sql_expr(proj, vec: str = "v") -> str:
    return "[" + ", ".join(_pca_coord_exprs(proj, vec, duck=True)) + "]"


@_auto_unroll_args
def pca_project(df: DataFrame, proj,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, proj array<double>) — map-side only, no shuffle."""
    return (
        df.select(F.col(id_col), quantize_expr(vec_col).alias("q"))
        .select(F.col(id_col),
                F.expr(pca_projection_expr(proj)).alias("proj"))
    )


def pca_project_sql(table: str, proj,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    return f"""
SELECT {id_col}, {pca_projection_sql_expr(proj)} AS proj
FROM (SELECT {id_col}, {quantize_sql(vec_col)} AS v FROM {table})
"""


@_auto_unroll_args
def pca_topk(corpus: DataFrame, queries: DataFrame, proj, k: int = 5,
             rerank: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Two-stage top-k: candidates by cosine in the PCA space
    (out_dims multiplies per pair), then EXACT fixed-point cosine over
    the full vectors for the best ``rerank * k`` candidates per query
    — the rotate-truncate-rerank ladder in front of brute force.

    SCALE shape: stage 1 is the projected_topk plan (queries
    broadcast, corpus map-side scored, per-query top via one window
    over rerank*k survivors); stage 2 re-reads only |q| * rerank * k
    corpus rows by id.  Both stages' scores are exact doubles with
    id tie-breaks, so the candidate set — not just the final ranking —
    is cross-engine identical."""
    from pyspark.sql import Window

    ck = int(rerank) * int(k)
    c = pca_project(corpus, proj, id_col, vec_col).select(
        F.col(id_col).alias("n_id"), F.col("proj").alias("n_vec"))
    c = c.withColumn("n_norm", F.expr(_NORM_SPARK.format(a="n_vec")))
    q = pca_project(queries, proj, id_col, vec_col).select(
        F.col(id_col).alias("q_id"), F.col("proj").alias("q_vec"))
    q = q.withColumn("q_norm", F.expr(_NORM_SPARK.format(a="q_vec")))
    out_dims = len(proj[1])
    dot1 = _dot_pair_spark("q_vec", "n_vec", out_dims)
    cand = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", F.expr(
            f"{dot1} / (q_norm * n_norm)").alias("p_sim"))
    )
    w1 = Window.partitionBy("q_id").orderBy(F.desc("p_sim"), F.asc("n_id"))
    cand = (cand.withColumn("rn", F.row_number().over(w1))
            .filter(F.col("rn") <= ck).select("q_id", "n_id"))

    full = corpus.select(
        F.col(id_col).alias("__id"), quantize_expr(vec_col).alias("__v")
    ).withColumn("__n", F.expr(_NORM_SPARK.format(a="__v")))
    qf = full.select(F.col("__id").alias("q_id"),
                     F.col("__v").alias("q_full"), F.col("__n").alias("q_fn"))
    nf = full.select(F.col("__id").alias("n_id"),
                     F.col("__v").alias("n_full"), F.col("__n").alias("n_fn"))
    dot2 = _dot_pair_spark("q_full", "n_full", None)
    sim = f"floor({dot2} / (q_fn * n_fn) * 1000000) / 1000000"
    w2 = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("n_id"))
    return (
        cand.join(nf, "n_id").join(F.broadcast(qf), "q_id")
        .select("q_id", "n_id", F.expr(sim).alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .select(F.col("q_id").alias("query_id"),
                F.col("n_id").alias("neighbor_id"), "cos_sim")
    )


def pca_topk_sql(table: str, query_filter: str, proj, k: int = 5,
                 rerank: int = 4,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    ck = int(rerank) * int(k)
    pexp = pca_projection_sql_expr(proj)
    pnorm = _NORM_DUCK.format(a="proj")
    dot1 = _DOT_DUCK.format(a="q.proj", b="c.proj")
    fnorm = _NORM_DUCK.format(a="v")
    dot2 = _DOT_DUCK.format(a="qc.v", b="nc.v")
    sim = f"floor({dot2} / (qc.nrm * nc.nrm) * 1000000) / 1000000"
    return f"""
WITH pv AS (SELECT {id_col} AS id, proj, {pnorm} AS nrm
            FROM (SELECT {id_col}, {pexp} AS proj
                  FROM (SELECT {id_col}, {quantize_sql(vec_col)} AS v FROM {table}))),
qp AS (SELECT id, proj, nrm FROM pv WHERE {query_filter}),
cand AS (
  SELECT q_id, n_id FROM (
    SELECT q.id AS q_id, c.id AS n_id,
           row_number() OVER (
             PARTITION BY q.id
             ORDER BY {dot1} / (q.nrm * c.nrm) DESC, c.id) AS rn
    FROM pv c CROSS JOIN qp q WHERE q.id <> c.id
  ) WHERE rn <= {ck}
),
vecs AS (SELECT {id_col} AS id, v, {fnorm} AS nrm
         FROM (SELECT {id_col}, {quantize_sql(vec_col)} AS v FROM {table}))
SELECT q_id AS query_id, n_id AS neighbor_id, cos_sim FROM (
  SELECT q_id, n_id, {sim} AS cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY {sim} DESC, n_id) AS rn
  FROM cand JOIN vecs qc ON qc.id = q_id JOIN vecs nc ON nc.id = n_id
) WHERE rn <= {k}
"""


def pca_project_unit(df: DataFrame, proj,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Projection scaled back to UNIT scale — coords divided by SCALE
    so a downstream consumer that re-quantizes (round(x * SCALE))
    gets round(coord): integers bounded ~2^20, keeping every fixed-
    point dot product exactly representable (8 * (2^20)^2 < 2^53).
    This is the intake form the persisted ANN store uses to index the
    PCA space instead of the raw one (project once, index the
    projections — the OPQ-ish pipeline as relations).  Output column
    is named ``vec_col`` so it drops into any (id, vec) consumer."""
    return (
        df.select(F.col(id_col), quantize_expr(vec_col).alias("q"))
        .select(F.col(id_col),
                F.expr(f"transform({pca_projection_expr(proj)},"
                       f" x -> x / {_SCALE}D)").alias(vec_col))
    )
