"""Engine facade: the reference's task-mode verbs as one Python API.

A user of the reference drives it through task modes (struct_migrate,
stmt_migrate, csv_migrate, sql_migrate, data_compare, data_scan,
assess_migrate, cdc_consume — reference: worker/server.go:252-455 task
dispatch; service/*.go).  This class exposes the same verbs over
DataFrames; each delegates to the operator modules, so the facade adds
orchestration only (no semantics of its own).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from dbms_spark.operators import assess as assess_ops
from dbms_spark.operators import compare as compare_ops
from dbms_spark.operators import migrate as migrate_ops
from dbms_spark.operators import scan as scan_ops
from dbms_spark.operators import structm
from dbms_spark.plans import chunker
from dbms_spark.sources import catalog
from dbms_spark.plans.parallelism import literal_df


@dataclass
class DbmsEngine:
    spark: SparkSession

    # -- struct migrate / compare ------------------------------------

    def struct_migrate(self, tables: dict[str, list[structm.ColumnSpec]]) -> dict[str, str]:
        """Source column specs -> target CREATE TABLE DDLs."""
        return {t: structm.render_create_table(t, specs) for t, specs in tables.items()}

    def struct_compare(self, src: DataFrame, dst: DataFrame) -> DataFrame:
        return structm.struct_compare(src, dst)

    # -- data migrate --------------------------------------------------

    def data_migrate(
        self,
        src: DataFrame,
        sink_path: str,
        key_cols: list[str] | None = None,
        n_chunks: int = 1,
        ledger_path: str | None = None,
        task: str = "default",
        fmt: str = "parquet",
    ) -> int:
        """stmt_migrate analogue: optionally chunked + resumable.
        Returns the rows written, counted on the writes themselves."""
        if n_chunks <= 1 or not key_cols:
            return migrate_ops.write_counted(src, sink_path, fmt)
        plan = chunker.plan_chunks(src, key_cols, n_chunks)
        ledger = migrate_ops.ChunkLedger(ledger_path, task) if ledger_path else None
        return migrate_ops.migrate_chunked(
            src, chunker.predicates(plan), sink_path, ledger, fmt
        )

    def csv_migrate(self, src: DataFrame, sink_path: str,
                    options: migrate_ops.CsvSinkOptions | None = None) -> None:
        migrate_ops.write_csv(src, sink_path, options)

    def sql_migrate(self, sql: str, sf_dir: str, sink_path: str) -> int:
        """S6 custom-SQL migrate: run user SQL over registered catalog
        views, land the result.  Returns the rows written, counted on
        the write itself: the query runs once, so even a
        non-deterministic one reports exactly what landed."""
        catalog.register_views(self.spark, sf_dir)
        return migrate_ops.write_counted(self.spark.sql(sql), sink_path)

    # -- data compare ----------------------------------------------------

    def data_compare(
        self,
        src: DataFrame,
        dst: DataFrame,
        key_cols: list[str] | None = None,
        n_chunks: int = 1,
        cols: list[str] | None = None,
        oracle_empty_is_null: bool = False,
    ) -> compare_ops.CompareReport:
        plan = (
            chunker.plan_chunks(src, key_cols, n_chunks)
            if key_cols and n_chunks > 1 else None
        )
        return compare_ops.compare_table(src, dst, plan, cols, oracle_empty_is_null)

    def compare_drilldown(self, src: DataFrame, dst: DataFrame,
                          cols: list[str] | None = None) -> DataFrame:
        return compare_ops.multiset_diff(src, dst, cols)

    def gen_fix_sql(self, diff: DataFrame, table: str, cols: list[str],
                    dialect: str = "mysql", safe_mode: bool = False,
                    sql_hint: str = "") -> list[str]:
        return compare_ops.gen_fix_sql(
            diff, table, cols, dialect=dialect, safe_mode=safe_mode, sql_hint=sql_hint
        )

    def repair_lake_target(self, src: DataFrame, dst: DataFrame,
                           cols: list[str] | None = None) -> DataFrame:
        """Lake-target repair in one verb: diff then fold the diff back
        (``compare.apply_diff``) — returns a relation multiset-equal to
        ``src``, ready to overwrite the target's files.  The parquet
        counterpart of ``gen_fix_sql`` (which emits per-row statements
        for JDBC targets)."""
        diff = compare_ops.multiset_diff(src, dst, cols)
        return compare_ops.apply_diff(dst, diff, cols)

    def data_verify(self, src: DataFrame, dst: DataFrame, table: str,
                    plan=None, cols: list[str] | None = None,
                    method: str = "MD5_SLICES", dialect: str = "mysql",
                    safe_mode: bool = False):
        """The reference's full data-verify task in one verb: chunked
        checksum compare, row drilldown on ONLY the mismatched chunks,
        repair SQL in the target dialect.  Returns
        ``(CompareReport, diff_df, fix_statements)`` — the diff scan is
        range-pruned to the bad chunks, never a second full compare."""
        cols = cols or src.columns
        rep = compare_ops.compare_table(src, dst, plan=plan, cols=cols, method=method)
        if rep.equal:
            return rep, compare_ops.multiset_diff(src, dst, cols).filter("1=0"), []
        if plan is not None and rep.mismatched_chunks:
            diff = compare_ops.drilldown_chunks(src, dst, plan, rep.mismatched_chunks, cols)
            stmts = compare_ops.gen_fix_sql(
                diff.drop("chunk_id"), table, cols, dialect=dialect, safe_mode=safe_mode
            )
        else:
            diff = compare_ops.multiset_diff(src, dst, cols)
            stmts = compare_ops.gen_fix_sql(
                diff, table, cols, dialect=dialect, safe_mode=safe_mode
            )
        return rep, diff, stmts

    def full_verify(self, src: DataFrame, dst: DataFrame, table: str,
                    key_cols: list[str], constraint_rules: list | None = None,
                    dialect: str = "mysql", safe_mode: bool = False) -> dict:
        """Migration acceptance in ONE verb — the checklist a real
        cutover runs, in dependency order:

        1. struct  — column/type diff of the two schemas (a data diff
           against a drifted schema is noise, so this gates the rest);
        2. counts+checksum — whole-table compare;
        3. key diff — per-PK INSERT/UPDATE/DELETE worklist, only if
           the checksum disagreed;
        4. contract — constraint rules evaluated on the TARGET;
        5. repair — fix-SQL for the worklist in the target dialect.

        Returns a dict report; every DataFrame in it is still lazy.
        """
        from dbms_spark.operators import structm
        from dbms_spark.operators import validate as validate_ops

        report: dict = {}
        s_spec = structm.schema_to_df(self.spark, table, src.schema)
        d_spec = structm.schema_to_df(self.spark, table, dst.schema)
        struct_diff = structm.struct_compare(s_spec, d_spec)
        report["struct_diff"] = struct_diff
        report["struct_equal"] = struct_diff.isEmpty()

        common = [c for c in src.columns if c in set(dst.columns)]
        rep = compare_ops.compare_table(src.select(*common), dst.select(*common))
        report["compare"] = rep
        if not rep.equal:
            diff = compare_ops.snapshot_diff(src, dst, key_cols, cols=common)
            report["key_diff"] = diff
            row_diff = compare_ops.multiset_diff(src.select(*common),
                                                 dst.select(*common), common)
            report["fix_sql"] = compare_ops.gen_fix_sql(
                row_diff, table, common, dialect=dialect, safe_mode=safe_mode)
        if constraint_rules:
            report["contract_violations"] = validate_ops.check_constraints(
                dst, constraint_rules)
        return report

    # -- scan / assess ---------------------------------------------------

    def data_scan(self, df: DataFrame, cols: list[str],
                  sample_pct: float = 100.0, sample_key: str | None = None) -> DataFrame:
        return scan_ops.profile_numbers(df, cols, sample_key, sample_pct)

    def assess(self, sf_dir: str) -> dict[str, DataFrame]:
        return {
            "overview": assess_ops.table_overview(self.spark, sf_dir),
            "top_tables": assess_ops.top_tables_by_rows(self.spark, sf_dir),
            "type_distribution": assess_ops.column_type_distribution(self.spark, sf_dir),
            "type_counts": assess_ops.column_type_counts(self.spark, sf_dir),
            "object_counts": assess_ops.object_counts(self.spark, sf_dir),
            "name_length_over_limit": assess_ops.table_name_length_over_limit(
                self.spark, sf_dir, limit=30),
        }

    # -- llm data pipeline ----------------------------------------------

    def dedup_pipeline(self, docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", min_sim: float = 0.7,
                       bucket_cap: int | None = None) -> DataFrame:
        """The full near-dup removal verb: LSH proposes candidate
        pairs, exact n-gram Jaccard verifies them, label propagation
        groups the verified duplicates, and the keep-one-representative
        policy (keep the minimum id of each group) drops the rest via a
        left-anti join.  Every stage is the bucketed/bounded form — no
        all-pairs work anywhere.

        ``bucket_cap`` switches the pair miner to the skew-hardened
        form (``lsh_candidate_pairs_capped``): LSH buckets larger than
        the cap emit only the hub star (O(bucket) pairs) instead of
        all pairs — set it when the corpus may contain mega-clusters
        of near-identical docs (boilerplate/mirrors), the rule rather
        than the exception at web scale; see docs/SCALE.md."""
        from pyspark.sql import functions as F

        from dbms_spark.llm import dedup

        if bucket_cap is not None:
            sigs = dedup.minhash_signatures(docs, id_col, text_col)
            pairs = dedup.lsh_candidate_pairs_capped(sigs, id_col,
                                                     bucket_cap=bucket_cap)
        else:
            sigs = dedup.minhash_signatures(docs, id_col, text_col,
                                            keep_shingles=True)
            pairs = dedup.lsh_candidate_pairs(sigs, id_col, carry=["sh"])
        verified = dedup.jaccard_on_pairs(docs, pairs, id_col, text_col, min_sim=min_sim)
        groups = dedup.dedup_groups(verified)
        drop = (
            groups.filter(F.col("doc_id") != F.col("group_id"))
            .select(F.col("doc_id").alias(id_col))
        )
        return docs.join(drop, id_col, "left_anti")

    def dedup_keep_best(self, docs: DataFrame, score_col: str,
                        id_col: str = "doc_id", text_col: str = "text",
                        min_sim: float = 0.7,
                        bucket_cap: int | None = None) -> DataFrame:
        """dedup_pipeline with a quality-aware keep policy: the
        highest-``score_col`` member of each duplicate group survives
        (ties to the smaller id) — keep the BEST copy, not the
        first-crawled one.  Gate q248."""
        from dbms_spark.llm.dedup import dedup_keep_best

        return dedup_keep_best(docs, score_col, id_col, text_col,
                               min_sim=min_sim, bucket_cap=bucket_cap)

    def drop_contained(self, docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       min_containment: float = 0.9,
                       fp_cap: int | None = None) -> DataFrame:
        """Containment canonicalization verb: remove docs whose
        shingles are >= ``min_containment`` contained in another doc
        (quote-inclusion / aggregator-embedding — the asymmetric
        geometry the Jaccard pipeline misses), keeping hosts;
        near-identical mutual pairs keep the smaller id.  Candidates
        from winnowed fingerprints; ``fp_cap`` is the boilerplate
        occupancy control.  Gates q242 (pairs), q245 (kept set)."""
        from dbms_spark.llm.dedup import drop_contained

        return drop_contained(docs, id_col, text_col,
                              min_containment=min_containment,
                              fp_cap=fp_cap)

    def curate(self, docs: DataFrame, bench: DataFrame | None = None,
               id_col: str = "doc_id", text_col: str = "text",
               min_tokens: int = 30, min_quality: float = 0.5,
               min_sim: float = 0.7,
               strip_passages_n: int | None = None) -> DataFrame:
        """The whole training-data curation pass as ONE verb:
        quality filter (drop short / low-quality / repetitive docs) →
        [optional] cross-doc duplicate-passage strip → near-dup removal
        (LSH → exact Jaccard → grouped keep-one) → benchmark
        decontamination (when ``bench`` is given).

        ``strip_passages_n`` enables the exact-substring stage: tokens
        covered by any ``n``-token window repeated across docs are
        removed BEFORE near-dup mining (stripping shared boilerplate
        first makes the minhash signatures reflect each doc's unique
        content, the order real pipelines use).  Docs stripped to
        empty text are then dropped by construction — they were pure
        cross-doc boilerplate.

        Stage order matters at scale: the quality filter is a
        shuffle-free scan that shrinks the corpus BEFORE the dedup
        pipeline's shuffles, and decontamination's broadcast probe runs
        last against the already-minimal survivor set."""
        from pyspark.sql import functions as F

        from dbms_spark.llm.text import quality_filter

        verdicts = quality_filter(
            docs, id_col, text_col, min_tokens=min_tokens, min_quality=min_quality)
        kept_ids = verdicts.filter(F.col("verdict") == "kept").select(id_col)
        kept = docs.join(kept_ids, id_col, "left_semi")
        if strip_passages_n is not None:
            from dbms_spark.llm.dedup import strip_duplicated_passages

            stripped = strip_duplicated_passages(kept, id_col, text_col,
                                                 n=strip_passages_n)
            kept = (
                stripped.filter(F.col("n_kept_tokens") > 0)
                .select(F.col(id_col), F.col("clean_text").alias(text_col))
            )
        deduped = self.dedup_pipeline(kept, id_col, text_col, min_sim=min_sim)
        if bench is None:
            return deduped
        return self.decontaminate(deduped, bench, id_col, text_col)

    def decontaminate(self, train: DataFrame, bench: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 13, max_hits: int = 0) -> DataFrame:
        """Drop train docs sharing more than ``max_hits`` word
        ``n``-gram shingles with the benchmark set (broadcast probe)."""
        from pyspark.sql import functions as F

        from dbms_spark.llm.text import contamination_check

        hits = contamination_check(train, bench, id_col, text_col, n)
        bad = hits.filter(F.col("n_hits") > max_hits).select(id_col)
        return train.join(bad, id_col, "left_anti")

    def chunk(self, docs: DataFrame, window: int = 512, stride: int = 384,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
        """Token-window splitter (training/RAG ingest)."""
        from dbms_spark.llm.text import chunk_documents

        return chunk_documents(docs, id_col, text_col, window, stride)

    def mix(self, docs: DataFrame, rates: dict[str, float],
            id_col: str = "doc_id", source_col: str = "source") -> DataFrame:
        """Deterministic mixture sampling by source weights."""
        from dbms_spark.llm.text import mix_sources

        return mix_sources(docs, rates, id_col, source_col)

    def similarity_search(self, corpus: DataFrame, queries: DataFrame, k: int = 5,
                          method: str = "exact",
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          train_path: str | None = None) -> DataFrame:
        """ANN verb over an embedding column.  ``method``:
        ``exact`` (brute-force cosine baseline), ``lsh`` (sign-bucket
        pruning), ``ivf`` (k-means cells + nprobe), ``ivfpq`` (cells +
        compressed-domain ADC scan).  ``ivf``/``ivfpq`` need
        ``train_path`` (a parquet file to train quantizers on —
        normally the corpus itself)."""
        from dbms_spark.llm import similarity as sim

        if method == "exact":
            return sim.cosine_topk(corpus, queries, k, id_col, vec_col)
        if method == "lsh":
            return sim.lsh_topk(corpus, queries, k, id_col=id_col, vec_col=vec_col)
        if method in ("ivf", "ivfpq"):
            if not train_path:
                raise ValueError(f"method {method!r} requires train_path")
            cents = sim.train_ivf_centroids(train_path, spark=self.spark)
            if method == "ivf":
                return sim.ivf_topk(corpus, queries, cents, k, id_col=id_col, vec_col=vec_col)
            books = sim.train_pq_codebooks(train_path, spark=self.spark)
            return sim.ivf_pq_topk(corpus, queries, cents, books, k,
                                   id_col=id_col, vec_col=vec_col)
        raise ValueError(f"unknown similarity method {method!r}")

    def ann_index_build(self, corpus: DataFrame, train_path: str,
                        with_pq: bool = False, id_col: str = "vec_id",
                        vec_col: str = "embedding"):
        """Build the maintainable ANN index relation (llm.similarity.
        ivf_index_build) plus the frozen quantizers it was trained
        with.  Returns (index_df, cents, books) — persist the index
        ``partitionBy("cluster")``, keep the quantizers beside it,
        and feed all three back into :meth:`ann_index_append` /
        :meth:`ann_search_index`."""
        from dbms_spark.llm import similarity as sim

        cents = sim.train_ivf_centroids(train_path, spark=self.spark)
        books = (sim.train_pq_codebooks(train_path, spark=self.spark)
                 if with_pq else None)
        return (sim.ivf_index_build(corpus, cents, books, id_col, vec_col),
                cents, books)

    def ann_index_append(self, index: DataFrame, batch: DataFrame,
                         cents, books=None, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
        """O(batch) index intake against the FROZEN quantizers;
        redelivered ids are a no-op.  Drift re-train trigger:
        llm/similarity.py ivf_index_append docstring."""
        from dbms_spark.llm import similarity as sim

        return sim.ivf_index_append(index, batch, cents, books,
                                    id_col, vec_col)

    def ann_search_index(self, index: DataFrame, queries: DataFrame,
                         cents, books=None, k: int = 5, nprobe: int = 2,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
        """Top-k from the maintained index: exact in-cell cosine, or
        the compressed ADC scan when ``books`` is given (the index
        must have been built with them)."""
        from dbms_spark.llm import similarity as sim

        if books is not None:
            return sim.ivf_pq_topk_from_index(index, queries, cents, books,
                                              k, nprobe, id_col, vec_col)
        return sim.ivf_topk_from_index(index, queries, cents, k, nprobe,
                                       id_col, vec_col)

    def ann_index_stats(self, index: DataFrame, cents) -> DataFrame:
        """Per-cell occupancy + mean own-centroid cosine — the drift
        statistics the re-train trigger reads."""
        from dbms_spark.llm import similarity as sim

        return sim.ivf_index_stats(index, cents)

    def ann_index_store(self, path: str, id_col: str = "vec_id",
                        vec_col: str = "embedding"):
        """The PERSISTED index (llm.ann_store.AnnIndexStore): manifest
        pointer commits, O(batch) watermark-guarded appends (no index
        read per append), statically pruned serving reads, drift
        stats, retrain-and-swap, compaction.  This is the serving
        form; the DataFrame verbs above are the composition form."""
        from dbms_spark.llm.ann_store import AnnIndexStore

        return AnnIndexStore(self.spark, path, id_col, vec_col)

    def ann_index_retrain(self, path: str, **kwargs) -> dict:
        """Retrain-and-swap verb over a persisted index: retrain the
        quantizers on a bounded reconstructed sample (or accept
        ``quantizers=``), rebuild, and atomically swap the serving
        relation — readers never see a half-written index (staged
        segment + one manifest replace; crash leaves the old index).
        Returns the post-swap drift report (fresh baseline)."""
        store = self.ann_index_store(path)
        store.retrain(**kwargs)
        return store.drift()

    def ann_index_maintain(self, path: str, **kwargs) -> dict:
        """Nightly lifecycle verb over a persisted index: evaluate
        drift against the committed baseline, retrain-and-swap when
        tripped, else fold append segments.  Returns the drift
        verdict plus the action taken — one JSON row per night for an
        orchestrator."""
        return self.ann_index_store(path).maintain(**kwargs)

    def heavy_hitters(self, df: DataFrame, key_col: str, n: int = 5) -> DataFrame:
        """Skew screen: exact top-n keys with count-min estimates
        alongside (feeds the salting planner in plans/skew)."""
        from dbms_spark.operators.sketch import heavy_hitters_with_cms

        return heavy_hitters_with_cms(df, key_col, n)

    def ndv_by(self, df: DataFrame, group_col: str, key_col: str) -> DataFrame:
        """Per-group approximate distinct count (grouped HLL sketch):
        (group, ndv_est) from <=64 partial-aggregated register rows per
        group — the scale form of groupBy().agg(countDistinct), which
        shuffles every (group, key) pair.  Gate q223."""
        from dbms_spark.operators.sketch import hll_ndv_by

        return hll_ndv_by(df, group_col, key_col)

    def histogram(self, df: DataFrame, col: str, lo: float, hi: float,
                  nbins: int = 128, group_col: str | None = None) -> DataFrame:
        """Mergeable fixed-range histogram sketch (bin, cnt): one
        partial-aggregated groupBy into <= nbins rows; per-day sketches
        roll forward via sketch.hist_merge and answer quantile queries
        via sketch.hist_quantiles without re-reading data.  With
        ``group_col`` the grouped form (group, bin, cnt) — observed
        bins only, quantiles via sketch.hist_quantiles_by.  Gates
        q227/q228 (global), q230/q231 (grouped)."""
        from dbms_spark.operators.sketch import hist_build, hist_by

        if group_col is not None:
            return hist_by(df, group_col, col, lo, hi, nbins)
        return hist_build(df, col, lo, hi, nbins)

    def mix_tokens(self, docs: DataFrame, budgets: dict[str, int],
                   id_col: str = "doc_id", source_col: str = "source",
                   weight_col: str = "n_chars",
                   expected_totals: dict[str, int] | None = None) -> DataFrame:
        """Token-budget source mixing (mixtures specified in tokens,
        not document rates like :meth:`mix`): per source keep the
        md5-order-smallest docs until the budget fills.  Pass
        ``expected_totals`` to bound the per-source sort.  Gate q229."""
        from dbms_spark.llm.text import mix_to_budget

        return mix_to_budget(docs, budgets, id_col, source_col,
                             weight_col, expected_totals)

    def score_against_corpus(self, docs: DataFrame, model: DataFrame,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
        """Corpus-relative quality scores from a persisted unigram
        model (text.token_frequency_model) — the CCNet-style LM
        filter, integer-exact.  Gate q236."""
        from dbms_spark.llm.text import corpus_frequency_score

        return corpus_frequency_score(docs, model, id_col, text_col)

    def export_tar_shards(self, docs: DataFrame, out_dir: str,
                          n_shards: int, id_col: str = "doc_id",
                          text_col: str = "text") -> int:
        """WebDataset-style export: one deterministic tar per shard.
        Gate q237 (accounting)."""
        from dbms_spark.llm.shard import write_tar_shards

        return write_tar_shards(docs, out_dir, n_shards, id_col, text_col)

    def split(self, docs: DataFrame, weights: dict[str, float],
              id_col: str = "doc_id") -> DataFrame:
        """Deterministic train/val/test split column: membership is a
        pure function of the id, stable under corpus growth.  Gate
        q235."""
        from dbms_spark.llm.text import split_assign

        return split_assign(docs, weights, id_col)

    def key_sample(self, df: DataFrame, key_col: str, k: int = 256,
                   expected_ndv: int | None = None,
                   group_col: str | None = None) -> DataFrame:
        """Deterministic uniform sample of k distinct keys (KMV
        bottom-k sketch): a pure function of the key SET, so the same
        rows come back on any engine, partitioning, or day — mergeable
        across shards via sketch.kmv_merge, NDV-estimable via
        sketch.kmv_ndv.  Pass ``expected_ndv`` (e.g. from hll_estimate)
        to bound the dedup shuffle at ~8k candidate rows regardless of
        corpus size; pass ``group_col`` for a per-group sample
        (sketch.kmv_by).  Gates q224/q225 (global), q232 (grouped)."""
        from dbms_spark.operators.sketch import kmv_build, kmv_by

        if group_col is not None:
            return kmv_by(df, group_col, key_col, k)
        return kmv_build(df, key_col, k, expected_ndv=expected_ndv)

    def source_overlap(self, df: DataFrame, group_col: str, key_col: str,
                       k: int = 64, sparse: bool = False) -> DataFrame:
        """Pairwise key-overlap estimates between groups (sources,
        days, shards) from per-group KMV sketches — builds the sketch
        with kmv_by then runs the Beyer 2007 estimator.  Default is
        the dense matrix (every pair, zero rows included — fine to
        G ~ 10^3 groups); ``sparse=True`` emits only pairs whose
        sketches share a hash (absent == estimated Jaccard 0), the
        form that scales to per-domain group counts.  To reuse a
        persisted sketch ledger, call kmv_overlap_matrix /
        kmv_overlap_pairs on it directly.  Gates q240, q267."""
        from dbms_spark.operators.sketch import (kmv_by, kmv_overlap_matrix,
                                                 kmv_overlap_pairs)

        sk = kmv_by(df, group_col, key_col, k)
        if sparse:
            return kmv_overlap_pairs(sk, group_col, k, built_k=k)
        return kmv_overlap_matrix(sk, group_col, k, built_k=k)

    def rank_bm25(self, docs: DataFrame, terms: list[str], k: int = 10,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
        """Top-k docs for a term query under integer-exact BM25
        (k1=1.2, b=0.75) — the ranked completion of the boolean
        retrieval verbs.  Gate q263."""
        from dbms_spark.llm.text import bm25_rank

        return bm25_rank(docs, terms, id_col, text_col, k)

    def funnel(self, events: DataFrame, steps: list[str],
               key: str = "user_id", ts_col: str = "ts",
               type_col: str = "event_type") -> DataFrame:
        """Ordered-progression funnel counts over an event stream
        (each step strictly after the previous step's first
        occurrence).  Gate q264."""
        from dbms_spark.operators.events import funnel

        return funnel(events, steps, key, ts_col, type_col)

    def retention(self, events: DataFrame, key: str = "user_id",
                  ts_col: str = "ts") -> DataFrame:
        """Weekly first-touch retention triangle.  Gate q265."""
        from dbms_spark.operators.events import retention_cohorts

        return retention_cohorts(events, key, ts_col)

    def active_users(self, events: DataFrame, key: str = "user_id",
                     ts_col: str = "ts", days: int = 7,
                     approx: bool = False) -> DataFrame:
        """Rolling distinct actives per day (WAU for days=7, MAU for
        30) via offset expansion of the (key, day) relation.  Gates
        q279/q280.  ``approx=True`` answers from per-day HLL sketches
        instead — 64 rows of state per day regardless of key
        cardinality (gate q287), ±~13%, for when the activity ledger
        itself is the bottleneck."""
        from dbms_spark.operators.events import (rolling_active,
                                                 rolling_active_hll)

        if approx:
            return rolling_active_hll(events, key, ts_col, days)
        return rolling_active(events, key, ts_col, days)

    def active_users_incremental(self, ledger: DataFrame,
                                 new_events: DataFrame,
                                 key: str = "user_id", ts_col: str = "ts",
                                 days: int = 7) -> DataFrame:
        """Nightly WAU/MAU: fold a batch into a persisted (key, day)
        active-days ledger (:func:`dbms_spark.operators.events.
        active_days`) and recompute only the affected-day suffix —
        identical on that range to the full recompute.  Gate q281."""
        from dbms_spark.operators.events import rolling_active_incremental

        return rolling_active_incremental(ledger, new_events, key,
                                          ts_col, days)

    def retention_incremental(self, first: DataFrame, acts: DataFrame,
                              new_events: DataFrame, key: str = "user_id",
                              ts_col: str = "ts") -> DataFrame:
        """Retention triangle after an O(batch) merge of new events
        into persisted :func:`dbms_spark.operators.events.
        retention_state` relations.  Gate q282."""
        from dbms_spark.operators.events import (retention_from_state,
                                                 retention_merge)

        f, a = retention_merge(first, acts, new_events, key, ts_col)
        return retention_from_state(f, a, key)

    def activity_curve(self, events: DataFrame, key: str = "user_id",
                       ts_col: str = "ts", days: int = 28) -> DataFrame:
        """Power-user curve (L28): users by distinct active days in
        the trailing window — full 1..days spine, zero rows kept."""
        from dbms_spark.operators.events import activity_curve

        return activity_curve(events, key, ts_col, days)

    def cohort_value(self, events: DataFrame, key: str = "user_id",
                     ts_col: str = "ts", value_col: str = "value",
                     bucket_days: int = 7) -> DataFrame:
        """Cohort LTV: cumulative cents per acquisition cohort by age
        bucket, with per-bucket active-key counts."""
        from dbms_spark.operators.events import cohort_value

        return cohort_value(events, key, ts_col, value_col, bucket_days)

    def rolling_features(self, events: DataFrame, key: str = "user_id",
                         ts_col: str = "ts", value_col: str = "value",
                         days: int = 7, id_cols: list[str] | None = None,
                         hot_key_safe: bool = False) -> DataFrame:
        """Trailing count/sum window per key (gate q268).  Set
        ``hot_key_safe`` for skewed streams: the prefix-minus-probe
        rewrite (gate q283) is linear in a hot key's rows where the
        sliding frame is quadratic, at the cost of a second per-key
        sort-shuffle on uniform data."""
        from dbms_spark.operators.events import (rolling_agg,
                                                 rolling_agg_prefix)

        f = rolling_agg_prefix if hot_key_safe else rolling_agg
        return f(events, key, ts_col, value_col, days, id_cols)

    def anomaly_screen(self, events: DataFrame, key: str = "user_id",
                       ts_col: str = "ts", value_col: str = "value",
                       days: int = 7, k_sigma: int = 3,
                       id_cols: list[str] | None = None,
                       hot_key_safe: bool = False) -> DataFrame:
        """Per-entity rolling z-score anomaly flags (integer-exact,
        self-excluding baseline).  Gate q273; ``hot_key_safe`` routes
        to the prefix rewrite (gate q284) — see
        :meth:`rolling_features`."""
        from dbms_spark.operators.events import (rolling_anomaly,
                                                 rolling_anomaly_prefix)

        if hot_key_safe:
            return rolling_anomaly_prefix(events, key, ts_col, value_col,
                                          days, k_sigma,
                                          id_cols=id_cols)
        return rolling_anomaly(events, key, ts_col, value_col, days,
                               k_sigma, id_cols=id_cols)

    def sequence_check(self, df: DataFrame, id_col: str) -> DataFrame:
        """Missing ranges in an integer key sequence — the post-compare
        'did the migration drop a batch?' validation.  Gate q272."""
        from dbms_spark.operators.validate import sequence_gaps

        return sequence_gaps(df, id_col)

    def collocations(self, docs: DataFrame, k: int = 50,
                     min_df: int = 5, max_df: int | None = None,
                     per_doc_cap: int | None = 256) -> DataFrame:
        """Top token pairs by document-co-occurrence lift (the
        integer-exact PMI family, all occupancy caps on).  Gate q269."""
        from dbms_spark.llm.text import token_cooccurrence

        return token_cooccurrence(docs, min_df=min_df, max_df=max_df,
                                  per_doc_cap=per_doc_cap, k=k)

    def attribute(self, events: DataFrame, conversion_type: str,
                  touch_types: list[str], key: str = "user_id",
                  ts_col: str = "ts", type_col: str = "event_type",
                  lookback_seconds: int | None = None,
                  tiebreak: list[str] | None = None) -> DataFrame:
        """Last-touch conversion attribution with optional lookback
        (one appending ROWS frame, no join).  Gate q288."""
        from dbms_spark.operators.events import attribute_conversions

        return attribute_conversions(events, conversion_type, touch_types,
                                     key, ts_col, type_col,
                                     lookback_seconds, tiebreak)

    def attribute_multi(self, events: DataFrame, conversion_type: str,
                        touch_types: list[str],
                        lookback_seconds: int = 7 * 86400,
                        max_touches: int | None = None,
                        **kw) -> DataFrame:
        """Multi-touch attribution with exact-ppm credit split;
        ``max_touches`` switches to the bounded seq-join algorithm.
        Gate q290."""
        from dbms_spark.operators.events import attribution_multi_touch

        return attribution_multi_touch(events, conversion_type,
                                       touch_types,
                                       lookback_seconds=lookback_seconds,
                                       max_touches=max_touches, **kw)

    def heartbeat(self, events: DataFrame, max_gap_seconds: int = 3600,
                  **kw) -> DataFrame:
        """Per-key silent periods longer than the threshold.
        Gate q289."""
        from dbms_spark.operators.events import heartbeat_gaps

        return heartbeat_gaps(events, max_gap_seconds=max_gap_seconds, **kw)

    def funnel_report(self, events: DataFrame, steps: list[str],
                      **kw) -> DataFrame:
        """Funnel counts + step-to-step / from-top drop-off ppm.
        Gate q291."""
        from dbms_spark.operators.events import funnel_conversion

        return funnel_conversion(events, steps, **kw)

    def funnel_by_cohort(self, events: DataFrame, steps: list[str],
                         period: str = "week", **kw) -> DataFrame:
        """Funnel counts split by step-0 anchor period.  Gate q292."""
        from dbms_spark.operators.events import funnel_trend

        return funnel_trend(events, steps, period=period, **kw)

    def offline_devices(self, events: DataFrame, as_of: str,
                        threshold_seconds: int = 86400,
                        key: str = "user_id",
                        ts_col: str = "ts") -> DataFrame:
        """Keys silent longer than the threshold as of an instant,
        off the last-seen liveness ledger.  Gate q297."""
        from dbms_spark.operators.events import last_seen, offline_keys

        return offline_keys(last_seen(events, key, ts_col), as_of,
                            threshold_seconds, key)

    def top_paths(self, events: DataFrame, n: int = 3, k: int = 20,
                  key: str = "user_id", ts_col: str = "ts",
                  type_col: str = "event_type",
                  session_col: str | None = None,
                  tiebreak: list[str] | None = None) -> DataFrame:
        """Most common n-step consecutive event-type sequences
        (optionally session-bounded).  Gate q266."""
        from dbms_spark.operators.events import top_event_paths

        return top_event_paths(events, n, k, key, ts_col, type_col,
                               session_col, tiebreak)

    def decontaminate_embeddings(self, train: DataFrame, bench: DataFrame,
                                 threshold: float = 0.85,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding") -> DataFrame:
        """Semantic decontamination verdicts: per train vector, max
        cosine vs the broadcast bench set + nearest bench id +
        threshold flag — catches paraphrases n-gram decontamination
        (:meth:`decontaminate`) misses.  Gate q226."""
        from dbms_spark.llm.similarity import embedding_decontaminate

        return embedding_decontaminate(train, bench, threshold,
                                       id_col, vec_col)

    def build_membership_filter(self, df: DataFrame, key_col: str,
                                path: str | None = None,
                                m_bits: int | None = None,
                                k: int | None = None,
                                bits_per_key: int = 10,
                                expected_keys: int | None = None):
        """Corpus-key Bloom filter, SIZED TO THE CORPUS: unless
        ``m_bits`` is given, the filter size derives from the corpus
        NDV (one HLL pass, or ``expected_keys`` if the caller already
        knows it) at ``bits_per_key`` bits per key with the matched
        hash count — ~1% FPR at any corpus size, instead of a fixed
        64 Kbit filter that saturates (FPR -> 1, pruning degenerates to
        the full exact join) past ~10^4 keys.  Returns a
        :class:`~dbms_spark.operators.sketch.MembershipFilter`
        carrying (words, m_bits, k); with ``path`` the words persist
        to parquet plus a one-row meta sidecar at ``path + "_meta"``
        so a later session probes with the RIGHT parameters
        (:meth:`load_membership_filter`).  Per-shard filters roll up
        with ``sketch.bloom_merge`` — pass explicit ``m_bits``/``k``
        (or the same ``expected_keys``) across shards so shapes match."""
        from dbms_spark.operators.sketch import (
            _BLOOM_K, MembershipFilter, bloom_build, bloom_write,
            derive_bloom_k, derive_bloom_size, hll_estimate)

        n_est = expected_keys
        if m_bits is None:
            if n_est is None:
                n_est = int(hll_estimate(df, key_col).first()["hll_est"])
            m_bits = derive_bloom_size(n_est, bits_per_key)
            if k is None:
                k = derive_bloom_k(m_bits, n_est)
        if k is None:
            k = _BLOOM_K
        words = bloom_build(df, key_col, m_bits, k)
        if path:
            bloom_write(words, path, m_bits, k, n_est)
            words = self.spark.read.parquet(path)
        return MembershipFilter(words, m_bits, k, n_est)

    def load_membership_filter(self, path: str):
        """Reload a persisted filter (words + meta sidecar) as a
        MembershipFilter — probe parameters come from the sidecar,
        never guessed."""
        from dbms_spark.operators.sketch import MembershipFilter, bloom_read

        words, m_bits, k = bloom_read(self.spark, path)
        return MembershipFilter(words, m_bits, k)

    def probe_membership_filter(self, batch: DataFrame, key_col: str,
                                bloom, id_col: str) -> DataFrame:
        """(id, maybe_present) per batch row: False = definitely new
        (skip the exact join), True = verify exactly.  No false
        negatives.  Small filters broadcast (no batch shuffle); filters
        past the 32 MB broadcast threshold shuffle-join on ``word``
        instead.  Accepts a MembershipFilter (parameters travel with
        the words) or a bare (word, bits) relation built with the
        DEFAULT parameters — the bare path runs a one-count shape
        validation so a mismatched filter raises instead of silently
        returning false negatives."""
        from dbms_spark.operators.sketch import MembershipFilter, bloom_probe

        if isinstance(bloom, MembershipFilter):
            return bloom_probe(batch, key_col, bloom.words, id_col,
                               bloom.m_bits, bloom.k)
        return bloom_probe(batch, key_col, bloom, id_col, validate=True)

    def filter_quality(self, docs: DataFrame, id_col: str = "doc_id",
                       **thresholds) -> DataFrame:
        """Keep only docs the composed quality pass marks 'kept'."""
        from pyspark.sql import functions as F

        from dbms_spark.llm.text import quality_filter

        v = quality_filter(docs, id_col=id_col, **thresholds)
        keep = v.filter(F.col("verdict") == "kept").select(id_col)
        return docs.join(keep, id_col, "left_semi")

    def filter_length_band(self, docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", lo_p: float = 0.01,
                           hi_p: float = 0.99,
                           max_tokens: float = 2048.0,
                           group_col: str | None = None) -> DataFrame:
        """Self-calibrating token-length band: keep docs inside the
        corpus's OWN [lo_p, hi_p] token-count quantiles, bounds from
        the histogram sketch (two table passes, zero sorts, bounds
        bin-aligned outward).  The adaptive form of fixed length
        cutoffs; pass ``group_col`` for per-source bands.  Gates q252
        (global), q254 (grouped)."""
        from dbms_spark.llm.text import adaptive_length_filter

        return adaptive_length_filter(docs, id_col, text_col,
                                      lo_p=lo_p, hi_p=hi_p,
                                      max_tokens=max_tokens,
                                      group_col=group_col)

    def corpus_report(self, docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> dict[str, DataFrame]:
        """Training-corpus health report — the LLM-pipeline analog of
        :meth:`assess`'s migration report: language mix, quality-band
        counts, token totals, duplicate-line pressure, and exact-dup
        groups, each a small aggregate a dashboard can collect."""
        from pyspark.sql import functions as F

        from dbms_spark.llm import dedup
        from dbms_spark.llm import text as tx
        from dbms_spark.operators import sketch

        stats = tx.token_stats_prepared(docs, id_col, text_col)
        quality = stats.select(
            id_col, tx.quality_score_expr().alias("quality"))
        return {
            "languages": tx.lang_id(docs, id_col, text_col)
            .groupBy("pred_lang").agg(F.count(F.lit(1)).alias("n_docs")),
            "quality_bands": quality.select(
                F.floor(F.col("quality") * 10).cast("int").alias("band"))
            .groupBy("band").agg(F.count(F.lit(1)).alias("n_docs")),
            "token_totals": stats.agg(
                F.sum("n_tokens").alias("total_tokens"),
                F.avg("n_tokens").alias("avg_tokens_per_doc"),
                F.count(F.lit(1)).alias("n_docs")),
            "dup_line_pressure": dedup.duplicate_line_stats(docs, id_col, text_col)
            .agg(F.avg("dup_line_ratio").alias("avg_dup_line_ratio"),
                 F.sum("n_dup_lines").alias("total_dup_lines")),
            "exact_dup_groups": dedup.exact_dedup(docs, id_col, text_col),
            # round 6: sketch-backed additions — a persisted-ledger
            # dashboard recomputes neither of these from raw text
            "length_quantiles": sketch.hist_quantiles(
                sketch.hist_build(stats, "n_tokens", 0.0, 4096.0, 128),
                [0.25, 0.5, 0.95], 0.0, 4096.0, 128),
            "doc_ndv": sketch.hll_estimate(docs, id_col),
            # round-6 continuation: cross-source overlap (KMV) and
            # source-skew concentration — the two numbers a mixing
            # decision reads next
            "source_overlap": (
                sketch.kmv_overlap_matrix(
                    sketch.kmv_by(docs, "source", text_col, k=64),
                    "source", k=64, built_k=64)
                if "source" in docs.columns else
                literal_df(docs.sparkSession, 
                    [], "g_a string, g_b string, k_used long, "
                        "n_common long, jaccard_ppm long")),
            "source_concentration": (
                assess_ops.categorical_concentration(docs, ["source"])
                if "source" in docs.columns else
                literal_df(docs.sparkSession, 
                    [], "col_name string, n_rows long, ndv long, "
                        "top_share_ppm long, simpson_ppm long")),
        }

    # -- cdc -------------------------------------------------------------

    def cdc_consume(self, store, events: DataFrame, checkpoint_dir: str):
        from dbms_spark.streaming import cdc

        return cdc.consume_cdc_stream(store, events, checkpoint_dir)
