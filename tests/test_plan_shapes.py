"""Physical-plan pins: the scale properties the engine is built on must be
visible in the executed plan, so a regression (an accidental shuffle of raw
rows, a lost filter pushdown, a join sneaking into the Bloom reducer) fails
a test rather than a 100-TB run.

SURVEY.md architecture contract:
  * sketch build is map-only — no Exchange between the scan and the kernel;
  * selection filters reach the parquet scan (PushedFilters);
  * column pruning reaches the scan (ReadSchema excludes unused columns);
  * the aggregated extraction shuffles only post-kernel (aggregated) rows;
  * bloom_semijoin is a scan-side reducer — no Join operator at all.
"""

import pytest

from epichypersketch_jl_spark.config import HyperSketchConfig
from epichypersketch_jl_spark.sources.tables import read_table, tokenized_sequences


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestPlanShapes:
    def test_build_input_is_map_only(self, spark, sf_dir):
        """The prepared build input (pruned, filtered) must not shuffle."""
        from epichypersketch_jl_spark.operators.motif import _prepared

        cfg = HyperSketchConfig(motif_size=2, min_count=2)
        seq = tokenized_sequences(spark, sf_dir)
        plan = _plan(_prepared(seq, cfg, conv=False, with_weights=False))
        assert "Exchange" not in plan, plan

    def test_short_sequence_filter_pushed_to_scan(self, spark, sf_dir):
        from epichypersketch_jl_spark.operators.motif import _prepared

        cfg = HyperSketchConfig(motif_size=2, min_count=2)
        seq = tokenized_sequences(spark, sf_dir, with_positions=True).filter("n_tok <= 40")
        plan = _plan(_prepared(seq, cfg, conv=True, with_weights=False))
        assert "PushedFilters" in plan
        assert "LessThanOrEqual(n_tok,40)" in plan, plan

    def test_column_pruning_reaches_scan(self, spark, sf_dir):
        """A tokens-only projection must not read text-sized columns."""
        from epichypersketch_jl_spark.operators.motif import _prepared

        cfg = HyperSketchConfig(motif_size=2, min_count=2)
        seq = tokenized_sequences(spark, sf_dir)
        plan = _plan(_prepared(seq, cfg, conv=False, with_weights=False))
        # ReadSchema should carry doc_id + tokens (+ n_tok for the size
        # filter), but never source
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "tokens" in read_schema
        assert "source" not in read_schema, read_schema

    def test_aggregated_extraction_shuffles_only_after_kernel(self, spark, sf_dir):
        """motif_counts: the only wide operations are the final groupBy/sort
        over kernel-aggregated rows — 2 Exchanges max (hash + range), and
        the kernel (MapInArrow / ArrowEvalPython-free) sits below them."""
        from epichypersketch_jl_spark.operators.motif import motif_counts

        seq = tokenized_sequences(spark, sf_dir)
        cfg = HyperSketchConfig(motif_size=2, min_count=2, seed=1)
        out = motif_counts(seq, cfg)
        plan = _plan(out)
        if "MapInArrow" not in plan and "PythonMapInArrow" not in plan:
            # fused single-scan plan: the aggregation and the ordering
            # finished driver-side over the build pass's folded partials —
            # the remaining plan is a local relation, no shuffle at all
            assert "LocalTableScan" in plan, plan
            assert "Exchange" not in plan, plan
        else:
            assert plan.count("Exchange") <= 2, plan
            kernel_sub = plan[plan.find("MapInArrow"):]
            assert "Exchange" not in kernel_sub, kernel_sub
        # the classic two-pass shape keeps its pinned form: kernel below
        # the only shuffles
        plan2 = _plan(motif_counts(seq, cfg, fused=False))
        assert plan2.count("Exchange") <= 2, plan2
        assert "MapInArrow" in plan2 or "PythonMapInArrow" in plan2, plan2
        kernel_sub = plan2[plan2.find("MapInArrow"):]
        assert "Exchange" not in kernel_sub, kernel_sub

    def test_bloom_semijoin_has_no_join(self, spark, sf_dir):
        from epichypersketch_jl_spark.operators.cardinality import (
            bloom_semijoin,
            build_bloom,
        )

        cust = read_table(spark, sf_dir, "customer").filter("c_acctbal > 5000")
        bloom = build_bloom(cust, "c_custkey", n_expected=10_000, fpp=1e-6, seed=42)
        orders = read_table(spark, sf_dir, "orders")
        plan = _plan(bloom_semijoin(orders, "o_custkey", bloom))
        assert "Join" not in plan, plan
        assert "Exchange" not in plan, plan

    def test_exact_topk_broadcasts_queries(self, spark, sf_dir):
        """cosine_topk must broadcast the small query side, never
        shuffle-join the corpus against it."""
        from epichypersketch_jl_spark.operators.similarity import cosine_topk

        emb = read_table(spark, sf_dir, "embeddings")
        q = emb.filter("vec_id < 3")
        plan = _plan(cosine_topk(emb, q, k=5))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
        assert "SortMergeJoin" not in plan, plan

    def test_ungrouped_weighted_sample_no_single_partition_exchange(
        self, spark, sf_dir
    ):
        """Ungrouped weighted_sample must never funnel the full input
        through one task: the plan is per-partition bottom-k (MapInArrow,
        no Exchange) + TakeOrderedAndProject over the tasks*k survivors —
        no SinglePartition exchange node at any point."""
        from epichypersketch_jl_spark.operators.sampling import weighted_sample

        docs = read_table(spark, sf_dir, "documents")
        out = weighted_sample(docs, id_col="doc_id", weight_col="n_chars", k=7)
        plan = _plan(out)
        assert "SinglePartition" not in plan, plan
        assert "TakeOrderedAndProject" in plan, plan
        # and the grouped path shuffles by group, not to one partition
        grouped = weighted_sample(
            docs, id_col="doc_id", weight_col="n_chars", k=7, group_col="source"
        )
        gplan = _plan(grouped)
        assert "SinglePartition" not in gplan, gplan


class TestRound5PlanShapes:
    def test_gram_matrix_single_small_shuffle(self, spark, sf_dir):
        """gram_matrix: map-only kernel, then ONE exchange carrying only
        (tasks x d^2) partial rows — never row data, never a join."""
        from epichypersketch_jl_spark.operators.similarity import gram_matrix

        emb = read_table(spark, sf_dir, "embeddings")
        plan = _plan(gram_matrix(emb, "embedding"))
        assert "Join" not in plan, plan
        # the aggregate's partial->final exchange plus orderBy's range
        # exchange; nothing else
        assert plan.count("Exchange") <= 3, plan

    def test_bloom_fp_audit_probe_is_join_free(self, spark, sf_dir):
        """The probe side is a broadcast-blob annotate: no Join operator
        anywhere (the bit array ships as one fixed-size blob)."""
        from epichypersketch_jl_spark.operators.cardinality import bloom_fp_audit

        cust = read_table(spark, sf_dir, "customer")
        out = bloom_fp_audit(
            cust.filter("c_custkey % 7 != 0"), "c_custkey",
            cust.filter("c_custkey % 7 = 0"), "c_custkey",
            n_bits=4096, n_hashes=3,
        )
        plan = _plan(out)
        assert "Join" not in plan, plan

    def test_lsh_candidate_plan_is_linear(self, spark, sf_dir):
        """The MinHash-LSH pair plan must stay a single linear chain: the
        signature pipeline (MapInArrow) appears ONCE and the doc scan at
        most thrice (signatures + the two verify-side shingle maps) — the
        branch-and-union formulation regressed to 17 scans / 5 kernel
        recomputations."""
        from epichypersketch_jl_spark.operators.dedup import minhash_lsh_pairs

        docs = read_table(spark, sf_dir, "documents")
        plan = _plan(minhash_lsh_pairs(docs, threshold=0.5))
        assert plan.count("MapInArrow") == 1, plan
        n_scans = plan.count("Scan parquet") + plan.count("Scan ExistingRDD")
        assert n_scans <= 3, plan

    def test_contamination_single_join(self, spark, sf_dir):
        from epichypersketch_jl_spark.operators.text_analysis import (
            ngram_contamination,
        )

        docs = read_table(spark, sf_dir, "documents")
        out = ngram_contamination(docs.limit(40), docs.limit(10))
        plan = _plan(out)
        assert plan.count("Join") <= 1 or "BroadcastHashJoin" in plan, plan

    def test_percentile_rank_no_collect_to_driver(self, spark, sf_dir):
        """percentile_rank is one DataFrame job end to end: the merged-blob
        table joins back (broadcast or shuffle — AQE's call), it never
        round-trips blobs through the driver, so the plan contains the
        join and both mapInArrow stages in ONE tree."""
        from epichypersketch_jl_spark.operators.quantiles import percentile_rank

        ev = read_table(spark, sf_dir, "events")
        plan = _plan(percentile_rank(ev, "value", "event_type"))
        assert plan.count("MapInArrow") >= 3, plan  # build, merge, annotate
        assert "Join" in plan, plan
