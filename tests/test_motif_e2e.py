"""End-to-end Spark pipeline vs planted ground truth — port of the
reference's large-example tests (test/test_large_example_ordinary.jl:175-271,
test/test_large_example_convolution.jl) per FIXTURES.md A/B."""

import numpy as np
import pytest

from epichypersketch_jl_spark.config import HyperSketchConfig
from epichypersketch_jl_spark.operators.motif import (
    build_motif_cms,
    enriched_configurations,
    motif_summary,
)
from epichypersketch_jl_spark.errors import InputError
from epichypersketch_jl_spark.sources.synth import (
    CONV_FILTER_LEN,
    PLANTED_CONV,
    PLANTED_ORDINARY,
    corpus_to_df,
    exact_conv_counts,
    exact_motif_counts,
    planted_conv_corpus,
    planted_motif_corpus,
)


@pytest.fixture(scope="module")
def corpus_pdf():
    return planted_motif_corpus()


@pytest.fixture(scope="module")
def corpus_df(spark, corpus_pdf):
    return corpus_to_df(spark, corpus_pdf, n_partitions=8).cache()


class TestOrdinaryE2E:
    @pytest.mark.parametrize("min_count", [8, 15])
    def test_planted_motifs_found(self, spark, corpus_pdf, corpus_df, min_count):
        cfg = HyperSketchConfig(motif_size=3, min_count=min_count, seed=42)
        occ = enriched_configurations(corpus_df, cfg)
        pdf = occ.toPandas()
        assert set(pdf.columns) == {"m1", "m2", "m3", "doc_id", "contribution", "count"}

        exact = exact_motif_counts(corpus_pdf, 3)
        got_motifs = set(map(tuple, pdf[["m1", "m2", "m3"]].values.tolist()))
        # every planted motif with true count >= threshold must appear
        for motif, cnt in PLANTED_ORDINARY.items():
            assert exact[motif] == cnt, "fixture self-check"
            if cnt >= min_count:
                assert motif in got_motifs, f"planted motif {motif} missing"
            else:
                assert motif not in got_motifs or exact[motif] >= min_count
        # never-undercount: every emitted (motif, doc) is a real occurrence
        # and its count column >= exact count
        for (m1, m2, m3), grp in pdf.groupby(["m1", "m2", "m3"]):
            key = (int(m1), int(m2), int(m3))
            assert exact.get(key, 0) == len(grp), "occurrence rows = exact occurrences"
            assert (grp["count"] >= exact[key]).all()
        assert (pdf["contribution"] == 3.0).all()

    def test_summary_topn(self, corpus_df):
        cfg = HyperSketchConfig(motif_size=3, min_count=8, seed=42)
        occ = enriched_configurations(corpus_df, cfg)
        top = motif_summary(occ, k=3, top_n=4).toPandas()
        got = list(map(tuple, top[["m1", "m2", "m3"]].values.tolist()))
        assert set(got) == set(PLANTED_ORDINARY.keys())
        assert top["n_occurrences"].tolist() == [25, 15, 12, 8]

    def test_partition_invariance(self, spark, corpus_pdf):
        cfg = HyperSketchConfig(motif_size=3, min_count=8, seed=42)
        tables = []
        for n_parts in (1, 4, 16):
            df = corpus_to_df(spark, corpus_pdf, n_partitions=n_parts)
            cms, metrics = build_motif_cms(df, cfg)
            tables.append((cms, metrics))
        (a, ma), (b, mb), (c, mc) = tables
        assert a == b == c, "merged sketch must be partition-count invariant"
        assert a.n_updates == b.n_updates == c.n_updates
        assert len(mb) == 4 and len(mc) == 16  # one metrics row per task

    def test_empty_input_raises(self, spark, corpus_df):
        cfg = HyperSketchConfig(motif_size=3, min_count=1)
        empty = corpus_df.filter("n_tok > 10000")
        with pytest.raises(InputError):
            enriched_configurations(empty, cfg)


class TestConvolutionE2E:
    def test_planted_conv_motifs(self, spark):
        pdf = planted_conv_corpus()
        df = corpus_to_df(spark, pdf, n_partitions=6)
        cfg = HyperSketchConfig(
            motif_size=3, min_count=8, filter_len=CONV_FILTER_LEN, seed=42
        )
        occ = enriched_configurations(df, cfg)
        out = occ.toPandas()
        assert set(out.columns) == {
            "m1", "m2", "m3", "d12", "d23", "start", "end", "doc_id", "contribution", "count",
        }
        exact = exact_conv_counts(pdf, 3, CONV_FILTER_LEN)
        for motif, (pos, cnt) in PLANTED_CONV.items():
            gaps = (
                pos[1] - pos[0] - CONV_FILTER_LEN,
                pos[2] - pos[1] - CONV_FILTER_LEN,
            )
            key = motif + gaps
            assert exact[key] == cnt, "fixture self-check"
            sel = out[
                (out.m1 == motif[0]) & (out.m2 == motif[1]) & (out.m3 == motif[2])
                & (out.d12 == gaps[0]) & (out.d23 == gaps[1])
            ]
            assert len(sel) == cnt, f"motif {motif}: {len(sel)} != {cnt}"
            # start = pos_1, end = pos_k + filter_len - 1 (src/count_gpu.jl:252-257)
            assert (sel["start"] == pos[0]).all()
            assert (sel["end"] == pos[2] + CONV_FILTER_LEN - 1).all()
            assert (sel["count"] >= cnt).all()

    def test_overlap_rejected_e2e(self, spark):
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "doc_id": ["a"] * 1,
                "tokens": [[1, 2]],
                "positions": [[5, 9]],  # gap = 9-5-8 < 0 -> overlap
                "n_tok": np.array([2], dtype=np.int32),
                "source": ["s"],
            }
        )
        df = corpus_to_df(spark, pdf)
        cfg = HyperSketchConfig(motif_size=2, min_count=1, filter_len=8, seed=1)
        occ = enriched_configurations(df, cfg)
        assert occ.count() == 0


class TestFusedSummaryPlan:
    def test_fused_equals_classic_two_pass(self, corpus_df):
        """The fused single-scan summary plan (build pass piggybacks folded
        partials; driver finishes the aggregation) must reproduce the
        classic two-pass plan bit-for-bit, schema included."""
        from epichypersketch_jl_spark.operators.motif import motif_counts

        for k, mc in [(1, 4), (2, 8), (3, 2)]:
            cfg = HyperSketchConfig(motif_size=k, min_count=mc, seed=42)
            a = motif_counts(corpus_df, cfg).toPandas()
            b = motif_counts(corpus_df, cfg, fused=False).toPandas()
            assert list(a.columns) == list(b.columns)
            assert list(a.dtypes) == list(b.dtypes), (a.dtypes, b.dtypes)
            cols = list(a.columns)
            sa = a.sort_values(cols).reset_index(drop=True)
            sb = b.sort_values(cols).reset_index(drop=True)
            assert sa.equals(sb), f"k={k}: fused != classic"

    def _fused_plan(self, df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "Exchange" not in plan, plan

    def test_fused_order_matches_classic(self, spark, sf_dir):
        """The fused finish orders rows on the driver; collect must return
        the classic plan's orderBy(desc(count), m1..mk) row for row, not
        merely the same set of rows."""
        from epichypersketch_jl_spark.operators.motif import motif_counts
        from epichypersketch_jl_spark.sources.tables import tokenized_sequences

        seq = tokenized_sequences(spark, sf_dir)
        for k, mc in [(1, 2), (2, 2), (3, 2), (2, 10**9)]:
            cfg = HyperSketchConfig(motif_size=k, min_count=mc, seed=1)
            fused = motif_counts(seq, cfg)
            self._fused_plan(fused)
            a = fused.collect()
            assert a == motif_counts(seq, cfg, fused=False).collect(), (k, mc)
            assert (len(a) > 0) == (mc == 2), (k, mc, len(a))
        # every task's partial is empty
        empty = seq.filter("n_tok < 0")
        fused = motif_counts(empty, cfg)
        self._fused_plan(fused)
        assert fused.collect() == motif_counts(empty, cfg, fused=False).collect() == []

    def test_fused_collect_starts_no_job(self, spark, sf_dir, jobs_started):
        """The fused call's only Spark job is its scan; the result is a
        local relation, so reading it back starts none."""
        from epichypersketch_jl_spark.operators.motif import motif_counts
        from epichypersketch_jl_spark.sources.tables import tokenized_sequences

        seq = tokenized_sequences(spark, sf_dir)
        cfg = HyperSketchConfig(motif_size=2, min_count=2, seed=1)
        fused, n_call = jobs_started(lambda: motif_counts(seq, cfg))
        assert n_call == 1  # the scan
        rows, n = jobs_started(fused.collect)
        assert rows and n == 0
        assert jobs_started(lambda: fused.limit(5).collect())[1] == 0
        assert jobs_started(fused.toPandas)[1] == 0
        # control: the classic plan's result does run jobs when collected
        classic = motif_counts(seq, cfg, fused=False)
        assert jobs_started(classic.collect)[1] >= 1

    @pytest.mark.parametrize("arrow", ["true", "false"])
    def test_fused_plan_ignores_arrow_conf(self, spark, sf_dir, arrow):
        """The fused result is a LocalTableScan with no Exchange whatever
        spark.sql.execution.arrow.pyspark.enabled says."""
        from epichypersketch_jl_spark.operators.motif import motif_counts
        from epichypersketch_jl_spark.sources.tables import tokenized_sequences

        key = "spark.sql.execution.arrow.pyspark.enabled"
        before = spark.conf.get(key, None)
        spark.conf.set(key, arrow)
        try:
            seq = tokenized_sequences(spark, sf_dir)
            cfg = HyperSketchConfig(motif_size=2, min_count=2, seed=1)
            self._fused_plan(motif_counts(seq, cfg))
        finally:
            if before is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, before)
