"""Checkpoint/resume tests (north_rule: resumable from per-partition sketch
checkpoints with lineage + metrics)."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from epichypersketch_jl_spark.config import HyperSketchConfig
from epichypersketch_jl_spark.errors import BlobError
from epichypersketch_jl_spark.operators.motif import build_motif_cms
from epichypersketch_jl_spark.sources.synth import corpus_to_df, planted_motif_corpus


@pytest.fixture()
def ckpt_dir(tmp_path):
    d = str(tmp_path / "ckpt")
    yield d
    shutil.rmtree(d, ignore_errors=True)


class TestCheckpointResume:
    def test_checkpointed_equals_direct(self, spark, ckpt_dir):
        pdf = planted_motif_corpus()
        df = corpus_to_df(spark, pdf, n_partitions=6)
        cfg = HyperSketchConfig(motif_size=3, min_count=8, seed=42)
        direct, _ = build_motif_cms(df, cfg)
        ck, metrics = build_motif_cms(df, cfg, checkpoint_dir=ckpt_dir, n_buckets=8)
        assert ck == direct, "bucketed+checkpointed merge must equal the direct merge"
        assert ck.n_updates == direct.n_updates
        assert len(metrics) == 8  # one lineage row per bucket

    def test_resume_after_partial_run(self, spark, ckpt_dir):
        """Simulate a crash: first run covers only half the buckets (via a
        filtered input), the resume run gets the full input and must (a) skip
        completed buckets and (b) produce the exact single-shot sketch."""
        from pyspark.sql import functions as F

        pdf = planted_motif_corpus()
        df = corpus_to_df(spark, pdf, n_partitions=6)
        cfg = HyperSketchConfig(motif_size=3, min_count=8, seed=42)
        n_buckets = 8

        bucket = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets)).cast("int")
        half = df.filter(bucket < 4)
        # "crashed" run: only half the data reached the checkpoint
        build_motif_cms(half, cfg, checkpoint_dir=ckpt_dir, n_buckets=n_buckets)
        done_before = spark.read.parquet(ckpt_dir).select("part_id").distinct().count()
        assert done_before == 4

        # resume with the full input
        resumed, metrics = build_motif_cms(
            df, cfg, checkpoint_dir=ckpt_dir, n_buckets=n_buckets
        )
        direct, _ = build_motif_cms(df, cfg)
        assert resumed == direct
        # completed buckets were not rebuilt: still exactly one blob per bucket
        blobs = spark.read.parquet(ckpt_dir)
        assert blobs.count() == n_buckets
        assert {r.part_id for r in blobs.select("part_id").distinct().collect()} == set(
            range(n_buckets)
        )

    def test_rerun_is_idempotent(self, spark, ckpt_dir):
        pdf = planted_motif_corpus()
        df = corpus_to_df(spark, pdf, n_partitions=4)
        cfg = HyperSketchConfig(motif_size=2, min_count=8, seed=42)
        a, _ = build_motif_cms(df, cfg, checkpoint_dir=ckpt_dir, n_buckets=4)
        b, _ = build_motif_cms(df, cfg, checkpoint_dir=ckpt_dir, n_buckets=4)
        assert a == b


def _blob_files(d):
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


class TestCheckpointBuildShape:
    """The write runs one bucket-build task per bucket through one pinned
    exchange; a resume reads the checkpoint once and merges its blobs in
    bulk; every metrics row says whether its blob was reused."""

    N_BUCKETS = 8

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        df = corpus_to_df(spark, planted_motif_corpus(), n_partitions=3).cache()
        df.count()
        cfg = HyperSketchConfig(motif_size=3, min_count=8, seed=42)
        direct, _ = build_motif_cms(df, cfg)
        yield df, cfg, direct
        df.unpersist()

    def _build(self, df, cfg, d):
        return build_motif_cms(df, cfg, checkpoint_dir=d, n_buckets=self.N_BUCKETS)

    def test_bucket_stage_runs_one_task_per_bucket(self, corpus, ckpt_dir, stage_tasks):
        df, cfg, _ = corpus
        _, tasks = stage_tasks(lambda: self._build(df, cfg, ckpt_dir))
        # the map side over the 3 cached input partitions, then the bucket
        # build (a coalesced exchange would run it as a single task)
        assert tasks[:2] == [3, self.N_BUCKETS], tasks

    def test_write_plan_has_one_pinned_exchange(self, spark, ckpt_dir, monkeypatch):
        from pyspark.sql.readwriter import DataFrameWriter

        df = corpus_to_df(spark, planted_motif_corpus())
        cfg = HyperSketchConfig(motif_size=3, min_count=8, seed=42)
        written = []
        parquet = DataFrameWriter.parquet

        def spy(self, path, *a, **kw):
            written.append(self._df)
            return parquet(self, path, *a, **kw)

        monkeypatch.setattr(DataFrameWriter, "parquet", spy)
        self._build(df, cfg, ckpt_dir)
        assert len(written) == 1
        plan = written[0]._jdf.queryExecution().executedPlan().toString()
        exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
        assert len(exchanges) == 1, plan
        assert "REPARTITION_BY_NUM" in exchanges[0], plan
        assert f", {self.N_BUCKETS})" in exchanges[0], plan

    def test_complete_resume_is_one_job_and_byte_identical(self, corpus, ckpt_dir, jobs_started):
        df, cfg, direct = corpus
        self._build(df, cfg, ckpt_dir)
        (resumed, metrics), n_jobs = jobs_started(lambda: self._build(df, cfg, ckpt_dir))
        assert n_jobs == 1
        assert resumed.to_bytes() == direct.to_bytes()
        assert [m["reused"] for m in metrics] == [True] * self.N_BUCKETS

    def test_blobs_appended_twice_merge_once(self, corpus, ckpt_dir):
        df, cfg, direct = corpus
        self._build(df, cfg, ckpt_dir)
        for f in _blob_files(ckpt_dir):
            shutil.copy(os.path.join(ckpt_dir, f), os.path.join(ckpt_dir, "dup-" + f))
        resumed, metrics = self._build(df, cfg, ckpt_dir)
        assert resumed.to_bytes() == direct.to_bytes()
        assert sorted(m["part_id"] for m in metrics) == list(range(self.N_BUCKETS))
        assert all(m["reused"] for m in metrics)

    def test_reused_flags_fresh_partial_and_rerun(self, corpus, ckpt_dir):
        from pyspark.sql import functions as F

        df, cfg, direct = corpus
        bucket = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(self.N_BUCKETS)).cast("int")
        _, fresh = self._build(df.filter(bucket < 4), cfg, ckpt_dir)
        assert [m["reused"] for m in fresh] == [False] * 4
        resumed, partial = self._build(df, cfg, ckpt_dir)
        assert resumed == direct
        assert {m["part_id"]: m["reused"] for m in partial} == {
            b: b < 4 for b in range(self.N_BUCKETS)
        }
        _, rerun = self._build(df, cfg, ckpt_dir)
        assert [m["reused"] for m in rerun] == [True] * self.N_BUCKETS


class TestCheckpointFailsLoudly:
    """A checkpoint directory that does not hold intact blobs raises a typed
    error instead of resuming into a plausible wrong sketch."""

    def test_foreign_parquet_raises_before_writing(self, spark, ckpt_dir):
        os.makedirs(ckpt_dir)
        pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), os.path.join(ckpt_dir, "x.parquet"))
        df = corpus_to_df(spark, planted_motif_corpus(), n_partitions=3)
        cfg = HyperSketchConfig(motif_size=2, min_count=8, seed=42)
        with pytest.raises(BlobError):
            build_motif_cms(df, cfg, checkpoint_dir=ckpt_dir, n_buckets=4)
        assert _blob_files(ckpt_dir) == ["x.parquet"]

    def test_truncated_blob_raises_on_resume(self, spark, ckpt_dir):
        df = corpus_to_df(spark, planted_motif_corpus(), n_partitions=3)
        cfg = HyperSketchConfig(motif_size=2, min_count=8, seed=42)
        build_motif_cms(df, cfg, checkpoint_dir=ckpt_dir, n_buckets=4)
        path = os.path.join(ckpt_dir, next(
            f for f in _blob_files(ckpt_dir) if pq.read_metadata(os.path.join(ckpt_dir, f)).num_rows
        ))
        t = pq.read_table(path)
        cut = pa.array([b[:-1] for b in t.column("sketch").to_pylist()], pa.binary())
        pq.write_table(t.set_column(t.schema.get_field_index("sketch"), "sketch", cut), path)
        # the local filesystem would otherwise reject the edit by checksum
        os.remove(os.path.join(ckpt_dir, f".{os.path.basename(path)}.crc"))
        with pytest.raises(BlobError):
            build_motif_cms(df, cfg, checkpoint_dir=ckpt_dir, n_buckets=4)
