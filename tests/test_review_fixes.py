"""Regression tests for the round-1 code-review findings."""

import numpy as np
import pandas as pd
import pytest

from epichypersketch_jl_spark.sketches.cms import CountMinSketch
from epichypersketch_jl_spark.sketches.tdigest import TDigest


class TestTokenizerEmptyWords:
    def test_double_space_text(self, spark, tmp_path):
        """'' words from doubled/leading spaces must be dropped, not aliased
        to token id 1."""
        pdf = pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": ["apple  banana", " apple cherry banana "],
                "lang": ["en", "en"],
                "source": ["s0", "s0"],
                "n_chars": [13, 21],
            }
        )
        d = str(tmp_path)
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(d + "/documents.parquet")
        from epichypersketch_jl_spark.sources.tables import documents_sequences

        out = documents_sequences(spark, d, with_positions=True).orderBy("doc_id").collect()
        # vocab sorted: apple=1, banana=2, cherry=3
        assert out[0].tokens == [1, 2] and out[0].n_tok == 2
        assert out[1].tokens == [1, 3, 2] and out[1].n_tok == 3
        assert out[1].positions == [1, 2, 3]


class TestCMSOverflowGuard:
    def test_wide_keys_small_epsilon_consistent_buckets(self):
        """Same key must hash identically whether or not the batch contains
        huge values (the old fixed 2^40 threshold broke this for wide keys)."""
        cms = CountMinSketch(delta=0.01, epsilon=1e-6, key_width=6, seed=1)
        key = np.array([[2**39, 2**39, 2**39, 2**39, 2**39, 2**39]], dtype=np.int64)
        small = np.array([[1, 2, 3, 4, 5, 6]], dtype=np.int64)
        both = np.concatenate([key, small])
        a = cms.bucket_indices(key)
        b = cms.bucket_indices(both)[:, :1]
        assert np.array_equal(a, b), "bucket must not depend on batch contents"
        cms.update_batch(key)
        assert cms.estimate(key)[0] >= 1


class TestTDigestNaNWeights:
    def test_nan_values_mask_weights_too(self):
        t = TDigest(compression=100)
        t.update_batch([1.0, np.nan, 3.0], weights=[1.0, 99.0, 1.0])
        assert t.n == pytest.approx(2.0)  # the NaN's weight must not leak
        assert 1.0 <= float(t.quantile(0.5)[0]) <= 3.0  # interpolated median


class TestDedupEdgeCases:
    def test_exact_dedup_null_text_kept(self, spark):
        pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a", None, "a"]})
        from epichypersketch_jl_spark.operators.dedup import exact_dedup

        out = exact_dedup(spark.createDataFrame(pdf)).toPandas()
        assert len(out) == 3, "NULL-text rows must not be dropped"
        assert out[out.doc_id == 2].iloc[0]["group_size"] == 1

    def test_minhash_short_docs_not_cross_paired(self, spark):
        pdf = pd.DataFrame(
            {
                "doc_id": list(range(20)),
                # 10 one-word docs (no 3-shingles) + 10 distinct long docs
                "text": ["x"] * 10
                + [f"alpha beta gamma delta w{i} epsilon zeta" for i in range(10)],
            }
        )
        from epichypersketch_jl_spark.operators.dedup import minhash_lsh_pairs

        out = minhash_lsh_pairs(spark.createDataFrame(pdf), threshold=0.1).toPandas()
        short_ids = set(range(10))
        assert not any(
            (a in short_ids) or (b in short_ids) for a, b in zip(out.doc_a, out.doc_b)
        ), "shingle-less docs must not appear in candidate pairs"

    def test_simhash_radius_beyond_three(self, spark):
        """max_hamming=5 must still find pairs at distance <= 5 (the fixed
        4-band scheme only guaranteed distance <= 3)."""
        import pandas as pd

        base = "w%d " * 40
        words_a = " ".join(f"t{i}" for i in range(40))
        # a doc differing in a few words -> some hamming distance > 3 likely
        words_b = " ".join((f"t{i}" if i % 9 else f"u{i}") for i in range(40))
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2], "text": [words_a, words_b]})
        )
        from epichypersketch_jl_spark.operators.dedup import simhash_64, simhash_near_pairs

        hs = {r.doc_id: r.simhash for r in simhash_64(df).collect()}
        dist = bin((hs[1] ^ hs[2]) & ((1 << 64) - 1)).count("1")
        out = simhash_near_pairs(df, max_hamming=15).toPandas()
        if dist <= 15:
            assert len(out) == 1 and out.iloc[0]["hamming"] == dist
        with pytest.raises(ValueError):
            simhash_near_pairs(df, max_hamming=16)


class TestSimilarityValidation:
    def test_dim_mismatch_raises(self, spark):
        pdf = pd.DataFrame(
            {"vec_id": [0, 1], "embedding": [[1.0] * 8, [1.0] * 7]}
        )
        from epichypersketch_jl_spark.operators.similarity import hyperplane_buckets

        df = spark.createDataFrame(pdf)
        with pytest.raises(Exception, match="length mismatch"):
            hyperplane_buckets(df, dim=8).collect()

    def test_ivf_string_ids(self, spark):
        rng = np.random.default_rng(0)
        pdf = pd.DataFrame(
            {
                "vec_id": [f"v{i:03d}" for i in range(60)],
                "embedding": [rng.standard_normal(16).tolist() for _ in range(60)],
            }
        )
        from epichypersketch_jl_spark.operators.similarity import cosine_topk_ivf

        df = spark.createDataFrame(pdf)
        out = cosine_topk_ivf(
            df, df.filter("vec_id < 'v003'"), k=3, dim=16, nlist=4, nprobe=4
        ).toPandas()
        assert set(out.qid) == {"v000", "v001", "v002"}
        assert out.groupby("qid").size().max() <= 3


class TestRound3ReviewFixes:
    def test_resolve_clusters_superset_pairs_keeps_one(self, spark):
        """Pairs computed over a SUPERSET of docs (a filter ran between
        pairing and resolution): the component label id may be absent from
        docs, but each cluster must still elect exactly one present keeper
        — never zero survivors."""
        from pyspark.sql import functions as F

        from epichypersketch_jl_spark.operators.dedup import (
            resolve_duplicate_clusters,
        )

        docs = spark.createDataFrame([(7,), (9,), (11,)], "doc_id: long")
        # doc 5 was filtered out after pairing; component label for {7, 9} is 5
        pairs = spark.createDataFrame(
            [(5, 7), (7, 9)], "doc_a: long, doc_b: long"
        )
        out = resolve_duplicate_clusters(docs, pairs).toPandas()
        assert len(out) == 3
        cluster = out[out.doc_id.isin([7, 9])]
        assert cluster.is_keeper.sum() == 1
        assert cluster[cluster.is_keeper].doc_id.iloc[0] == 7  # min present id
        single = out[out.doc_id == 11]
        assert bool(single.is_keeper.iloc[0])

    def test_chunk_documents_null_text(self, spark):
        """NULL text must not silently drop the row."""
        from epichypersketch_jl_spark.operators.corpus_prep import chunk_documents

        df = spark.createDataFrame(
            [(1, "a b c"), (2, None)], "doc_id: long, text: string"
        )
        out = chunk_documents(df, max_words=4, overlap=1).toPandas()
        assert set(out.doc_id) == {1, 2}

    def test_hll_ungrouped_empty_input(self, spark):
        from epichypersketch_jl_spark.operators.cardinality import hll_distinct

        df = spark.createDataFrame([], "value: long").filter("value > 0")
        out = hll_distinct(df, "value").toPandas()
        assert len(out) == 1 and out.approx_distinct.iloc[0] == 0


class TestDecodedCmsCacheReadOnly:
    def test_cached_sketch_rejects_mutation(self, monkeypatch):
        """Every task in a reused worker shares one decoded sketch per
        blob; an in-place update must raise rather than silently shift
        the other tasks' estimates, and estimate must keep working."""
        from epichypersketch_jl_spark.operators import motif

        monkeypatch.setattr(motif, "_DECODED_CMS_CACHE", {})
        cms = CountMinSketch(delta=0.01, epsilon=0.01, key_width=2, seed=3)
        keys = np.array([[1, 2], [3, 4], [1, 2]], dtype=np.int64)
        cms.update_batch(keys)
        blob = cms.to_bytes()
        cached = motif._decode_cms_cached(blob)
        assert motif._decode_cms_cached(blob) is cached
        before = cached.table.copy()

        with pytest.raises(ValueError, match="read-only"):
            cached.update_batch(keys)  # sparse scatter-add path
        dense = np.repeat(keys, cached.width, axis=0)
        with pytest.raises(ValueError, match="read-only"):
            cached.update_batch(dense)  # dense bincount path
        with pytest.raises(ValueError, match="read-only"):
            cached.merge_inplace(cms)
        with pytest.raises(ValueError, match="read-only"):
            cached.table[0, 0] = 7

        assert np.array_equal(cached.table, before)
        assert cached.estimate(keys).tolist() == cms.estimate(keys).tolist() == [2, 1, 2]
