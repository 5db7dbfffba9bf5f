"""The benchmark's workloads: the public calls one pass makes, and how each
call's output is checked against the exact oracle.

A pass is a closed loop of one client: each call starts when the previous
one has returned with its result fully materialized.  The first call of
every pass is the workload's sketch build; ``build_tokens_per_s`` and the
traced run's ``build.*`` metrics time it.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

import oracle
from corpus import S_PROBE, Corpus, CorpusSpec, uniform

QUANTILES = [0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95]
HLL_P = 14
KLL_K = 200
TDIGEST_COMPRESSION = 200.0
TOPK_COUNTERS = 64
BLOOM_FPP = 0.01
#: checkpoint buckets, one per shuffle partition of the session
CKPT_BUCKETS = 8
#: every motif call's min_count, as a multiple of its CMS noise floor eps*N
MIN_COUNT_OVER_EPS_N = 2.5
#: the sketch families every traced run checks, whatever its workload
FAMILY_CALLS = ("hll", "tdigest", "kll", "topk", "bloom")


@dataclass(frozen=True)
class Motif:
    """One motif call's sketch parameters; min_count follows from epsilon
    and the CMS mass N (sum over rows of C(n_tok, k))."""

    k: int
    epsilon: float
    filter_len: int = 0


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    corpus: CorpusSpec
    calls: tuple[str, ...]
    motif: dict[str, Motif]


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "fold_small_vocab",
            "32-token alphabet: the multiset fold and fused single scan fire, so "
            "fixed and driver-side costs between stages dominate",
            CorpusSpec(n_docs=40_000, vocab=32, len_lo=10, len_hi=100, n_parts=8),
            ("build_k2", "counts_k1", "counts_k2", "counts_k3"),
            {
                "build_k2": Motif(2, 5e-3),
                "counts_k1": Motif(1, 5e-3),
                "counts_k2": Motif(2, 5e-3),
                "counts_k3": Motif(3, 1e-3),
            },
        ),
        Workload(
            "enum_large_vocab",
            "50k-token alphabet: the fold never fires, so enumeration, hashing, CMS update, "
            "the second pass, checkpoint I/O and the HLL/KLL/t-digest/top-k/Bloom builds work",
            CorpusSpec(n_docs=12_000, vocab=50_000, len_lo=10, len_hi=100, n_parts=8, skew=3),
            (
                "build_k2", "counts_k2", "ckpt_write", "ckpt_resume",
                "hll", "tdigest", "kll", "topk", "bloom",
            ),
            {
                "build_k2": Motif(2, 5e-5),
                "counts_k2": Motif(2, 5e-5),
                "ckpt_write": Motif(2, 5e-5),
            },
        ),
        Workload(
            "conv_emit",
            "positional 2-motifs with many qualifying keys: every occurrence is "
            "point-queried and a third is emitted, so extraction and Arrow-to-JVM "
            "emission dominate",
            CorpusSpec(
                n_docs=48_000, vocab=128, len_lo=5, len_hi=40, n_parts=8,
                skew=3, positions=True,
            ),
            ("conv_build", "conv_emit"),
            {"conv_build": Motif(2, 1e-5, filter_len=1)},
        ),
    ]
}


@dataclass
class Verdict:
    """Outcome of checking one call: failures, and error / bound ratios of
    every checked estimate, keyed ``family:what``."""

    failures: list[str] = field(default_factory=list)
    ratios: dict[str, list[float]] = field(default_factory=dict)

    def bound(self, err, bound, what: str, hard: bool = True) -> None:
        """Record |err| / bound.  A hard bound fails the call on any miss.
        The CMS bound eps*N holds per key only with probability 1 - delta,
        so among thousands of probed keys a few misses are expected: its
        checks are soft and count in ``bound_pass_frac`` alone."""
        r = np.abs(np.asarray(err, np.float64)) / np.asarray(bound, np.float64)
        self.ratios.setdefault(what, []).extend(r.ravel().tolist())
        if hard and r.size and r.max() > 1.0:
            self.failures.append(f"{what}: error {r.max():.3f}x its bound")

    def require(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)


class Context:
    """Per-run state shared by the calls: session, input, oracle cache."""

    def __init__(self, spark, df, corpus: Corpus, workload: Workload, workdir: str, seed: int):
        self.spark, self.df, self.corpus, self.w = spark, df, corpus, workload
        self.workdir, self.seed = workdir, seed
        self.last_cms = None
        self.last_build_bytes: bytes | None = None
        self.last_occurrences = None
        self.notes: dict[str, float] = {}  # per-layer side values for the detail line
        self._memo: dict[tuple, Any] = {}
        self._ckpt_n = 0

    def _memoized(self, key: tuple, fn: Callable[[], Any]) -> Any:
        if key not in self._memo:
            self._memo[key] = fn()
        return self._memo[key]

    # -------------------------------------------------------- sketch config
    def cfg(self, call: str):
        from epichypersketch_jl_spark.config import HyperSketchConfig

        m = self.w.motif[call]
        n = self.mass(m.k)
        min_count = math.ceil(MIN_COUNT_OVER_EPS_N * m.epsilon * n)
        if min_count <= 2 * m.epsilon * n:
            raise SystemExit(
                f"{self.w.name}/{call}: min_count {min_count} <= 2*eps*N = "
                f"{2 * m.epsilon * n:.0f}; the threshold would sit in the CMS noise floor"
            )
        return HyperSketchConfig(
            motif_size=m.k, min_count=min_count, epsilon=m.epsilon, filter_len=m.filter_len
        )

    def mass(self, k: int) -> int:
        """CMS mass N: every k-combination (valid placement, for conv)."""
        if self.corpus.positions is not None:
            return int(self.index(k).counts.sum())
        return self._memoized(("mass", k), lambda: oracle.n_updates(self.corpus, k))

    def index(self, k: int) -> oracle.KeyIndex:
        """Exact count of every key that occurs, kept packed (16 bytes a key)."""
        fl = next(m.filter_len for m in self.w.motif.values() if m.k == k)
        return self._memoized(
            ("index", k), lambda: oracle.KeyIndex(*oracle.motif_counts(self.corpus, k, fl))
        )

    def probe(self, k: int) -> tuple[np.ndarray, np.ndarray]:
        """Fixed probe keys: every key when there are few, else the 200
        heaviest plus 1800 drawn with the run seed."""
        ix = self.index(k)
        if len(ix.counts) <= 2000:
            return ix.keys(np.arange(len(ix.counts))), ix.counts

        def draw():
            top = np.argsort(-ix.counts, kind="stable")[:200]
            pick = (uniform(S_PROBE, np.arange(1800), self.seed) * len(ix.counts)).astype(np.int64)
            idx = np.unique(np.concatenate([top, pick]))
            return ix.keys(idx), ix.counts[idx]

        return self._memoized(("probe", k), draw)

    def ckpt_dir(self, fresh: bool) -> str:
        if fresh:
            self._ckpt_n += 1
        return os.path.join(self.workdir, f"ckpt{self._ckpt_n}")

    # ------------------------------------------------- shared exact tables
    def token_counts(self) -> np.ndarray:
        c = self.corpus
        return self._memoized(("tokens",), lambda: np.bincount(c.tokens, minlength=c.spec.vocab + 1))

    def n_tok_sorted(self, source: int | None) -> np.ndarray:
        v = self.corpus.n_tok
        if source is not None:
            v = v[self.corpus.source == source]
        return self._memoized(("n_tok", source), lambda: np.sort(v))


# ------------------------------------------------------------------- calls


def _check_cms(ctx: Context, call: str, cms, v: Verdict) -> None:
    m = ctx.w.motif[call]
    keys, exact = ctx.probe(m.k)
    est = cms.estimate(keys)
    v.require(bool((est >= exact).all()), f"{call}: CMS undercounts a key")
    v.require(cms.n_updates == ctx.mass(m.k), f"{call}: CMS mass {cms.n_updates} != N")
    v.bound(est - exact, m.epsilon * ctx.mass(m.k), f"cms:{call}", hard=False)


def run_build(ctx: Context, call: str):
    from epichypersketch_jl_spark.operators.motif import build_motif_cms

    return build_motif_cms(ctx.df, ctx.cfg(call))


def check_build(ctx: Context, call: str, res, v: Verdict) -> None:
    cms, _metrics = res
    ctx.last_cms, ctx.last_build_bytes = cms, cms.to_bytes()
    _check_cms(ctx, call, cms, v)


def run_counts(ctx: Context, call: str):
    from epichypersketch_jl_spark.operators.motif import motif_counts

    return motif_counts(ctx.df, ctx.cfg(call)).collect()


def check_counts(ctx: Context, call: str, rows, v: Verdict) -> None:
    cfg = ctx.cfg(call)
    k = cfg.motif_size
    exact = ctx.index(k).counts
    got = np.array([[r[f"m{i + 1}"] for i in range(k)] for r in rows], np.int64).reshape(-1, k)
    cnt = np.array([r["count"] for r in rows], np.int64)
    occ = np.array([r["n_occurrences"] for r in rows], np.int64)
    truth = ctx.index(k).lookup(got)
    v.require(bool((occ == truth).all()), f"{call}: n_occurrences differs from the exact count")
    v.require(bool((cnt >= truth).all()), f"{call}: count below the exact count")
    v.require(bool((cnt >= cfg.min_count).all()), f"{call}: row below min_count")
    v.require(len(np.unique(got, axis=0)) == len(got), f"{call}: duplicate keys")
    must = int((exact >= cfg.min_count).sum())
    v.require(int((truth >= cfg.min_count).sum()) == must, f"{call}: a qualifying key is missing")
    v.bound(cnt - truth, cfg.epsilon * ctx.mass(k), f"cms:{call}", hard=False)
    ctx.notes[f"{call}.selectivity"] = len(rows) / ctx.mass(k)
    ctx.notes[f"{call}.false_pos_frac"] = float((truth < cfg.min_count).mean()) if len(rows) else 0.0


def run_ckpt(ctx: Context, call: str):
    from epichypersketch_jl_spark.operators.motif import build_motif_cms

    fresh = call == "ckpt_write"
    cfg = ctx.cfg("ckpt_write")
    return build_motif_cms(
        ctx.df, cfg, checkpoint_dir=ctx.ckpt_dir(fresh), n_buckets=CKPT_BUCKETS
    )


def check_ckpt(ctx: Context, call: str, res, v: Verdict) -> None:
    cms, _metrics = res
    if call == "ckpt_resume":
        v.require(cms.to_bytes() == ctx.last_build_bytes, "ckpt_resume: sketch differs from the plain build")
        d = ctx.ckpt_dir(False)
        ctx.notes["ckpt.bytes"] = float(
            sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)
        )
        shutil.rmtree(d, ignore_errors=True)
    else:
        _check_cms(ctx, "ckpt_write", cms, v)


def run_hll(ctx: Context, call: str):
    from epichypersketch_jl_spark.operators.cardinality import hll_distinct

    return hll_distinct(ctx.df, "tokens", group_col="source", p=HLL_P).collect()


def check_hll(ctx: Context, call: str, rows, v: Verdict) -> None:
    exact = oracle.distinct_per_source(ctx.corpus)
    names = ctx.corpus.source_names
    present = [i for i in range(len(names)) if exact[i] > 0]
    got = {r["source"]: r["approx_distinct"] for r in rows}
    v.require(sorted(got) == [names[i] for i in present], "hll: wrong set of groups")
    e = np.array([exact[i] for i in present], np.float64)
    est = np.array([got.get(names[i], 0) for i in present], np.float64)
    v.bound(est - e, np.maximum(oracle.hll_bound(HLL_P) * e, 1.0), "hll:distinct count")


def run_tdigest(ctx: Context, call: str):
    from epichypersketch_jl_spark.operators.quantiles import tdigest_quantiles_grouped

    return tdigest_quantiles_grouped(
        ctx.df, "n_tok", "source", QUANTILES, compression=TDIGEST_COMPRESSION
    ).collect()


def check_tdigest(ctx: Context, call: str, rows, v: Verdict) -> None:
    names = {n: i for i, n in enumerate(ctx.corpus.source_names)}
    v.require(len(rows) == len(QUANTILES) * len(set(ctx.corpus.source.tolist())), "tdigest: wrong row count")
    err = []
    for r in rows:
        vals = ctx.n_tok_sorted(names[r["source"]])
        err.append(oracle.rank_error(vals, r["q"], r["est"]))
    v.bound(np.array(err), oracle.TDIGEST_RANK_EPS, "tdigest:rank")


def run_kll(ctx: Context, call: str):
    from epichypersketch_jl_spark.operators.quantiles import kll_quantiles

    return kll_quantiles(ctx.df, "n_tok", QUANTILES, k=KLL_K)


def check_kll(ctx: Context, call: str, res, v: Verdict) -> None:
    vals = ctx.n_tok_sorted(None)
    v.require(sorted(res) == QUANTILES, "kll: wrong quantiles")
    err = [oracle.rank_error(vals, q, res[q]) for q in QUANTILES]
    v.bound(np.array(err), oracle.kll_bound(KLL_K), "kll:rank")


def run_topk(ctx: Context, call: str):
    from epichypersketch_jl_spark.operators.topk import approx_topk

    return approx_topk(ctx.df, "tokens", k=10, n_counters=TOPK_COUNTERS).collect()


def check_topk(ctx: Context, call: str, rows, v: Verdict) -> None:
    tc = ctx.token_counts()
    item = np.array([r["item"] for r in rows], np.int64)
    est = np.array([r["est_count"] for r in rows], np.int64)
    bound = np.array([r["err_bound"] for r in rows], np.int64)
    exact = tc[item]
    n = int(tc.sum())
    v.require(len(rows) == 10, "topk: fewer than 10 rows")
    v.require(bool(((est <= exact) & (exact <= est + bound)).all()), "topk: estimate outside [exact - bound, exact]")
    v.require(bool((bound <= n / (TOPK_COUNTERS + 1) + 1).all()), "topk: err_bound above N/(m+1)")
    v.bound(exact - est, oracle.topk_bound(n, TOPK_COUNTERS), "topk:undercount")


def run_bloom(ctx: Context, call: str):
    from epichypersketch_jl_spark.operators.cardinality import build_bloom

    n_expected = int((ctx.token_counts() > 0).sum())
    return build_bloom(ctx.df, "tokens", n_expected=n_expected, fpp=BLOOM_FPP)


def bloom_fpp(ctx: Context, bf) -> float:
    absent = np.arange(ctx.corpus.spec.vocab + 1, ctx.corpus.spec.vocab + 200_001, dtype=np.int64)
    return float(bf.contains(absent).mean())


def check_bloom(ctx: Context, call: str, bf, v: Verdict) -> None:
    present = np.flatnonzero(ctx.token_counts()).astype(np.int64)
    v.require(bool(bf.contains(present).all()), "bloom: false negative")
    # the false-positive rate is measured, not checked: at the configured
    # rate it lands on either side of it by chance
    ctx.notes["bloom.fpp"] = bloom_fpp(ctx, bf)


def run_conv_build(ctx: Context, call: str):
    from epichypersketch_jl_spark.operators.motif import enriched_configurations

    ctx.last_occurrences = enriched_configurations(ctx.df, ctx.cfg("conv_build"))
    return ctx.last_occurrences


def run_conv_emit(ctx: Context, call: str):
    ctx.last_occurrences.write.format("noop").mode("overwrite").save()


def check_conv(ctx: Context, occ, v: Verdict) -> None:
    """Aggregate the emitted occurrences per key and compare with the
    oracle: each qualifying key emits exactly its exact occurrences, each
    carrying the same count >= exact, and no qualifying key is missing."""
    from pyspark.sql import functions as F

    cfg = ctx.cfg("conv_build")
    rows = (
        occ.groupBy("m1", "d12", "m2")
        .agg(F.count("*").alias("n"), F.min("count").alias("lo"), F.max("count").alias("hi"))
        .collect()
    )
    exact = ctx.index(2).counts
    got = np.array([[r["m1"], r["d12"], r["m2"]] for r in rows], np.int64).reshape(-1, 3)
    n = np.array([r["n"] for r in rows], np.int64)
    lo = np.array([r["lo"] for r in rows], np.int64)
    hi = np.array([r["hi"] for r in rows], np.int64)
    truth = ctx.index(2).lookup(got)
    v.require(bool((n == truth).all()), "conv_emit: occurrences per key differ from the exact count")
    v.require(bool((lo == hi).all()), "conv_emit: one key carries two counts")
    v.require(bool((lo >= truth).all()), "conv_emit: count below the exact count")
    v.require(bool((lo >= cfg.min_count).all()), "conv_emit: row below min_count")
    must = int((exact >= cfg.min_count).sum())
    v.require(int((truth >= cfg.min_count).sum()) == must, "conv_emit: a qualifying key is missing")
    v.bound(lo - truth, cfg.epsilon * ctx.mass(2), "cms:conv_emit", hard=False)
    ctx.notes["conv_emit.selectivity"] = float(n.sum()) / ctx.mass(2)
    ctx.notes["conv_emit.false_pos_frac"] = float((truth < cfg.min_count).mean()) if len(n) else 0.0


@dataclass(frozen=True)
class Call:
    run: Callable[[Context, str], Any]
    check: Callable[[Context, str, Any, Verdict], None] | None


CALLS: dict[str, Call] = {
    "build_k2": Call(run_build, check_build),
    "counts_k1": Call(run_counts, check_counts),
    "counts_k2": Call(run_counts, check_counts),
    "counts_k3": Call(run_counts, check_counts),
    "ckpt_write": Call(run_ckpt, check_ckpt),
    "ckpt_resume": Call(run_ckpt, check_ckpt),
    "hll": Call(run_hll, check_hll),
    "tdigest": Call(run_tdigest, check_tdigest),
    "kll": Call(run_kll, check_kll),
    "topk": Call(run_topk, check_topk),
    "bloom": Call(run_bloom, check_bloom),
    # the conv pass is checked once per run, on its emitted occurrences
    "conv_build": Call(run_conv_build, None),
    "conv_emit": Call(run_conv_emit, None),
}
