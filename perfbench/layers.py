"""Per-layer metrics of the traced run.

Spark-side layers come from the status store (stage busy time, CPU, GC,
shuffle and result bytes, per-task durations) of each labelled call.
Python-side layers are timed in this process over one task's share of
the workload's own input -- its first 1/n_parts of rows, fed in Arrow
batches of the session's batch size -- so they are also the
single-threaded baseline of the kernels and of the CMS blob path.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from instrument import CallTrace, StageReader

ARROW_ROWS = 4096


def _timed(fn, reps: int = 1) -> tuple[float, object]:
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def read_pass(sc, group: str, results) -> dict[str, dict]:
    """Status-store summary of every call of one traced pass."""
    reader = StageReader(sc)
    return {
        name: CallTrace(wall, reader.stages_of(f"{group}:{name}")).summary()
        for name, _res, wall, _err in results
    }


def _median_of(traced: list[dict], call: str, key: str) -> float:
    return statistics.median(p[call][key] for p in traced)


def spark_layers(traced: list[dict], build_call: str, cpus: int) -> dict[str, float]:
    """build.* for the workload's sketch-build call and pass.* summed over
    all calls of a pass, as medians over the traced passes."""
    out = {}
    b = {k: _median_of(traced, build_call, k) for k in traced[0][build_call]}
    out["build.call_s"] = b["call_s"]
    out["build.stage_s"] = b["stage_s"]
    out["build.driver_s"] = b["driver_gap_s"]
    out["build.executor_cpu_s"] = b["executor_cpu_s"]
    out["build.result_bytes"] = b["result_bytes"]
    out["build.tasks"] = b["tasks"]
    out["build.task_wall_s_sum"] = b["task_s_sum"]
    out["build.task_skew"] = b["task_skew"]
    out["build.parallel_eff"] = b["task_s_sum"] / (cpus * b["call_s"])

    def pass_total(p: dict, key: str) -> float:
        vals = [c[key] for c in p.values()]
        return max(vals) if key == "task_skew" else sum(vals)

    for key in (
        "call_s", "stage_s", "driver_gap_s", "executor_cpu_s",
        "shuffle_bytes", "result_bytes", "task_skew", "tasks",
    ):
        out[f"pass.{key}"] = statistics.median(pass_total(p, key) for p in traced)
    return out


def call_breakdown(traced: list[dict]) -> dict[str, dict]:
    """Per-call medians over the traced passes, for the detail line."""
    return {c: {k: _median_of(traced, c, k) for k in traced[0][c]} for c in traced[0]}


def scan_layers(df) -> dict[str, float]:
    """Floors under every call: a full scan of the cached input, and an
    identity mapInArrow over the same partitions (the PySpark round trip
    with no library code)."""
    from pyspark.sql import functions as F

    scan, _ = _timed(lambda: df.agg(F.count("*"), F.sum("n_tok")).collect(), reps=3)

    def identity(batches):
        yield from batches

    floor, _ = _timed(
        lambda: df.mapInArrow(identity, df.schema).write.format("noop").mode("overwrite").save(),
        reps=2,
    )
    return {"sources.scan_s": scan, "spark.task_floor_s": floor}


def _chunks(corpus, lo: int, hi: int):
    """(tokens, offsets, positions | None) per Arrow-sized chunk of rows."""
    for a in range(lo, hi, ARROW_ROWS):
        b = min(a + ARROW_ROWS, hi)
        o = corpus.offsets[a : b + 1]
        tok = corpus.tokens[o[0] : o[-1]]
        pos = corpus.positions[o[0] : o[-1]] if corpus.positions is not None else None
        yield tok, (o - o[0]).astype(np.int64), pos


def kernel_layers(ctx, build_call: str, merged) -> dict[str, float]:
    """Single-process kernel and CMS blob timings over one task's share
    of the input; ``merged`` is the workload's full merged sketch."""
    from epichypersketch_jl_spark.functions.motif_kernels import (
        _value_bound,
        aggregate_batch,
        build_batch,
        extract_batch,
        make_cms,
        multiset_fold,
    )
    from epichypersketch_jl_spark.sketches.base import from_bytes

    c, cfg = ctx.corpus, ctx.cfg(build_call)
    conv = c.positions is not None
    chunks = list(_chunks(c, 0, max(1, len(c.doc_id) // c.spec.n_parts)))

    def build():
        sk = make_cms(cfg, conv)
        for tok, off, pos in chunks:
            build_batch(sk, tok, off, cfg, positions_flat=pos)
        return sk

    t_build, task = _timed(build)
    updates = task.n_updates
    hits = [
        not conv and multiset_fold(tok, off, cfg.motif_size, _value_bound(tok, None)) is not None
        for tok, off, _ in chunks
    ]
    t_agg, _ = _timed(
        lambda: [aggregate_batch(merged, t, o, cfg, positions_flat=p) for t, o, p in chunks]
    )
    t_ext, _ = _timed(
        lambda: [extract_batch(merged, t, o, cfg, positions_flat=p) for t, o, p in chunks]
    )
    t_enc, blob = _timed(task.to_bytes, reps=5)
    t_dec, _ = _timed(lambda: from_bytes(blob), reps=5)
    n_merge = min(c.spec.n_parts, 32)

    def merge():
        acc = make_cms(cfg, conv)
        acc.merge_blobs_inplace([blob] * n_merge)

    t_merge, _ = _timed(merge, reps=3)
    keys = np.tile(ctx.probe(cfg.motif_size)[0], (50, 1))
    t_est, _ = _timed(lambda: merged.estimate(keys), reps=3)
    return {
        "kernel.build_updates_per_s": updates / t_build,
        "kernel.fold_hit": float(np.mean(hits)),
        "kernel.aggregate_updates_per_s": updates / t_agg,
        "kernel.extract_updates_per_s": updates / t_ext,
        "cms.task_blob_bytes": float(len(blob)),
        "cms.encode_s": t_enc,
        "cms.decode_s": t_dec,
        "cms.merge_s_per_blob": t_merge / n_merge,
        "cms.estimate_keys_per_s": len(keys) / t_est,
        "cms.noise_floor_ratio": cfg.epsilon * ctx.mass(cfg.motif_size) / cfg.min_count,
    }


def dominance(ctx, build_call: str, calls: dict, kernel: dict, floor_s: float) -> dict:
    """Whether the library's kernels or fixed costs dominate the calls that
    run them: the single-core kernel time over the whole input, beside the
    call's summed task time, stage-busy time, driver gap and the identity
    mapInArrow floor.  ``kernel_frac`` is kernel time / task time."""
    n = ctx.mass(ctx.cfg(build_call).motif_size)
    build_s = n / kernel["kernel.build_updates_per_s"]
    kernel_s = {
        build_call: build_s,
        "counts_k2": build_s + n / kernel["kernel.aggregate_updates_per_s"],
        "conv_emit": n / kernel["kernel.extract_updates_per_s"],
    }
    out = {}
    for call, k_s in kernel_s.items():
        if call not in calls:
            continue
        c = calls[call]
        out[call] = {
            "kernel_s": k_s,
            "task_s_sum": c["task_s_sum"],
            "kernel_frac": k_s / c["task_s_sum"],
            "stage_s": c["stage_s"],
            "driver_gap_s": c["driver_gap_s"],
            "task_floor_s": floor_s,
        }
    return out
