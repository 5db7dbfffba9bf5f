"""Benchmark of the epichypersketch_jl_spark engine at local[nproc].

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Run from the root of a checkout.  One run starts a Spark session, makes
the workload's corpus from the seed, hands the table to the library's
public calls in a closed loop (one client, each call after the previous
one returned) for ``--seconds``, checks every output against an exact
numpy oracle outside the timed window, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (see BENCHMARK.json and perfbench/README.md).  A line before it,
``{"detail": ...}``, carries sample counts, quartiles, per-pass CPU
contamination flags and per-call breakdowns.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB = os.path.join(ROOT, "epichypersketch_jl_spark", "__init__.py")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
# scratch space of this process, inside the checkout
WORK = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
LOADS = 3  # set-ups per run; setup_s reports their median


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spec() -> dict:
    """BENCHMARK.json: the metric names, units, directions and bounds."""
    with open(SPEC) as f:
        return json.load(f)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    """The harness session of bench.py, sized to this machine: local[nproc],
    a fixed 2 GB driver heap (well below RAM, and steady peak RSS), no
    console progress bar, scratch space inside the checkout.  The Arrow
    conversion conf is left at Spark's default, as bench.py leaves it."""
    from pyspark.sql import SparkSession

    from epichypersketch_jl_spark.session import apply_malloc_tuning

    cpus = _cpus()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark")
    # the spark-submit launcher JVM: no perf-data file, temp files here
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    apply_malloc_tuning()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.default.parallelism", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions", f"-Xms2g -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def load(spark, corpus):
    """Hand the generated table to Spark as a cached DataFrame of
    ``n_parts`` contiguous doc_id ranges."""
    df = spark.createDataFrame(corpus.arrow_table())
    df = df.repartitionByRange(corpus.spec.n_parts, "doc_id").cache()
    df.count()
    return df


def _q(vals: list[float]) -> dict:
    """Median, quartiles and sample count of a list of timings."""
    if len(vals) >= 2:
        q1, q2, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    else:
        q1 = q2 = q3 = vals[0]
    return {"median": q2, "p25": q1, "p75": q3, "n": len(vals)}


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []
        self.ratios: dict[str, list[float]] = {}
        self.failed = 0

    def add(self, v, call: bool = True) -> None:
        self.attempted += call
        for what, r in v.ratios.items():
            self.ratios.setdefault(what, []).extend(r)
        if v.failures:
            self.failed += 1
            self.failures.extend(v.failures)

    def all_ratios(self) -> list[float]:
        return [r for rs in self.ratios.values() for r in rs]

    def family(self, name: str) -> list[float]:
        """Ratios of one sketch family (``cms``, ``hll``, ...)."""
        return [r for k, rs in self.ratios.items() if k.split(":")[0] == name for r in rs]


def tail_mean(vals: list[float], share: float) -> float:
    """Mean of the largest ``share`` of ``vals`` (at least one value).
    CMS errors are whole counts, so a single quantile of error / eps*N
    jumps in steps of 1 / (eps*N); a mean over the tail does not."""
    if not vals:
        return 0.0
    top = np.sort(np.asarray(vals))[-max(1, int(len(vals) * share)) :]
    return float(top.mean())


def run_pass(ctx, calls, group: str | None = None) -> list[tuple]:
    """One closed-loop pass: (call, result, wall_s, error) per call."""
    from workloads import CALLS

    sc = ctx.spark.sparkContext
    out = []
    for name in calls:
        if group is not None:
            sc.setJobGroup(f"{group}:{name}", name, False)
        t0 = time.perf_counter()
        try:
            res, err = CALLS[name].run(ctx, name), None
        except Exception as e:  # a failed call is counted, not fatal
            res, err = None, e
        out.append((name, res, time.perf_counter() - t0, err))
    if group is not None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out


def check_pass(ctx, results, tally: Tally) -> None:
    from workloads import CALLS, Verdict

    for name, res, _wall, err in results:
        v = Verdict()
        if err is not None:
            v.failures.append(f"{name}: raised {type(err).__name__}: {err}")
        elif CALLS[name].check is not None:
            try:
                CALLS[name].check(ctx, name, res, v)
            except Exception as e:
                v.failures.append(f"{name}: check raised {type(e).__name__}: {e}")
        tally.add(v)


def check_run(ctx, tally: Tally) -> None:
    """Checks made once per run, on the last pass's output."""
    from workloads import Verdict, check_conv

    if ctx.last_occurrences is not None:
        v = Verdict()
        try:
            check_conv(ctx, ctx.last_occurrences, v)
        except Exception as e:
            v.failures.append(f"conv_emit: check raised {type(e).__name__}: {e}")
        tally.add(v, call=False)


def measure(spark, w, seed: int, seconds: float, trace: bool, session_s: float, sampler):
    """Set up, warm up, then run closed-loop passes for ``seconds`` (at
    least one; in a traced run at least one untraced and one traced pass,
    alternating).  Returns (result line, detail)."""
    import layers
    from corpus import generate
    from instrument import CpuWindow
    from workloads import Context

    load_s, df = [], None
    for _ in range(LOADS):
        if df is not None:
            df.unpersist(blocking=True)
        t0 = time.perf_counter()
        corpus = generate(w.corpus, seed)
        df = load(spark, corpus)
        load_s.append(time.perf_counter() - t0)
    ctx = Context(spark, df, corpus, w, WORK, seed)
    for name in w.motif:  # oracle tables and thresholds, outside any timing
        ctx.cfg(name)
    tally = Tally()
    t0 = time.perf_counter()
    warm = run_pass(ctx, w.calls)
    warmup_s = time.perf_counter() - t0
    check_pass(ctx, warm, tally)
    setup_s = session_s + statistics.median(load_s) + warmup_s

    passes: list[dict] = []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(passes) < (2 if trace else 1):
        group = f"p{len(passes)}" if trace and len(passes) % 2 == 1 else None
        sampler.active = True
        with CpuWindow() as cpu:
            res = run_pass(ctx, w.calls, group)
        sampler.active = False
        rec = {
            "job_s": sum(r[2] for r in res),
            "calls": {r[0]: r[2] for r in res},
            "ext_cpu_frac": cpu.ext_frac,
            "kthread_cpu_frac": cpu.kthread_frac,
            "contaminated": cpu.contaminated,
            "traced": group is not None,
        }
        check_pass(ctx, res, tally)
        if group is not None:
            rec["stages"] = layers.read_pass(spark.sparkContext, group, res)
        passes.append(rec)
    check_run(ctx, tally)
    if trace:  # every sketch family's accuracy, on every workload's input
        from workloads import FAMILY_CALLS

        check_pass(ctx, run_pass(ctx, [c for c in FAMILY_CALLS if c not in w.calls]), tally)

    build_call = w.calls[0]
    plain = [p for p in passes if not p["traced"]]
    job = _q([p["job_s"] for p in plain])
    build = _q([p["calls"][build_call] for p in plain])
    detail = {
        "workload": w.name,
        "seed": seed,
        "cpus": _cpus(),
        "n_docs": w.corpus.n_docs,
        "n_tokens": corpus.n_tokens,
        "partitions": df.rdd.getNumPartitions(),
        "setup": {"session_s": session_s, "load_s": load_s, "warmup_s": warmup_s},
        "job_s": job,
        "build_s": build,
        "calls_s": {c: _q([p["calls"][c] for p in plain]) for c in w.calls},
        "passes_contaminated": sum(p["contaminated"] for p in plain),
        "ext_cpu_frac": [round(p["ext_cpu_frac"], 4) for p in plain],
        "kthread_cpu_frac": [round(p["kthread_cpu_frac"], 4) for p in plain],
        "rss_samples": sampler.samples,
        "rss_peak_mb": {k: v / 2**20 for k, v in sampler.peak.items()},
        "err_over_bound": {k: {"max": max(r), "n": len(r)} for k, r in tally.ratios.items()},
        "failures": tally.failures[:20],
    }
    if trace:
        traced = [p["stages"] for p in passes if p["traced"]]
        merged = ctx.last_cms
        if merged is None:  # conv: the build happens inside enriched_configurations
            from epichypersketch_jl_spark.operators.motif import build_motif_cms

            merged = build_motif_cms(df, ctx.cfg(build_call))[0]
        kernel = layers.kernel_layers(ctx, build_call, merged)
        spark_l = layers.spark_layers(traced, build_call, _cpus())
        metrics = {
            **layers.scan_layers(df),
            **kernel,
            **spark_l,
            **{
                f"{f}.err_over_bound": max(tally.family(f), default=float("nan"))
                for f in ("hll", "kll", "tdigest", "topk")
            },
            "bloom.fpp": ctx.notes.get("bloom.fpp", float("nan")),
            "trace.overhead_frac": statistics.median(p["job_s"] for p in passes if p["traced"])
            / job["median"]
            - 1.0,
            "rss.driver_mb": sampler.peak["driver"] / 2**20,
            "rss.jvm_mb": sampler.peak["jvm"] / 2**20,
            "rss.workers_mb": sampler.peak["workers"] / 2**20,
        }
        detail["calls"] = layers.call_breakdown(traced)
        detail["dominance"] = layers.dominance(
            ctx, build_call, detail["calls"], kernel, metrics["spark.task_floor_s"]
        )
        metrics["build.kernel_frac"] = detail["dominance"][build_call]["kernel_frac"]
        detail["stage_plus_gap_err_max"] = max(
            abs(c["stage_s"] + c["driver_gap_s"] - c["call_s"]) / c["call_s"]
            for p in traced
            for c in p.values()
        )
        detail["notes"] = ctx.notes
    else:
        ratios = tally.all_ratios()
        cms = tally.family("cms")
        metrics = {
            "setup_s": setup_s,
            "job_s": job["median"],
            "build_tokens_per_s": corpus.n_tokens / build["median"],
            "peak_rss_mb": sampler.peak["total"] / 2**20,
            "err_over_bound_tail": tail_mean(cms, 0.01),
            "bound_pass_frac": sum(r <= 1.0 for r in ratios) / max(1, len(ratios)),
            "ok_frac": 1.0 - tally.failed / tally.attempted,
        }
    doc = spec()
    units = {m["name"]: m["unit"] for m in doc["end_to_end"] + doc["per_layer"]}
    df.unpersist(blocking=True)
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, detail


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    from instrument import RssSampler
    from workloads import WORKLOADS

    sampler = RssSampler()
    t0 = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t0
    try:
        return measure(spark, WORKLOADS[workload], seed, seconds, trace, session_s, sampler)
    finally:
        sampler.close()
        stop_session(spark)
        remove_work()


def remove_work() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(WORK))  # only when no other run is using it
    except OSError:
        pass


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if not all(os.path.isfile(f) for f in (LIB, SPEC, os.path.join(ROOT, "bench.py"))):
        _fail(f"no epichypersketch_jl_spark package, bench.py and BENCHMARK.json beside {HERE}")
    sys.path[:0] = [ROOT, HERE]
    if args.self_test:
        from selftest import self_test

        sys.exit(self_test())
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"--workload must be one of {sorted(WORKLOADS)}")
    result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
