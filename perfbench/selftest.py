"""``run.py --self-test``: every workload at tiny scale, in one session.

Asserts that the fast oracles agree with brute-force enumeration, that
the generator's hash is Spark's xxhash64, that each workload runs clean
in both modes, and that a run prints exactly the metrics BENCHMARK.json
names for its mode, each with its unit -- every one of which carries a
direction there.
"""

from __future__ import annotations

import dataclasses
import math
import time

import numpy as np


def _tiny(w):
    spec = w.corpus
    n_docs = spec.n_parts + 150  # every partition non-empty
    return dataclasses.replace(
        w, corpus=dataclasses.replace(spec, n_docs=n_docs, len_hi=min(spec.len_hi, 30))
    )


def _check_benchmark_json(doc: dict, errors: list[str]) -> None:
    from workloads import WORKLOADS

    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(doc) != keys:
        errors.append(f"BENCHMARK.json keys {sorted(doc)}")
    if {(w["name"], w["why"]) for w in doc["workloads"]} != {
        (w.name, w.why) for w in WORKLOADS.values()
    }:
        errors.append("BENCHMARK.json workloads differ from workloads.WORKLOADS")
    for m in doc["end_to_end"] + doc["per_layer"]:
        if m.get("better") not in ("lower", "higher") or not m.get("unit"):
            errors.append(f"BENCHMARK.json metric without unit or direction: {m}")


def _check_oracles(errors: list[str]) -> None:
    import oracle
    from corpus import generate
    from workloads import WORKLOADS

    for w in WORKLOADS.values():
        c = generate(dataclasses.replace(w.corpus, n_docs=120, len_hi=min(w.corpus.len_hi, 14)), 3)
        for m in {(m.k, m.filter_len) for m in w.motif.values()}:
            keys, cnt = oracle.motif_counts(c, *m)
            fast = {tuple(map(int, k)): int(n) for k, n in zip(keys, cnt)}
            if fast != oracle.motif_counts_brute(c, *m):
                errors.append(f"{w.name}: oracle k={m[0]} differs from brute force")


def _check_result(doc: dict, name: str, trace: bool, result: dict, errors: list[str]) -> None:
    want = {m["name"]: m["unit"] for m in doc["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    if set(got) != set(want):
        errors.append(f"{name} trace={int(trace)}: metrics {sorted(set(got) ^ set(want))} differ")
    for k, v in got.items():
        if v.get("unit") != want.get(k) or not math.isfinite(v["value"]):
            errors.append(f"{name} trace={int(trace)}: {k} = {v}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        errors.append(f"{name} trace={int(trace)}: {result['failed']} failed calls")


def self_test() -> int:
    from pyspark.sql import functions as F

    from corpus import xxh64_u64
    from instrument import RssSampler
    from run import measure, remove_work, spec, start_session, stop_session
    from workloads import WORKLOADS

    doc = spec()
    errors: list[str] = []
    _check_benchmark_json(doc, errors)
    _check_oracles(errors)
    sampler = RssSampler()
    t0 = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t0
    try:
        ids = np.arange(-500, 500, dtype=np.int64)
        spark_h = [r[0] for r in spark.createDataFrame([(int(i),) for i in ids], "x long")
                   .select(F.xxhash64("x")).collect()]
        if spark_h != xxh64_u64(ids.view(np.uint64), 42).view(np.int64).tolist():
            errors.append("corpus.xxh64_u64 differs from Spark's xxhash64")
        for w in WORKLOADS.values():
            tiny = _tiny(w)
            for trace in (False, True):
                result, detail = measure(spark, tiny, 7, 0.0, trace, session_s, sampler)
                _check_result(doc, w.name, trace, result, errors)
                if detail["partitions"] != tiny.corpus.n_parts:
                    errors.append(f"{w.name}: {detail['partitions']} input partitions")
                errors.extend(f"{w.name}: {f}" for f in detail["failures"])
            print(f"self-test: {w.name} ok", flush=True)
    finally:
        sampler.close()
        stop_session(spark)
        remove_work()
    for e in errors:
        print(f"self-test FAILED: {e}")
    if not errors:
        print("self-test passed")
    return 1 if errors else 0
