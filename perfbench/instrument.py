"""Run hygiene and tracing helpers: process-tree RSS sampling, per-pass
outside-CPU contamination (the /proc method of ``bench.run_reps``), and
per-call stage metrics read back from Spark's status store by job group.
"""

from __future__ import annotations

import os
import statistics
import threading
from dataclasses import dataclass, field

import bench  # the repo's harness: /proc CPU accounting is reused, not copied

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                s = f.read()
        except OSError:
            continue
        ppid = int(s[s.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def _descendants(root: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_rss() -> dict[str, int]:
    """RSS bytes of this process (driver), the JVM, and the JVM's Python
    workers, in one /proc sweep."""
    me = os.getpid()
    kids = _children()
    jvm = [p for p in _descendants(me, kids) if _comm(p) == "java"]
    workers = [w for j in jvm for w in _descendants(j, kids)]
    return {
        "driver": _rss(me),
        "jvm": sum(_rss(p) for p in jvm),
        "workers": sum(_rss(p) for p in workers),
    }


class RssSampler:
    """Background sampler of the process tree's RSS while ``active``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.active = False
        self.peak = {"driver": 0, "jvm": 0, "workers": 0, "total": 0}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            if not self.active:
                continue
            r = tree_rss()
            r["total"] = sum(r.values())
            for k, v in r.items():
                self.peak[k] = max(self.peak[k], v)
            self.samples += 1

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


class CpuWindow:
    """Outside-CPU share of the box over a window, as ``bench.run_reps``
    computes it: busy jiffies not spent by this process tree or by
    kernel threads, over all jiffies."""

    def __enter__(self):
        self.tot0, self.idle0 = bench._cpu_stat()
        self.ours0, self.kt0 = bench._tree_jiffies()
        return self

    def __exit__(self, *exc):
        tot1, idle1 = bench._cpu_stat()
        ours1, kt1 = bench._tree_jiffies()
        total = max(1, tot1 - self.tot0)
        busy = total - (idle1 - self.idle0)
        ext = busy - (ours1 - self.ours0) - (kt1 - self.kt0)
        self.ext_frac = max(0.0, ext) / total
        self.kthread_frac = (kt1 - self.kt0) / total
        self.contaminated = self.ext_frac > bench.EXT_CPU_CONTAMINATION_FRAC
        return False


# ------------------------------------------------------------ stage metrics


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


@dataclass
class CallTrace:
    """Stage-level accounting of one public call, from the status store."""

    wall_s: float
    stages: list[dict] = field(default_factory=list)

    def busy_s(self) -> float:
        """Length of the union of the call's stage intervals."""
        iv = sorted((s["start"], s["end"]) for s in self.stages)
        total, cur_lo, cur_hi = 0, None, None
        for lo, hi in iv:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total / 1000.0

    def summary(self) -> dict[str, float]:
        st = self.stages
        busy = self.busy_s()
        durs = [d for s in st for d in s["task_ms"]]
        skew = 1.0
        for s in st:
            if len(s["task_ms"]) >= 2:
                med = statistics.median(s["task_ms"])
                skew = max(skew, max(s["task_ms"]) / max(med, 1.0))
        return {
            "call_s": self.wall_s,
            "stage_s": busy,
            "driver_gap_s": max(0.0, self.wall_s - busy),
            "executor_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
            "jvm_gc_s": sum(s["gc_ms"] for s in st) / 1000.0,
            "shuffle_bytes": float(sum(s["shuffle_read"] + s["shuffle_write"] for s in st)),
            "result_bytes": float(sum(s["result_bytes"] for s in st)),
            "task_skew": skew,
            "output_rows": float(sum(s["output_rows"] for s in st)),
            "tasks": float(len(durs)),
            "task_s_sum": sum(durs) / 1000.0,
        }


class StageReader:
    """Reads finished stages of a job group back from the status store."""

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()

    def stages_of(self, group: str) -> list[dict]:
        jobs = self.store.jobsList(None)
        ids = set()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if g.isDefined() and g.get() == group:
                sids = j.stageIds()
                ids.update(int(sids.apply(k)) for k in range(sids.size()))
        out = []
        for sid in sorted(ids):
            try:
                s = self.store.lastStageAttempt(sid)
            except Exception:  # stage pruned or never attempted
                continue
            start, end = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
            if start is None or end is None:
                continue  # skipped stage
            tl = self.store.taskList(sid, s.attemptId(), 1 << 20)
            task_ms = []
            for k in range(tl.size()):
                d = tl.apply(k).duration()
                if d.isDefined():
                    task_ms.append(float(d.get()))
            out.append(
                {
                    "start": start,
                    "end": end,
                    "cpu_ns": int(s.executorCpuTime()),
                    "gc_ms": int(s.jvmGcTime()),
                    "shuffle_read": int(s.shuffleReadBytes()),
                    "shuffle_write": int(s.shuffleWriteBytes()),
                    "result_bytes": int(s.resultSize()),
                    "output_rows": int(s.outputRecords()),
                    "task_ms": task_ms,
                }
            )
        return out

