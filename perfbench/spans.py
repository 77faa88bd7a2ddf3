"""Spans recorded around the engine calls, and the layer metrics derived from
them and from Spark's status store.

Every query execution gets an id (`<client>.<n>:<name>`); in a traced pass
the calling thread sets it as the Spark job group, so each job, its stages
and their task metrics can be attributed to the execution that launched
them. Spans stay in memory and are written out once at the end of a run.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, layer: str, qid: str = "-", **attrs):
        start = time.time()
        try:
            yield
        finally:
            self.add(layer, qid, start, time.time(), **attrs)

    def add(self, layer: str, qid: str, start: float, end: float, **attrs) -> None:
        with self._lock:
            self.spans.append({"layer": layer, "qid": qid, "start": start, "end": end, **attrs})

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, **extra}, indent=1))


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase of `df`'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out, it = {}, phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000
    return out


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


_STAGE_FIELDS = {
    "exec.task_run_s": lambda s: s.executorRunTime() / 1e3,
    "exec.task_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "exec.gc_s": lambda s: s.jvmGcTime() / 1e3,
    "exec.input_bytes": lambda s: s.inputBytes(),
    "exec.shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "exec.shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "exec.spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    "exec.tasks": lambda s: s.numTasks(),
    "exec.failed_tasks": lambda s: s.numFailedTasks(),
}


def job_stats(spark, executions: list[dict], retained: int) -> dict[str, dict]:
    """Status-store totals per execution id: jobs, stages, task metrics,
    the time its stages waited for a first task, and its wall time outside
    any job. Raises if the store may have evicted any of them: it holds at
    most `retained` jobs and `retained` stages."""
    store = spark.sparkContext._jsc.sc().statusStore()
    wanted = {e["qid"]: e for e in executions}
    jobs: dict[str, list] = defaultdict(list)
    all_jobs = store.jobsList(None)
    if all_jobs.size() >= retained:
        raise RuntimeError(f"status store holds {all_jobs.size()} jobs, its limit: some may be evicted")
    it = all_jobs.iterator()
    while it.hasNext():
        j = it.next()
        group = j.jobGroup()
        if group.isDefined() and group.get() in wanted:
            stage_ids = j.stageIds()
            jobs[group.get()].append((
                _opt_ms(j.submissionTime()), _opt_ms(j.completionTime()),
                [stage_ids.apply(i) for i in range(stage_ids.size())],
            ))
    stage_owner = {sid: q for q, js in jobs.items() for *_, sids in js for sid in sids}
    names = ["exec.stages", "exec.task_wait_s", *_STAGE_FIELDS]
    stats = {q: dict.fromkeys(names, 0.0) for q in wanted}
    empty = spark.sparkContext._gateway.new_array(spark.sparkContext._jvm.double, 0)
    all_stages = store.stageList(None, False, False, empty, None)
    if all_stages.size() >= retained:
        raise RuntimeError(f"status store holds {all_stages.size()} stages, its limit: some may be evicted")
    it = all_stages.iterator()
    seen = set()
    while it.hasNext():
        s = it.next()
        seen.add(s.stageId())
        q = stage_owner.get(s.stageId())
        if q is None:
            continue
        st = stats[q]
        st["exec.stages"] += 1
        for name, get in _STAGE_FIELDS.items():
            st[name] += get(s)
        sub, first = _opt_ms(s.submissionTime()), _opt_ms(s.firstTaskLaunchedTime())
        if sub is not None and first is not None:
            st["exec.task_wait_s"] += max(0.0, first - sub) / 1e3
    missing = stage_owner.keys() - seen
    if missing:
        raise RuntimeError(f"status store lacks stages {sorted(missing)[:10]} of traced jobs")
    for q, e in wanted.items():
        st = stats[q]
        st["exec.jobs"] = len(jobs[q])
        spans = [
            (max(a / 1e3, e["start"]), min(b / 1e3, e["end"]))
            for a, b, _ in jobs[q] if a is not None and b is not None
        ]
        st["driver.outside_jobs_s"] = (e["end"] - e["start"]) - _union_s(
            [(a, b) for a, b in spans if b > a]
        )
    return stats


def memo_storage(spark) -> tuple[int, int]:
    """(persisted RDDs, their memory + disk bytes) held by the context."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos)
