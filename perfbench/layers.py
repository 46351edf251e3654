"""Per-layer numbers for one operation, read from Spark's status store.

``sparkContext.statusTracker()`` gives the jobs of a job group and their
stages; ``statusStore().lastStageAttempt(id)`` gives each stage's task
metrics; ``statusStore().job(id)`` gives a job's submission and completion
time. All three stay populated with ``spark.ui.enabled=false``.

Spans are plain dicts kept in memory and written out with the run record:
one per operation, child spans for its build and execute phases, and one
per Spark job."""

from __future__ import annotations

import os
import time

from py4j.protocol import Py4JJavaError

# StageData getter -> name in the per-operation record
_STAGE_FIELDS = {
    "numCompleteTasks": "tasks",
    "executorRunTime": "run_ms",
    "executorCpuTime": "cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_mem_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
}


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def list_files(root: str, skip: str = "spark-local") -> set[str]:
    """Paths of the files under ``root``, leaving out Spark's own shuffle
    directory."""
    out = set()
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x != skip]
        out.update(os.path.join(d, f) for f in files)
    return out


class StatusReader:
    """Reads job, stage and task metrics of one job group."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._tracker = self._sc.statusTracker()
        # JVM wall-clock milliseconds -> this process's perf_counter seconds
        self._offset = time.time() - time.perf_counter()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group))

    def read(self, job_ids: list[int]) -> tuple[dict, list[tuple]]:
        """Summed stage metrics of ``job_ids`` and each job's
        (id, start, end) on the perf_counter clock."""
        self._bus.waitUntilEmpty()
        m = dict.fromkeys(_STAGE_FIELDS.values(), 0)
        m["jobs"], m["stages"] = len(job_ids), 0
        spans = []
        for j in job_ids:
            jd = self._store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((j, sub.get().getTime() / 1e3 - self._offset,
                              done.get().getTime() / 1e3 - self._offset))
            for s in self._tracker.getJobInfo(j).stageIds:
                try:
                    sd = self._store.lastStageAttempt(s)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                m["stages"] += 1
                for getter, key in _STAGE_FIELDS.items():
                    m[key] += getattr(sd, getter)()
        return m, spans


def op_record(op, wall: float, build_s: float, t0: float, t_exec: float,
              t1: float, build_jobs: int, m: dict, job_spans: list,
              cores: int) -> dict:
    """Flatten one traced operation into the per-layer record."""
    run_s = m["run_ms"] / 1e3
    cpu_s = m["cpu_ns"] / 1e9
    job_s = covered([(a, b) for _, a, b in job_spans], t0, t1)
    return {
        "op": op.name, "family": op.family, "wall_s": wall,
        "build_s": build_s, "exec_s": t1 - t_exec,
        "build_jobs": build_jobs, "jobs": m["jobs"], "stages": m["stages"],
        "tasks": m["tasks"], "run_s": run_s, "cpu_s": cpu_s,
        "gc_s": m["gc_ms"] / 1e3, "offcpu_s": max(0.0, run_s - cpu_s),
        "shuffle_write_bytes": m["shuffle_write_bytes"],
        "shuffle_read_bytes": m["shuffle_read_bytes"],
        "spill_bytes": m["spill_mem_bytes"] + m["spill_disk_bytes"],
        "input_bytes": m["input_bytes"], "output_bytes": m["output_bytes"],
        "job_s": job_s, "driver_gap_s": wall - job_s,
        "build_self_s": build_s - covered(
            [(a, b) for _, a, b in job_spans], t0, t_exec),
        "exec_self_s": (t1 - t_exec) - covered(
            [(a, b) for _, a, b in job_spans], t_exec, t1),
        "overhead_s": wall - run_s / cores,
    }


def spans_for(op_id: int, name: str, t0: float, t_exec: float, t1: float,
              job_spans: list) -> list[dict]:
    """The operation span, its build and execute children, and one span
    per Spark job (parented to the phase it started in)."""
    out = [{"id": f"{op_id}", "parent": None, "name": name,
            "start": t0, "end": t1},
           {"id": f"{op_id}.build", "parent": f"{op_id}", "name": "build",
            "start": t0, "end": t_exec},
           {"id": f"{op_id}.execute", "parent": f"{op_id}", "name": "execute",
            "start": t_exec, "end": t1}]
    for j, a, b in job_spans:
        phase = "build" if a < t_exec else "execute"
        out.append({"id": f"{op_id}.job{j}", "parent": f"{op_id}.{phase}",
                    "name": f"job {j}", "start": a, "end": b})
    return out
