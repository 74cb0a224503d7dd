"""Span recording and Spark status-store readers for traced runs.

A span is ``{id, name, start, end, parent, run, **attrs}``; spans nest
per thread and are kept in memory until the run writes them out. The
benchmark opens spans only around calls into the package's layers, so
an untraced run installs nothing and pays nothing.

Execution counts come from Spark's in-process status store (no UI, no
network): jobs carry the benchmark's job tags, which attributes every
job, stage and task to the operation (and phase) that started it.
"""

from __future__ import annotations

import functools
import itertools
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block; yields the span's attribute
        dict so the block can add to it. A no-op when disabled."""
        if not self.enabled:
            yield attrs
            return
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "run": self.run_id,
            **attrs,
        }
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(rec)

    def current(self, prefix: str) -> dict | None:
        """Innermost open span on this thread whose name starts with
        ``prefix``."""
        for rec in reversed(self._stack()):
            if rec["name"].startswith(prefix):
                return rec
        return None


def install_artifact_spans(tracer: Tracer) -> None:
    """Wrap the three artifact lookups in spans. Must run before the
    plan modules are imported: some bind the lookups at import time.

    A lookup counts as a build when ``BUILD_SECONDS`` grew under the
    lookup's own record name (the bare name for a frame, ``census:<name>``
    for a census value, ``dir:<name>`` for a directory) during it on the
    calling thread; a lookup that waited on another thread's build of
    the same name therefore counts as a wait, not a build."""
    from prueba_tecnica_analista_etl_spark import artifacts

    record = artifacts._record_build

    def record_on_span(name: str, seconds: float) -> None:
        rec = tracer.current("artifacts.")
        if rec is not None and rec["record"] == name:
            rec["built"] = True
            rec["build_s"] = rec.get("build_s", 0.0) + seconds
        record(name, seconds)

    artifacts._record_build = record_on_span

    def wrap(fn, kind: str, name_pos: int, prefix: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            name = kwargs.get("name", args[name_pos] if len(args) > name_pos else "?")
            with tracer.span(f"artifacts.{kind}", artifact=name, record=prefix + name, built=False):
                return fn(*args, **kwargs)

        return traced

    artifacts.corpus_artifact = wrap(artifacts.corpus_artifact, "frame", 2, "")
    artifacts.census_artifact = wrap(artifacts.census_artifact, "census", 2, "census:")
    artifacts.artifact_directory = wrap(artifacts.artifact_directory, "directory", 1, "dir:")


def dir_bytes(path: str, skip: str | None = None) -> int:
    """Bytes of the files under ``path``, not descending into ``skip``."""
    total = 0
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if x != skip]
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# ---------------------------------------------------------- status store


def drain_listeners(spark) -> None:
    """Wait until the status store has seen every event so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def job_stats(spark) -> list[dict]:
    """Every retained job with its tags and the summed metrics of its
    executed (not skipped) stages."""
    drain_listeners(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    stages: dict[int, dict] = {}
    out = []
    for j in _seq(store.jobsList(None)):
        ids = [int(x) for x in j.stageIds().mkString(",").split(",") if x]
        tot = {
            "stages": 0, "tasks": 0, "failed_tasks": 0, "run_ms": 0,
            "shuffle_write": 0, "shuffle_read": 0, "spill": 0, "input": 0,
        }
        for sid in ids:
            if sid not in stages:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # evicted from the store
                    stages[sid] = {}
                    continue
                if sd.status().toString() == "SKIPPED":
                    stages[sid] = {}
                    continue
                stages[sid] = {
                    "stages": 1,
                    "tasks": sd.numTasks(),
                    "failed_tasks": sd.numFailedTasks(),
                    "run_ms": sd.executorRunTime(),
                    "shuffle_write": sd.shuffleWriteBytes(),
                    "shuffle_read": sd.shuffleReadBytes(),
                    "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    "input": sd.inputBytes(),
                }
            for k, v in stages[sid].items():
                tot[k] += v
        # a stage shared by two jobs counts once, in the first job
        for sid in ids:
            stages[sid] = {}
        out.append({
            "job": j.jobId(),
            "tags": set(j.jobTags().mkString("\t").split("\t")),
            **tot,
        })
    return out


def sum_jobs(jobs: list[dict]) -> dict:
    keys = ("stages", "tasks", "failed_tasks", "run_ms", "shuffle_write",
            "shuffle_read", "spill", "input")
    tot = {k: sum(j[k] for j in jobs) for k in keys}
    tot["jobs"] = len(jobs)
    return tot


def executions_by_tag(jobs: list[dict], tag_prefix: str) -> dict[str, int]:
    """Distinct SQL executions per job tag with ``tag_prefix`` (each job
    carries its execution's ``execution-root-id-<n>`` tag)."""
    execs: dict[str, set] = {}
    for j in jobs:
        roots = {t.rsplit("-", 1)[-1] for t in j["tags"] if "-execution-root-id-" in t}
        for t in j["tags"]:
            if t.startswith(tag_prefix):
                execs.setdefault(t, set()).update(roots)
    return {t: len(v) for t, v in execs.items()}


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of ``df``'s query
    execution, forcing the physical plan first."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return float(sum(
        phases.apply(k).durationMs()
        for k in ("analysis", "optimization", "planning")
        if phases.contains(k)
    ))


def exec_counts(w: dict, wall_s: float, cpus: int) -> dict:
    """The ``exec`` (and scanned-input) layer metrics of summed jobs."""
    return {
        "exec.jobs": w["jobs"],
        "exec.stages": w["stages"],
        "exec.tasks": w["tasks"],
        "exec.failed_tasks": w["failed_tasks"],
        "exec.busy_frac": w["run_ms"] / 1e3 / (wall_s * cpus),
        "exec.shuffle_write_mb": w["shuffle_write"] / 1e6,
        "exec.shuffle_read_mb": w["shuffle_read"] / 1e6,
        "exec.spill_mb": w["spill"] / 1e6,
        "sources.input_mb": w["input"] / 1e6,
    }
