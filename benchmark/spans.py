"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's own code around each call it makes
into a ``plc`` module or a Spark action: name, start, end and parent. They
stay in memory and are written out when the run ends. A span's layer is the
part of its name before the first dot (``op``, ``pipeline``,
``datasource``, ``spark``, ``sink``, ``bench``); a layer's self time is its
spans' durations minus the time their child spans cover. The ``op`` spans
are the timed operations themselves, so their self time is the residual:
wall time of an operation that no child span explains.

With tracing off every ``span`` is a shared no-op context manager, so the
untraced run times the same code path without the bookkeeping.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request

_NULL = contextlib.nullcontext()


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[list] = []   # [name, start, end, parent index]
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0      # time spent inside the tracer itself

    def span(self, name: str):
        return self._span(name) if self.enabled else _NULL

    @contextlib.contextmanager
    def _span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, 0.0, 0.0, parent])
        self._stack.append(idx)
        t1 = time.perf_counter()
        self.spans[idx][1] = t1
        self.bookkeeping_s += t1 - t0
        try:
            yield
        finally:
            t2 = time.perf_counter()
            self.spans[idx][2] = t2
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - t2

    @contextlib.contextmanager
    def op(self, name: str, timed: bool):
        """Span around one whole operation; Spark jobs it starts are
        labelled with a job group per operation type."""
        if not self.enabled:
            yield
            return
        group = f"{'op' if timed else 'warmup'}.{name}"
        self.sc.setJobGroup(group, group)
        try:
            with self._span(group):
                yield
        finally:
            self.sc.setJobGroup("bench", "bench")

    # ---------------------------------------------------------------- report

    def self_times(self) -> dict[str, float]:
        """Self seconds per layer, over the spans of timed operations."""
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s[3] is not None:
                kids.setdefault(s[3], []).append(i)
        timed = set()
        stack = [i for i, s in enumerate(self.spans)
                 if s[3] is None and s[0].startswith("op.")]
        while stack:
            i = stack.pop()
            timed.add(i)
            stack.extend(kids.get(i, []))
        out: dict[str, float] = {}
        for i in timed:
            name, t0, t1, _ = self.spans[i]
            covered = sum(self.spans[k][2] - self.spans[k][1]
                          for k in kids.get(i, []))
            layer = name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (t1 - t0) - covered
        return out

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"fields": ["name", "start", "end", "parent"],
                       "spans": self.spans}, f)

    # ------------------------------------------------------------ Spark side

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def tasks_of(self, group: str) -> int:
        st = self.sc.statusTracker()
        n = 0
        for j in self.job_ids(group):
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                si = st.getStageInfo(sid)
                n += si.numTasks if si else 0
        return n

    def stage_metrics(self, group: str) -> dict[str, float]:
        """Executor run/CPU/GC time and shuffle-write bytes summed over the
        stages of one job group, from the Spark UI's REST API."""
        base = (f"{self.sc.uiWebUrl}/api/v1/applications/"
                f"{self.sc.applicationId}")
        want = set(self.job_ids(group))
        deadline = time.monotonic() + 10
        while True:  # the UI store trails the scheduler by a few events
            jobs = [j for j in _get(f"{base}/jobs") if j["jobId"] in want]
            stage_ids = {s for j in jobs for s in j["stageIds"]}
            done = len(jobs) == len(want) and all(
                j["status"] != "RUNNING" for j in jobs)
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        out = {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0}
        for st in _get(f"{base}/stages"):
            if st["stageId"] not in stage_ids:
                continue
            out["run_s"] += st.get("executorRunTime", 0) / 1e3
            out["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            out["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            out["shuffle_mb"] += st.get("shuffleWriteBytes", 0) / 1e6
        return out


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())
