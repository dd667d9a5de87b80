"""Measurement plumbing: span recorder, Spark stage metrics, memory sampler,
hypervisor steal.

Spans are recorded by the benchmark around its calls into each layer; they
stay in memory and are written as one JSON file when the run ends.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from pathlib import Path

from procs import descendants


class Tracer:
    """In-memory span recorder. Each span: name, start, end, parent,
    workload, repetition. Disabled tracers record nothing and cost one
    attribute check per span."""

    def __init__(self, workload: str, enabled: bool):
        self.workload, self.enabled = workload, enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.rep = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans), "name": name, "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload, "rep": self.rep, "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def duration(self, s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, s: dict) -> float:
        """Duration minus the part of it its children cover."""
        kids = sorted((c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.duration(s) - covered

    def coverage(self) -> float:
        """Sum of layer self times over the wall time of the root spans
        (spans without a parent: each traced job, and the ledger)."""
        roots = [s for s in self.spans if s["parent"] is None]
        layer = sum(self.self_time(s) for s in self.spans if s["parent"] is not None)
        wall = sum(self.duration(s) for s in roots)
        return layer / wall if wall else 0.0

    @staticmethod
    def span_cost(n: int = 20000) -> float:
        """Seconds one recorded span adds: ``n`` empty spans with recording
        on, less the same with it off, best of three."""
        def timed(tracer):
            t = time.perf_counter()
            for _ in range(n):
                with tracer.span("x"):
                    pass
            return time.perf_counter() - t

        on, off = Tracer("cost", True), Tracer("cost", False)
        return max(0.0, min(timed(on) - timed(off) for _ in range(3)) / n)

    def overhead_frac(self) -> float:
        """Share of the traced jobs' wall time (root spans named ``job``)
        that recording their spans took: spans per job times
        :meth:`span_cost`, over the job's duration. It is what tracing takes
        off ``docs_per_s``; timing a traced job against an untraced one
        cannot resolve it, as two jobs differ by some percent run to run."""
        jobs = {s["id"]: s for s in self.spans if s["name"] == "job" and s["parent"] is None}
        if not jobs:
            return 0.0
        root_of = {}
        for s in self.spans:  # parents are recorded before their children
            root_of[s["id"]] = s["id"] if s["parent"] is None else root_of[s["parent"]]
        n_spans = sum(1 for s in self.spans if root_of[s["id"]] in jobs)
        wall = sum(self.duration(s) for s in jobs.values())
        return n_spans * self.span_cost() / wall if wall else 0.0

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        out = [dict(s, self_s=self.self_time(s)) for s in self.spans]
        path.write_text(json.dumps({"workload": self.workload, "spans": out}, indent=1))


# ---------------------------------------------------------------- spark


class StageMetrics:
    """Stage metrics from the benchmark's own Spark session.

    ``tasks_failed`` comes from the status tracker (always available); the
    shuffle / spill / skew figures come from the UI REST API, which is only
    up when the session was built with ``spark.ui.enabled=true``."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def stage_ids(self, group: str) -> list[int]:
        st = self.sc.statusTracker()
        ids = []
        for j in st.getJobIdsForGroup(group):
            info = st.getJobInfo(j)
            if info is not None:
                ids.extend(info.stageIds)
        return sorted(set(ids))

    def tasks_failed(self, groups: list[str]) -> int:
        st = self.sc.statusTracker()
        n = 0
        for g in groups:
            for sid in self.stage_ids(g):
                info = st.getStageInfo(sid)
                if info is not None:
                    n += info.numFailedTasks
        return n

    def _rest(self, path: str):
        base = self.sc.uiWebUrl
        if not base:
            return None
        port = base.rsplit(":", 1)[1]
        url = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.loads(r.read())

    def rest_summary(self, groups: list[str]) -> dict | None:
        """Shuffle write bytes, spilled bytes and task skew (max over median
        task run time of the groups' heaviest stage)."""
        ids = {i for g in groups for i in self.stage_ids(g)}
        if not ids or not self.sc.uiWebUrl:
            return None
        stages = [s for s in self._rest("/stages?status=complete") or [] if s["stageId"] in ids]
        if not stages:
            return None
        shuffle = sum(s.get("shuffleWriteBytes", 0) for s in stages)
        spill = sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages)
        heavy = max(stages, key=lambda s: s.get("executorRunTime", 0))
        q = self._rest(
            f"/stages/{heavy['stageId']}/{heavy['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )
        run = (q or {}).get("executorRunTime") or [0.0, 0.0]
        skew = run[1] / run[0] if run[0] else 1.0
        return {"shuffle_write_bytes": shuffle, "spill_bytes": spill, "task_skew": skew}


# ---------------------------------------------------------------- memory


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among the processes that map it. The Python workers are forked from one
    daemon and share most of their pages; summing plain RSS counts those
    once per worker, and the sum then jumps with the number of workers."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the resident memory (PSS) of the JVM plus every process under
    it (the Python daemon and its workers) while ``active`` is set."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.2):
        self.jvm_pid, self.interval_s = jvm_pid, interval_s
        self.peak_kb = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def sample(self) -> int:
        return sum(_pss_kb(p) for p in [self.jvm_pid, *descendants(self.jvm_pid)])

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self.active.is_set():
                self.peak_kb = max(self.peak_kb, self.sample())

    def close(self) -> None:
        self._stop.set()
        self._thread.join()
