"""In-memory spans and counts, plus readers for what Spark and the OS
already count (executed-plan SQL metrics, job/task counts, VmHWM).

A span is (name, start, end, parent, batch); spans are kept in a list
and written out once, when the run ends.  A span's self time is its
duration minus the part its child spans cover.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, batch: int | None = None):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._open[-1] if self._open else None,
            "batch": batch,
        }
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def count(self, name: str, value: float, batch: int | None = None) -> None:
        self.counts.append({"name": name, "value": value, "batch": batch})

    def median(self, name: str) -> float:
        """Median duration of the spans named ``name``."""
        return statistics.median(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count_median(self, name: str) -> float:
        return statistics.median(c["value"] for c in self.counts if c["name"] == name)

    def batch_sums(self, names, self_time: bool = False) -> list[float]:
        """Per batch, the summed duration (or self time) of the spans
        named in ``names``."""
        times = self.self_times() if self_time else [s["end"] - s["start"] for s in self.spans]
        out: dict = {}
        for s, t in zip(self.spans, times):
            if s["name"] in names:
                out[s["batch"]] = out.get(s["batch"], 0.0) + t
        return list(out.values())

    def self_times(self) -> list[float]:
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, covered)]

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0, "self": st}
            for s, st in zip(self.spans, self.self_times())
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, "counts": self.counts, **extra}, f, indent=1)


class _NullTracer:
    """Stands in for a Tracer on untraced runs: records nothing."""

    def span(self, name: str, batch: int | None = None):
        return nullcontext()

    def count(self, name: str, value: float, batch: int | None = None) -> None:
        pass


NULL_TRACER = _NullTracer()


# ---------------------------------------------------------------------------
# Executed-plan SQL metrics
# ---------------------------------------------------------------------------


def _plan_nodes(node):
    """Every node of an executed physical plan, looking through adaptive
    execution wrappers and query stages."""
    stack = [node]
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(n.plan())
            continue
        yield n
        it = n.children().iterator()
        while it.hasNext():
            stack.append(it.next())


def _metric(node, key: str) -> int:
    m = node.metrics().get(key)
    return int(m.get().value()) if m.isDefined() else 0


def plan_metrics(df) -> dict:
    """Shuffle bytes and conditional-join output rows of ``df``'s
    executed plan; read after ``df`` has run."""
    out = {"shuffle_bytes": 0, "cond_join_rows": 0}
    for n in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        cls = n.getClass().getSimpleName()
        if cls == "ShuffleExchangeExec":
            out["shuffle_bytes"] += _metric(n, "dataSize")
        elif "Join" in cls and _has_condition(n):
            out["cond_join_rows"] += _metric(n, "numOutputRows")
    return out


def _has_condition(join) -> bool:
    try:
        return bool(join.condition().isDefined())
    except Exception:  # join node without a condition field
        return False


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")
