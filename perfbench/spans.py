"""Per-layer spans keyed by Spark job group, costed from the JVM status store.

Each span sets a job group around one call into a layer's public function.
After the run, the jobs of every group are looked up with
``statusTracker().getJobIdsForGroup`` and their stages with
``statusStore().lastStageAttempt``/``taskSummary``. The status store is
filled whether or not the Spark UI is enabled, so this works with
``spark.ui.enabled=false``. Spans stay in memory until ``write`` at the end.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

STATS = ("wall_s", "cpu_s", "shuffle_records", "shuffle_mb", "spill_mb", "task_skew", "rows_out")


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._rolled: dict[str, dict] | None = None

    @contextmanager
    def span(self, name: str = ""):
        """Time the body and tag its Spark jobs with a group of their own.
        Yields the span record; the caller may set ``rows_out`` on it. With
        tracing off, or no name, it records nothing."""
        if not (self.enabled and name):
            yield {}
            return
        sc = self.spark.sparkContext
        rec = {"name": name, "group": f"{name}#{len(self.spans)}", "rows_out": 0}
        sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            sc._jsc.clearJobGroup()
            self.spans.append(rec)

    def _stages(self, group: str) -> tuple[int, list]:
        """(job count, completed StageData list) of one job group."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = self.spark._jsparkSession.sparkContext().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        seen, stages = set(), []
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - py4j wraps NoSuchElementException
                    continue  # evicted or never submitted
                if st.status().toString() == "COMPLETE":
                    stages.append(st)
        return len(jobs), stages

    def _task_skew(self, stage) -> float:
        """max / median task run time of one stage (1.0 for a single task)."""
        if stage.numTasks() < 2:
            return 1.0
        sc = self.spark.sparkContext
        q = sc._gateway.new_array(sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        store = self.spark._jsparkSession.sparkContext().statusStore()
        dist = store.taskSummary(stage.stageId(), stage.attemptId(), q)
        if not dist.isDefined():
            return 1.0
        run = dist.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0

    def rollup(self) -> dict[str, dict]:
        """Stats per span name, summed over every span of that name.
        ``task_skew`` is the skew of the heaviest stage (by executor run
        time) among all of the name's stages. Also sets ``jobs`` and
        ``input_records`` on each span. Computed once, after the last span."""
        if self._rolled is not None:
            return self._rolled
        out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(STATS, 0.0))
        heaviest: dict[str, tuple[int, object]] = {}
        for rec in self.spans:
            n_jobs, stages = self._stages(rec["group"])
            rec["jobs"] = n_jobs
            rec["input_records"] = sum(s.inputRecords() for s in stages)
            agg = out[rec["name"]]
            agg["wall_s"] += rec["end"] - rec["start"]
            agg["cpu_s"] += sum(s.executorCpuTime() for s in stages) / 1e9
            agg["shuffle_records"] += sum(s.shuffleWriteRecords() for s in stages)
            agg["shuffle_mb"] += sum(s.shuffleWriteBytes() for s in stages) / 1e6
            agg["spill_mb"] += sum(
                s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages
            ) / 1e6
            agg["rows_out"] += rec["rows_out"]
            for s in stages:
                if s.executorRunTime() > heaviest.get(rec["name"], (-1, None))[0]:
                    heaviest[rec["name"]] = (s.executorRunTime(), s)
        for name, agg in out.items():
            agg["task_skew"] = self._task_skew(heaviest[name][1]) if name in heaviest else 1.0
        self._rolled = dict(out)
        return self._rolled

    def write(self, path: str) -> None:
        """Write the raw spans, with what ``rollup`` added to them."""
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
