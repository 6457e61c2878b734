"""Per-call layer accounting, measured from outside the program.

`Tracer.call(name, fn)` runs `fn` under its own Spark job group and, when
tracing is on, records the call's wall time plus what Spark's status API
saw for that group: jobs, tasks, executor run time, shuffle bytes written
and rows read by the call's stages. `Tracer.request(name, build, run)`
does the same for a call that first builds a DataFrame and then runs an
action on it, and splits the wall time into `plan_ms` (until the DataFrame
is returned) and `collect_ms` (the action). With tracing off both only
call their functions.

Names follow `<layer>.<call>` where the layer is a package module name
(`sources`, `functions`, `storage`, `operators`, `plans`, `session`).
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.calls: dict[str, list[dict]] = defaultdict(list)
        self.values: dict[str, float] = {}
        self._n = 0

    def call(self, name: str, fn):
        """Run `fn()` as one traced call and return its result."""
        if not self.enabled:
            return fn()
        group = self._begin(name)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            wall = time.perf_counter() - t0
            self._end()
        self.calls[name].append({"wall_s": wall, **self._group_stats(group)})
        return out

    def request(self, name: str, build, run):
        """`df = build()` then `run(df)`, traced as one call. Returns
        (df, run's result)."""
        if not self.enabled:
            df = build()
            return df, run(df)
        group = self._begin(name)
        t0 = time.perf_counter()
        try:
            df = build()
            t1 = time.perf_counter()
            out = run(df)
        finally:
            t2 = time.perf_counter()
            self._end()
        rec = {"wall_s": t2 - t0, "plan_ms": (t1 - t0) * 1000.0,
               "collect_ms": (t2 - t1) * 1000.0, **self._group_stats(group),
               "catalyst_ms": catalyst_ms(df)}
        self.calls[name].append(rec)
        return df, out

    def set(self, name: str, value: float) -> None:
        """Record a single value (a count or ratio, not a call)."""
        if self.enabled:
            self.values[name] = float(value)

    def _begin(self, name: str) -> str:
        self._n += 1
        group = f"perfbench-{id(self)}-{self._n}"
        self.spark.sparkContext.setJobGroup(group, name)
        return group

    def _end(self) -> None:
        self.spark.sparkContext.setJobGroup("perfbench-idle", "idle")

    def _group_stats(self, group: str) -> dict:
        jsc = self.spark.sparkContext._jsc.sc()
        # the status store is fed by the asynchronous listener bus: drain it
        # so the group's last stage metrics are in before they are read
        jsc.listenerBus().waitUntilEmpty(10_000)
        tracker = self.spark.sparkContext.statusTracker()
        store = jsc.statusStore()
        job_ids = list(tracker.getJobIdsForGroup(group))
        tasks = exec_ms = shuffle = rows = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - a skipped stage never ran
                    continue
                tasks += st.numCompleteTasks()
                exec_ms += st.executorRunTime()
                shuffle += st.shuffleWriteBytes()
                rows += st.inputRecords()
        return {"jobs": len(job_ids), "tasks": tasks, "exec_ms": exec_ms,
                "shuffle_bytes": shuffle, "rows_scanned": rows}

    def summary(self) -> dict[str, float]:
        """Per call name: the median of each measure over its calls, the
        call count, and the wall time in both s and ms."""
        out: dict[str, float] = dict(self.values)
        for name, recs in self.calls.items():
            out[f"{name}.calls"] = len(recs)
            for key in recs[0]:
                out[f"{name}.{key}"] = statistics.median(r[key] for r in recs)
            out[f"{name}.wall_ms"] = out[f"{name}.wall_s"] * 1000.0
        return out


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time (ms) that Catalyst recorded
    for `df`'s query execution; planning is forced if it has not run."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total
