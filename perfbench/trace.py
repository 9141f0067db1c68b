"""In-memory spans around the benchmark's calls into each layer.

Each span runs its Spark jobs under its own job group, so after the run
the group resolves to job ids (statusTracker) and the job ids to stage
metrics (the status store). Spans stay in memory until `export`; nothing
is read from Spark while a span is open."""

from __future__ import annotations

import time
from contextlib import contextmanager

# status-store fields summed per span (executorCpuTime is in ns, the
# run time in ms)
_STAGE_FIELDS = ("executorRunTime", "executorCpuTime", "shuffleReadBytes",
                 "shuffleWriteBytes", "memoryBytesSpilled",
                 "diskBytesSpilled", "numTasks")


class Tracer:
    def __init__(self, spark, run_id: str = "trace"):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"{self.run_id}-{sid}-{name}",
               "start": time.perf_counter(), "end": None, "counts": {}}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]]["group"]
                            if self._stack else None)

    # ---- read-back, after the traced work is done ----------------------
    def collect_spark(self) -> None:
        """Attach job/stage/task counts and stage metrics to every span
        (jobs of the span itself, not of its children)."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for rec in self.spans:
            sums = dict.fromkeys(_STAGE_FIELDS, 0)
            job_ids = list(tracker.getJobIdsForGroup(rec["group"]))
            stage_ids: set[int] = set()
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            ran = 0
            for sid in stage_ids:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stage: never attempted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                ran += 1
                for f in _STAGE_FIELDS:
                    sums[f] += int(getattr(st, f)())
            rec["spark"] = {"jobs": len(job_ids), "stages": ran, **sums}

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        kids = sum(self.duration(c) for c in self.spans if c["parent"] == rec["id"])
        return self.duration(rec) - kids

    def subtree(self, rec: dict) -> list[dict]:
        out = [rec]
        for c in self.spans:
            if c["parent"] is not None and c["parent"] in {r["id"] for r in out}:
                out.append(c)
        return out

    def spark_totals(self, rec: dict) -> dict:
        """Spark counters summed over a span and all its descendants."""
        tot: dict[str, int] = {}
        for r in self.subtree(rec):
            for k, v in r.get("spark", {}).items():
                tot[k] = tot.get(k, 0) + v
        return tot

    def export(self) -> list[dict]:
        t0 = min((r["start"] for r in self.spans), default=0.0)
        return [{**r, "start": r["start"] - t0, "end": r["end"] - t0,
                 "self_s": self.self_time(r)} for r in self.spans]
