"""Spans around the benchmark's calls into the program, and Spark counts
read from outside the program.

Each span runs its jobs under its own Spark job group, so after the span
ends the jobs, stages, tasks, shuffle bytes and executor CPU it caused
can be read from ``statusTracker()`` and the application status store.
Both work with ``spark.ui.enabled=false``. Counts are read after the
span's clock stops, so they stay out of its time. Spans are kept in
memory and written once, at exit.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

COUNT_KEYS = ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes",
              "bytes_written", "input_records", "cpu_s")


class Tracer:
    def __init__(self, spark, run_id: str, t0: float):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.t0 = t0
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Time one call; the yielded record gets ``start``/``end`` and,
        from :meth:`count`, the Spark counts of the span and its children."""
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": parent["id"] if parent else None, "children": []}
        rec["group"] = f"{self.run_id}.{rec['id']}"
        if parent:
            parent["children"].append(rec["id"])
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def count(self, rec: dict) -> dict:
        """Store on ``rec`` and on each of its child spans the jobs, stages
        and task counts it caused, its children's included. Skipped stages
        (shuffle output reused) are not counted."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return self._count(rec)

    def _count(self, rec: dict) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        c = dict.fromkeys(COUNT_KEYS, 0)
        for kid in rec["children"]:
            for key, v in self._count(self.spans[kid]).items():
                c[key] += v
        for job in tracker.getJobIdsForGroup(rec["group"]):
            c["jobs"] += 1
            for sid in tracker.getJobInfo(job).stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numTasks()
                c["failed_tasks"] += st.numFailedTasks()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["bytes_written"] += st.outputBytes()
                c["input_records"] += st.inputRecords()
                c["cpu_s"] += st.executorCpuTime() / 1e9
        rec.update(c)
        return c

    def failed_tasks(self) -> int:
        """Failed task attempts over the whole run, all job groups."""
        execs = self.sc._jsc.sc().statusStore().executorList(False)
        return sum(execs.apply(i).failedTasks() for i in range(execs.length()))

    def write(self, path: str) -> None:
        """Spans with times relative to the run start and self time (the
        span minus the time its children cover; children never overlap)."""
        out = []
        for s in self.spans:
            if "end" not in s:
                continue
            dur = s["end"] - s["start"]
            kids = sum(self.spans[c]["end"] - self.spans[c]["start"] for c in s["children"])
            out.append({k: v for k, v in s.items() if k not in ("start", "end", "group")}
                       | {"start_s": s["start"] - self.t0, "end_s": s["end"] - self.t0,
                          "self_s": dur - kids})
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
