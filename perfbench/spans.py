"""Spans and Spark job counts around each call into the engine.

The traced run wraps every operation in a job tag (which Spark hands on
to the jobs a streaming query's own thread launches) and each of its two
phases in a job group: ``<tag>b`` around the build, ``<tag>a`` around
the final action.  Counts are read from the public ``statusTracker``
after the pass has ended, so they stay out of the pass's timing.  Spans
are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import time


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jst = self.sc._jsc.sc().statusTracker()
        self.spans: list[dict] = []
        self.pending: list[dict] = []
        self.n = 0

    def _span(self, trace: int, parent, name: str, t0: float, t1: float):
        sid = len(self.spans)
        self.spans.append({"id": sid, "trace": trace, "parent": parent,
                           "name": name, "start": t0, "end": t1})
        return sid

    def run(self, op, pass_no: int) -> None:
        """Run one operation under its own tag and phase groups."""
        self.n += 1
        tag = f"pb{self.n}"
        self.sc.addJobTag(tag)
        t0 = time.perf_counter()
        try:
            self.sc.setJobGroup(tag + "b", op.name)
            r = op.build()
            t1 = time.perf_counter()
            if op.act is not None:
                self.sc.setJobGroup(tag + "a", op.name)
                op.act(r)
            t2 = time.perf_counter()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.removeJobTag(tag)
        root = self._span(self.n, None, op.name, t0, t2)
        self._span(self.n, root, "build", t0, t1)
        self._span(self.n, root, "action", t1, t2)
        self.pending.append({"tag": tag, "op": op.name, "kind": op.kind,
                             "pass": pass_no, "build_s": t1 - t0,
                             "act_s": t2 - t1})

    # ------------------------------------------------------------ counts
    def _jobs(self, ids) -> set[int]:
        return set(int(j) for j in ids)

    def _stages(self, job: int) -> list:
        info = self.jst.getJobInfo(job)
        if not info.isDefined():
            return []
        out = []
        for s in info.get().stageIds():
            st = self.jst.getStageInfo(s)
            if st.isDefined():
                out.append(st.get())
        return out

    def counts(self) -> list[dict]:
        """Job, stage and task counts of the operations run since the
        last call: ``build_jobs``/``act_jobs`` carry the phase groups,
        ``other_jobs`` the rest of the tag (micro-batches that a stream's
        own thread launched under its run-id group)."""
        out = []
        for rec in self.pending:
            tagged = self._jobs(self.jst.getJobIdsForTag(rec["tag"]))
            build = self._jobs(self.jst.getJobIdsForGroup(rec["tag"] + "b"))
            act = self._jobs(self.jst.getJobIdsForGroup(rec["tag"] + "a"))
            infer = sum(any(s.name().startswith("parquet at")
                            for s in self._stages(j)) for j in build)
            stages = [s for j in act for s in self._stages(j)
                      if s.numCompletedTasks() > 0]
            out.append(dict(rec, jobs=len(tagged), build_jobs=len(build),
                            act_jobs=len(act), infer_jobs=infer,
                            other_jobs=len(tagged - build - act),
                            stages=len(stages),
                            tasks=sum(s.numCompletedTasks() for s in stages)))
        self.pending = []
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)

