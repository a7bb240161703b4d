"""Spans around the calls into each layer, for the traced run.

The tracer patches module attributes from the outside: the engine is not
edited. Every span sets its own Spark job group, so after the run each
Spark job can be attributed to the innermost layer call that fired it;
stage metrics then come from the AppStatusStore over py4j. Spans are kept
in memory and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time

GROUP_PREFIX = "perfbench-span-"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.enabled = False
        self.op: int | None = None
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else attrs.get("op"),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{GROUP_PREFIX}{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, self.wrap(name, original))

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- Spark jobs ------------------------------------------------------
    def spark_jobs(self) -> list[dict]:
        """Jobs fired inside spans, with their stage metrics summed."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm, gw = self.sc._jvm, self.sc._gateway
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False, gw.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        by_stage: dict[int, dict] = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            m = by_stage.setdefault(s.stageId(), dict.fromkeys(
                ("cpu_s", "run_s", "gc_s", "shuffle_bytes", "spill_bytes"), 0.0))
            m["cpu_s"] += s.executorCpuTime() / 1e9
            m["run_s"] += s.executorRunTime() / 1e3
            m["gc_s"] += s.jvmGcTime() / 1e3
            m["shuffle_bytes"] += s.shuffleWriteBytes()
            m["spill_bytes"] += s.diskBytesSpilled()
        jobs = store.jobsList(jvm.java.util.ArrayList())
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            group = j.jobGroup()
            if not group.isDefined() or not group.get().startswith(GROUP_PREFIX):
                continue
            sub, done = j.submissionTime(), j.completionTime()
            rec = {
                "job": j.jobId(),
                "span": int(group.get()[len(GROUP_PREFIX):]),
                "wall_s": (done.get().getTime() - sub.get().getTime()) / 1e3
                if sub.isDefined() and done.isDefined() else 0.0,
            }
            ids = j.stageIds()
            for key in ("cpu_s", "run_s", "gc_s", "shuffle_bytes", "spill_bytes"):
                rec[key] = sum(by_stage.get(ids.apply(k), {}).get(key, 0.0) for k in range(ids.size()))
            out.append(rec)
        return out

    def write(self, path: str, jobs: list[dict], extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "jobs": jobs, **extra}, f)

