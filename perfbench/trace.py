"""In-memory spans with Spark counters attached.

A span is recorded around each call the benchmark makes into a layer of
the package (``api``, ``sources``, ``sync``, ``queries``,
``operators.caching``). Spans nest; the outermost one of each operation
carries the operation id. Spark jobs are attributed to spans in two
ways:

* every span sets its own job group around the call, so jobs started
  from the calling thread carry the span's id;
* jobs started from other threads (``overlap_builds`` worker threads,
  streaming micro-batch threads) carry no group of ours. With a single
  client, such a job belongs to the innermost span open when it was
  submitted, so it is attributed by its submission time.

Per-stage counters come from the application status store
(``statusStore().lastStageAttempt``), which is kept with the UI off.
Counters are read once per operation, after the operation's spans have
closed, so reading them never lands inside a timed span.
"""

from __future__ import annotations

import time
from contextlib import contextmanager, nullcontext

from py4j.protocol import Py4JJavaError

GROUP_PREFIX = "perfbench-"
COUNTERS = (
    "jobs", "worker_jobs", "stages", "tasks", "cpu_s", "run_s",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
)


class Tracer:
    """Records spans while ``enabled``; otherwise ``span`` is a no-op, so
    untraced passes pay nothing. ``enabled`` may be switched between
    operations."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op_spans: list[dict] = []
        self._next_op = 0
        self._next_job = 0
        self._seen_stages: set[int] = set()
        if enabled:
            self._sync_listener()
            self._next_job = self._first_missing_job(0)

    # -- recording ------------------------------------------------------

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else self._next_op,
            "depth": len(self._stack),
        }
        if parent is None:
            self._next_op += 1
        self.spans.append(rec)
        self._op_spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"{GROUP_PREFIX}{parent['id']}", parent["name"])
            else:
                sc._jsc.clearJobGroup()
                self._collect()

    def wrap(self, name: str, fn):
        """``fn`` with a span named ``name`` around every call."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- counters -------------------------------------------------------

    def _sync_listener(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _first_missing_job(self, start: int) -> int:
        store = self._store()
        jid = start
        while True:
            try:
                store.job(jid)
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                return jid
            jid += 1

    def _owner(self, spans: list[dict], group: str | None, submitted_s: float) -> dict | None:
        if group and group.startswith(GROUP_PREFIX):
            sid = int(group[len(GROUP_PREFIX):])
            if 0 <= sid < len(self.spans):
                return self.spans[sid]
        # submission times have millisecond resolution
        inside = [s for s in spans if s["start"] - 0.001 <= submitted_s <= s["end"] + 0.001]
        return max(inside, key=lambda s: (s["depth"], s["start"])) if inside else None

    def _collect(self) -> None:
        """Attribute the jobs of the operation that just ended."""
        spans, self._op_spans = self._op_spans, []
        for s in spans:
            for c in COUNTERS:
                s.setdefault(c, 0)
        self._sync_listener()
        store = self._store()
        jid = self._next_job
        while True:
            try:
                job = store.job(jid)
            except Py4JJavaError:
                break
            jid += 1
            group_opt = job.jobGroup()
            group = group_opt.get() if group_opt.isDefined() else None
            sub = job.submissionTime()
            submitted = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
            owner = self._owner(spans, group, submitted)
            if owner is None:
                continue
            owner["jobs"] += 1
            if not (group and group.startswith(GROUP_PREFIX)):
                owner["worker_jobs"] += 1
            stage_ids = job.stageIds().mkString(",")
            for sid in (int(x) for x in stage_ids.split(",") if x):
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage that never started
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                owner["stages"] += 1
                owner["tasks"] += st.numCompleteTasks()
                owner["cpu_s"] += st.executorCpuTime() / 1e9
                owner["run_s"] += st.executorRunTime() / 1e3
                owner["shuffle_write_bytes"] += st.shuffleWriteBytes()
                owner["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                owner["input_bytes"] += st.inputBytes()
                owner["output_bytes"] += st.outputBytes()
        self._next_job = jid


def finish(spans: list[dict]) -> list[dict]:
    """Add inclusive counters (``incl_<counter>``) and self time
    (``self_s``: duration minus the part covered by child spans)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in sorted(spans, key=lambda s: -s["depth"]):
        kids = children.get(s["id"], [])
        for c in COUNTERS:
            s[f"incl_{c}"] = s.get(c, 0) + sum(k[f"incl_{c}"] for k in kids)
        covered, cursor = 0.0, s["start"]
        for k in sorted(kids, key=lambda k: k["start"]):
            lo, hi = max(k["start"], cursor), min(k["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        s["self_s"] = s["dur"] - covered
    return spans
