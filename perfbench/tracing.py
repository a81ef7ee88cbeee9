"""Traced-run support: spans around the program's public functions.

The tracer rebinds the module attributes the program calls through
(``plans.pipeline.merge_upsert`` and friends) to wrappers that open a
span, and puts every original back on ``restore``.  A span records its
wall interval and parent and tags the Spark jobs it launches with a job
group of its own; the parent's group is restored on exit.  Job groups
are thread-local properties, and ``run_pipeline`` starts its dimension
threads through ``inheritable_thread_target``, so those threads inherit
the group and the parent span.

Spans stay in memory.  Jobs, stages and tasks are read once, after the
run, from ``sc.statusTracker()`` and the driver's status store, which
both work with the UI disabled.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import os
import sys
import time

SPAN_PROP = "perfbench.span"
GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Wall of [start, end] not covered by any child interval (children
    may overlap each other, e.g. spans from two threads)."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[int, float] | None:
    """Highest integer percentile p with at least ``min_beyond`` samples
    ranked above its nearest-rank position; (p, value) or None when the
    samples are too few."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = max(1, -(-p * n // 100))  # nearest-rank: ceil(p/100 * n)
        if n - rank >= min_beyond:
            return p, xs[rank - 1]
    return None


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op: str | None = None  # label of the op running now
        self._ids = itertools.count()
        self._patches: list[tuple[object, str, object]] = []
        self.slots: set[str] = set()  # one_slot_persist slot names seen

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.sc
        saved = {k: sc.getLocalProperty(k) for k in (SPAN_PROP, *GROUP_PROPS)}
        sid = f"pb-{next(self._ids)}"
        rec = {"id": sid, "name": name, "parent": saved[SPAN_PROP], "op": self.op}
        sc.setLocalProperty(SPAN_PROP, sid)
        sc.setJobGroup(sid, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            for k, v in saved.items():
                sc.setLocalProperty(k, v)
            self.spans.append(rec)

    # -- patching ---------------------------------------------------------
    def patch(self, module, attr: str, wrap) -> None:
        orig = getattr(module, attr)
        setattr(module, attr, wrap(orig))
        self._patches.append((module, attr, orig))

    def patch_everywhere(self, module, attr: str, wrap) -> None:
        """Rebind ``attr`` in ``module`` and in every loaded program
        module that imported the same function by name."""
        orig = getattr(module, attr)
        wrapped = wrap(orig)
        pkg = module.__name__.split(".")[0]
        for name, mod in list(sys.modules.items()):
            if (name == pkg or name.startswith(pkg + ".")) and getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapped)
                self._patches.append((mod, attr, orig))

    def restore(self) -> None:
        while self._patches:
            mod, attr, orig = self._patches.pop()
            setattr(mod, attr, orig)

    def spanned(self, name: str):
        def wrap(fn):
            def inner(*a, **kw):
                with self.span(name):
                    return fn(*a, **kw)

            inner.__wrapped__ = fn
            return inner

        return wrap

    # -- harvest ----------------------------------------------------------
    def harvest(self) -> None:
        """Attach job/stage/task statistics to every span (own jobs only;
        subtree totals come from ``subtree``)."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        empty = jvm.java.util.ArrayList()
        no_q = self.sc._gateway.new_array(jvm.double, 0)
        for rec in self.spans:
            if rec["op"] is None:  # set-up and checks are not reported
                continue
            st = dict(jobs=0, listing_jobs=0, stages=0, tasks=0, task_s=0.0,
                      shuffle_mb=0.0, spill_mb=0.0)
            for jid in tracker.getJobIdsForGroup(rec["id"]):
                st["jobs"] += 1
                job = store.job(jid)
                desc = job.description()
                text = (desc.get() if desc.isDefined() else "") + job.name()
                if "Listing leaf files" in text:
                    st["listing_jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    attempts = store.stageData(sid, False, empty, False, no_q)
                    for i in range(attempts.length()):
                        sd = attempts.apply(i)
                        if sd.status().toString() == "SKIPPED":
                            continue
                        st["stages"] += 1
                        st["tasks"] += sd.numCompleteTasks()
                        st["task_s"] += sd.executorRunTime() / 1e3
                        st["shuffle_mb"] += sd.shuffleWriteBytes() / 2**20
                        st["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
            rec.update(st)

    def subtree(self) -> dict[str, list[dict]]:
        kids: dict[str, list[dict]] = {}
        for rec in self.spans:
            kids.setdefault(rec["parent"], []).append(rec)
        return kids

    def totals(self, rec: dict, kids: dict) -> dict:
        """Span's own stats plus all descendants', and its self time."""
        out = {k: rec.get(k, 0) for k in ("jobs", "listing_jobs", "stages", "tasks",
                                          "task_s", "shuffle_mb", "spill_mb")}
        children = kids.get(rec["id"], [])
        for ch in children:
            for k, v in self.totals(ch, kids).items():
                if k in out:
                    out[k] += v
        out["self_s"] = self_time(rec["start"], rec["end"],
                                  [(c["start"], c["end"]) for c in children])
        out["self_jobs"] = rec.get("jobs", 0)
        out["s"] = rec["end"] - rec["start"]
        return out


def storage_mb(sc) -> float:
    """Memory plus disk held by persisted RDDs/DataFrames right now."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def data_files(path: str) -> list[str]:
    return [f for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            if not os.path.basename(f).startswith(("_", "."))]
