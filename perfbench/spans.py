"""Spans around the engine's public functions, recorded from outside.

Only the traced run installs these wrappers; the timed runs patch
nothing. Each wrapper records a span (name, start, end, parent, run id)
in memory and tags the Spark jobs it submits with a job group of its
own, set inside the wrapper, so jobs started from the pipelined
replay's pool threads are attributed to the write that ran them. Stage
metrics come from the local Spark UI's REST API after the workload.
"""

from __future__ import annotations

import functools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager

# (module, attribute path, span name, starts pool threads)
TARGETS = [
    ("astro_data_pipeline_spark.cdc.runner", "read_event_log", "cdc.runner.read_event_log", False),
    ("astro_data_pipeline_spark.cdc.runner", "CdcRunner.replay", "cdc.runner.replay", True),
    ("astro_data_pipeline_spark.cdc.runner", "CdcRunner.apply_batch", "cdc.runner.apply_batch", False),
    ("astro_data_pipeline_spark.cdc.runner", "CdcRunner.detect_hot_keys", "cdc.runner.detect_hot_keys", False),
    ("astro_data_pipeline_spark.lakehouse.table", "LakeTable.create", "lakehouse.table.create", False),
    ("astro_data_pipeline_spark.lakehouse.table", "LakeTable.mor_write", "lakehouse.table.mor_write", False),
    ("astro_data_pipeline_spark.lakehouse.table", "LakeTable.mor_finalize", "lakehouse.table.mor_finalize", False),
    ("astro_data_pipeline_spark.lakehouse.table", "LakeTable.evolve_to", "lakehouse.table.evolve_to", False),
    ("astro_data_pipeline_spark.lakehouse.table", "LakeTable.committed_batch_ids", "lakehouse.table.committed_batch_ids", False),
    ("astro_data_pipeline_spark.lakehouse.table", "LakeTable.compact", "lakehouse.table.compact", False),
    ("astro_data_pipeline_spark.lakehouse.table", "LakeTable.read", "lakehouse.table.read", False),
    ("astro_data_pipeline_spark.lakehouse.table", "LakeTable.read_key_local", "lakehouse.table.read_key_local", False),
    ("astro_data_pipeline_spark.lakehouse.table", "LakeTable.changes", "lakehouse.table.changes", False),
    ("astro_data_pipeline_spark.lakehouse.matview", "IncrementalAggView.create", "lakehouse.matview.create", False),
    ("astro_data_pipeline_spark.lakehouse.matview", "IncrementalAggView.refresh", "lakehouse.matview.refresh", False),
    ("astro_data_pipeline_spark.streaming.runner_bridge", "StreamApplier.__call__", "streaming.runner_bridge.epoch", False),
    # files a point lookup opens: read_key_local reads each with pyarrow
    ("pyarrow.parquet", "read_table", "pyarrow.read_table", False),
]
_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


class Tracer:
    """In-memory span recorder. ``span`` is for the benchmark's own
    phases; ``install`` wraps every target in ``TARGETS``."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main: list[dict] = []  # the main thread's open-span stack
        self._patched: list[tuple] = []
        self.sc = None

    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self, stack: list[dict]) -> dict | None:
        if stack:
            return stack[-1]
        # a span opened in a pool thread belongs to the innermost open
        # main-thread span that starts pool threads (the pipelined replay)
        for s in reversed(self._main):
            if s["spawns"]:
                return s
        return self._main[0] if self._main else None

    @contextmanager
    def span(self, name: str, spawns: bool = False, tag_jobs: bool = True):
        stack = self._stack()
        parent = self._parent(stack)
        with self._lock:
            sid = len(self.spans)
            s = {"id": sid, "name": name, "parent": None if parent is None else parent["id"],
                 "run_id": self.run_id, "thread": threading.get_ident(),
                 "start": time.perf_counter(), "end": None, "spawns": spawns}
            self.spans.append(s)
        stack.append(s)
        sc = self.sc if tag_jobs else None
        prev = None
        if sc is not None:
            prev = (sc.getLocalProperty(_GROUP), sc.getLocalProperty(_DESC))
            sc.setJobGroup(f"pb-span-{sid}", name)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(_GROUP, prev[0])
                sc.setLocalProperty(_DESC, prev[1])

    def install(self, sc) -> None:
        import importlib

        self.sc = sc
        for mod_name, path, name, spawns in TARGETS:
            owner = importlib.import_module(mod_name)
            parts = path.split(".")
            for p in parts[:-1]:
                owner = getattr(owner, p)
            # restore the raw attribute (a classmethod stays a classmethod)
            raw = vars(owner).get(parts[-1], getattr(owner, parts[-1]))
            # pyarrow calls run under a lookup span and submit no jobs
            tag = not name.startswith("pyarrow.")
            setattr(owner, parts[-1], self._wrap(getattr(owner, parts[-1]), name, spawns, tag))
            self._patched.append((owner, parts[-1], raw))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
        self.sc = None

    def _wrap(self, fn, name: str, spawns: bool, tag: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, spawns=spawns, tag_jobs=tag) as s:
                out = fn(*args, **kwargs)
                s["result"] = _summarize(name, out)
                return out

        return wrapper

    # ------------------------------------------------------------ analysis

    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                out.setdefault(s["parent"], []).append(s)
        return out

    def self_times(self, root: dict) -> dict[int, float]:
        """Wall time of ``root`` attributed to the spans under it: each
        instant goes to the innermost spans open at that instant, split
        evenly when several run at once (pool threads), so the self times
        of the tree add up to the root's duration. The root's own share is
        the time no layer span covered."""
        kids = self.children()
        tree, todo = [], [root]
        while todo:
            s = todo.pop()
            tree.append(s)
            todo.extend(kids.get(s["id"], []))
        out = {s["id"]: 0.0 for s in tree}
        # a zero-length span owns no time (and would sort its end first)
        tree = [s for s in tree if s["end"] > s["start"] or s is root]
        parent = {s["id"]: s["parent"] for s in tree}
        events = sorted(
            [(s["start"], 1, s["id"]) for s in tree]
            + [(s["end"], -1, s["id"]) for s in tree]
        )
        active: set[int] = set()
        open_kids: dict[int, int] = {}
        last = events[0][0]
        for t, step, sid in events:
            if t > last and active:
                leaves = [i for i in active if not open_kids.get(i)]
                for i in leaves:
                    out[i] += (t - last) / len(leaves)
            last = t
            p = parent[sid] if sid != root["id"] else None
            if step > 0:
                active.add(sid)
                if p is not None:
                    open_kids[p] = open_kids.get(p, 0) + 1
            else:
                active.discard(sid)
                if p is not None:
                    open_kids[p] -= 1
        return out

    def dump(self, path: str, root: dict, selfs: dict[int, float]) -> None:
        rows = []
        for s in self.spans:
            r = {k: v for k, v in s.items() if k != "spawns"}
            r["self_s"] = selfs.get(s["id"])
            rows.append(r)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "root": root["id"], "spans": rows}, f, default=str)


def _summarize(name: str, out):
    """The part of a return value the per-layer metrics need."""
    if name == "cdc.runner.detect_hot_keys":
        return {"n": len(out)}
    if name == "lakehouse.table.mor_write":
        return {"rel_dir": out["rel_dir"], "rows": sum(out["totals"].values())}
    if name == "cdc.runner.replay":
        return {"quarantined": sum(r.n_quarantined for r in out)}
    if name == "cdc.runner.apply_batch":
        return {"quarantined": out.n_quarantined}
    if name == "streaming.runner_bridge.epoch":
        return {"status": out["status"] if out else None}
    return None


# ---------------------------------------------------------------- REST


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def stage_metrics(sc) -> dict:
    """Per-span Spark work from the status REST API: for each job group
    the wrappers set, its jobs, tasks and completed stages (each stage
    counted once, under the first job that ran it)."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    # the status store is fed by the listener bus: wait until it has
    # seen the end of every job
    deadline = time.time() + 30
    while True:
        jobs = _get(f"{base}/jobs")
        if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
            break
        time.sleep(0.2)
    stages = {(s["stageId"], s["attemptId"]): s
              for s in _get(f"{base}/stages?status=complete")}
    by_group: dict[str, dict] = {}
    seen: set[int] = set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        g = by_group.setdefault(j.get("jobGroup") or "", {"jobs": 0, "tasks": 0, "stages": []})
        g["jobs"] += 1
        g["tasks"] += j.get("numCompletedTasks", 0)
        for sid in j.get("stageIds", []):
            if sid in seen:
                continue
            seen.add(sid)
            g["stages"].extend(s for (i, _), s in stages.items() if i == sid)
    return {"base": base, "groups": by_group}


def task_time_quantiles(base: str, stage: dict) -> tuple[float, float]:
    """(median, max) task run time in ms of one stage."""
    q = _get(f"{base}/stages/{stage['stageId']}/{stage['attemptId']}"
             f"/taskSummary?quantiles=0.5,1.0")
    med, mx = q["executorRunTime"]
    return float(med), float(mx)
