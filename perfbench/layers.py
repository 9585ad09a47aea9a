"""The traced pass and the per-layer metrics it yields.

A traced run starts the engine with the Spark UI on and, after the
warm-up, wraps the engine's public functions (``spans.TARGETS``) and runs
the workload on fresh tables. Per-layer metrics come from the spans and
from the stage metrics of the Spark jobs each span tagged. Then
``trace.overhead_frac`` is measured on point lookups, the calls with the
most spans per second: blocks of lookups on the final table, alternately
with the wrappers installed and without them, in the same session.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import spans as S
import workloads as W

# per-layer metric -> unit; every one is emitted on every workload (0
# where the workload does not run the layer)
UNITS = {
    "cdc.apply.events_in": "count",
    "cdc.apply.rows_out": "count",
    "cdc.apply.collapse_ratio": "ratio",
    "cdc.apply.quarantined": "count",
    "cdc.apply.shuffle_write_bytes": "bytes",
    "cdc.apply.shuffle_bytes_per_event": "bytes",
    "cdc.apply.map_task_s": "s",
    "cdc.apply.reduce_task_s": "s",
    "cdc.apply.spill_bytes": "bytes",
    "cdc.apply.reduce_skew": "ratio",
    "cdc.runner.hot_keys_n": "count",
    "cdc.runner.detect_hot_keys_s": "s",
    "cdc.runner.replay_s": "s",
    "cdc.runner.apply_batch_s": "s",
    "cdc.runner.read_event_log_s": "s",
    "cdc.runner.driver_gap_s": "s",
    "streaming.runner_bridge.epoch_s": "s",
    "streaming.runner_bridge.spark_jobs_per_epoch": "count",
    "streaming.runner_bridge.tasks_per_epoch": "count",
    "streaming.runner_bridge.seed_ledger_s": "s",
    "lakehouse.table.mor_write_s": "s",
    "lakehouse.table.mor_finalize_s": "s",
    "lakehouse.table.evolve_to_s": "s",
    "lakehouse.table.committed_batch_ids_first_ms": "ms",
    "lakehouse.table.committed_batch_ids_last_ms": "ms",
    "lakehouse.table.files_per_commit": "count",
    "lakehouse.table.bytes_written": "bytes",
    "lakehouse.table.meta_bytes_per_commit": "bytes",
    "lakehouse.table.compact_bytes_rewritten": "bytes",
    "lakehouse.table.read_plan_s": "s",
    "lakehouse.table.scan_exec_s": "s",
    "lakehouse.table.scan_files": "count",
    "lakehouse.table.lookup_files_opened": "count",
    "lakehouse.table.changes_s": "s",
    "lakehouse.table.changes_rows": "count",
    "lakehouse.matview.refresh_s": "s",
    "lakehouse.matview.refresh_changes_s": "s",
    "lakehouse.matview.refresh_rows_in": "count",
    "self.cdc.runner_s": "s",
    "self.lakehouse.table_s": "s",
    "self.lakehouse.matview_s": "s",
    "self.streaming.runner_bridge_s": "s",
    "self.bench_s": "s",
    "commit_p90_s": "s",
    "lookup_p95_ms": "ms",
    "trace.wall_s": "s",
    "trace.coverage": "ratio",
    "trace.overhead_frac": "ratio",
}


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# the share of the traced wall time that spans of the engine's layers or
# of the benchmark's own work must cover
MIN_COVERAGE = 0.9
# traced/untraced lookup blocks for trace.overhead_frac, in ABBA order
OVERHEAD_BLOCKS = 4
OVERHEAD_BLOCK_LOOKUPS = 10


def traced_pass(ctx, workload: str, inputs: dict) -> dict:
    spark = ctx.engine.spark
    tracer = S.Tracer(run_id=f"{workload}-seed{ctx.seed}")
    ctx.tracer = tracer
    p = W.Pass(ctx, workload, "traced")
    tracer.install(spark.sparkContext)
    try:
        with tracer.span("workload", tag_jobs=False) as root:
            t0 = time.time()
            p.run(inputs)
            wall = time.time() - t0
    finally:
        tracer.uninstall()
        ctx.tracer = None
    t0 = time.time()
    stages = S.stage_metrics(spark.sparkContext)
    selfs = tracer.self_times(root)
    metrics = _metrics(tracer, root, selfs, stages, p, wall)
    W.log(f"traced pass {wall:.1f}s, stage metrics {time.time() - t0:.1f}s")
    ctx.tally.ok(metrics["trace.coverage"] >= MIN_COVERAGE,
                 f"layer spans cover {metrics['trace.coverage']:.3f} of the traced "
                 f"wall time, below {MIN_COVERAGE}")
    t0 = time.time()
    metrics["trace.overhead_frac"], untraced_ms = _overhead(p)
    W.log(f"overhead blocks {time.time() - t0:.1f}s")
    metrics["commit_p90_s"] = W.quantile(p.samples["commit_s"], 0.9)
    # from the untraced lookup blocks, which pay no tracing cost
    metrics["lookup_p95_ms"] = W.quantile(untraced_ms, 0.95)
    name = f"trace-{workload}-seed{ctx.seed}.json"
    tracer.dump(os.path.join(ctx.out, name), root, selfs)
    _print_tree(tracer, root, selfs)
    return {"metrics": metrics, "units": UNITS}


def _overhead(p) -> tuple[float, list[float]]:
    """Tracing overhead on point lookups of the traced pass's final table:
    the median traced block over the median untraced block, minus 1. The
    blocks alternate (traced, untraced, untraced, traced, ...) in one
    session, so warm-up and slow stretches fall on both. Returns it with
    the untraced lookup times in ms."""
    table, keys, state = p.final
    blocks: dict[bool, list[float]] = {True: [], False: []}
    for b in range(OVERHEAD_BLOCKS):
        for traced in ((True, False) if b % 2 == 0 else (False, True)):
            tracer = S.Tracer(run_id="overhead") if traced else None
            if tracer is not None:
                tracer.install(p.spark.sparkContext)
            metric = "overhead_traced_ms" if traced else "overhead_untraced_ms"
            try:
                t = time.perf_counter()
                for _ in range(OVERHEAD_BLOCK_LOOKUPS):
                    p.lookup(table, keys[p.n_lookups % len(keys)], state, metric)
                    p.n_lookups += 1
                blocks[traced].append(time.perf_counter() - t)
            finally:
                if tracer is not None:
                    tracer.uninstall()
    frac = W.median(blocks[True]) / W.median(blocks[False]) - 1
    return frac, p.samples["overhead_untraced_ms"]


def _metrics(tracer, root, selfs, stages, p, wall: float) -> dict:
    kids = tracer.children()
    tree, todo = [], [(root, None)]
    phase_of: dict[int, str | None] = {}
    while todo:
        s, ph = todo.pop()
        if s["name"].startswith("phase."):
            ph = s["name"][6:]
        phase_of[s["id"]] = ph
        tree.append(s)
        todo.extend((c, ph) for c in kids.get(s["id"], []))
    tree.sort(key=lambda s: s["start"])
    dur = lambda s: s["end"] - s["start"]  # noqa: E731

    def pick(name, *phases):
        return [s for s in tree if s["name"] == name
                and (not phases or phase_of[s["id"]] in phases)]

    def subtree(s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids.get(x["id"], []))
        return out

    groups = stages["groups"]

    def jobs(spans_, deep=False):
        """(jobs, tasks, stages) of the spans' own job groups."""
        n_jobs = n_tasks = 0
        sts = []
        for s in spans_:
            for x in (subtree(s) if deep else [s]):
                g = groups.get(f"pb-span-{x['id']}")
                if g:
                    n_jobs += g["jobs"]
                    n_tasks += g["tasks"]
                    sts += g["stages"]
        return n_jobs, n_tasks, sts

    m: dict[str, float] = {}
    # cdc.apply: the collapse runs inside the ingest's delta-write jobs
    writes = pick("lakehouse.table.mor_write", "ingest")
    events_in = p.info["events_in"]
    rows_out = sum(s["result"]["rows"] for s in writes)
    _, _, sts = jobs(writes)
    maps = [st for st in sts if st.get("shuffleWriteBytes", 0) > 0]
    reduces = [st for st in sts if st.get("shuffleReadBytes", 0) > 0
               and st.get("shuffleWriteBytes", 0) == 0]
    skew = 0.0
    for st in reduces:
        if st.get("numTasks", 0) >= 2:
            med, mx = S.task_time_quantiles(stages["base"], st)
            skew = max(skew, mx / max(med, 1.0))
    runs = pick("cdc.runner.replay", "ingest") + pick("cdc.runner.apply_batch", "ingest")
    m.update({
        "cdc.apply.events_in": events_in,
        "cdc.apply.rows_out": rows_out,
        "cdc.apply.collapse_ratio": rows_out / events_in,
        "cdc.apply.quarantined": sum(s["result"]["quarantined"] for s in runs),
        "cdc.apply.shuffle_write_bytes": sum(st["shuffleWriteBytes"] for st in maps),
        "cdc.apply.shuffle_bytes_per_event":
            sum(st["shuffleWriteBytes"] for st in maps) / events_in,
        "cdc.apply.map_task_s": sum(st["executorRunTime"] for st in maps) / 1000,
        "cdc.apply.reduce_task_s": sum(st["executorRunTime"] for st in reduces) / 1000,
        "cdc.apply.spill_bytes": sum(st.get("diskBytesSpilled", 0)
                                     + st.get("memoryBytesSpilled", 0) for st in sts),
        "cdc.apply.reduce_skew": skew,
    })
    detects = pick("cdc.runner.detect_hot_keys", "ingest")
    phase_spans = [s for s in tree if s["name"].startswith("phase.")]
    m.update({
        "cdc.runner.hot_keys_n": max([s["result"]["n"] for s in detects], default=0),
        "cdc.runner.detect_hot_keys_s": sum(map(dur, detects)),
        "cdc.runner.replay_s": sum(map(dur, pick("cdc.runner.replay"))),
        "cdc.runner.apply_batch_s":
            sum(map(dur, pick("cdc.runner.apply_batch", "ingest", "resume"))),
        "cdc.runner.read_event_log_s": sum(map(dur, pick("cdc.runner.read_event_log"))),
        "cdc.runner.driver_gap_s": selfs[root["id"]]
            + sum(selfs[s["id"]] for s in phase_spans),
    })
    epochs = [e for e in pick("streaming.runner_bridge.epoch", "ingest", "resume")
              if e["result"]["status"] == "applied"]
    per_epoch = [jobs([e], deep=True) for e in epochs]
    # a restarted applier's first epoch seeds its ledger
    seeds = [[x for x in subtree(e) if x["name"] == "lakehouse.table.committed_batch_ids"]
             for e in pick("streaming.runner_bridge.epoch", "resume")]
    m.update({
        "streaming.runner_bridge.epoch_s": _med([dur(e) for e in epochs]),
        "streaming.runner_bridge.spark_jobs_per_epoch": _med([j for j, _, _ in per_epoch]),
        "streaming.runner_bridge.tasks_per_epoch": _med([t for _, t, _ in per_epoch]),
        "streaming.runner_bridge.seed_ledger_s": _med([sum(map(dur, xs)) for xs in seeds if xs]),
    })
    ledger = pick("lakehouse.table.committed_batch_ids", "ingest", "resume")
    finals = pick("lakehouse.table.mor_finalize", "ingest", "resume")
    compacts = pick("lakehouse.table.compact", "compact")
    all_writes = pick("lakehouse.table.mor_write") + pick("lakehouse.table.compact")
    root_dir = p.info["table_root"]
    files = [
        sum(f.endswith(".parquet") for _, _, fs in os.walk(os.path.join(root_dir, s["result"]["rel_dir"]))
            for f in fs)
        for s in writes
    ]
    m.update({
        "lakehouse.table.mor_write_s": sum(map(dur, writes)),
        "lakehouse.table.mor_finalize_s": sum(map(dur, finals)),
        "lakehouse.table.evolve_to_s": sum(map(dur, pick("lakehouse.table.evolve_to", "ingest"))),
        "lakehouse.table.committed_batch_ids_first_ms": dur(ledger[0]) * 1000 if ledger else 0.0,
        "lakehouse.table.committed_batch_ids_last_ms": dur(ledger[-1]) * 1000 if ledger else 0.0,
        "lakehouse.table.files_per_commit": sum(files) / max(len(files), 1),
        "lakehouse.table.bytes_written":
            sum(st.get("outputBytes", 0) for st in jobs(all_writes)[2]),
        "lakehouse.table.meta_bytes_per_commit":
            (p.info["meta_after"] - p.info["meta_before"]) / max(len(finals), 1),
        "lakehouse.table.compact_bytes_rewritten":
            sum(st.get("outputBytes", 0) for st in jobs(compacts)[2]),
    })
    lookups = pick("lakehouse.table.read_key_local", "lookups")
    refreshes = pick("lakehouse.matview.refresh", "refresh")
    m.update({
        "lakehouse.table.read_plan_s": _med([dur(s) for s in pick("lakehouse.table.read", "scan")]),
        "lakehouse.table.scan_exec_s": _med([dur(s) for s in pick("scan.exec", "scan")]),
        "lakehouse.table.scan_files": p.info["scan_s_files"],
        "lakehouse.table.lookup_files_opened":
            len(pick("pyarrow.read_table", "lookups")) / max(len(lookups), 1),
        # the changes() call plus the sink action on its plan
        "lakehouse.table.changes_s": _med(p.samples.get("changes_s", [])),
        "lakehouse.table.changes_rows": p.info.get("changes_rows", 0),
        "lakehouse.matview.refresh_s": sum(map(dur, refreshes)),
        "lakehouse.matview.refresh_changes_s": sum(
            dur(x) for r in refreshes for x in subtree(r)
            if x["name"] == "lakehouse.table.changes"),
        # rows the refresh's Spark jobs read: the change feed and the
        # view's stored groups it joins against
        "lakehouse.matview.refresh_rows_in": sum(
            st.get("inputRecords", 0) for st in jobs(refreshes, deep=True)[2]),
    })
    by_layer: dict[str, float] = {}
    for s in tree:
        name = s["name"]
        if name.startswith("pyarrow."):
            layer = "lakehouse.table"  # files a lookup opens
        elif name.endswith(".exec"):
            layer = "lakehouse.table"  # the benchmark's action on a read plan
        elif name == "workload" or name.startswith("phase."):
            layer = None
        elif name.startswith("bench."):
            layer = "bench"
        else:
            layer = name.rsplit(".", 1)[0]
        if layer is not None:
            by_layer[layer] = by_layer.get(layer, 0.0) + selfs[s["id"]]
    for layer in ("cdc.runner", "lakehouse.table", "lakehouse.matview",
                  "streaming.runner_bridge", "bench"):
        m[f"self.{layer}_s"] = by_layer.get(layer, 0.0)
    m["trace.wall_s"] = wall
    # the share of the wall time some layer's span (or the benchmark's own
    # work) accounts for; the rest is driver_gap_s, time in the phase loops
    # that no span covers
    m["trace.coverage"] = sum(by_layer.values()) / wall
    return {k: float(m[k]) for k in UNITS if k in m}


def _print_tree(tracer, root, selfs) -> None:
    """Span tree aggregated by path: calls, inclusive and self seconds."""
    kids = tracer.children()
    rows: dict[tuple, list[float]] = {}

    def walk(s, path):
        path = path + (s["name"],)
        r = rows.setdefault(path, [0, 0.0, 0.0])
        r[0] += 1
        r[1] += s["end"] - s["start"]
        r[2] += selfs[s["id"]]
        for c in kids.get(s["id"], []):
            walk(c, path)

    walk(root, ())
    print(f"{'span':<70} {'calls':>6} {'incl_s':>9} {'self_s':>9}", file=sys.stderr)
    for path, (n, inc, slf) in rows.items():
        label = "  " * (len(path) - 1) + path[-1]
        print(f"{label:<70} {n:>6} {inc:>9.3f} {slf:>9.3f}", file=sys.stderr)
