"""The two workloads and the rounds they share.

Both workloads ingest a seeded change log into an 8-bucket merge-on-read
table, then run ROUNDS rounds. A round ingests more of the log, restarts
ingestion, and reads the table as it then stands: a full scan, point
lookups, compaction of a copy and scans of the compacted copy. Every
output is checked against the pandas oracle. The workloads differ in how
the log arrives:

- ``hot_backfill``: most of the log at once, replayed by
  ``CdcRunner.replay`` in 4 LSN batches (the pipelined path). Churn is
  Zipf-distributed, so a handful of keys each own more than 1% of a
  batch and hot-key salting engages. In each round the pipeline
  restarts: it re-replays the backfill (all skipped) and goes on with the
  next WAL segment as a ``StreamApplier`` epoch.
- ``tail_reads``: a replayed base, then the log's tail delivered one
  ~600-event epoch at a time to a ``StreamApplier`` in a closed loop with
  one client (the next epoch goes only after the previous commits, as
  ``foreachBatch`` does). In each round a new applier with the same
  run id gets the last epoch again (skipped) and then the next one.
  Churn is uniform, so hot-key detection runs on every epoch and finds
  nothing: salting is bypassed.

The traced pass of ``tail_reads`` also creates an incremental view before
its last round and reads that round's commits back through the change
feed and a view refresh.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd

import gen

N_BUCKETS = 8
VIEW_BUCKETS = 4
SETUP_REPEATS = 3
# the timed pass runs in rounds of ingest and reads, so each metric is
# sampled across the pass rather than in one window of it
ROUNDS = 2
EPOCH_EVENTS = 600
SCAN_COMPACTED_REPEATS = 5  # per round, timed together
MIN_LOOKUPS = 40
# the point lookups of a round run in bursts between its other reads, so
# they sample the whole round rather than one stretch of it
LOOKUP_BURSTS = 4  # per round
N_LOOKUP_KEYS = 400

# sf0.01 of the repo's bench log: 61.2k events over 12k keys in 20 repos
LOG = dict(n_repos=20, n_keys=12_000, n_events=61_200)
# each round ingests live_epochs epochs and then one epoch after a restart
WORKLOADS = {
    "hot_backfill": dict(log=dict(LOG, zipf_s=1.1, zipf_pool=5_000), n_batches=4,
                         live_epochs=0),
    "tail_reads": dict(log=dict(LOG), base_batches=1, live_epochs=1),
}
# the workload whose traced pass also reads its last round back through
# the change feed and an incremental view (a traced run of the other
# workload would take too long with them)
FEED_WORKLOAD = "tail_reads"
# before either workload, untimed: replay a small log, apply its last
# events as a stream epoch, read it and compact it, so the JVM and codegen
# are warm for the timed phases
WARMUP = dict(n_repos=20, n_keys=150, n_events=600)
WARMUP_EPOCH_EVENTS = 100


def median(xs):
    return float(statistics.median(xs))


def quantile(xs, q):
    return float(np.quantile(np.asarray(xs, dtype=float), q))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ inputs


def _read_frame(paths: list[str]) -> pd.DataFrame:
    parts = [pd.read_parquet(p) for p in paths]
    for p in parts:
        if "lang_meta" not in p.columns:
            p["lang_meta"] = None
    return pd.concat(parts, ignore_index=True)


def prepare(cache_root: str, name: str, seed: int) -> dict:
    """Generated inputs for one workload and seed (cached on disk)."""
    cfg = WORKLOADS[name]
    per_round = cfg["live_epochs"] + 1
    n_seg = ROUNDS * per_round
    spec = {"workload": name, "seed": seed, "segments": n_seg,
            "epoch_events": EPOCH_EVENTS, **cfg}

    def build(out: str) -> dict:
        df = gen.generate(seed, **cfg["log"])
        cut = df.attrs["evolution_lsn"]
        # the log's last n_seg * EPOCH_EVENTS LSNs arrive as LSN-ordered
        # segments after the rest has been ingested
        lsns = np.unique(df["lsn"].to_numpy())
        tail = lsns[-n_seg * EPOCH_EVENTS:]
        bounds = [int(tail[0]) - 1] + [int(c[-1]) for c in np.array_split(tail, n_seg)]
        base = df[df["lsn"] <= bounds[0]]
        epochs = []
        for k in range(n_seg):
            ep = df[(df["lsn"] > bounds[k]) & (df["lsn"] <= bounds[k + 1])]
            epochs.append(gen.write_segments(ep, cut, out, f"epoch{k:03d}"))
        return {"log": gen.write_segments(base, cut, out, "base"),
                "epochs": epochs, "bounds": bounds}

    out, meta = gen.cached(cache_root, spec, build)
    rel = lambda ps: [os.path.join(out, p) for p in ps]  # noqa: E731
    bounds = meta["bounds"]
    inputs = {"log": rel(meta["log"]), "epochs": [rel(e) for e in meta["epochs"]],
              "base_hi": bounds[0],
              # the last LSN each round ingests
              "round_hi": [bounds[(r + 1) * per_round] for r in range(ROUNDS)]}
    base = _read_frame(inputs["log"])
    frames = [_read_frame(e) for e in inputs["epochs"]]
    inputs["epoch_sizes"] = [len(f) for f in frames]
    # invalid events per segment: what the engine must quarantine
    inputs["invalid"] = [n_invalid(f) for f in [base] + frames]
    inputs["events"] = pd.concat([base] + frames, ignore_index=True)
    return inputs


def n_invalid(events: pd.DataFrame) -> int:
    return int((~events["op"].isin(gen.VALID_OPS)).sum())


def oracle_inputs(inputs: dict) -> list[pd.DataFrame]:
    """The event sets whose replayed state the checks compare against:
    the state after the initial ingest (where the change feed starts),
    then the state after each round; the last is the final state."""
    ev = inputs["events"]
    return [ev[ev["lsn"] <= hi] for hi in [inputs["base_hi"]] + inputs["round_hi"]]


def prepare_warmup(cache_root: str, seed: int) -> dict:
    spec = {"workload": "warmup", "seed": seed, "epoch_events": WARMUP_EPOCH_EVENTS,
            **WARMUP}

    def build(out: str) -> dict:
        df = gen.generate(seed, zipf_s=1.1, zipf_pool=50, **WARMUP)
        cut = df.attrs["evolution_lsn"]
        hi = int(np.unique(df["lsn"].to_numpy())[-WARMUP_EPOCH_EVENTS - 1])
        return {"log": gen.write_segments(df[df["lsn"] <= hi], cut, out, "log"),
                "epoch": gen.write_segments(df[df["lsn"] > hi], cut, out, "epoch")}

    out, meta = gen.cached(cache_root, spec, build)
    return {k: [os.path.join(out, p) for p in ps] for k, ps in meta.items()}


# ------------------------------------------------------------------ engine


class Engine:
    """One SparkSession at a time, at local[<cores>]."""

    def __init__(self, work: str):
        self.work = work
        self.traced = False  # the traced pass turns on the UI for stage metrics
        self.spark = None

    def start(self):
        from astro_data_pipeline_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.traced:
            conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100",
            })
        self.spark = get_spark(app_name="perfbench", cpus=os.cpu_count(), extra_conf=conf)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


# ------------------------------------------------------------------ checks


class Tally:
    """Operations attempted and failed (a raise or an output that
    disagrees with the oracle)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def ok(self, cond: bool, what: str) -> None:
        self.attempted += 1
        if not cond:
            self.failed += 1
            log(f"CHECK FAILED: {what}")


def oracle_state(events: pd.DataFrame) -> pd.DataFrame:
    from astro_data_pipeline_spark.cdc.oracle import replay_reference

    valid = events[events["op"].isin(gen.VALID_OPS)]
    return replay_reference(valid).set_index(["repo", "path"])


def check_table(tally: Tally, table, expect: pd.DataFrame, what: str) -> None:
    got = (
        table.read().select("repo", "path", "content_sha256", "last_lsn")
        .toPandas().set_index(["repo", "path"]).sort_index()
    )
    exp = expect[["content_sha256", "last_lsn"]].sort_index()
    same = (
        got.index.equals(exp.index)
        and (got["content_sha256"].to_numpy() == exp["content_sha256"].to_numpy()).all()
        and (got["last_lsn"].astype("int64").to_numpy()
             == exp["last_lsn"].astype("int64").to_numpy()).all()
    )
    tally.ok(bool(same), f"{what}: table != replay_reference "
                         f"({len(got)} rows vs {len(exp)})")


def expected_changes(before: pd.DataFrame, after: pd.DataFrame) -> set:
    out = set()
    for k in after.index.difference(before.index):
        out.add((*k, "insert", int(after.at[k, "last_lsn"])))
    for k in before.index.difference(after.index):
        out.add((*k, "delete", None))
    both = after.index.intersection(before.index)
    moved = after.loc[both, "last_lsn"] != before.loc[both, "last_lsn"]
    for k in both[moved.to_numpy()]:
        out.add((*k, "update", int(after.at[k, "last_lsn"])))
    return out


def expected_view(state: pd.DataFrame) -> pd.DataFrame:
    g = state.reset_index().groupby("repo")["last_lsn"]
    return pd.DataFrame({"n_files": g.count(), "sum_lsn": g.sum(),
                         "max_lsn": g.max()}).sort_index()


def lookup_keys(events: pd.DataFrame, final: pd.DataFrame, seed: int):
    """Seeded point-lookup keys: 60% live, 20% deleted, 20% never seen."""
    n = N_LOOKUP_KEYS
    rng = np.random.default_rng(seed + 7)
    seen = pd.MultiIndex.from_frame(events[["repo", "path"]]).unique()
    dead = seen.difference(final.index)
    live = final.index
    keys = [live[i] for i in rng.integers(0, len(live), int(n * 0.6))]
    if len(dead):
        keys += [dead[i] for i in rng.integers(0, len(dead), int(n * 0.2))]
    keys += [(f"repo_{rng.integers(0, 99999):05d}", f"absent/{i}.py")
             for i in range(n - len(keys))]
    return [keys[i] for i in rng.permutation(len(keys))]


def dir_bytes(root: str) -> tuple[int, int]:
    """(data bytes, metadata bytes) on disk under ``root``: parquet files
    and their checksums are data, everything else is metadata."""
    data = meta = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            n = os.path.getsize(os.path.join(d, f))
            if f.endswith(".parquet") or f.endswith(".parquet.crc"):
                data += n
            else:
                meta += n
    return data, meta


# ------------------------------------------------------------------ phases


class Pass:
    """One execution of a workload's timed phases against fresh tables."""

    def __init__(self, ctx, name: str, tag: str):
        self.ctx = ctx
        self.name = name
        self.n_lookups = 0
        self.spark = ctx.engine.spark
        self.root = os.path.join(ctx.work, f"{name}-{tag}")
        self.tally = ctx.tally
        self.samples: dict[str, list[float]] = {}
        self.info: dict = {}
        self.phase_s: dict[str, float] = {}

    @contextmanager
    def phase(self, name: str):
        t = time.time()
        with self.ctx.span(f"phase.{name}"):
            yield
        dt = time.time() - t
        self.phase_s[name] = self.phase_s.get(name, 0.0) + dt
        log(f"{self.name} {name}: {dt:.2f}s")

    def add(self, metric: str, value: float) -> None:
        self.samples.setdefault(metric, []).append(float(value))

    def new_table(self):
        from pyspark.sql import types as T

        from astro_data_pipeline_spark.cdc import apply as A
        from astro_data_pipeline_spark.lakehouse import LakeTable

        return LakeTable.create(
            self.spark, os.path.join(self.root, "lake"),
            T.StructType(A.BASE_TABLE_FIELDS), A.KEY_COLS, n_buckets=N_BUCKETS,
        )

    def new_view(self, table):
        from astro_data_pipeline_spark.lakehouse.matview import (
            AggSpec,
            IncrementalAggView,
        )

        specs = [AggSpec("count", None, "n_files"), AggSpec("sum", "last_lsn", "sum_lsn"),
                 AggSpec("max", "last_lsn", "max_lsn")]
        return IncrementalAggView.create(
            self.spark, os.path.join(self.root, "view"), table, ["repo"], specs,
            n_buckets=VIEW_BUCKETS,
        )

    # -- ingest

    def measure_meta(self, table, key: str) -> None:
        with self.ctx.span("bench.measure"):
            self.info[key] = dir_bytes(table.root)[1]

    def hot_backfill(self, inputs: dict) -> None:
        from astro_data_pipeline_spark.cdc import runner as R
        from astro_data_pipeline_spark.streaming.runner_bridge import StreamApplier

        cfg = WORKLOADS["hot_backfill"]
        table = self.new_table()
        events = R.read_event_log(self.spark, *inputs["log"])
        run_id = f"pb-{self.ctx.seed}"
        self.measure_meta(table, "meta_before")
        with self.phase("ingest"):
            t0 = time.time()
            reps = R.CdcRunner(self.spark, table, run_id=run_id, mode="mor").replay(
                events, n_batches=cfg["n_batches"])
            t1 = time.time()
        self.tally.ok(len(reps) == cfg["n_batches"]
                      and all(r.status == "applied" for r in reps),
                      f"replay statuses {[r.status for r in reps]}")
        self.check_quarantined(sum(r.n_quarantined for r in reps), inputs["invalid"][0],
                               "replay")
        ids = {r.batch_id for r in reps}
        n_events = len(inputs["events"]) - sum(inputs["epoch_sizes"])
        self.add("ingest_events_per_s", n_events / (t1 - t0))
        self.info["events_in"] = n_events
        with self.ctx.span("bench.measure"):
            hot = [s.summary.get("hot_keys") for s in table.snapshot_chain()
                   if s.summary.get("batch_id") in ids]
        self.tally.ok(any(hot), "no batch manifest recorded hot_keys: salting not measured")

        def restart(r: int) -> None:
            # the restarted pipeline is handed the whole backfill log again
            # (every batch must be skipped), then tails the round's WAL
            # segment as a stream epoch
            with self.phase("resume"):
                new = R.read_event_log(self.spark, *inputs["epochs"][r])
                t = time.time()
                again = R.CdcRunner(self.spark, table, run_id=run_id, mode="mor").replay(
                    events, n_batches=cfg["n_batches"])
                t1 = time.time()
                res = StreamApplier(table, run_id=f"{run_id}-tail", mode="mor")(new, r)
                t2 = time.time()
            self.add("resume_s", t2 - t)
            # the pipelined backfill's own commits land in bursts, so its
            # commit latency is taken on these epochs
            self.add("commit_s", t2 - t1)
            self.tally.ok(all(x.status == "skipped" for x in again),
                          f"resume re-applied batches {[x.status for x in again]}")
            self.tally.ok(res["status"] == "applied",
                          f"segment {r} after restart was {res['status']}")
            self.check_quarantined(res["n_quarantined"], inputs["invalid"][r + 1],
                                   f"segment {r}")

        self.rounds(table, inputs, restart)

    def tail_reads(self, inputs: dict) -> None:
        from astro_data_pipeline_spark.cdc import runner as R
        from astro_data_pipeline_spark.streaming.runner_bridge import StreamApplier

        cfg = WORKLOADS["tail_reads"]
        table = self.new_table()
        with self.phase("base"):
            base = R.read_event_log(self.spark, *inputs["log"])
            reps = R.CdcRunner(self.spark, table, run_id="base", mode="mor").replay(
                base, n_batches=cfg["base_batches"])
        self.check_quarantined(sum(r.n_quarantined for r in reps), inputs["invalid"][0],
                               "base replay")
        run_id = f"pb-tail-{self.ctx.seed}"
        epochs = inputs["epochs"]
        live = {"applier": StreamApplier(table, run_id=run_id, mode="mor"),
                "events": 0, "busy": 0.0}

        def apply(applier, k: int, expect: str) -> float:
            df = R.read_event_log(self.spark, *epochs[k])
            t = time.time()
            res = applier(df, k)
            dt = time.time() - t
            status = res and res["status"]
            self.tally.ok(status == expect, f"epoch {k} was {status}, not {expect}")
            if expect == "applied":
                self.check_quarantined(res["n_quarantined"], inputs["invalid"][k + 1],
                                       f"epoch {k}")
            return dt

        self.measure_meta(table, "meta_before")

        def ingest(r: int) -> None:
            # the live applier's epochs (one client, closed loop: the next
            # epoch goes only after the previous one commits), then a
            # restart: a new applier with the same run_id gets the last
            # applied epoch again and then the next one
            k0 = r * (cfg["live_epochs"] + 1)
            with self.phase("ingest"):
                for k in range(k0, k0 + cfg["live_epochs"]):
                    dt = apply(live["applier"], k, "applied")
                    self.add("commit_s", dt)
                    live["busy"] += dt
                    live["events"] += inputs["epoch_sizes"][k]
            k = k0 + cfg["live_epochs"]
            with self.phase("resume"):
                t = time.time()
                restarted = StreamApplier(table, run_id=run_id, mode="mor")
                apply(restarted, k - 1, "skipped")
                dt = apply(restarted, k, "applied")
                self.add("resume_s", time.time() - t)
            self.add("commit_s", dt)
            live["applier"] = restarted

        self.rounds(table, inputs, ingest)
        self.add("ingest_events_per_s", live["events"] / live["busy"])
        self.info["events_in"] = live["events"]

    # -- rounds of ingest and reads, and the final checks (shared)

    def check_quarantined(self, got, expect: int, what: str) -> None:
        self.tally.ok(got == expect, f"{what}: {got} events quarantined, {expect} invalid")

    def _scan(self, table, metric: str, repeats: int) -> None:
        """``repeats`` back-to-back scans, timed as one interval: one
        sample of their mean, so a short scan is not mostly timer noise."""
        t = time.time()
        for _ in range(repeats):
            df = table.read()
            with self.ctx.span("scan.exec"):
                df.write.format("noop").mode("overwrite").save()
            self.tally.ok(True, "scan")
        self.add(metric, (time.time() - t) / repeats)
        if self.ctx.tracer is not None:
            self.info[f"{metric}_files"] = len(df.inputFiles())

    def _lookups(self, table, keys: list, state) -> None:
        """One burst of one client's point lookups, closed loop, each
        checked against the oracle ``state``: a burst's share of the run's
        seconds, and at least its share of MIN_LOOKUPS."""
        with self.phase("lookups"):
            bursts = ROUNDS * LOOKUP_BURSTS
            deadline = time.time() + self.ctx.seconds / bursts
            i = 0
            while i < MIN_LOOKUPS // bursts or time.time() < deadline:
                self.lookup(table, keys[self.n_lookups % len(keys)], state, "lookup_ms")
                self.n_lookups += 1
                i += 1

    def lookup(self, table, key: tuple, state, metric: str) -> None:
        """One timed ``read_key_local``, checked against ``state``."""
        repo, path = key
        t = time.time()
        row = table.read_key_local({"repo": repo, "path": path})
        self.add(metric, (time.time() - t) * 1000)
        with self.ctx.span("bench.check"):
            exp = state.loc[(repo, path)] if (repo, path) in state.index else None
            self.tally.ok(
                (row is None and exp is None)
                or (row is not None and exp is not None
                    and row["content_sha256"] == exp["content_sha256"]
                    and int(row["last_lsn"]) == int(exp["last_lsn"])),
                f"lookup {repo}/{path}")

    def _copy(self, table, r: int):
        """A copy of the table's directory, opened as a table of its own."""
        import shutil

        from astro_data_pipeline_spark.lakehouse import LakeTable

        root = os.path.join(self.root, f"copy{r}")
        shutil.copytree(table.root, root)
        return LakeTable.load(self.spark, root)

    def rounds(self, table, inputs: dict, ingest):
        """ROUNDS rounds of the workload's ``ingest(r)``, then reads
        of the table as it then stands: a scan, a share of the point
        lookups, ``compact()`` of a copy of the table, and scans of that
        copy. The rounds spread every metric's samples over the timed
        pass, so one slow stretch of the host moves only some of them.
        The traced pass of ``FEED_WORKLOAD`` creates a view before the
        last round and reads that round's commits back through the change
        feed and a view refresh."""
        # the state after the initial ingest, then after each round
        base, *states = map(self.ctx.oracle, oracle_inputs(inputs))
        before, final = ([base] + states)[-2:]
        keys = lookup_keys(inputs["events"], final, self.ctx.seed)
        copies = []
        view = None
        for r, state in enumerate(states):
            last = r == ROUNDS - 1
            if last and self.ctx.tracer is not None and self.name == FEED_WORKLOAD:
                with self.phase("view_setup"):
                    view = self.new_view(table)
                from_sid = table.current_snapshot().snapshot_id
            ingest(r)
            if last:
                self.measure_meta(table, "meta_after")
                with self.ctx.span("bench.check"):
                    check_table(self.tally, table, state, "fragmented table")
            with self.ctx.span("bench.copy"):
                copies.append(self._copy(table, r))
            self._lookups(table, keys, state)
            with self.phase("scan"):
                self._scan(table, "scan_s", 1)
            self._lookups(table, keys, state)
            with self.phase("compact"):
                t = time.time()
                copies[r].compact()
                self.add("compact_s", time.time() - t)
            self._lookups(table, keys, state)
            with self.phase("scan_compacted"):
                self._scan(copies[r], "scan_compacted_s", SCAN_COMPACTED_REPEATS)
            self._lookups(table, keys, state)
        if view is not None:
            # the change feed covers the last round, from ``before`` on
            self.feed_reads(table, view, from_sid, before, final)
        with self.ctx.span("bench.check"):
            for r, (copy, state) in enumerate(zip(copies, states)):
                check_table(self.tally, copy, state, f"round {r}, compacted copy")
            data, meta = dir_bytes(copies[-1].root)
        self.add("stored_bytes_per_live_row", (data + meta) / max(len(final), 1))
        self.info["table_root"] = table.root
        # the final table, its lookup keys and oracle state, for the traced
        # run's overhead measurement
        self.final = (table, keys, final)

    def feed_reads(self, table, view, from_sid: int, before, final) -> None:
        """The change feed over the tail and the view refresh it drives."""
        with self.phase("changes"):
            t = time.time()
            df = table.changes(from_sid)
            with self.ctx.span("changes.exec"):
                df.write.format("noop").mode("overwrite").save()
            self.add("changes_s", time.time() - t)
        with self.ctx.span("bench.check"):
            self._check_changes(table, from_sid, before, final)
        with self.phase("refresh"):
            t = time.time()
            view.refresh()
            self.add("mv_refresh_s", time.time() - t)
        with self.ctx.span("bench.check"):
            self._check_view(view, final)

    def _check_changes(self, table, from_sid, before, final) -> None:
        got = {
            (r["repo"], r["path"], r["change_type"],
             None if r["change_type"] == "delete" else int(r["last_lsn"]))
            for r in table.changes(from_sid).select(
                "repo", "path", "change_type", "last_lsn").collect()
        }
        exp_changes = expected_changes(before, final)
        self.tally.ok(got == exp_changes,
                      f"changes(): {len(got)} rows vs {len(exp_changes)} expected")
        self.info["changes_rows"] = len(got)

    def _check_view(self, view, final) -> None:
        got_v = view.read().toPandas().set_index("repo").sort_index()
        exp_v = expected_view(final)
        self.tally.ok(
            got_v.index.equals(exp_v.index)
            and (got_v[["n_files", "sum_lsn", "max_lsn"]].astype("int64").to_numpy()
                 == exp_v.astype("int64").to_numpy()).all(),
            "view rows != pandas group-by of the oracle state")

    def run(self, inputs: dict) -> None:
        getattr(self, self.name)(inputs)


def warmup(ctx, paths: dict) -> None:
    """A replay in two batches, a stream epoch, scans, a lookup and a
    compaction on a 600-event log, untimed."""
    from astro_data_pipeline_spark.cdc import runner as R
    from astro_data_pipeline_spark.streaming.runner_bridge import StreamApplier

    p = Pass(ctx, "warmup", "0")
    table = p.new_table()
    with p.phase("replay"):
        events = R.read_event_log(p.spark, *paths["log"])
        R.CdcRunner(p.spark, table, run_id="warm", mode="mor").replay(events, n_batches=2)
        epoch = R.read_event_log(p.spark, *paths["epoch"])
        StreamApplier(table, run_id="warm-tail", mode="mor")(epoch, 0)
        for compact in (False, True):
            if compact:
                table.compact()
            table.read().write.format("noop").mode("overwrite").save()
            table.read_key_local({"repo": "repo_00000", "path": "src/m0/f0.py"})


def summarize(samples: dict[str, list[float]]) -> dict[str, float]:
    """The end-to-end metrics from one pass's samples."""
    s = samples
    return {
        "setup_s": median(s["setup_s"]),
        "ingest_events_per_s": median(s["ingest_events_per_s"]),
        "commit_p50_s": quantile(s["commit_s"], 0.5),
        "resume_s": median(s["resume_s"]),
        "scan_s": median(s["scan_s"]),
        "scan_compacted_s": median(s["scan_compacted_s"]),
        "lookup_p50_ms": quantile(s["lookup_ms"], 0.5),
        "compact_s": median(s["compact_s"]),
        "stored_bytes_per_live_row": median(s["stored_bytes_per_live_row"]),
    }
