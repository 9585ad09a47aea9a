"""The CDC engine benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload hot_backfill --seed 1 --seconds 2 --trace 0

Run from the root of a source checkout. The engine runs in this process
at ``local[<cores>]``; every file it writes stays under the checkout
(``.perfbench_work``, ``.perfbench_cache``, ``.perfbench_out``). The last
line of standard output is ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a separate traced pass with ``--trace 1``. The exit code is 0
only when every output matched the oracle. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "astro_data_pipeline_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
CACHE = os.path.join(ROOT, ".perfbench_cache")
OUT = os.path.join(ROOT, ".perfbench_out")
# a fixed 4 GB: well below a 16 GB host, with room left for the Python side
DRIVER_MEMORY = "4g"

# end-to-end metric -> unit (workloads.summarize computes them)
UNITS = {
    "setup_s": "s", "ingest_events_per_s": "events/s", "commit_p50_s": "s",
    "resume_s": "s", "scan_s": "s", "scan_compacted_s": "s", "lookup_p50_ms": "ms",
    "compact_s": "s", "stored_bytes_per_live_row": "bytes",
}


def _environment() -> None:
    """Keep the engine's scratch files and the JVM's inside the checkout,
    and give the Spark driver a fixed heap. Must run before pyspark starts."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local, CACHE, OUT):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # C1 only: on a few cores the C2 compiler threads compete with the
    # engine's tasks for most of a short run, which made phases up to 1.7x
    # slower and their times depend on when C2 happened to run
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
        "-XX:MaxDirectMemorySize=2g -XX:-UsePerfData -XX:TieredStopAtLevel=1 "
        f"-Djava.io.tmpdir={tmp}"
    )
    # spark-submit's launcher JVM, which builds the driver command line
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for d, dirs, fs in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(fs):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _host() -> dict:
    import pyspark

    mem = None
    try:
        with open("/proc/meminfo") as f:
            mem = int(f.readline().split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    # a checkout without git history is identified by source_digest alone
    commit = "unknown"
    if os.path.exists(os.path.join(ROOT, ".git")):
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                capture_output=True, text=True).stdout.strip() or commit
    return {"nproc": os.cpu_count(), "mem_bytes": mem, "pyspark": pyspark.__version__,
            "python": platform.python_version(), "git_commit": commit,
            "source_digest": _source_digest(), "driver_memory": DRIVER_MEMORY}


class Ctx:
    """State shared by a run's passes."""

    def __init__(self, seed: int, seconds: int):
        from workloads import Engine, Tally

        self.seed = seed
        self.seconds = seconds
        self.work = WORK
        self.out = OUT
        self.engine = Engine(WORK)
        self.tally = Tally()
        self.tracer = None
        self._oracles: dict = {}

    def span(self, name: str):
        return self.tracer.span(name, tag_jobs=False) if self.tracer else nullcontext()

    def oracle(self, events):
        from workloads import oracle_state

        key = (len(events), int(events["lsn"].max()) if len(events) else 0)
        if key not in self._oracles:
            with self.span("bench.check"):
                self._oracles[key] = oracle_state(events)
        return self._oracles[key]


def _setup_samples(ctx, inputs: dict) -> list[float]:
    """Engine restart to ready-to-ingest, several times: a new session,
    a new table and the log opened."""
    from pyspark.sql import types as T

    from astro_data_pipeline_spark.cdc import apply as A
    from astro_data_pipeline_spark.cdc import runner as R
    from astro_data_pipeline_spark.lakehouse import LakeTable
    import workloads as W

    out = []
    for i in range(W.SETUP_REPEATS):
        ctx.engine.stop()
        t = time.time()
        spark = ctx.engine.start()
        LakeTable.create(spark, os.path.join(WORK, f"setup-{i}", "lake"),
                         T.StructType(A.BASE_TABLE_FIELDS), A.KEY_COLS, n_buckets=W.N_BUCKETS)
        R.read_event_log(spark, *inputs["log"])
        out.append(time.time() - t)
    return out


def run(ctx, workload: str, trace: bool) -> dict:
    import workloads as W

    prep: dict = {}

    def prepare() -> None:
        # the inputs and their oracle states are built while the JVM starts
        try:
            prep["inputs"] = W.prepare(CACHE, workload, ctx.seed)
            prep["warm"] = W.prepare_warmup(CACHE, ctx.seed)
            for events in W.oracle_inputs(prep["inputs"]):
                ctx.oracle(events)
        except BaseException as e:  # noqa: BLE001 - re-raised in the main thread
            prep["error"] = e

    t0 = time.time()
    worker = threading.Thread(target=prepare)
    worker.start()
    # the traced run turns the UI on for stage metrics from the start, so
    # its warm-up warms the session the traced pass uses
    ctx.engine.traced = trace
    try:
        ctx.engine.start()
        worker.join()
        if "error" in prep:
            raise prep["error"]
        inputs = prep["inputs"]
        W.log(f"engine and inputs ready in {time.time() - t0:.1f}s")
        if trace:
            W.warmup(ctx, prep["warm"])
            from layers import traced_pass

            return traced_pass(ctx, workload, inputs)
        # set-up restarts the session, which starts new Python workers, so
        # the warm-up comes after it and warms the session the pass uses
        t0 = time.time()
        setup = _setup_samples(ctx, inputs)
        W.log(f"set-up {time.time() - t0:.1f}s for {len(setup)} samples")
        W.warmup(ctx, prep["warm"])
        p = W.Pass(ctx, workload, "timed")
        t0 = time.time()
        p.run(inputs)
        W.log(f"timed pass {time.time() - t0:.1f}s, {p.n_lookups} lookups")
        p.samples["setup_s"] = setup
        return {"metrics": W.summarize(p.samples), "samples": p.samples}
    finally:
        ctx.engine.stop()


def _stop_jvm() -> None:
    """End the gateway JVM (it exits when its stdin closes) and wait."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["hot_backfill", "tail_reads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=2)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ under {ROOT}; "
              "run from a source checkout", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    _environment()
    sys.path.insert(0, ROOT)

    host = _host()
    ctx = Ctx(args.seed, args.seconds)
    result = None
    try:
        out = run(ctx, args.workload, bool(args.trace))
        t = ctx.tally
        result = {"correct": t.failed == 0, "attempted": t.attempted, "failed": t.failed,
                  "metrics": {k: {"value": v, "unit": out.get("units", UNITS)[k]}
                              for k, v in out["metrics"].items()}}
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(OUT, name), "w") as f:
            json.dump({"host": host, "result": result, "samples": out.get("samples")}, f)
    except Exception:  # noqa: BLE001 - a raise fails the run: report it, print no result
        traceback.print_exc()
    finally:
        t0 = time.time()
        _stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
        print(f"[perfbench] engine stopped in {time.time() - t0:.1f}s", file=sys.stderr)
    if result is None:
        print(json.dumps({"host": host}), file=sys.stderr)
        return 1
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
