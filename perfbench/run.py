"""KG-construction benchmark for codegraph.

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 1 --trace 0

Run from the root of a source checkout. One fresh process per run: a
``local[nproc]`` Spark session, one closed-loop client, inputs generated from
``--seed`` with ``codegraph.gen``. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` -- the end-to-end
metrics with ``--trace 0``, the per-layer metrics (and the tracing overhead)
with ``--trace 1``. Names, units and bounds are in ``BENCHMARK.json``.

Everything the run writes stays in the checkout: a per-run work directory
(inputs, graph, Spark local dir, temp files; removed at exit) and
``.perfbench_state/`` (triple-set digests per seed, untraced walls for the
overhead figure, span dumps of traced runs).

``--scale tiny`` and ``--corrupt`` exist for ``perfbench/selftest.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench_state")
DRIVER_MEM = "3g"

UNITS = {"busy_s": "s", "plan_s": "s", "stages": "count", "tasks": "count",
         "tasks_failed": "count", "shuffle_bytes": "B", "core_util": "ratio",
         "rows_in": "count", "rows_out": "count"}
LAYER_EXTRA_UNITS = {
    "extract.records_per_file": "ratio", "canon.dedup_ratio": "ratio",
    "link.resolve_ratio": "ratio", "link.keep_ratio": "ratio",
    "materialize.bytes_written": "B", "materialize.files_written": "count",
    "streaming.delta_rows": "count", "streaming.compact_s": "s",
    "trace.wall_s": "s", "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("normal", "tiny"), default="normal")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one written edge before the checks")
    return ap.parse_args(argv)


def start_session(work: str, app: str):
    """local[nproc] session whose local dir, temp files and warehouse live in
    the run's work directory; returns (spark, cores)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "CODEGRAPH_DRIVER_MEM": DRIVER_MEM,
        "CODEGRAPH_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # -XX:-UsePerfData (here and for the driver JVM below): no JVM
        # writes an hsperfdata file to the system temp dir
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    from codegraph.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app, cores=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    return spark, cores


def jvm_peak_rss_mb(proc) -> float:
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the Spark JVM")


def _descendants(pid: int) -> list[int]:
    """Live descendants of ``pid``, from the parent links in /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (ValueError, OSError, IndexError):
            continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, then the JVM behind it and the Python workers it started,
    and wait until all of them have exited."""
    import signal

    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = gw.proc
    workers = _descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the gateway exits on EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 20
    while any(_alive(p) for p in workers) and time.time() < deadline:
        time.sleep(0.1)
    for p in workers:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def load_state(name: str) -> dict:
    try:
        with open(os.path.join(STATE, name)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def save_state(name: str, data: dict) -> None:
    os.makedirs(STATE, exist_ok=True)
    tmp = os.path.join(STATE, name + ".tmp")
    with open(tmp, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(STATE, name))


def check_digests(key: str, digests: dict[str, str], record: bool
                  ) -> list[str]:
    """Triple-set digests must repeat for the same seed: the first run with a
    seed records them (when ``record``), later runs compare."""
    known = load_state("digests.json")
    errors = []
    for part, d in digests.items():
        k = f"{key}/{part}"
        if known.get(k, d) != d:
            errors.append(f"triple-set digest of {k} differs from an "
                          "earlier run with this seed")
        elif record:
            known[k] = d
    save_state("digests.json", known)
    return errors


def end_to_end(res, setup_s: float, rss_mb: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (res.wall_s, "s"),
        "triples_per_s": (res.triples / res.wall_s, "1/s"),
        "latency_s.p50": (statistics.median(res.latencies)
                          if res.latencies else res.wall_s, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "write_amp": (res.bytes_written / max(1, res.bytes_in), "ratio"),
        "triple_recall": (res.recall, "ratio"),
        "triple_precision": (res.precision, "ratio"),
    }


def per_layer(tracer, cores: int, res, wall_key: str) -> dict:
    layers = tracer.counters(cores)
    out = {f"{L}.{c}": (v, UNITS[c])
           for L, cs in layers.items() for c, v in cs.items()}
    for name, unit in LAYER_EXTRA_UNITS.items():
        out[name] = (res.layer_extra.get(name, 0.0), unit)
    # tracing overhead: traced wall minus the median untraced wall of this
    # workload recorded in this checkout; before any untraced run, against
    # the traced wall itself (overhead reads 0)
    walls = load_state("untraced_wall.json").get(wall_key) or [res.wall_s]
    out["trace.wall_s"] = (res.wall_s, "s")
    out["trace.overhead_s"] = (res.wall_s - statistics.median(walls), "s")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import codegraph  # noqa: F401 - absent outside a source checkout

    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        spark, cores = start_session(work, f"perfbench-{args.workload}")
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale)
        wl.setup()
        setup_s = time.time() - T_START
        log(f"set-up done in {setup_s:.2f} s")
        tracer = Tracer(spark.sparkContext, bool(args.trace))
        res = wl.run(args.seconds, args.corrupt, tracer)
        rss = jvm_peak_rss_mb(spark.sparkContext._gateway.proc)
        res.errors += check_digests(
            f"{args.workload}/{args.scale}/{args.seed}", res.digests,
            record=not args.corrupt)
        wall_key = f"{args.workload}/{args.scale}"
        if args.trace:
            metrics = per_layer(tracer, cores, res, wall_key)
            os.makedirs(STATE, exist_ok=True)
            tracer.dump(os.path.join(
                STATE, f"spans-{args.workload}-{args.seed}.json"))
        else:
            metrics = end_to_end(res, setup_s, rss)
            if not res.failed and not args.corrupt:
                walls = load_state("untraced_wall.json")
                walls.setdefault(wall_key, []).append(res.wall_s)
                save_state("untraced_wall.json", walls)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for e in res.errors:
        log(f"check failed: {e}")
    print(json.dumps({
        "correct": not res.errors and not res.failed,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
