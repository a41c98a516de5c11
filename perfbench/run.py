"""Benchmark of the extraction engine: one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0`` and the per-layer metrics
with ``--trace 1``. The exit code is 0 when every output check passed,
1 when one failed, and 2 when the repository is not present.

Host settings are pinned here, not inherited:

- one local Spark process with as many task threads as the CPUs this
  process may run on;
- a fixed 2 GiB driver heap (-Xms = -Xmx), so the JVM's resident size
  does not depend on when G1 decides to grow the heap. Every workload
  fits in it; the engine's default of 24 GiB exceeds small hosts;
- ``PYTHONPATH`` set to the repository, so the Python workers can
  import the engine;
- every scratch directory (Spark local dirs, the JVM and Python temp
  dirs, the warehouse) inside the benchmark's work directory.

Inputs are cached there per (seed, size); outputs go to a per-process
directory that is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

import harness
import layers
from inputs import make_inputs
from workloads import SLICE_ORDERS, SLICE_PARTS, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEM = "2g"


def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit for "end_to_end" or "per_layer", as listed in
    BENCHMARK.json; a run reports exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def pin_env() -> None:
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for p in (tmp, local):
        os.makedirs(p, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        # the launcher JVM that spark-submit starts before the driver
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session():
    from extract_sf_r_parallel_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(app="perfbench", extra={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# --- process tree -------------------------------------------------------------

def _tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants (driver JVM, Python workers) every 0.5 s until stopped.

    Each process counts its proportional set size, so pages shared
    between processes count once: forked Python workers share the
    daemon's pages, and a child the JVM spawns briefly shares the JVM's
    whole address space."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        while not self._stop.wait(0.5):
            total = 0
            for pid in _tree(os.getpid()):
                try:
                    with open(f"/proc/{pid}/smaps_rollup") as f:
                        for line in f:
                            if line.startswith("Pss:"):
                                total += int(line.split()[1]) * 1024
                                break
                except (OSError, IndexError, ValueError):
                    pass
            self.peak = max(self.peak, total)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak / 1e6


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait for every descendant."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while True:
        rest = [p for p in _tree(os.getpid()) if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# --- one run ------------------------------------------------------------------

def measure(spark, wl, seed: int, seconds: float, trace: bool, rss: PeakRss,
            t_setup0: float, session_s: float, corrupt=None) -> dict:
    """Set up, run the timed window and check; return the result
    object. `t_setup0` is when set-up began (after input generation)."""
    inputs_dir = os.path.join(WORK, "inputs")
    t_gen = time.perf_counter()
    inp = make_inputs(inputs_dir, seed, wl.n_orders, wl.n_parts)
    sl = make_inputs(inputs_dir, seed, min(SLICE_ORDERS, wl.n_orders),
                     min(SLICE_PARTS, wl.n_parts))
    t_setup0 += time.perf_counter() - t_gen   # generation is not set-up
    out_dir = os.path.join(WORK, f"run-{os.getpid()}", wl.name)
    run = harness.Run()
    tracer = layers.Tracer() if trace else None
    try:
        with harness.maybe_span(tracer, "setup"):
            t_slice = time.perf_counter()
            got = harness.run_slice(spark, wl, sl, corrupt)
            t_warm = time.perf_counter()
            # the slice pays the cold first execution, but the JIT keeps
            # speeding the full-size job up: one warm-up job before timing
            harness.run_job(spark, wl, inp, run, out_dir, -2, corrupt)
        setup_s = time.perf_counter() - t_setup0
        _log(f"session {session_s:.2f}s, slice {t_warm - t_slice:.2f}s, "
             f"warm-up {time.perf_counter() - t_warm:.2f}s, set-up {setup_s:.2f}s")
        harness.timed_window(spark, wl, inp, run, out_dir, seconds, corrupt, tracer)
        _log(f"timed jobs {[round(t, 3) for t in run.job_s]}")
        peak_mb = rss.stop()
        harness.check_oracle(wl, sl, got, run)
        if trace:
            per_layer = layers.probe_layers(spark, wl, inp, tracer, seed,
                                            os.path.join(out_dir, "probe_sink"))
            per_layer.update(layers.window_metrics(tracer))
            per_layer["session.start_s"] = session_s
            # compare with job_p50_s of an untraced run for the overhead
            per_layer["trace.job_p50_s"] = harness.end_to_end(run).get("job_p50_s")
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK, "traces", f"{wl.name}-s{seed}-{os.getpid()}.json"))
            values, units = per_layer, metric_units("per_layer")
        else:
            values = dict(harness.end_to_end(run), setup_s=setup_s, peak_rss_mb=peak_mb)
            units = metric_units("end_to_end")
    finally:
        shutil.rmtree(os.path.dirname(out_dir), ignore_errors=True)
    correct = run.failed == 0 and all(values.get(k) is not None for k in units)
    return {
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items() if k in values},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "extract_sf_r_parallel_spark", "__init__.py")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    pin_env()
    rss = PeakRss()
    t0 = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t0
    try:
        result = measure(spark, WORKLOADS[args.workload], args.seed, args.seconds,
                         bool(args.trace), rss, t0, session_s)
    finally:
        stop_session(spark)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
