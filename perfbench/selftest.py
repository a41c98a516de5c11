"""Self-test of the benchmark at tiny sizes, through the same code path
as a real run, in one Spark session:

- every workload, untraced and traced, emits exactly the end-to-end or
  per-layer metric names listed in BENCHMARK.json, with correct=True,
  and the traced run finds the orders scan in the executed plan;
- the output checks fire: dropped rows in one timed job, a changed
  value in one timed job (value hash), and a changed value in the
  oracle slice each turn the run incorrect and are counted as failed.

    python3 perfbench/selftest.py        # from the repository root
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
import time

import run
from workloads import WORKLOADS

TINY = {"n_orders": 2_000, "n_parts": 200}


def _drop_rows(index, q, df):
    from pyspark.sql import functions as F
    return df.filter(F.xxhash64(df.columns[0]) % 7 != 0) if index == 1 else df


def _shift_value(index, q, df):
    from pyspark.sql import functions as F
    if index != 1:
        return df
    c = next(f.name for f in df.schema.fields
             if f.dataType.typeName() == "double")
    return df.withColumn(c, F.col(c) + 0.5)


def _shift_slice(index, q, df):
    return _shift_value(1, q, df) if index == -1 else df


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"] for m in spec["end_to_end"]},
            1: {m["name"] for m in spec["per_layer"]}}
    run.pin_env()
    rss = run.PeakRss()
    t0 = time.perf_counter()
    spark = run.start_session()
    session_s = time.perf_counter() - t0
    problems = []
    try:
        for name, wl in WORKLOADS.items():
            tiny = dataclasses.replace(wl, **TINY)
            for trace in (0, 1):
                res = run.measure(spark, tiny, 7, 1.0, bool(trace), rss,
                                  time.perf_counter(), session_s)
                got = set(res["metrics"])
                if got != want[trace] or not res["correct"]:
                    problems.append(f"{name} trace={trace}: correct={res['correct']} "
                                    f"missing={sorted(want[trace] - got)} "
                                    f"extra={sorted(got - want[trace])}")
                if trace and res["metrics"].get("plan.orders_scans", {}).get("value", 0) < 1:
                    problems.append(f"{name}: no orders scan found in the executed plan")
                rss = run.PeakRss()
            for corrupt in (_drop_rows, _shift_value, _shift_slice):
                res = run.measure(spark, tiny, 7, 1.0, False, rss,
                                  time.perf_counter(), session_s, corrupt)
                if res["correct"] or res["failed"] < 1:
                    problems.append(f"{name}: {corrupt.__name__} not detected: {res}")
                rss = run.PeakRss()
    finally:
        rss.stop()
        run.stop_session(spark)
    for p in problems:
        print(f"selftest: FAIL {p}", file=sys.stderr)
    print("selftest: ok" if not problems else f"selftest: {len(problems)} failures")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
