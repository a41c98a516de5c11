"""One workload run: set-up (the oracle slice, which is also the first
and coldest execution of every code path, then a warm-up job), the timed
window of fixed jobs, and the output checks.

A job fails when it raises or when its output check fails. The checks
are: the row-count invariant of every query, the same value hash for a
query across every full-size job of the run, and agreement of the
reduced slice with the repository's DuckDB oracle SQL."""

from __future__ import annotations

import statistics
import sys
import time
import traceback
from collections.abc import Callable
from contextlib import nullcontext
from dataclasses import dataclass, field

import checks
from inputs import Inputs
from workloads import Query, Workload

# Corruption hook for the self-test: (job index, query, df) -> df. The
# slice job has index -1, the warm-up job -2.
Corrupt = Callable[[int, Query, object], object]


@dataclass
class Run:
    attempted: int = 0
    failed: int = 0
    job_s: list[float] = field(default_factory=list)
    job_point_layers: list[int] = field(default_factory=list)
    hashes: dict[str, set] = field(default_factory=dict)

    def fail(self, msg: str) -> None:
        self.failed += 1
        print(f"perfbench: check failed: {msg}", file=sys.stderr)


def _queries():
    from extract_sf_r_parallel_spark.plans import registry
    return registry.QUERIES


def _clear_cache() -> None:
    from extract_sf_r_parallel_spark.operators import areadist_fused
    areadist_fused.clear_index_cache()


def run_job(spark, wl: Workload, inp: Inputs, run: Run, out_dir: str,
            index: int, corrupt: Corrupt | None = None, tracer=None):
    """Run one job, check it, and return its wall seconds (None if it
    failed). The fused-index cache is cleared first, so the job pays
    any index build as a fresh batch does. The clock covers each
    query-function call, including any eager index build it makes, and
    its sink."""
    qs = _queries()
    run.attempted += 1
    _clear_cache()
    try:
        results = []
        t0 = time.perf_counter()
        for q in wl.queries:
            with maybe_span(tracer, f"query.{q.name}"):
                df = qs[q.name](spark, inp.path)
            if corrupt is not None:
                df = corrupt(index, q, df)
            with maybe_span(tracer, f"sink.{q.name}"):
                results.append(checks.sink(df, wl.sink, f"{out_dir}/{q.name}"))
        dt = time.perf_counter() - t0
    except Exception:  # noqa: BLE001 — a failed job is counted, not fatal
        run.fail(f"job {index} raised:\n{traceback.format_exc()}")
        return None
    problems = []
    for q, (n, h) in zip(wl.queries, results):
        lo, hi = expected_rows(q, inp)
        if not lo <= n <= hi:
            problems.append(f"{q.name}: {n} rows, expected [{lo}, {hi}]")
        seen = run.hashes.setdefault(q.name, set())
        if seen and h not in seen:
            problems.append(f"{q.name}: value hash {h} differs from {sorted(seen)}")
        seen.add(h)
    if problems:
        run.fail(f"job {index}: " + "; ".join(problems))
        return None
    return dt


def maybe_span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def _points(q: Query, inp: Inputs) -> int:
    return inp.n_orders if q.all_orders else inp.n_points


def expected_rows(q: Query, inp: Inputs) -> tuple[int, int]:
    """Inclusive (low, high) bounds on a query's output rows."""
    if q.rows_per_point is None:
        return 1, 3 * _points(q, inp)
    return (_points(q, inp) * q.rows_per_point,) * 2


def run_slice(spark, wl: Workload, sl: Inputs,
              corrupt: Corrupt | None = None) -> dict:
    """Run every query of the workload on the reduced slice and collect
    the results for the oracle comparison. Part of set-up: it is also
    the first, cold execution of every code path."""
    qs = _queries()
    _clear_cache()
    out = {}
    for q in wl.queries:
        df = qs[q.name](spark, sl.path)
        if corrupt is not None:
            df = corrupt(-1, q, df)
        out[q.name] = df.toPandas()
    return out


def check_oracle(wl: Workload, sl: Inputs, got: dict, run: Run) -> None:
    """Compare the slice results with the DuckDB oracle SQL of
    ``__spark_entry__.oracle_sql()``. Counted as one attempted job."""
    import duckdb

    import __spark_entry__

    oracle = __spark_entry__.oracle_sql()
    run.attempted += 1
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in ("orders", "part"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sl.path}/{t}.parquet')")
        bad = []
        for q in wl.queries:
            diff = checks.compare(got[q.name], con.sql(oracle[q.name]).df())
            if diff is not None:
                bad.append(f"{q.name}: {diff}")
    finally:
        con.close()
    if bad:
        run.fail("oracle slice mismatch: " + "; ".join(bad))


def point_layers(wl: Workload, inp: Inputs) -> int:
    return sum(_points(q, inp) * q.layers for q in wl.queries)


def timed_window(spark, wl: Workload, inp: Inputs, run: Run, out_dir: str,
                 seconds: float, corrupt: Corrupt | None = None,
                 tracer=None) -> None:
    """Run jobs back to back until `seconds` have passed, and at least
    three jobs, so the median job discards one slow or fast outlier.
    With a tracer, every job runs with the layer wrappers installed."""
    pl = point_layers(wl, inp)
    t_end = time.perf_counter() + seconds
    i = 0
    if tracer is not None:
        tracer.install()
    try:
        while time.perf_counter() < t_end or i < 3:
            with maybe_span(tracer, "job"):
                dt = run_job(spark, wl, inp, run, out_dir, i, corrupt, tracer)
            if dt is not None:
                run.job_s.append(dt)
                run.job_point_layers.append(pl)
            i += 1
    finally:
        if tracer is not None:
            tracer.uninstall()


def end_to_end(run: Run) -> dict[str, float]:
    if not run.job_s:
        return {}
    return {
        "point_layers_per_s": sum(run.job_point_layers) / sum(run.job_s),
        "job_p50_s": statistics.median(run.job_s),
    }
