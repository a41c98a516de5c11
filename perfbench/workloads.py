"""The benchmark's workloads: fixed input sizes and a fixed job sequence.

A job is one call of each of the workload's query functions plus its
sink, in a fixed order; its point×layer results are what an analyst
gets back from one extraction. Why each workload exists:

- ``wide19_cold``: the reference's deliverable, 14 footprint layers and
  5 wetland classes merged into one row per point and written to
  Parquet. The fused-index cache is cleared before every job (of every
  workload), so each job pays the index build, the dissolve
  corrections, the fused ``mapInPandas`` kernel, the pivot/merge and
  the sink, as a fresh batch does.
- ``rect_pairs``: the JVM path (cover explode, broadcast candidate join,
  per-point aggregation or window, LEFT-default join) that the fused
  path bypasses. Noop sink.

Each run pays a Spark session start and a cold first execution of every
code path, so two workloads keep the whole benchmark inside its time
budget; the fused kernel's hit-side cost is measured per layer
(``fused.apply_s``, ``kernels.pairs_per_s``) on both.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Query:
    name: str
    layers: int                 # point×layer results per point
    rows_per_point: int | None  # exact output rows per point; None: 1 to 3
    all_orders: bool            # every order is a point, not only pid % 10 == 0


@dataclass(frozen=True)
class Workload:
    name: str
    n_orders: int
    n_parts: int
    queries: tuple[Query, ...]
    sink: str         # "parquet" or "noop"
    # fused layer sets the traced run's index/kernel/merge probes build:
    # "foot14", "wet5" (pair-rectangle layers) or "rects" (geotag rects)
    layer_sets: tuple[str, ...]


# reduced slice every workload runs in set-up and checks against the
# DuckDB oracle; the oracles brute-force a cross join, so it stays small
SLICE_ORDERS = 2_000
SLICE_PARTS = 200

WORKLOADS = {
    w.name: w for w in (
        Workload("wide19_cold", 6_000, 1_500,
                 (Query("wide_merge", 19, 1, False),),
                 sink="parquet",
                 layer_sets=("foot14", "wet5")),
        Workload("rect_pairs", 25_000, 2_500,
                 (Query("range_near", 1, 1, True),
                  Query("areadist_square", 1, 1, True),
                  Query("knn3", 1, None, True)),
                 sink="noop",
                 layer_sets=("rects", "wet5")),
    )
}

