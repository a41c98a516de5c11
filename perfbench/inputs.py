"""Seeded keys-only inputs for the benchmark workloads.

The spatial queries derive every coordinate, extent and year from the
integer key columns alone (``data/geotag.py`` and
``plans/spatial_queries._pair_rect_polys``), so an input set is just two
Parquet files: ``orders.parquet`` (``o_orderkey``) and ``part.parquet``
(``p_partkey``).

- Order keys are drawn without replacement from ``[1, 6_000_000]``, the
  TPC-H sf1 key range. Exactly ``n_orders // 10`` of them are multiples
  of ten, because the areadist queries keep ``pid % 10 == 0`` as their
  points; the point count is therefore fixed by the size, not the seed.
- Part keys are drawn without replacement from ``[1, 40_000]``. The
  pair-rectangle layer gives each key a private 100 m slot and asserts
  at most ``_SLOT² = 40_000`` parts, so keys above that would collide.
  Sampling the whole range spreads the features over the whole window.

Files are cached per (seed, size) under the benchmark's work directory
and written through a temporary directory, so a half-written set is
never reused.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDER_KEY_MAX = 6_000_000
PART_KEY_MAX = 40_000


@dataclass(frozen=True)
class Inputs:
    path: str
    n_orders: int
    n_parts: int

    @property
    def n_points(self) -> int:
        """Rows kept by the areadist queries' ``pid % 10 == 0`` filter."""
        return self.n_orders // 10


def _keys(seed: int, n_orders: int, n_parts: int):
    if not 10 <= n_orders <= ORDER_KEY_MAX // 2:
        raise ValueError(f"n_orders must be in [10, {ORDER_KEY_MAX // 2}]")
    if not 1 <= n_parts <= PART_KEY_MAX:
        raise ValueError(f"n_parts must be in [1, {PART_KEY_MAX}]")
    rng = np.random.default_rng([seed, n_orders, n_parts])
    n_pts = n_orders // 10
    tens = (rng.choice(ORDER_KEY_MAX // 10, n_pts, replace=False) + 1) * 10
    # non-multiples of ten: draw more than needed, drop multiples of ten
    other = rng.choice(ORDER_KEY_MAX, 2 * (n_orders - n_pts) + 64,
                       replace=False) + 1
    other = other[other % 10 != 0][: n_orders - n_pts]
    okeys = np.sort(np.concatenate([tens, other])).astype(np.int64)
    pkeys = np.sort(rng.choice(PART_KEY_MAX, n_parts, replace=False) + 1)
    return okeys, pkeys.astype(np.int64)


def make_inputs(cache_dir: str, seed: int, n_orders: int,
                n_parts: int) -> Inputs:
    """Return the input set for (seed, n_orders, n_parts), generating it
    on first use. The same arguments always give the same files."""
    path = os.path.join(cache_dir, f"s{seed}_o{n_orders}_p{n_parts}")
    if not os.path.isdir(path):
        okeys, pkeys = _keys(seed, n_orders, n_parts)
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        pq.write_table(pa.table({"o_orderkey": okeys}),
                       os.path.join(tmp, "orders.parquet"))
        pq.write_table(pa.table({"p_partkey": pkeys}),
                       os.path.join(tmp, "part.parquet"))
        try:
            os.rename(tmp, path)
        except OSError:  # another run finished the same set first
            shutil.rmtree(tmp, ignore_errors=True)
    return Inputs(path, n_orders, n_parts)
