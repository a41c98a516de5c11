"""Inverse-distance-weighted spatial interpolation over the cell index.

The reference computes per-station footprint summaries; interpolation
is the inverse problem — estimate a field value AT a probe location
from the observations around it. Classic IDW with a radius cutoff:

    est(p) = Σ_{o : d(p,o) ≤ R} w·v(o) / Σ w,   w = 1 / (1 + d²)

The +1 regularizer (instead of the textbook 1/d^k) keeps the weight
finite when a probe lands exactly on an observation, with NO
engine-specific epsilon — the same closed form evaluates bit-equally
in Spark and DuckDB, which is what lets the driver hash-match the
estimates (d² is an exact integer on the fixture grid).

Plan shape (100 TB): probes explode over the hex cells within R of
their location (small side — the cover is O((R/edge)²) cells); the
observation side carries ONE cell each (big side — never replicated).
The equi join on cell therefore shuffles the 100 TB side once, by
cell, and the per-probe aggregation reuses that locality. Skewed
probe neighborhoods (all obs in one city block) are the same hot-cell
shape as the spatial join and take the same salting
(range_join.salted). Candidate pairs are distance-filtered BEFORE the
aggregation so the groupBy input is the true neighbor set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo import index as I
from .range_join import explode_bbox_cells, with_cell

__all__ = ["idw_interpolate"]


def idw_interpolate(probes: DataFrame, obs: DataFrame, radius: float,
                    value: str = "v", probe_id: str = "probe_id",
                    x: str = "x", y: str = "y") -> DataFrame:
    """One row per probe: `n_obs` neighbors within `radius` and the
    IDW estimate `est` (NULL when no neighbor). Probe columns are
    suffixed `_p` inside the join to survive shared x/y names."""
    code = I.code_for_radius(radius / 2.0)
    p = probes.select(
        F.col(probe_id),
        F.col(x).alias("_px"), F.col(y).alias("_py"))
    # r08: the disk cover is the bbox cover of the degenerate bbox
    # [x, x]×[y, y] dilated by `radius` — pure JVM (guide §4.1) — with
    # the square's corner cells pruned to the disk (disk_prune: a
    # sound superset, −21 % candidate pairs vs the old pandas cover)
    p = explode_bbox_cells(p, radius, code, xmin="_px", ymin="_py",
                           xmax="_px", ymax="_py", disk_prune=True)
    o = with_cell(obs, code, x=x, y=y)
    pairs = o.join(p, "cell")
    # explicit dx*dx (not pow(x, 2) — Math.pow is allowed 1 ulp error,
    # DuckDB multiplies; the hash match needs the same IEEE ops)
    dx = F.col(x) - F.col("_px")
    dy = F.col(y) - F.col("_py")
    d2 = dx * dx + dy * dy
    pairs = pairs.filter(d2 <= F.lit(float(radius) ** 2)) \
        .withColumn("_w", F.lit(1.0) / (F.lit(1.0) + d2))
    agg = pairs.groupBy(probe_id).agg(
        F.count(F.lit(1)).alias("n_obs"),
        (F.sum(F.col("_w") * F.col(value)) / F.sum("_w")).alias("est"),
    )
    return probes.select(probe_id).join(agg, probe_id, "left") \
        .withColumn("n_obs", F.coalesce("n_obs", F.lit(0)))
