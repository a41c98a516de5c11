"""kNN-over-ring-expansion (north-star operator): uncapped k-nearest
features per point, found by doubling the search radius until every
point has k candidates — the distributed generalization of the
reference's single-nearest capped search (C_…R:112-117, k=1,
fixed radius).

Soundness: if a point has ≥ k candidates with dist < r, then every
non-candidate feature has dist ≥ r > kth-candidate distance, so the
k smallest candidate distances ARE the true kNN. Points that fail get
retried at 2r (new Spark job per round — a handful of rounds, since
radius doubles; each round's join is the standard cell-indexed range
join).

Round-count control (VERDICT r04 #1): with a fixed small r0 the loop
burned ~6 sequential rounds at gate scale, each paying full job
overhead plus recomputation of the stacked anti-join lineage. Two
fixes: (a) `r0=None` derives the initial radius from feature density —
for a Poisson field the expected kth-NN distance is √(k/(π·λ)), and 3×
that resolves the bulk of points in round one; (b) the shrinking
`remaining` set is localCheckpoint-ed eagerly each round, so the
emptiness probe is ~free and later rounds never re-run earlier rounds'
joins. The per-round "solved" test is a window count over the SAME
partition key as the rank window — one shuffle, no extra agg/semi
join."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .range_join import broadcast_pair_metrics_udf, range_join_pairs

__all__ = ["knn_join"]


def knn_join(
    points: DataFrame,
    polys: DataFrame,
    k: int = 1,
    r0: float | None = 1000.0,
    max_radius: float = 64000.0,
    point_id: str = "PKEY",
    feature_id: str = "feature_id",
) -> DataFrame:
    """Returns (point_id, rk, feature_id, dist), rk ∈ 1..k (fewer rows
    if the whole dataset has < k features in range max_radius).

    The feature side is collected and packed once on the driver and
    broadcast (range_join.broadcast_pair_metrics_udf), so every round's
    join ships only (x, y, feature_id) per pair.

    r0=None picks the density-derived initial radius (one tiny count +
    bbox agg — both sides are scanned by round one anyway, and the
    cost is repaid severalfold in saved rounds).
    """
    remaining = points.select(point_id, "x", "y")
    if r0 is None:
        n_feat = polys.count()
        bb = points.agg(
            F.min("x"), F.max("x"), F.min("y"), F.max("y")).first()
        area = max((bb[1] - bb[0]) * (bb[3] - bb[2]), 1.0)
        r0 = 3.0 * math.sqrt(k * area / (math.pi * max(n_feat, 1)))
        r0 = min(max(r0, 1.0), float(max_radius))
    done: list[DataFrame] = []
    r = float(r0)
    w_rank = Window.partitionBy(point_id).orderBy(F.col("dist"), F.col(feature_id))
    w_cnt = Window.partitionBy(point_id)
    # collect + pack the broadcast geometry ONCE across rounds
    bc = broadcast_pair_metrics_udf(points.sparkSession, polys)
    while True:
        pairs = range_join_pairs(remaining, polys, r, bc_metrics=bc)
        ranked = (
            # prune before the rank shuffle: 3 columns, not the pair row
            pairs.select(point_id, feature_id, "dist")
            .withColumn("rk", F.row_number().over(w_rank))
            # candidate count shares the rank window's partitioning —
            # Catalyst evaluates both windows in one shuffle
            .withColumn("_nk", F.count(F.lit(1)).over(w_cnt))
            .filter(F.col("rk") <= k)
            # ONE evaluation per round: the solved rows, the
            # remaining-set probe, and the caller's final evaluation
            # all read these checkpointed blocks instead of re-running
            # the join + windows (pre-r5 the whole round ran twice —
            # once for the emptiness probe, once at result time)
            .localCheckpoint()
        )
        if r >= max_radius:
            done.append(ranked.select(point_id, "rk", feature_id, "dist"))
            break
        solved = ranked.filter(F.col("_nk") >= k) \
            .select(point_id, "rk", feature_id, "dist")
        done.append(solved)
        remaining = remaining.join(
            ranked.filter(F.col("_nk") >= k).select(point_id),
            point_id, "anti").localCheckpoint()
        if remaining.isEmpty():
            break
        # ×4 escalation: stragglers are few, so the wider join is cheap
        # relative to an extra sequential round's job overhead
        r = min(r * 4.0, float(max_radius))
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out
