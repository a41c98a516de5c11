"""Feature-to-feature spatial overlay join — reference-point dedup.

Every join in the engine so far probes POINTS against features; the
overlay is the missing feature×feature shape (sf's st_intersection of
two LAYERS, D_…R's clip step generalized to layer-vs-layer). The
distributed problem it adds: BOTH sides explode over multi-cell
covers, so a pair of overlapping features meets in every cell their
covers share — a naive cell equi join emits duplicates.

Dedup is the classic REFERENCE-POINT rule from the distributed
spatial-join literature (public technique, used by Sedona/Magellan):
each candidate pair is reported only by the cell containing one
canonical point of the pair — here the lower-left corner of the two
bboxes' intersection, (max(axmin, bxmin), max(aymin, bymin)). That
point lies inside both bboxes, so its cell is guaranteed to be in
both covers (each cover is a superset of the cells its bbox touches)
— every true pair survives in EXACTLY one cell, with no second
shuffle and no distinct.

Scale notes (100 TB): one equi-shuffle on cell for each side's
exploded cover; the dedup predicate is pure column arithmetic inside
the join, so no post-join distinct (which would re-shuffle the full
pair stream). Hot cells salt exactly like the point join
(range_join.salted). Covers grow with feature extent — pathologically
large features should be pre-split (the interval join's
max_buckets_per_row pattern applies).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo import index as I
from .range_join import cell_col, explode_bbox_cells

__all__ = ["rect_overlay_pairs"]


def rect_overlay_pairs(a: DataFrame, b: DataFrame,
                       cell_edge: float = 500.0,
                       suffixes: tuple[str, str] = ("_a", "_b"),
                       closed: bool = True) -> DataFrame:
    """Candidate pairs of overlapping axis-aligned features from two
    layers, exactly once per pair, with the exact integer intersection
    area `inter_area` (0 for touching edges when `closed=True` rects
    share only a boundary — boundary contact still reports the pair
    when `closed`, filter `inter_area > 0` for strict interiors).

    Inputs need bbox columns rxmin/rymin/rxmax/rymax and a `geom` ring
    (for the shared cover UDF); all columns ride along, suffixed on
    name collisions.
    """
    code = I.code_for_radius(cell_edge)  # smallest registered edge ≥
    sa, sb = suffixes

    # a's column order, not set order: the plan must not depend on the
    # process's string-hash seed
    shared = [c for c in a.columns if c in b.columns and c != "geom"]
    for c in shared:
        a = a.withColumnRenamed(c, f"{c}{sa}")
        b = b.withColumnRenamed(c, f"{c}{sb}")
    # r08: axis-aligned features — the cover explodes straight from the
    # (suffixed) bbox columns in pure JVM; no ring parse, no pandas UDF
    ea = explode_bbox_cells(a.drop("geom"), 0.0, code,
                            xmin=f"rxmin{sa}", ymin=f"rymin{sa}",
                            xmax=f"rxmax{sa}", ymax=f"rymax{sa}")
    eb = explode_bbox_cells(b.drop("geom"), 0.0, code,
                            xmin=f"rxmin{sb}", ymin=f"rymin{sb}",
                            xmax=f"rxmax{sb}", ymax=f"rymax{sb}")

    ax0, ay0 = F.col(f"rxmin{sa}"), F.col(f"rymin{sa}")
    ax1, ay1 = F.col(f"rxmax{sa}"), F.col(f"rymax{sa}")
    bx0, by0 = F.col(f"rxmin{sb}"), F.col(f"rymin{sb}")
    bx1, by1 = F.col(f"rxmax{sb}"), F.col(f"rymax{sb}")

    pairs = ea.join(eb, "cell")
    if closed:
        overlap = (ax0 <= bx1) & (bx0 <= ax1) & (ay0 <= by1) & (by0 <= ay1)
    else:
        overlap = (ax0 < bx1) & (bx0 < ax1) & (ay0 < by1) & (by0 < ay1)
    # reference point: lower-left corner of the bbox intersection —
    # inside both bboxes, hence its cell is in both covers; reporting
    # only from that cell makes each pair unique without a distinct
    rx = F.greatest(ax0, bx0)
    ry = F.greatest(ay0, by0)
    ref_cell = cell_col(f"greatest(`rxmin{sa}`, `rxmin{sb}`)",
                        f"greatest(`rymin{sa}`, `rymin{sb}`)", code)
    iw = F.least(ax1, bx1) - rx
    ih = F.least(ay1, by1) - ry
    return (pairs.filter(overlap & (F.col("cell") == ref_cell))
            .withColumn("inter_area", iw * ih)
            .drop("cell"))
