"""2-D convex hull mask (skimage-compatible, include_borders=True).

Reference: ``/root/reference/imops/morphology.py:524-591`` +
``src/_convex_hull.pyx`` (candidate extraction ``_left_right_bounds``
:130-158, offset expansion :213-262, scanline rasterization
``_grid_points_in_poly`` :26-99 with the ±0.2 bound fudge of ``intify``).

Spark decomposition (SURVEY.md §2.1 #10):
1. candidate extraction is pure SQL — ``groupBy(row).agg(min(col), max(col))``
   (exactly ``_left_right_bounds``);
2. hull of the ≤4·M candidate points is tiny → monotone chain on the driver
   (the reference ships these points to Qhull the same way);
3. rasterization: the hull edge table (a handful of rows) is broadcast and
   range-joined to scanlines, per-row bounds aggregated with min/max, and the
   run ``sequence(lb, rb)`` exploded back to pixels — scanline fill as a
   relational query.
"""

from __future__ import annotations

import warnings

import numpy as np
from pyspark.sql import functions as F

from ..tensor_io import IMAGE_ID, VAL, TensorFrame, _active_spark, decode_volume, encode_volume

__all__ = ["convex_hull_image", "monotone_chain"]


def monotone_chain(points: np.ndarray) -> np.ndarray:
    """Convex hull (Andrew's monotone chain), vertices in CCW order."""
    pts = np.unique(points, axis=0)
    if len(pts) <= 2:
        return pts
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in pts[::-1]:
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return np.array(lower[:-1] + upper[:-1])


def _offset_candidates(bounds: np.ndarray) -> np.ndarray:
    """±0.5 pixel-extent expansion of the per-row (i, left) / (i, right)
    candidates.  The hull of this set equals the hull of skimage's full
    4-offsets-per-pixel set (row-interior offset points are convex
    combinations of the row-extreme ones)."""
    out = []
    for i, y in bounds:
        out.extend([(i - 0.5, y), (i + 0.5, y), (i, y - 0.5), (i, y + 0.5)])
    return np.array(out, dtype=np.float64)


def convex_hull_image(image, offset_coordinates: bool = True):
    """Convex hull mask of the true pixels (parity ``morphology.py:524-591``)."""
    arr_mode = not isinstance(image, TensorFrame)
    if arr_mode:
        img = np.asarray(image)
        if img.ndim != 2:
            raise ValueError(
                f"convex_hull_image is currently implemented only for 2D arrays, "
                f"got {img.ndim}D array"
            )
        if np.count_nonzero(img) == 0:
            return np.zeros(img.shape, dtype=bool)
        spark = _active_spark()
        tf = encode_volume(spark, img.astype(bool))
    else:
        tf = image
        spark = tf.df.sparkSession
    M, N = tf.shape

    # 1. Candidate extraction: per-row min/max true column (pure SQL).
    bounds_df = (
        tf.df.filter(F.col(VAL))
        .groupBy(IMAGE_ID, F.col("i0").alias("r"))
        .agg(F.min("i1").alias("left"), F.max("i1").alias("right"))
    )
    rows = bounds_df.collect()  # ≤ 2 points per image row: tiny by design
    if not rows:
        out = np.zeros((M, N), dtype=bool)
        return out if arr_mode else encode_volume(spark, out)

    by_image: dict = {}
    for rrow in rows:
        pts = by_image.setdefault(rrow[IMAGE_ID], set())
        pts.add((rrow["r"], rrow["left"]))
        pts.add((rrow["r"], rrow["right"]))

    # 2. Hull of each image's candidate set (tiny -> driver-side monotone
    #    chain, one per image — multi-image tables get per-image hulls).
    # 3. Scanline rasterization as a relational query: hull edges -> per-row
    #    y-bounds -> exploded runs.  Replicates _grid_points_in_poly exactly,
    #    including the float32 vertex quantization and +-0.2 intify fudge.
    edge_rows = []
    for img_id in sorted(by_image):
        bounds = np.array(sorted(by_image[img_id]), dtype=np.float64)
        coords = _offset_candidates(bounds) if offset_coordinates else bounds
        verts = monotone_chain(coords)
        if len(verts) < 3:
            warnings.warn("Failed to get convex hull image. Returning empty image.")
            continue
        verts = verts.astype(np.float32)
        nv = len(verts)
        for i in range(nv):
            px, py = float(verts[(i - 1) % nv][0]), float(verts[(i - 1) % nv][1])
            cx, cy = float(verts[i][0]), float(verts[i][1])
            if px == cx:
                x_set = int(np.floor(px) if py < cy else np.ceil(px))
                edge_rows.append((img_id, x_set, x_set, px, py, cx, cy, 1))
            else:
                fx, fy, tx, ty = (px, py, cx, cy) if px < cx else (cx, cy, px, py)
                x_start = int(np.ceil(np.float32(fx)))
                x_stop = int(np.floor(np.float32(tx) + 1)) - 1
                edge_rows.append((img_id, x_start, x_stop, fx, fy, tx, ty, 0))
    if not edge_rows:
        out = np.zeros((M, N), dtype=bool)
        return out if arr_mode else encode_volume(spark, out)
    edges = F.broadcast(
        spark.createDataFrame(
            edge_rows,
            f"{IMAGE_ID} long, x_start int, x_stop int, "
            "fx float, fy float, tx float, ty float, vert int",
        )
    )
    scan = spark.range(0, M).select(F.col("id").cast("int").alias("m"))
    hit = scan.join(edges, (F.col("m") >= F.col("x_start")) & (F.col("m") <= F.col("x_stop")))
    lerp_y = F.when(F.col("vert") == 1, None).otherwise(
        F.col("fy")
        + (F.col("ty") - F.col("fy"))
        * ((F.col("m") - F.col("fx")) / (F.col("tx") - F.col("fx")))
    )
    bound_lo = F.when(F.col("vert") == 1, F.least("fy", "ty")).otherwise(lerp_y)
    bound_hi = F.when(F.col("vert") == 1, F.greatest("fy", "ty")).otherwise(lerp_y)
    per_row = hit.groupBy(IMAGE_ID, "m").agg(
        F.min(bound_lo).alias("lb"), F.max(bound_hi).alias("rb")
    )
    runs = per_row.select(
        IMAGE_ID,
        "m",
        F.greatest(F.lit(0), F.ceil(F.col("lb") - F.lit(np.float32(0.2))).cast("int")).alias("lb"),
        F.least(F.lit(N - 1), F.floor(F.col("rb") + F.lit(np.float32(0.2))).cast("int")).alias("rb"),
    ).filter(F.col("lb") <= F.col("rb"))
    mask = runs.select(
        F.col(IMAGE_ID),
        F.col("m").alias("i0"),
        F.explode(F.sequence("lb", "rb")).alias("i1"),
        F.lit(True).alias(VAL),
    )
    out_tf = TensorFrame(df=mask, shape=(M, N), dtype=np.dtype(bool))
    if arr_mode:
        return decode_volume(out_tf, default=False)
    return out_tf
