"""Crop operators: pure range filters + coordinate re-base projections.

Reference: ``/root/reference/imops/crop.py`` (crop_to_shape ``crop.py:11-58``,
crop_to_box ``crop.py:61-124``).  In Spark these are WHERE predicates over the
coordinate columns plus a projection subtracting the window start — both stay
inside whole-stage codegen and push down to Parquet row-group pruning when the
voxel table is written sorted by coordinates (SURVEY.md §4).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ..box import make_box
from ..tensor_io import IMAGE_ID, VAL, TensorFrame, _active_spark, decode_volume, encode_volume
from ..utils import broadcast_axis

__all__ = ["crop_to_shape", "crop_to_box", "crop_to_box_df"]


def crop_to_box_df(tf: TensorFrame, box: np.ndarray) -> TensorFrame:
    """Crop a voxel table to a (fully in-bounds) box; coords re-based to 0."""
    box = np.asarray(box)
    start, stop = box[0], box[1]
    df = tf.df
    for k, c in enumerate(tf.coords):
        df = df.filter((F.col(c) >= int(start[k])) & (F.col(c) < int(stop[k])))
    df = df.select(
        IMAGE_ID,
        *[(F.col(c) - int(start[k])).alias(c) for k, c in enumerate(tf.coords)],
        VAL,
    )
    return tf.with_df(df, shape=tuple(int(v) for v in (stop - start)))


def _resolve_crop_box(shape, new_shape, axis, ratio):
    ndim = len(shape)
    axes, new_ax, ratio_ax = broadcast_axis(axis, ndim, new_shape, ratio)
    new = list(shape)
    r = [0.5] * ndim
    for j, a in enumerate(axes):
        new[a] = int(new_ax[j])
        r[a] = float(ratio_ax[j])
    if any(n > s for n, s in zip(new, shape)):
        raise ValueError(f"Cannot crop shape {shape} to a larger shape {tuple(new)}")
    start = [int((shape[k] - new[k]) * r[k]) for k in range(ndim)]
    return make_box([start, [st + n for st, n in zip(start, new)]])


def crop_to_shape(x, shape, axis=None, ratio: float = 0.5):
    """Crop to a smaller shape; ``ratio`` positions the window
    (parity ``crop.py:11-58``)."""
    if isinstance(x, TensorFrame):
        box = _resolve_crop_box(x.shape, shape, axis, ratio)
        return crop_to_box_df(x, box)
    x = np.asarray(x)
    box = _resolve_crop_box(x.shape, shape, axis, ratio)
    tf = encode_volume(_active_spark(), x)
    return decode_volume(crop_to_box_df(tf, box))


def crop_to_box(x, box, axis=None, padding_values=None, num_threads: int = -1, backend=None):
    """Crop to a box; out-of-bounds parts padded if ``padding_values`` given
    (parity ``crop.py:61-124``; ``num_threads``/``backend`` accepted as
    strategy hints like every other wrapper)."""
    from ..backend import resolve_backend

    resolve_backend(backend)  # validate name (reference raises on unknowns)
    from .pad import pad  # local import to avoid cycle

    arr_mode = not isinstance(x, TensorFrame)
    shape = np.asarray(x).shape if arr_mode else x.shape
    box = np.asarray(box)
    ndim = len(shape)
    if box.shape[1] != ndim:
        # axis-subset box: expand to full rank
        axes = broadcast_axis(axis, ndim)[0] if axis is not None else tuple(range(box.shape[1]))
        full = np.array([[0] * ndim, list(shape)])
        for j, a in enumerate(axes):
            full[0][a], full[1][a] = box[0][j], box[1][j]
        box = full
    start, stop = box[0], box[1]

    under = np.maximum(-start, 0)
    over = np.maximum(stop - np.asarray(shape), 0)
    if (under.any() or over.any()) and padding_values is None:
        raise ValueError(f"Box {box.tolist()} exceeds the input shape {shape}")

    inner = make_box([np.maximum(start, 0), np.minimum(stop, shape)])
    if arr_mode:
        tf = encode_volume(_active_spark(), np.asarray(x))
    else:
        tf = x
    out = crop_to_box_df(tf, inner)
    if under.any() or over.any():
        padding = np.stack([under, over], axis=1)
        out = pad(out, padding, padding_values=padding_values)
    return decode_volume(out) if arr_mode else out
