"""Pad operators: coordinate-shift projection + generated fill region.

Reference: ``/root/reference/imops/pad.py`` (pad ``pad.py:10-73``,
pad_to_shape ``pad.py:76-132``, pad_to_divisible ``pad.py:135-192``,
restore_crop ``pad.py:195-253``).

Spark mapping (SURVEY.md §2.1 #15-18): the interior is a pure projection
``select(i_k + before_k)``; the pad region is generated distributively with
``sequence()`` + ``explode`` per axis slab and unioned in — no driver-side
materialization, so padding a 100 TB voxel table streams.  ``padding_values``
may be a scalar or a callable (evaluated as an aggregate over the input, like
``numpy.min``); full ndarray broadcast values are supported only in the
ndarray wrapper (documented divergence — the distributed path keeps fills
scalar to stay inside codegen).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ..tensor_io import (
    IMAGE_ID,
    VAL,
    TensorFrame,
    _active_spark,
    _val_lit,
    decode_volume,
    encode_volume,
)
from ..utils import axis_from_dim, broadcast_axis, fill_by_indices

__all__ = ["pad", "pad_to_shape", "pad_to_divisible", "restore_crop", "pad_df"]


def _normalize_padding(padding, axis, ndim: int) -> np.ndarray:
    padding = np.asarray(padding)
    if padding.ndim < 2:
        padding = padding.reshape(-1, 1)
    axis = axis_from_dim(axis, ndim)
    padding = np.asarray(
        fill_by_indices(np.zeros((ndim, 2), dtype=int), np.atleast_2d(padding), axis)
    )
    if (padding < 0).any():
        raise ValueError(f"Padding must be non-negative: {padding.tolist()}.")
    return padding


def _fill_slabs(new_shape, padding):
    """Decompose the pad region into disjoint axis-aligned slabs.

    Slab k covers coordinates where axis k is in its pad margin and all axes
    < k are in the interior — a disjoint cover of ``new_shape`` minus the
    interior box, so each fill voxel is generated exactly once.
    """
    ndim = len(new_shape)
    slabs = []
    for k in range(ndim):
        before, after = int(padding[k][0]), int(padding[k][1])
        lo = []  # [start, stop) per axis for this slab, axis-k split in two
        for j in range(ndim):
            if j < k:
                lo.append((int(padding[j][0]), int(new_shape[j] - padding[j][1])))
            else:
                lo.append((0, int(new_shape[j])))
        if before > 0:
            s = list(lo)
            s[k] = (0, before)
            slabs.append(s)
        if after > 0:
            s = list(lo)
            s[k] = (int(new_shape[k] - after), int(new_shape[k]))
            slabs.append(s)
    # Drop empty slabs (a zero-size axis makes some range [start, start)):
    # sequence(a, a-1) DESCENDS in Spark and would emit bogus coordinates.
    return [s for s in slabs if all(stop > start for start, stop in s)]


def pad_df(tf: TensorFrame, padding: np.ndarray, fill_value) -> TensorFrame:
    """Distributed pad of a voxel table by ``[ndim, 2]`` widths, scalar fill."""
    padding = np.asarray(padding)
    new_shape = tuple(int(s + padding[k].sum()) for k, s in enumerate(tf.shape))

    shifted = tf.df.select(
        IMAGE_ID,
        *[(F.col(c) + int(padding[k][0])).alias(c) for k, c in enumerate(tf.coords)],
        VAL,
    )

    images = tf.df.select(IMAGE_ID).distinct()
    fill = _val_lit(fill_value, tf.dtype)
    fill_parts = []
    for slab in _fill_slabs(new_shape, padding):
        part = images
        for k, (start, stop) in enumerate(slab):
            part = part.withColumn(
                f"i{k}",
                F.explode(F.sequence(F.lit(int(start)), F.lit(int(stop) - 1))),
            )
        fill_parts.append(part.select(IMAGE_ID, *tf.coords, fill.alias(VAL)))

    out = shifted
    for part in fill_parts:
        out = out.unionAll(part)
    return tf.with_df(out, shape=new_shape)


def pad(x, padding, axis=None, padding_values=0, num_threads: int = -1, backend=None):
    """Pad along ``axis`` (parity ``pad.py:10-73``)."""
    arr_mode = not isinstance(x, TensorFrame)
    if arr_mode:
        arr = np.asarray(x)
        ndim, shape = arr.ndim, arr.shape
    else:
        ndim, shape = x.ndim, x.shape
    padding = _normalize_padding(padding, axis, ndim)

    if callable(padding_values):
        if arr_mode:
            padding_values = padding_values(arr)
        else:
            raise ValueError(
                "callable padding_values on a TensorFrame: pre-compute the "
                "aggregate and pass a scalar"
            )

    pv = np.asarray(padding_values)
    if arr_mode and pv.ndim > 0 and pv.size > 1:
        # Full-broadcast values: numpy path (wrapper-only convenience).
        new_shape = np.array(shape) + padding.sum(axis=1)
        out = np.broadcast_to(np.array(padding_values, dtype=arr.dtype), new_shape).copy()
        start = padding[:, 0]
        end = np.where(padding[:, 1] != 0, -padding[:, 1], None)
        out[tuple(map(slice, start, end))] = arr
        return out

    scalar = pv.item() if pv.ndim == 0 else pv.ravel()[0].item()
    if arr_mode:
        tf = encode_volume(_active_spark(), arr)
        return decode_volume(pad_df(tf, padding, scalar))
    return pad_df(x, padding, scalar)


def pad_to_shape(x, shape, axis=None, padding_values=0, ratio=0.5, num_threads=-1, backend=None):
    """Pad up to an exact shape; ``ratio`` splits left/right share
    (parity ``pad.py:76-132``)."""
    ndim = (np.asarray(x).ndim if not isinstance(x, TensorFrame) else x.ndim)
    cur = (np.asarray(x).shape if not isinstance(x, TensorFrame) else x.shape)
    axes, shape_ax, ratio_ax = broadcast_axis(axis, ndim, shape, ratio)
    old = np.array(cur)[list(axes)]
    shape_ax = np.asarray(shape_ax)
    if (old > shape_ax).any():
        full = fill_by_indices(cur, shape_ax, axes)
        raise ValueError(
            f"The resulting shape cannot be smaller than the original: {tuple(cur)} vs {tuple(full)}."
        )
    delta = shape_ax - old
    start = (delta * np.asarray(ratio_ax, dtype=float)).astype(int)
    padding = np.array((start, delta - start)).T.astype(int)
    return pad(x, padding, axes, padding_values=padding_values)


def pad_to_divisible(
    x, divisor, axis=None, padding_values=0, ratio=0.5, remainder=0, num_threads=-1, backend=None
):
    """Pad so each padded axis is ≡ remainder (mod divisor)
    (parity ``pad.py:135-192``)."""
    ndim = (np.asarray(x).ndim if not isinstance(x, TensorFrame) else x.ndim)
    cur = (np.asarray(x).shape if not isinstance(x, TensorFrame) else x.shape)
    axes = axis_from_dim(axis, ndim)
    _, divisor, remainder, ratio = broadcast_axis(axes, ndim, divisor, remainder, ratio)
    divisor = np.asarray(divisor)
    remainder = np.asarray(remainder)
    assert np.all(remainder >= 0)
    shape = np.maximum(np.array(cur)[list(axes)], remainder)
    target = shape + (remainder - shape) % divisor
    return pad_to_shape(x, target, axes, padding_values, ratio)


def restore_crop(x, box, shape, padding_values=0, num_threads=-1, backend=None):
    """Inverse of crop_to_box: place the crop back at ``box`` within ``shape``
    (parity ``pad.py:195-253``)."""
    box = np.asarray(box)
    start, stop = box[0], box[1]
    cur = (np.asarray(x).shape if not isinstance(x, TensorFrame) else x.shape)
    ndim = len(cur)
    assert len(shape) == ndim and len(start) == len(stop) == ndim
    if (np.asarray(stop) > np.asarray(shape)).any() or (
        np.asarray(stop) - np.asarray(start) != np.asarray(cur)
    ).any():
        raise ValueError(
            f"The input array (of shape {tuple(cur)}) was not obtained by cropping a "
            f"box {start, stop} from the shape {tuple(shape)}."
        )
    padding = np.array([start, np.asarray(shape) - stop], dtype=int).T
    return pad(x, padding, padding_values=padding_values)
