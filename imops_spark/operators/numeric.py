"""Pointwise numeric operators: projections and generators.

Reference: ``/root/reference/imops/numeric.py`` (pointwise_add
``numeric.py:99-192``, fill_ ``numeric.py:195-253``, full ``numeric.py:256-300``,
copy ``numeric.py:303-381``).

Spark mapping (SURVEY.md §2.1 #21-24): scalar add is ``col + lit`` (whole-stage
codegen); array add is a coordinate equi-join; ``full`` is a distributed
generator (``sequence`` + ``explode`` per axis — no driver materialization);
``fill_``/``copy`` have no in-place notion in an immutable engine and return
new relations (documented API divergence: ``output=`` is not supported).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..backend import resolve_backend
from ..tensor_io import (
    IMAGE_ID,
    VAL,
    TensorFrame,
    _active_spark,
    _explode_axis,
    _val_lit,
    coord_cols,
    decode_volume,
    encode_volume,
)
from ..utils import normalize_num_threads

__all__ = ["pointwise_add", "fill_", "full", "copy", "full_df", "pointwise_add_df"]

_SUPPORTED = tuple(
    np.dtype(d) for d in (np.int16, np.int32, np.int64, np.float16, np.float32, np.float64)
)


def _check_dtype(dtype):
    if np.dtype(dtype) not in _SUPPORTED:
        raise ValueError(
            f"Input array dtype must be one of {[str(d) for d in _SUPPORTED]}, got {dtype}"
        )


def pointwise_add_df(tf: TensorFrame, summand) -> TensorFrame:
    """Elementwise add of a scalar or another TensorFrame (coord equi-join)."""
    if isinstance(summand, TensorFrame):
        if summand.shape != tf.shape:
            raise ValueError(f"Shapes do not match: {tf.shape} vs {summand.shape}")
        other = summand.df.withColumnRenamed(VAL, "__rhs")
        df = tf.df.join(other, on=[IMAGE_ID, *tf.coords]).select(
            IMAGE_ID, *tf.coords, (F.col(VAL) + F.col("__rhs")).alias(VAL)
        )
        return tf.with_df(df)
    return tf.with_df(
        tf.df.select(IMAGE_ID, *tf.coords, (F.col(VAL) + F.lit(summand)).alias(VAL))
    )


def pointwise_add(nums, summand, output=None, num_threads: int = -1, backend=None):
    """x + (array|scalar); pure (no in-place) (parity ``numeric.py:99-192``)."""
    resolve_backend(backend)
    normalize_num_threads(num_threads)
    if output is not None:
        raise ValueError("output= (in-place) is not supported by the Spark engine")
    if isinstance(nums, TensorFrame):
        return pointwise_add_df(nums, summand)
    nums = np.asarray(nums)
    _check_dtype(nums.dtype)
    if nums.ndim > 4:
        raise ValueError(f"pointwise_add supports ndim<=4, got {nums.ndim}")
    spark = _active_spark()
    work_dtype = np.float64 if nums.dtype == np.float16 else nums.dtype
    tf = encode_volume(spark, nums.astype(work_dtype, copy=False))
    if isinstance(summand, np.ndarray) and summand.ndim > 0:
        if summand.shape != nums.shape:
            raise ValueError(f"Shapes of the input and the summand do not match: {nums.shape} vs {summand.shape}")
        _check_dtype(summand.dtype)
        rhs = encode_volume(spark, summand.astype(work_dtype, copy=False))
        out = pointwise_add_df(tf, rhs)
    else:
        scalar = summand.item() if isinstance(summand, np.ndarray) else summand
        out = pointwise_add_df(tf, scalar)
    res = decode_volume(out.with_df(out.df, out.shape))
    return res.astype(nums.dtype, copy=False)


def full_df(
    spark: SparkSession,
    shape,
    fill_value,
    dtype=np.float64,
    image_id: int = 0,
    partitions: int | None = None,
) -> TensorFrame:
    """Distributed dense generator: all coordinates of ``shape`` with a value.

    ``spark.range`` over axis 0 keeps generation parallel; remaining axes are
    ``sequence``+``explode`` — the whole grid never touches the driver.
    """
    shape = tuple(int(s) for s in shape)
    dtype = np.dtype(dtype)
    n0 = shape[0] if shape else 1
    df = spark.range(0, n0, 1, partitions or min(n0, 32)).select(
        F.lit(image_id).cast("long").alias(IMAGE_ID), F.col("id").cast("int").alias("i0")
    )
    for k, s in enumerate(shape[1:], start=1):
        df = _explode_axis(df, f"i{k}", s)
    df = df.select(IMAGE_ID, *coord_cols(len(shape)), _val_lit(fill_value, dtype).alias(VAL))
    return TensorFrame(df=df, shape=shape, dtype=dtype)


def full(shape, fill_value, dtype=None, order: str = "C", num_threads: int = -1, backend=None):
    """np.full analog (parity ``numeric.py:256-300``)."""
    resolve_backend(backend)
    if np.isscalar(shape):
        shape = (int(shape),)
    fill = np.asarray(fill_value)
    if dtype is None:
        dtype = fill.dtype
    tf = full_df(_active_spark(), shape, fill.item(), dtype=dtype)
    return decode_volume(tf)


def fill_(nums, value, num_threads: int = -1, backend=None):
    """Fill with a scalar; returns the filled relation/array (immutability
    divergence from the reference's in-place ``numeric.py:195-253``)."""
    resolve_backend(backend)
    if isinstance(nums, TensorFrame):
        lit = _val_lit(value, nums.dtype)
        return nums.with_df(nums.df.select(IMAGE_ID, *nums.coords, lit.alias(VAL)))
    nums = np.asarray(nums)
    out = np.empty_like(nums)
    out[...] = value
    return out


def copy(nums, output=None, order: str = "C", num_threads: int = -1, backend=None):
    """Materialized copy (parity ``numeric.py:303-381``).  For a TensorFrame
    this is a ``cache()`` (semantic no-op under immutability)."""
    resolve_backend(backend)
    if isinstance(nums, TensorFrame):
        return nums.with_df(nums.df.cache())
    if output is not None:
        output[...] = np.asarray(nums)
        return output
    return np.array(nums, order=order, copy=True)
