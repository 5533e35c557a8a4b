"""scipy-compatible 1-D linear interpolation along an axis of an <=3-D array.

Reference: ``/root/reference/imops/interp1d.py:14-207`` + kernel
``src/_zoom.pyx:30-120`` (searchsorted + lerp + 2-point extrapolation and the
NaN/inf output postprocessing contract of ``interp1d.py:191-205``).

Spark design: interpolation (and even extrapolation) is a *linear gather*:
every query point x_new maps to at most two knot slots with weights
``(1-dd, dd)`` — extrapolation is the same lerp with dd outside [0,1] through
the first/last two knots.  The knot-slot->weight map is tiny (2 rows per
query) and broadcast; the big array ``y`` joins it on the interpolation-axis
coordinate and a ``groupBy`` over the remaining coordinates sums
``weight * y`` — one broadcast join + one partial-aggregated shuffle
regardless of y's size.
"""

from __future__ import annotations

import warnings

import numpy as np
from pyspark.sql import functions as F

from ..backend import dispatch_strategy, resolve_backend
from ..tensor_io import IMAGE_ID, VAL, TensorFrame, _active_spark, decode_volume, encode_volume
from ..utils import normalize_num_threads

__all__ = ["interp1d"]


def _build_weight_map(
    x: np.ndarray,
    x_new: np.ndarray,
    bounds_error: bool,
    fill_value,
    extrapolate: bool,
    assume_sorted: bool,
):
    """Per-query (slot, weight) pairs replicating the kernel's searchsorted
    logic (`src/_zoom.pyx:41-66`).  Returns (rows, fill_mask) where rows is a
    list of (k_new, src_slot, weight)."""
    n = len(x)
    perm = np.arange(n) if assume_sorted else np.argsort(x, kind="stable")
    xs = x[perm]
    idx = np.searchsorted(xs, x_new)
    extr = np.zeros(len(x_new), dtype=np.int8)
    rows: list[tuple[int, int, float]] = []
    for k, (i, v) in enumerate(zip(idx, x_new)):
        if i == 0:
            if v < xs[0]:
                extr[k] = -1
            else:
                i = 1
        if i >= n:
            extr[k] = 1
    if bounds_error and extr.any():
        raise ValueError("A value in x_new is out of the interpolation range.")
    for k, (i, v) in enumerate(zip(idx, x_new)):
        if extr[k] == 0:
            if i == 0:
                i = 1
            dd = (v - xs[i - 1]) / (xs[i] - xs[i - 1])
            rows.append((k, int(perm[i - 1]), float(1 - dd)))
            rows.append((k, int(perm[i]), float(dd)))
        elif extrapolate:
            if extr[k] == -1:
                lo, hi = 0, 1
            else:
                lo, hi = n - 2, n - 1
            t = (v - xs[lo]) / (xs[hi] - xs[lo])
            rows.append((k, int(perm[lo]), float(1 - t)))
            rows.append((k, int(perm[hi]), float(t)))
    fill_mask = (extr != 0) & (not extrapolate)
    return rows, fill_mask


class interp1d:
    """Drop-in for the reference's ``imops.interp1d`` on a Spark engine."""

    def __init__(
        self,
        x: np.ndarray,
        y: np.ndarray,
        kind="linear",
        axis: int = -1,
        copy: bool = True,
        bounds_error: bool | None = None,
        fill_value="extrapolate-default-nan",
        assume_sorted: bool = False,
        num_threads: int = -1,
        backend=None,
    ) -> None:
        if fill_value == "extrapolate-default-nan":
            fill_value = np.nan
        strategy = resolve_backend(backend)  # validate early; dispatch on y size below
        self.num_threads = num_threads
        x = np.asarray(x)
        y = np.asarray(y)
        if kind not in ("linear", 1):
            raise ValueError(
                "Only linear interpolation (kind='linear'/1) is supported by the Spark engine"
            )
        if y.dtype not in (np.float32, np.float64):
            warnings.warn(
                "Fast interpolation is only supported for ndim<=3, dtype=float32 or float64,"
                " order=1 or 'linear'. Casting to float64."
            )
            y = y.astype(np.float64)
        if y.ndim > 3:
            raise ValueError(f"interp1d supports ndim<=3, got {y.ndim}")
        if len(x) != y.shape[axis]:
            raise ValueError(
                f"x and y arrays must be equal in length along interpolation axis: "
                f"{len(x)} vs {y.shape[axis]}."
            )
        if bounds_error and fill_value == "extrapolate":
            raise ValueError("Cannot extrapolate and raise at the same time.")
        if fill_value == "extrapolate" and (len(x) < 2 or y.shape[axis] < 2):
            raise ValueError("x and y arrays must have at least 2 entries.")
        if fill_value == "extrapolate":
            self.bounds_error = False
        else:
            self.bounds_error = True if bounds_error is None else bounds_error
        self.axis = axis
        self.fill_value = fill_value
        self.assume_sorted = assume_sorted
        self.dtype = y.dtype
        self.x_dtype = x.dtype
        if axis not in (-1, y.ndim - 1):
            y = np.swapaxes(y, -1, axis)
        self.x = x.copy() if copy else x
        self._y_shape = y.shape
        # 'auto' size-dispatch: one-task volumes use the vectorized kernel.
        self._strategy = dispatch_strategy(strategy, y.nbytes)
        if self._strategy == "udf":
            # per-volume vectorized kernel path: keep y locally
            self._y = y.copy() if copy else y
            self._ytf = None
            self._spark = None
            return
        spark = self._spark = _active_spark()
        # Encode once at construction: repeated __call__ reuses the cached
        # distributed y (the class-based API exists precisely for reuse).
        self._ytf = encode_volume(spark, y.astype(np.float64, copy=False))
        self._ytf = self._ytf.with_df(self._ytf.df.cache())

    def __call__(self, x_new: np.ndarray) -> np.ndarray:
        n_threads = normalize_num_threads(self.num_threads)
        x_new = np.atleast_1d(np.asarray(x_new))
        extrapolate = self.fill_value == "extrapolate"
        if self._strategy == "udf":
            from ..kernels import interp1d_numpy

            out = interp1d_numpy(
                self._y,
                self.x.astype(np.float64, copy=False),
                x_new.astype(np.float64, copy=False),
                bounds_error=self.bounds_error,
                fill_value=0.0 if extrapolate else self.fill_value,
                extrapolate=extrapolate,
                assume_sorted=self.assume_sorted,
                num_threads=n_threads,
            )
            return self._postprocess(out, x_new)
        rows, fill_mask = _build_weight_map(
            self.x.astype(np.float64, copy=False),
            x_new.astype(np.float64, copy=False),
            self.bounds_error,
            self.fill_value,
            extrapolate,
            self.assume_sorted,
        )
        tf = self._ytf
        r = tf.ndim
        knot_col = tf.coords[-1]
        keep = tf.coords[:-1]
        out_shape = (*self._y_shape[:-1], len(x_new))

        spark = self._spark
        if rows:
            wmap = F.broadcast(
                spark.createDataFrame(rows, schema="k_new int, src int, w double")
            )
            joined = tf.df.join(wmap, on=tf.df[knot_col] == F.col("src"), how="inner")
            agg = (
                joined.groupBy(IMAGE_ID, *keep, "k_new")
                .agg(F.sum(F.col("w") * F.col(VAL)).alias(VAL))
                .select(
                    IMAGE_ID,
                    *keep,
                    F.col("k_new").alias(knot_col),
                    VAL,
                )
            )
            out_tf = TensorFrame(df=agg, shape=out_shape, dtype=np.dtype(np.float64))
            out = decode_volume(out_tf, default=np.nan)
        else:
            out = np.full(out_shape, np.nan)
        if fill_mask.any() and not extrapolate:
            out[..., fill_mask] = self.fill_value
        return self._postprocess(out, x_new)

    def _postprocess(self, out: np.ndarray, x_new: np.ndarray) -> np.ndarray:
        out_dtype = max(
            self.dtype, self.x_dtype, x_new.dtype, key=lambda d: np.dtype(d).itemsize
        )
        out = out.astype(out_dtype, copy=False)
        if self.axis not in (-1, out.ndim - 1):
            out = np.swapaxes(out, -1, self.axis)
        # NaN/inf postprocessing contract (interp1d.py:191-205), replicated
        # verbatim — including raising when NaNs appear without infs.
        if np.isnan(out).any():
            if not np.isinf(out).any():
                raise RuntimeError("Can't decide how to handle nans in the output.")
            have_neg = np.isneginf(out).any()
            have_pos = np.isposinf(out).any()
            if have_pos and have_neg:
                raise RuntimeError("Can't decide how to handle nans in the output.")
            if have_pos:
                return np.nan_to_num(out, copy=False, nan=np.inf, posinf=np.inf)
            return np.nan_to_num(out, copy=False, nan=-np.inf, neginf=-np.inf)
        return out
