"""Radon transform and filtered back-projection as gather joins.

Reference: ``/root/reference/imops/radon.py`` (wrapper, validation, FFT
filter ``radon.py:225-237``) and kernels ``src/_radon.pyx:20-95`` (ray
accumulation of bilinear samples) / ``src/_backprojection.pyx:20-79``
(per-pixel angle sum of 1-D lerps).

Spark design (SURVEY.md §2.1 #13-14):
- **radon**: the sample set (slice, angle, offset j, ray i) is generated
  distributively; each sample gathers its 4 bilinear corners through one
  equi-join against the image voxel table and ``groupBy(slice, offset,
  angle)`` sums the ray.  Sin/cos/shift/limit per angle/offset ride in a
  broadcast table.  Out-of-bounds corners contribute 0 (`_radon.pyx:21-25`).
- **inverse_radon**: the FFT ramp/sharpen filter is a per-(slice, angle)
  1-D signal op — numpy FFT on the driver for the ndarray path, `map_blobs`
  per image for blob tables (Spark has no native FFT).  Back-projection is a
  2-corner gather join of pixelxangle samples against the filtered sinogram
  + ``groupBy(pixel)`` sum, fill outside the inscribed circle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..backend import dispatch_strategy, resolve_backend
from ..tensor_io import IMAGE_ID, VAL, TensorFrame, _active_spark, decode_volume, encode_volume
from ..utils import normalize_num_threads

__all__ = ["radon", "inverse_radon"]


def _validate_and_zero(image: np.ndarray):
    """Circle-constancy validation + zeroing (parity ``radon.py:73-88``).
    ``image`` is (S, size, size); returns (image, fill) with the outside
    zeroed."""
    size = image.shape[1]
    radius = size // 2
    xs = np.arange(-radius, size - radius)
    squared = xs**2
    outside_circle = (squared[:, None] + squared[None, :]) > radius**2
    values = image[:, outside_circle]
    min_, max_ = values.min(), values.max()
    if max_ - min_ > 0.1:
        raise ValueError(
            f"The image must be constant outside the circle. "
            f"Got values ranging from {min_} to {max_}."
        )
    if min_ != 0 or max_ != 0:
        image = image.copy()
        image[:, outside_circle] = 0
    return image, min_


def _normalize_axes(x: np.ndarray, axes):
    if x.ndim < 2:
        raise ValueError(
            f"Radon transform requires an array with at least 2 dimensions. "
            f"{x.ndim}-dim array provided"
        )
    if axes is None:
        if x.ndim > 2:
            raise ValueError("For arrays of higher dimensionality the `axis` arguments is required")
        axes = [0, 1]
    axes = tuple(a % x.ndim for a in (axes if not np.isscalar(axes) else (axes,)))
    x = np.moveaxis(x, axes, (-2, -1))
    extra = x.shape[:-2]
    return x.reshape(-1, *x.shape[-2:]), axes, extra


def _restore_axes(x: np.ndarray, axes, extra):
    x = x.reshape(*extra, *x.shape[-2:])
    return np.moveaxis(x, (-2, -1), axes)


def radon(
    image: np.ndarray,
    axes=None,
    theta=180,
    return_fill: bool = False,
    num_threads: int = -1,
    backend=None,
):
    """Radon transform of square 2-D slices (parity ``radon.py:16-102``).

    Strategies: ``'join'`` (default) runs the distributed gather-join plan;
    ``'udf'`` runs the vectorized per-slice kernel (``kernels.radon_numpy``)
    — the analog of the reference's compiled kernel.  A blob-table
    ``DataFrame`` input always uses the kernel, one Arrow task per image.
    """
    strategy = resolve_backend(backend)
    n_threads = normalize_num_threads(num_threads)
    if isinstance(theta, int):
        theta = np.linspace(0, 180, theta, endpoint=False)
    theta = np.asarray(theta, dtype=np.float64)

    if isinstance(image, DataFrame):  # blob table -> per-image kernel
        from ..kernels import radon_numpy
        from ..tensor_io import map_blobs

        if return_fill:
            raise ValueError("return_fill is only supported on the ndarray path")

        def _k(arr: np.ndarray) -> np.ndarray:
            a3 = arr[None] if arr.ndim == 2 else arr.reshape(-1, *arr.shape[-2:])
            if a3.shape[1] != a3.shape[2]:
                raise ValueError("blob images must be square along the last two axes")
            a3, _ = _validate_and_zero(a3.astype(np.float64, copy=False))
            res = radon_numpy(a3, theta)
            out_shape = arr.shape[:-2] + res.shape[1:]
            res = res.reshape(out_shape)
            return res.astype(np.float32) if arr.dtype == np.float32 else res

        return map_blobs(image, _k)

    in_dtype = np.asarray(image).dtype
    image, axes, extra = _normalize_axes(np.asarray(image, dtype=np.float64), axes)
    if image.shape[1] != image.shape[2]:
        raise ValueError(
            f"The image must be square along the provided axes ({axes}), "
            f"but has shape: {image.shape[1:]}."
        )
    size = image.shape[1]
    radius = size // 2
    xs = np.arange(-radius, size - radius)
    squared = xs**2
    image, min_ = _validate_and_zero(image)

    if dispatch_strategy(strategy, image.nbytes) == "udf":
        from ..kernels import radon_numpy

        result = radon_numpy(image, theta, num_threads=n_threads)
        result = _restore_axes(result, axes, extra)
        if in_dtype == np.float32:  # compute dtype follows the input float dtype
            result = result.astype(np.float32)
        if return_fill:
            return result, min_
        return result

    limits = (((squared[:, None] + squared[None, :]) > (radius + 2) ** 2).sum(0) // 2).astype(int)

    spark = _active_spark()
    tf = encode_volume(spark, image)  # coords: i0=slice, i1=row, i2=col

    rad = np.deg2rad(theta)
    sins, coss = np.sin(rad), np.cos(rad)
    center = float(size // 2)
    r_shift = center * (coss + sins - 1)
    c_shift = center * (coss - sins - 1)

    # Broadcast parameter tables: per-angle trig/shifts, per-offset limits.
    ang_rows = [
        (int(a), float(sins[a]), float(coss[a]), float(r_shift[a]), float(c_shift[a]))
        for a in range(len(theta))
    ]
    ang_df = F.broadcast(
        spark.createDataFrame(ang_rows, "alpha int, s double, c double, rs double, cs double")
    )
    off_rows = [(int(j), int(limits[j])) for j in range(size)]
    off_df = F.broadcast(spark.createDataFrame(off_rows, "j int, lim int"))

    images = tf.df.select(IMAGE_ID, F.col("i0").alias("slc")).distinct()
    # NB: Spark's sequence(a, b) DESCENDS when a > b; an empty ray range
    # (limit past the midpoint) must yield no samples, like range(lim, size-lim).
    ray = F.expr(
        f"CASE WHEN {size - 1} - lim >= lim THEN sequence(lim, {size - 1} - lim) "
        "ELSE array() END"
    )
    samples = (
        images.crossJoin(ang_df)
        .crossJoin(off_df)
        .withColumn("i", F.explode(ray))
    )
    # Sample coordinates (argument order per _radon.pyx:52-64).
    samples = samples.withColumn(
        "r", F.col("j") * (-F.col("s")) + F.col("i") * F.col("c") - F.col("cs")
    ).withColumn("c2", F.col("j") * F.col("c") + F.col("i") * F.col("s") - F.col("rs"))

    corners = F.broadcast(spark.createDataFrame([(0, 0), (0, 1), (1, 0), (1, 1)], "br int, bc int"))
    g = samples.crossJoin(corners)
    rr = F.when(F.col("br") == 0, F.floor("r")).otherwise(F.ceil("r")).cast("int")
    cc = F.when(F.col("bc") == 0, F.floor("c2")).otherwise(F.ceil("c2")).cast("int")
    dr = F.col("r") - F.floor("r")
    dc = F.col("c2") - F.floor("c2")
    wr = F.when(F.col("br") == 0, 1 - dr).otherwise(dr)
    wc = F.when(F.col("bc") == 0, 1 - dc).otherwise(dc)
    g = g.select(
        IMAGE_ID,
        "slc",
        "alpha",
        "j",
        rr.alias("i1"),
        cc.alias("i2"),
        (wr * wc).alias("w"),
    )
    src = tf.df.select(IMAGE_ID, F.col("i0").alias("slc"), "i1", "i2", VAL)
    joined = g.join(src, on=[IMAGE_ID, "slc", "i1", "i2"], how="left")
    sino = (
        joined.groupBy(IMAGE_ID, "slc", "j", "alpha")
        .agg(F.sum(F.col("w") * F.coalesce(F.col(VAL), F.lit(0.0))).alias(VAL))
        .select(
            IMAGE_ID,
            F.col("slc").alias("i0"),
            F.col("j").alias("i1"),
            F.col("alpha").alias("i2"),
            VAL,
        )
    )
    out_tf = TensorFrame(df=sino, shape=(image.shape[0], size, len(theta)), dtype=np.dtype(np.float64))
    result = decode_volume(out_tf, default=0.0)
    result = _restore_axes(result, axes, extra)
    if in_dtype == np.float32:  # compute dtype follows the input float dtype
        result = result.astype(np.float32)
    if return_fill:
        return result, min_
    return result


def _ramp_filter(size: int) -> np.ndarray:
    n = np.concatenate(
        (np.arange(1, size / 2 + 1, 2, dtype=int), np.arange(size / 2 - 1, 0, -2, dtype=int))
    )
    f = np.zeros(size)
    f[0] = 0.25
    f[1::2] = -1 / (np.pi * n) ** 2
    return (2 * np.real(np.fft.fft(f))).reshape(-1, 1)


def _smooth_sharpen_filter(size: int, a: float, b: float) -> np.ndarray:
    ramp = _ramp_filter(size)
    return ramp * (1 + a * (ramp**b))


def _sinogram_circle_to_square(sinogram: np.ndarray) -> np.ndarray:
    diagonal = int(np.ceil(np.sqrt(2) * sinogram.shape[1]))
    pad = diagonal - sinogram.shape[1]
    old_center = sinogram.shape[1] // 2
    new_center = diagonal // 2
    pad_before = new_center - old_center
    return np.pad(sinogram, ((0, 0), (pad_before, pad - pad_before), (0, 0)))


def _filter_sinogram(sinogram: np.ndarray, a: float, b: float, num_threads: int = 1):
    """Circle→square pad + pow-2 pad + FFT ramp/sharpen filter (parity
    ``radon.py:164-187``).  ``sinogram`` is (S, pos, n_ang); returns the
    filtered (S, img_shape, n_ang) array.  Slices are independent, so the
    FFTs fan out over slice chunks (pocketfft releases the GIL)."""
    sinogram = _sinogram_circle_to_square(sinogram)
    S, img_shape, _ = sinogram.shape
    projection_size_padded = max(64, int(2 ** np.ceil(np.log2(2 * img_shape))))
    fourier_filter = _smooth_sharpen_filter(projection_size_padded, a, b)
    pad_spec = ((0, 0), (0, projection_size_padded - img_shape), (0, 0))

    def _chunk(sl):
        padded = np.pad(sinogram[sl], pad_spec)
        return np.real(
            np.fft.ifft(np.fft.fft(padded, axis=1) * fourier_filter, axis=1)
        )[:, :img_shape, :]

    if num_threads > 1 and S >= num_threads:
        from concurrent.futures import ThreadPoolExecutor

        bounds = np.linspace(0, S, num_threads + 1).astype(int)
        slices = [slice(bounds[i], bounds[i + 1]) for i in range(num_threads)]
        with ThreadPoolExecutor(max_workers=num_threads) as ex:
            return np.concatenate(list(ex.map(_chunk, slices)))
    return _chunk(slice(None))


def inverse_radon(
    sinogram: np.ndarray,
    axes=None,
    theta=None,
    fill_value: float = 0,
    a: float = 0,
    b: float = 1,
    num_threads: int = -1,
    backend=None,
):
    """Filtered back-projection (parity ``radon.py:105-201``).

    Strategies as in :func:`radon`: ``'join'`` (default) distributed
    gather-join back-projection; ``'udf'`` the vectorized kernel
    (``kernels.iradon_backproject_numpy``); blob-table DataFrames run the
    full filter+backproject pipeline per image in Arrow tasks.
    """
    strategy = resolve_backend(backend)
    n_threads = normalize_num_threads(num_threads)

    if isinstance(sinogram, DataFrame):  # blob table -> per-image kernel
        from ..kernels import iradon_backproject_numpy
        from ..tensor_io import map_blobs

        def _k(arr: np.ndarray) -> np.ndarray:
            s3 = arr[None] if arr.ndim == 2 else arr.reshape(-1, *arr.shape[-2:])
            th = s3.shape[-1] if theta is None else theta
            th = np.linspace(0, 180, th, endpoint=False) if isinstance(th, int) else np.asarray(th)
            if len(th) != s3.shape[-1]:
                raise ValueError("`theta` does not match the number of projections")
            filt = _filter_sinogram(s3.astype(np.float64, copy=False), a, b)
            res = iradon_backproject_numpy(filt, th, s3.shape[1], fill_value)
            res = res.reshape(arr.shape[:-2] + res.shape[1:])
            return res.astype(np.float32) if arr.dtype == np.float32 else res

        return map_blobs(sinogram, _k)

    in_dtype = np.asarray(sinogram).dtype
    sinogram, axes, extra = _normalize_axes(np.asarray(sinogram, dtype=np.float64), axes)
    if theta is None:
        theta = sinogram.shape[-1]
    if isinstance(theta, int):
        theta = np.linspace(0, 180, theta, endpoint=False)
    theta = np.asarray(theta, dtype=np.float64)
    if len(theta) != sinogram.shape[-1]:
        raise ValueError(
            f"The given `theta` (size {len(theta)}) does not match the number of "
            f"projections in `sinogram` ({sinogram.shape[-1]})."
        )
    output_size = sinogram.shape[1]
    filtered = _filter_sinogram(sinogram, a, b, num_threads=n_threads)
    img_shape = filtered.shape[1]

    if dispatch_strategy(strategy, filtered.nbytes) == "udf":
        from ..kernels import iradon_backproject_numpy

        result = iradon_backproject_numpy(
            filtered, theta, output_size, fill_value, num_threads=n_threads
        )
        result = _restore_axes(result, axes, extra)
        if in_dtype == np.float32:
            result = result.astype(np.float32)
        return result

    radius = output_size // 2
    xs = np.arange(-radius, output_size - radius)
    squared = xs**2
    inside = (squared[:, None] + squared[None, :]) <= radius**2
    rad = np.deg2rad(theta)
    sins, coss = np.sin(rad), np.cos(rad)
    n_angles = len(theta)
    multiplier = np.pi / (2 * n_angles)
    min_val = float(img_shape // 2)
    right_lim = img_shape - 1

    spark = _active_spark()
    # Filtered sinogram as (slice, angle, pos) voxel table.
    ftf = encode_volume(spark, np.ascontiguousarray(np.moveaxis(filtered, -1, -2)))
    ang_rows = [(int(k), float(sins[k]), float(coss[k])) for k in range(n_angles)]
    ang_df = F.broadcast(spark.createDataFrame(ang_rows, "k int, s double, c double"))
    pix_rows = [
        (int(i), int(j), float(xs[i]), float(xs[j]))
        for i in range(output_size)
        for j in range(output_size)
        if inside[i, j]
    ]
    pix_df = spark.createDataFrame(pix_rows, "pi int, pj int, x double, y double")

    images = ftf.df.select(IMAGE_ID, F.col("i0").alias("slc")).distinct()
    samples = images.crossJoin(pix_df).crossJoin(ang_df)
    t = F.col("y") * F.col("c") - F.col("x") * F.col("s") + F.lit(min_val)
    samples = samples.withColumn("t", t).filter(
        (F.col("t") >= 0) & (F.col("t") <= right_lim)
    )
    idx = F.floor("t").cast("int")
    frac = F.col("t") - F.floor("t")
    # lerp with the idx == right_limit edge rule (_backprojection.pyx:29-36):
    # ys[idx+1] only exists when idx < right_lim; frac is 0 there anyway.
    samples = samples.withColumn("idx", idx).withColumn("frac", frac)
    corners = F.broadcast(spark.createDataFrame([(0,), (1,)], "bc int"))
    g = samples.crossJoin(corners).select(
        IMAGE_ID,
        "slc",
        "pi",
        "pj",
        "k",
        (F.col("idx") + F.col("bc")).alias("pos"),
        F.when(F.col("bc") == 0, 1 - F.col("frac")).otherwise(F.col("frac")).alias("w"),
    ).filter(F.col("pos") <= right_lim)
    src = ftf.df.select(
        IMAGE_ID, F.col("i0").alias("slc"), F.col("i1").alias("k"), F.col("i2").alias("pos"), VAL
    )
    joined = g.join(src, on=[IMAGE_ID, "slc", "k", "pos"], how="inner")
    acc = (
        joined.groupBy(IMAGE_ID, "slc", "pi", "pj")
        .agg((F.sum(F.col("w") * F.col(VAL)) * F.lit(multiplier)).alias(VAL))
        .select(
            IMAGE_ID,
            F.col("slc").alias("i0"),
            F.col("pi").alias("i1"),
            F.col("pj").alias("i2"),
            VAL,
        )
    )
    out_tf = TensorFrame(
        df=acc, shape=(sinogram.shape[0], output_size, output_size), dtype=np.dtype(np.float64)
    )
    result = decode_volume(out_tf, default=0.0)
    result[:, ~inside] = fill_value
    result = _restore_axes(result, axes, extra)
    if in_dtype == np.float32:  # compute dtype follows the input float dtype
        result = result.astype(np.float32)
    return result
