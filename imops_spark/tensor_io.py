"""ndarray <-> DataFrame encoders: the engine's data model boundary.

Two physical encodings (SURVEY.md §1.4), both used by operators:

1. **Voxel table** — long format, one row per element:
   ``(image_id: long, i0..i{ndim-1}: int, val)``.  The only encoding that
   scales past one executor's RAM per image; all relational operators
   (crop/pad/morphology/zoom/measure/...) run on this.

2. **Tensor blob** — one row per image:
   ``(image_id: long, shape: array<int>, dtype: string, data: binary)``,
   C-order NumPy buffer in ``data``.  Arrow-batched pandas-UDF operators
   (EDT, Delaunay interp2d, FFT filtering) run on this; it mirrors how the
   reference hands whole C-contiguous buffers to its kernels
   (``/root/reference/imops/src/_zoom.pyx:373``).

fp16 note: Spark has no half type; logical fp16 is stored as float32 (voxel) or
as raw bytes with ``dtype='float16'`` (blob) — the same "carry the logical type
out-of-band" trick the reference uses for fp16 (`numeric.py:182-185`).

Every operator shares one private codec for both encodings:
``_voxel_schema`` (schema plus the ``logical_dtype``/``shape`` metadata),
``_voxel_rows`` (one image's voxel rows and typed ``val``), ``_dense_array``
(voxel rows back to a C-order array), ``_blob_arrays`` (zero-copy
``(image_id, array)`` per blob row of an Arrow batch), ``_val_lit`` (a typed
``val`` literal), ``_explode_axis`` (a generated grid axis) and
``_active_spark`` (the session every ndarray wrapper encodes into).
"""

from __future__ import annotations

import gzip
import io
from dataclasses import dataclass, replace
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "TensorFrame",
    "encode_volume",
    "encode_volumes",
    "decode_volume",
    "tensor_frame_from_df",
    "encode_blobs",
    "decode_blobs",
    "map_blobs",
    "blob_schema",
    "load_npy_gz",
    "coord_cols",
    "voxels_to_blobs",
    "blobs_to_voxels",
]

IMAGE_ID = "image_id"
VAL = "val"


def coord_cols(ndim: int) -> list[str]:
    return [f"i{k}" for k in range(ndim)]


def _spark_val_type(dtype: np.dtype):
    dtype = np.dtype(dtype)
    if dtype == np.bool_:
        return T.BooleanType()
    if dtype.kind in "iu":
        return T.LongType()
    if dtype == np.float16:
        # Spark has no half type: fp16 is float32 physical + logical dtype in
        # the val column's schema metadata (SURVEY §1.4; the reference's
        # uint16-bit-view analog, numeric.py:182-185).  Any fp16 is exact in
        # f32 and the width halves vs double — the right trade at scale.
        return T.FloatType()
    return T.DoubleType()


@dataclass(frozen=True)
class TensorFrame:
    """A distributed dense tensor: voxel-table DataFrame + logical metadata.

    ``df`` holds one row per element with integer coordinate columns
    ``i0..i{ndim-1}`` and a ``val`` column; ``shape``/``dtype`` carry the
    logical array type (schema travels with the value in the reference —
    here it is explicit engine metadata).
    """

    df: DataFrame
    shape: tuple[int, ...]
    dtype: np.dtype

    @property
    def ndim(self) -> int:
        return len(self.shape)

    @property
    def coords(self) -> list[str]:
        return coord_cols(self.ndim)

    def with_df(self, df: DataFrame, shape: tuple[int, ...] | None = None) -> "TensorFrame":
        return replace(self, df=df, shape=tuple(shape) if shape is not None else self.shape)


def encode_volume(spark: SparkSession, arr: np.ndarray, image_id: int = 0) -> TensorFrame:
    """Encode one ndarray as a voxel table (one row per element)."""
    return encode_volumes(spark, {image_id: arr})


def encode_volumes(spark: SparkSession, arrays: dict[int, np.ndarray]) -> TensorFrame:
    """Encode a dict of same-shape/dtype ndarrays as one voxel table."""
    shapes = {a.shape for a in arrays.values()}
    dtypes = {np.dtype(a.dtype) for a in arrays.values()}
    if len(shapes) != 1 or len(dtypes) != 1:
        raise ValueError("encode_volumes requires uniform shape and dtype")
    (shape,), (dtype,) = shapes, dtypes
    pdf = pd.concat(
        [_voxel_rows(i, np.ascontiguousarray(a), dtype) for i, a in arrays.items()],
        ignore_index=True,
    )
    df = spark.createDataFrame(pdf, schema=_voxel_schema(shape, dtype))
    return TensorFrame(df=df, shape=tuple(shape), dtype=dtype)


def _voxel_schema(shape, dtype: np.dtype) -> T.StructType:
    """Voxel-table schema.  Logical tensor metadata rides in the val column's
    schema metadata, so a bare DataFrame handoff (including a parquet
    write/read round-trip, which preserves Spark schema metadata in the
    footer) keeps enough to rebuild the TensorFrame — see
    tensor_frame_from_df."""
    meta = {"logical_dtype": str(dtype), "shape": [int(s) for s in shape]}
    fields = [T.StructField(IMAGE_ID, T.LongType(), False)]
    fields += [T.StructField(c, T.IntegerType(), False) for c in coord_cols(len(shape))]
    fields += [T.StructField(VAL, _spark_val_type(dtype), False, metadata=meta)]
    return T.StructType(fields)


def _voxel_rows(image_id: int, arr: np.ndarray, dtype: np.dtype) -> pd.DataFrame:
    """One image's voxel rows, ``val`` typed for the logical ``dtype``
    (bool, int64, fp16 as float32, else float64)."""
    idx = np.indices(arr.shape).reshape(arr.ndim, -1)
    data = {IMAGE_ID: np.full(idx.shape[1], image_id, dtype=np.int64)}
    for k in range(arr.ndim):
        data[f"i{k}"] = idx[k].astype(np.int32)
    flat = arr.ravel()
    if dtype == np.bool_:
        data[VAL] = flat.astype(np.bool_)
    elif dtype.kind in "iu":
        data[VAL] = flat.astype(np.int64)
    elif dtype == np.float16:
        data[VAL] = flat.astype(np.float32)
    else:
        data[VAL] = flat.astype(np.float64)
    return pd.DataFrame(data)


def _dense_array(pdf: pd.DataFrame, coords, shape, dtype, default) -> np.ndarray:
    """Voxel rows -> C-order array; missing coordinates read ``default``."""
    out = np.full(shape, default, dtype=dtype)
    if len(pdf):
        idx = tuple(pdf[c].to_numpy(dtype=np.int64) for c in coords)
        out[idx] = pdf[VAL].to_numpy().astype(dtype, copy=False)
    return out


def _active_spark() -> SparkSession:
    """The active session, which every ndarray wrapper encodes into."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("No active SparkSession; call get_spark() first")
    return spark


def _val_lit(value, dtype):
    """``value`` as a ``val`` literal typed for ``dtype``."""
    if dtype == np.bool_:
        return F.lit(bool(value))
    if np.dtype(dtype).kind in "iu":
        return F.lit(int(value)).cast("long")
    return F.lit(float(value)).cast("double")


def _explode_axis(df: DataFrame, name: str, size: int) -> DataFrame:
    """Add coordinate column ``name`` = 0..size-1, one row per value."""
    # sequence(0, s-1) descends for s == 0 — a zero axis must yield an empty
    # grid, not coordinates 0 and -1.
    seq = (
        F.sequence(F.lit(0), F.lit(int(size) - 1))
        if int(size) > 0
        else F.array().cast("array<int>")
    )
    return df.withColumn(name, F.explode(seq))


def tensor_frame_from_df(df: DataFrame) -> TensorFrame:
    """Rebuild a :class:`TensorFrame` from a bare voxel-table DataFrame using
    the logical metadata written by :func:`encode_volumes` (survives parquet
    round-trips — Spark persists column metadata in the footer schema)."""
    meta = df.schema[VAL].metadata or {}
    if "logical_dtype" not in meta:
        raise ValueError(
            "DataFrame has no tensor metadata on the val column; was it "
            "produced by encode_volume(s) (or a parquet round-trip thereof)?"
        )
    return TensorFrame(
        df=df, shape=tuple(int(s) for s in meta["shape"]),
        dtype=np.dtype(str(meta["logical_dtype"])),
    )


def decode_volume(
    tf: TensorFrame, image_id: int = 0, default: float | int | bool = 0
) -> np.ndarray:
    """Materialize one image of a voxel table back to an ndarray.

    Missing coordinates (sparse encodings, e.g. morphology keeps only True
    voxels) are filled with ``default``.
    """
    pdf = tf.df.filter(F.col(IMAGE_ID) == image_id).select(*tf.coords, VAL).toPandas()
    return _dense_array(pdf, tf.coords, tf.shape, tf.dtype, default)


# ---------------------------------------------------------------------------
# Blob encoding
# ---------------------------------------------------------------------------

def blob_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField(IMAGE_ID, T.LongType(), False),
            T.StructField("shape", T.ArrayType(T.IntegerType()), False),
            T.StructField("dtype", T.StringType(), False),
            T.StructField("data", T.BinaryType(), False),
        ]
    )


def encode_blobs(spark: SparkSession, arrays: dict[int, np.ndarray]) -> DataFrame:
    """Encode ndarrays as one-row-per-image blobs (C-order buffers)."""
    rows = []
    for image_id, arr in arrays.items():
        arr = np.ascontiguousarray(arr)
        rows.append(
            (int(image_id), [int(s) for s in arr.shape], str(arr.dtype), arr.tobytes())
        )
    return spark.createDataFrame(rows, schema=blob_schema())


def decode_blobs(df: DataFrame) -> dict[int, np.ndarray]:
    out = {}
    for row in df.collect():
        arr = np.frombuffer(row["data"], dtype=np.dtype(row["dtype"])).reshape(row["shape"])
        out[int(row[IMAGE_ID])] = arr
    return out


def _blob_arrays(batches) -> Iterator[tuple[int, np.ndarray]]:
    """``(image_id, array)`` per blob row of each Arrow batch; the array is a
    zero-copy view of the blob payload."""
    for batch in batches:
        cols = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
        for k in range(batch.num_rows):
            shape = cols["shape"][k].as_py()
            dt = np.dtype(cols["dtype"][k].as_py())
            buf = cols["data"][k].as_buffer()
            yield cols[IMAGE_ID][k].as_py(), np.frombuffer(buf, dtype=dt).reshape(shape)


def map_blobs(
    df: DataFrame,
    fn: Callable[[np.ndarray], np.ndarray],
    batch_hint: int | None = None,
) -> DataFrame:
    """Apply a per-image ndarray->ndarray kernel over a blob table.

    Runs as ``mapInArrow``: one task per partition, each image processed
    independently — the Spark analog of the reference's
    one-OpenMP-team-per-call model, except parallelism is across images.
    Blob payloads are read zero-copy from the Arrow buffers and results are
    wrapped zero-copy into the output binary column (no pandas detour, no
    ``tobytes`` copy) — at 100 MB+ per image the serialization path, not
    the kernel, dominates, so every avoided copy counts.
    """
    schema = blob_schema()

    def run(batches):
        import pyarrow as pa

        for image_id, arr in _blob_arrays(batches):
            res = np.ascontiguousarray(fn(arr))
            offsets = np.array([0, res.nbytes], dtype=np.int32)
            data_arr = pa.Array.from_buffers(
                pa.binary(), 1, [None, pa.py_buffer(offsets), pa.py_buffer(res)]
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([image_id], type=pa.int64()),
                    pa.array([[int(s) for s in res.shape]], type=pa.list_(pa.int32())),
                    pa.array([str(res.dtype)], type=pa.string()),
                    data_arr,
                ],
                names=[IMAGE_ID, "shape", "dtype", "data"],
            )

    return df.mapInArrow(run, schema=schema)


def voxels_to_blobs(tf: TensorFrame, default: float | int | bool = 0) -> DataFrame:
    """Re-encode a voxel table as per-image blobs (the bridge between the two
    physical encodings, SURVEY §1.4).

    One shuffle on ``image_id``: each image's rows land in one Arrow group and
    densify into a C-order buffer.  Missing coordinates read ``default``
    (voxel tables are dense by contract; internal sparse encodings fill with
    the background).  The per-image fits-in-one-task memory bound is the same
    contract every blob operator (EDT, interp2d, spline zoom) already
    carries — across images the job stays embarrassingly parallel at any
    corpus size.
    """
    shape = tf.shape
    dtype = np.dtype(tf.dtype)
    cols = tf.coords

    def densify(pdf: pd.DataFrame) -> pd.DataFrame:
        out = _dense_array(pdf, cols, shape, dtype, default)
        return pd.DataFrame(
            {
                IMAGE_ID: [int(pdf[IMAGE_ID].iloc[0])],
                "shape": [[int(s) for s in shape]],
                "dtype": [str(dtype)],
                "data": [out.tobytes()],
            }
        )

    return tf.df.groupBy(IMAGE_ID).applyInPandas(densify, schema=blob_schema())


def blobs_to_voxels(df: DataFrame, shape, dtype) -> TensorFrame:
    """Explode a blob table back into a voxel table.

    ``mapInPandas`` — no shuffle: each blob row expands in place into its
    element rows, carrying the same val typing and logical metadata as
    :func:`encode_volumes` so the result is a first-class TensorFrame.
    """
    shape = tuple(int(s) for s in shape)
    dtype = np.dtype(dtype)

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for r in range(len(pdf)):
                row_shape = [int(s) for s in pdf["shape"].iloc[r]]
                arr = np.frombuffer(
                    pdf["data"].iloc[r], dtype=np.dtype(pdf["dtype"].iloc[r])
                ).reshape(row_shape)
                yield _voxel_rows(int(pdf[IMAGE_ID].iloc[r]), arr, dtype)

    out = df.mapInPandas(explode, schema=_voxel_schema(shape, dtype))
    return TensorFrame(df=out, shape=shape, dtype=dtype)


def load_npy_gz(path: str) -> np.ndarray:
    """Load a gzipped .npy file (ingestion parity with the reference's
    benchmark loader, ``/root/reference/benchmarks/common.py:29-31``)."""
    with gzip.open(path, "rb") as f:
        return np.load(io.BytesIO(f.read()), allow_pickle=False)
