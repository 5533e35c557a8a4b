"""Utility surface: isin (broadcast semi-join), thread/axis normalization.

Reference: ``/root/reference/imops/utils.py``.
"""

from __future__ import annotations

import os
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tensor_io import IMAGE_ID, VAL, TensorFrame, _active_spark, decode_volume, encode_volume

__all__ = [
    "isin",
    "isin_df",
    "normalize_num_threads",
    "set_num_threads",
    "imops_num_threads",
    "broadcast_axis",
    "build_slices",
    "quote_carry",
    "unquote_carry",
]


def quote_carry(carry, reserved: frozenset) -> tuple:
    """Validate ``carry`` passthrough column names and backtick-quote them
    for splicing into generated SQL (``selectExpr`` / ``F.expr`` strings).

    Raw interpolation breaks two ways: a name needing quoting (dots,
    hyphens, spaces, reserved SQL words) fails to parse or resolves as a
    struct-field path, and a name equal to one of the pipeline's internal
    aliases (``t``/``nt``/``shingles``/...) silently shadows the
    intermediate column.  Internal aliases are therefore RESERVED (raise),
    and every name is backtick-quoted — quoted names work identically in
    ``select`` and ``selectExpr``, so call sites use one spelling.
    """
    out = []
    for name in carry:
        if name in reserved or name.startswith("__"):
            raise ValueError(
                f"carry column {name!r} collides with an internal alias of "
                f"this pipeline (reserved: {sorted(reserved)} and '__*')"
            )
        out.append("`" + name.replace("`", "``") + "`")
    return tuple(out)


def unquote_carry(quoted) -> list:
    """Exact inverse of :func:`quote_carry`: drop the one added backtick
    pair and unescape doubled backticks.  The previous ad-hoc idiom
    (``replace('``','\\x00').strip('`').replace back``) mangled names that
    BEGIN with a literal backtick — ``'`x'`` quotes to ``'```x`'`` and
    round-tripped to ``'``x'``, a loud KeyError at plan-build time in the
    Arrow kernels' field lookup.  Every ``quote_carry`` output starts and
    ends with exactly the added quote characters, so slicing them off is
    always correct."""
    return [c[1:-1].replace("``", "`") for c in quoted]

_IDENT_RE = __import__("re").compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def map_in_pandas_renamed(df: DataFrame, run, out_fields: list) -> DataFrame:
    """``mapInPandas`` that tolerates arbitrary column names.

    PySpark's ``mapInPandas`` resolves every INPUT column through
    ``df[name]`` (``sql/pandas/map_ops.py``), which parses dots as
    struct-field paths and rejects names like ``event-time.col`` that
    ``quote_carry`` explicitly admits as passthroughs.  Non-identifier
    names are therefore routed through ``__mip{i}`` placeholders on both
    sides of the boundary: the Spark input renames to placeholders, the
    kernel still sees (and emits) the ORIGINAL names via a pandas-side
    rename, and the output renames back — ``withColumnsRenamed`` matches
    names literally, so no quoting hazard survives.  ``__``-prefixed
    carry names are reserved upstream, so placeholders cannot collide.

    ``out_fields`` is the output schema as ``[(name, ddl_type), ...]``;
    when every involved name is a plain identifier this is exactly
    ``df.mapInPandas(run, schema)`` — zero overhead on the common path.
    """
    bad = sorted(
        {c for c in df.columns if not _IDENT_RE.match(c)}
        | {n for n, _ in out_fields if not _IDENT_RE.match(n)}
    )
    if not bad:
        schema = ", ".join(f"`{n}` {t}" for n, t in out_fields)
        return df.mapInPandas(run, schema=schema)
    sub = {c: f"__mip{i}" for i, c in enumerate(bad)}
    inv = {v: k for k, v in sub.items()}

    def wrapped(batches):
        def original_names():
            for pdf in batches:
                yield pdf.rename(columns=inv)

        for res in run(original_names()):
            yield res.rename(columns=sub)

    schema = ", ".join(f"`{sub.get(n, n)}` {t}" for n, t in out_fields)
    out = df.withColumnsRenamed(sub).mapInPandas(wrapped, schema=schema)
    back = {sub[n]: n for n, _ in out_fields if n in sub}
    return out.withColumnsRenamed(back) if back else out


_GLOBAL_NUM_THREADS: list[int | None] = [None]


def set_num_threads(n: int) -> None:
    """Global thread cap (parity ``utils.py:23-38``).  In the Spark engine
    this caps the partitioning hint ``normalize_num_threads`` returns."""
    _GLOBAL_NUM_THREADS[0] = int(n)


class imops_num_threads:
    """Context manager scoping the global thread cap (parity ``utils.py``)."""

    def __init__(self, n: int):
        self.n = int(n)

    def __enter__(self):
        self.prev = _GLOBAL_NUM_THREADS[0]
        _GLOBAL_NUM_THREADS[0] = self.n
        return self

    def __exit__(self, *exc):
        _GLOBAL_NUM_THREADS[0] = self.prev
        return False


def normalize_num_threads(num_threads: int = -1) -> int:
    """Fold the requested thread count with the environment cap.

    Parity with ``utils.py:40-92``: negative means "all but (|n|-1)"; the
    result is clamped by cpu count and OMP_NUM_THREADS if set.  In the Spark
    engine this value is only a partitioning hint — actual parallelism is
    executor cores — but we keep the semantics so ported call sites behave.
    """
    env_cap = os.environ.get("OMP_NUM_THREADS")
    avail = os.cpu_count() or 1
    if env_cap:
        avail = min(avail, int(env_cap))
    if _GLOBAL_NUM_THREADS[0] is not None:
        avail = min(avail, _GLOBAL_NUM_THREADS[0])
    if num_threads >= 0:
        if num_threads == 0:
            raise ValueError("num_threads must be nonzero")
        return min(num_threads, avail)
    return max(avail + 1 + num_threads, 1)


def axis_from_dim(axis, dim: int) -> tuple:
    """None -> all axes; else normalized non-negative axis tuple
    (parity ``utils.py:110-114``)."""
    if axis is None:
        return tuple(range(dim))
    if np.isscalar(axis):
        axis = (axis,)
    out = []
    for a in axis:
        a = int(a)
        if not -dim <= a < dim:
            raise ValueError(f"axis {a} out of bounds for rank {dim}")
        out.append(a % dim)
    return tuple(out)


def broadcast_axis(axis, dim: int, *values):
    """Normalize ``axis`` and broadcast each value to ``len(axis)``
    (parity ``utils.py:117-124``)."""
    axes = axis_from_dim(axis, dim)
    res = []
    for v in values:
        v = np.atleast_1d(v)
        if len(v) == 1:
            v = np.repeat(v, len(axes), 0)
        if len(v) != len(axes):
            raise ValueError(f"Params sizes don't match with the axes: {axes} vs {len(v)}.")
        res.append(v)
    return (axes, *res)


def fill_by_indices(target, values, indices):
    """Replace ``target[indices]`` with ``values`` (parity ``utils.py:135+``)."""
    target = np.array(target)
    target[list(indices)] = values
    return target


def build_slices(
    starts: Sequence[int], stops: Sequence[int] | None = None, steps: Sequence[int] | None = None
) -> tuple:
    """start/stop/step vectors -> tuple of slices (parity ``utils.py:172-199``)."""
    if stops is None and steps is None:
        return tuple(map(slice, starts))
    if steps is None:
        return tuple(map(slice, starts, stops))
    return tuple(map(slice, starts, stops, steps))


# ---------------------------------------------------------------------------
# isin — the broadcast hash semi-join
# ---------------------------------------------------------------------------

def isin_df(df: DataFrame, column: str, test_elements: Sequence[int] | DataFrame) -> DataFrame:
    """Mark rows whose ``column`` is in ``test_elements``.

    Small literal lists compile to an in-filter inside whole-stage codegen;
    a DataFrame of test elements becomes a broadcast LEFT SEMI join — exactly
    the hash-set build+probe of the reference kernel
    (``src/_utils.pyx:33-46``), executed as Spark's BroadcastHashJoin.
    Returns the input with an added boolean ``isin`` column.
    """
    if isinstance(test_elements, DataFrame):
        probe = test_elements.select(F.col(test_elements.columns[0]).alias("__te")).distinct()
        hit = (
            df.join(F.broadcast(probe), on=df[column] == F.col("__te"), how="left")
            .withColumn("isin", F.col("__te").isNotNull())
            .drop("__te")
        )
        return hit
    values = [int(v) for v in test_elements]
    return df.withColumn("isin", F.col(column).isin(values))


def isin(
    element: np.ndarray,
    test_elements: np.ndarray | Sequence[int],
    num_threads: int = -1,
) -> np.ndarray:
    """Elementwise membership mask; ndarray wrapper (``utils.py:213-251``).

    int16/int32/int64 inputs only, like the reference (``utils.py:240-241``).
    """
    normalize_num_threads(num_threads)
    element = np.asarray(element)
    if element.dtype not in (np.int16, np.int32, np.int64):
        raise ValueError(
            f"Input array dtype must be one of int16, int32, int64, got {element.dtype}"
        )
    tf = encode_volume(_active_spark(), element.astype(np.int64))
    test_list = [int(v) for v in np.asarray(test_elements).ravel()]
    marked = isin_df(tf.df, VAL, test_list)
    out_tf = TensorFrame(
        df=marked.select(IMAGE_ID, *tf.coords, F.col("isin").alias(VAL)),
        shape=tf.shape,
        dtype=np.dtype(bool),
    )
    return decode_volume(out_tf, default=False)
