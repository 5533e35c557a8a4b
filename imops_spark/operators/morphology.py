"""Binary morphology: dilation/erosion/closing/opening + Euclidean distance
transform, as sparse neighbor-offset joins.

Reference semantics: ``/root/reference/imops/morphology.py:30-259`` with the
erosion/dilation duality and border rules of
``/root/reference/imops/src/_morphology.pyx:190-330`` (erosion: out-of-bounds
counts True; dilation: counts False; dilation = reflected-footprint erosion of
the complement).

Spark mapping (SURVEY.md §2.1 #5-9):
- **dilation** ``X ⊕ B``: the union of translates of X by B's offsets — only
  the *true* voxels join against the broadcast offset table, then a
  ``groupBy(coords)`` dedupes.  Shuffle volume = |trues| x |footprint|.
- **erosion** ``X ⊖ B``: a voxel dies iff some in-bounds footprint probe hits
  a false — only the *false* voxels generate "kill" positions; survivors =
  trues anti-joined with kills.  Shuffle volume = |falses| x |footprint|.
Each side processes only the minority class it needs — the same work-skipping
the reference gets from its ``boxed`` bbox optimization, obtained here from
sparsity instead.
"""

from __future__ import annotations

import warnings

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..backend import dispatch_strategy, resolve_backend
from ..tensor_io import (
    IMAGE_ID,
    VAL,
    TensorFrame,
    _active_spark,
    _blob_arrays,
    decode_volume,
    encode_volume,
)
from ..utils import normalize_num_threads

__all__ = [
    "binary_dilation",
    "binary_erosion",
    "binary_closing",
    "binary_opening",
    "binary_dilation_df",
    "binary_erosion_df",
    "distance_transform_edt",
    "edt_blobs",
    "decode_edt_blobs",
    "generate_binary_structure",
    "footprint_offsets",
]


def generate_binary_structure(rank: int, connectivity: int) -> np.ndarray:
    """Connectivity-c cross/ball structuring element (scipy-compatible)."""
    if rank < 1:
        return np.array(True, dtype=bool)
    output = np.fabs(np.indices([3] * rank) - 1)
    output = np.add.reduce(output, 0)
    return output <= connectivity


def footprint_offsets(footprint: np.ndarray) -> list[tuple[int, ...]]:
    """Offsets (pos - center) of true cells; center = shape//2 (scipy origin)."""
    footprint = np.asarray(footprint).astype(bool)
    center = np.array(footprint.shape) // 2
    return [tuple(int(v) for v in (pos - center)) for pos in np.argwhere(footprint)]


def _offsets_df(spark: SparkSession, offsets, ndim: int) -> DataFrame:
    schema = ", ".join(f"o{k} int" for k in range(ndim))
    return spark.createDataFrame([tuple(int(v) for v in o) for o in offsets], schema=schema)


def _shift_join(
    tf: TensorFrame, src: DataFrame, offsets, sign: int, flag: str, val, margin=None
) -> TensorFrame:
    """Shift ``src`` coords by ``sign`` * each offset, keep in-bounds rows and
    flag each hit coordinate once; then left-join the flags onto the dense
    grid, where ``val`` (an expression of the ``flag`` column) gives each
    row's value.  With a box ``margin`` only the grid inside each image's
    grown box joins; rows outside it are literal False."""
    offs = F.broadcast(_offsets_df(tf.df.sparkSession, offsets, tf.ndim))
    shifted = src.crossJoin(offs).select(
        IMAGE_ID,
        *[(F.col(c) + sign * F.col(f"o{k}")).alias(c) for k, c in enumerate(tf.coords)],
    )
    for k, c in enumerate(tf.coords):
        shifted = shifted.filter((F.col(c) >= 0) & (F.col(c) < tf.shape[k]))
    flags = shifted.groupBy(IMAGE_ID, *tf.coords).agg(F.lit(True).alias(flag))
    if margin is None:
        grid, grid_out = tf.df.select(IMAGE_ID, *tf.coords), None
    else:
        grid, grid_out = _split_grid_by_box(tf, margin)
    out = grid.join(flags, on=[IMAGE_ID, *tf.coords], how="left").select(
        IMAGE_ID, *tf.coords, val.alias(VAL)
    )
    if grid_out is not None:
        out = out.unionByName(
            grid_out.select(IMAGE_ID, *tf.coords, F.lit(False).alias(VAL))
        )
    return tf.with_df(out)


def _image_boxes_df(tf: TensorFrame) -> DataFrame:
    """Per-image tight bounding box of the true voxels:
    ``(image_id, lo0, hi0, lo1, hi1, ...)`` (inclusive) — the distributed
    ``box.mask_to_box`` (one map-side-combined aggregate; tiny output, one
    row per image, broadcastable)."""
    aggs = []
    for k, c in enumerate(tf.coords):
        aggs += [F.min(c).alias(f"lo{k}"), F.max(c).alias(f"hi{k}")]
    return tf.df.filter(F.col(VAL)).groupBy(IMAGE_ID).agg(*aggs)


def _split_grid_by_box(tf: TensorFrame, margin) -> tuple[DataFrame, DataFrame]:
    """Split the dense grid into (inside, outside) of each image's
    true-voxel bbox grown by ``margin`` — the TensorFrame analog of the
    reference's boxed work-skipping (``/root/reference/imops/morphology.py:
    118-151``): morphology output can only differ from the trivial value
    inside the grown box, so only that subset needs to enter the join
    shuffle; the (usually much larger) outside keeps a literal value via a
    broadcast-join filter, no shuffle.  Images with no true voxel land
    entirely in ``outside``.  Returns (grid_inside[id+coords],
    grid_outside[id+coords]); the caller attaches the trivial value."""
    boxes = _image_boxes_df(tf)
    grid = tf.df.select(IMAGE_ID, *tf.coords).join(
        F.broadcast(boxes), on=IMAGE_ID, how="left"
    )
    inside = _in_box(tf, margin, F.col("lo0").isNotNull())
    keep = [IMAGE_ID, *tf.coords]
    return grid.filter(inside).select(*keep), grid.filter(~inside | F.col("lo0").isNull()).select(*keep)


def _in_box(tf: TensorFrame, margin, pred):
    """``pred`` AND coords inside the joined ``lo{k}``/``hi{k}`` box grown by
    ``margin``."""
    for k, c in enumerate(tf.coords):
        pred = (
            pred
            & (F.col(c) >= F.col(f"lo{k}") - int(margin[k]))
            & (F.col(c) <= F.col(f"hi{k}") + int(margin[k]))
        )
    return pred


def _require_center_for_boxed(footprint: np.ndarray) -> bool:
    """Boxed pruning on the df path is exact only when the footprint
    contains its center cell: then a position's own voxel is always an
    in-bounds probe, so erosion can never be vacuously true outside the
    box (the ndarray path instead falls back near borders, reference
    ``morphology.py:140-143``)."""
    fp = np.asarray(footprint).astype(bool)
    return bool(fp[tuple(np.array(fp.shape) // 2)])


def binary_dilation_df(
    tf: TensorFrame, footprint: np.ndarray | None = None, boxed: bool = False
) -> TensorFrame:
    """Dilation of a boolean voxel table (dense in, dense out).

    Voxel tables are dense by contract (one row per coordinate) so operators
    compose; the sparse true-set is only the intermediate join input.

    ``boxed=True`` prunes the grid side of the output join to each image's
    true-voxel bbox + footprint radius: dilation hits cannot exist outside
    it, so every outside row is literally False and skips the join shuffle
    entirely (exact for any footprint — hits are generated from the full
    true set, never a cropped array, so no border fallback is needed).
    """
    footprint = generate_binary_structure(tf.ndim, 1) if footprint is None else footprint
    trues = tf.df.filter(F.col(VAL)).select(IMAGE_ID, *tf.coords)
    margin = np.array(np.asarray(footprint).shape) // 2 if boxed else None
    hit = F.coalesce(F.col("__hit"), F.lit(False))
    return _shift_join(tf, trues, footprint_offsets(footprint), +1, "__hit", hit, margin)


def binary_erosion_df(
    tf: TensorFrame, footprint: np.ndarray | None = None, boxed: bool = False
) -> TensorFrame:
    """Erosion of a boolean voxel table (dense in, dense out).

    A grid position p fails iff x[p + o] is false for some in-bounds offset o
    (out-of-bounds probes count True, the scipy/reference border rule) —
    kills are generated from false voxels as p = q - o, then erosion output =
    grid-wide survivors.  Positions where x is false can still erode to True
    only if the footprint misses every false in-bounds probe; those are
    exactly the non-killed non-true positions, handled via the full grid.

    ``boxed=True`` (centered footprints only — see
    ``_require_center_for_boxed``; off-center footprints silently run
    unboxed, mirroring the reference's border fallback) prunes BOTH join
    sides to each image's true-voxel bbox: an eroded-true position must
    itself be a true voxel (its center probe), so it lies inside the tight
    box — everything outside is literally False; and only false voxels
    within footprint-radius of that pruned grid can kill anything in it,
    so the (huge, mostly-false) kill side shrinks to a box shell.  On a
    sparse mask this removes almost the entire shuffle.
    """
    footprint = generate_binary_structure(tf.ndim, 1) if footprint is None else footprint
    boxed = boxed and _require_center_for_boxed(footprint)
    falses = tf.df.filter(~F.col(VAL)).select(IMAGE_ID, *tf.coords)
    margin = None
    if boxed:
        delta = np.array(np.asarray(footprint).shape) // 2
        # grid pruned to the TIGHT box (margin 0): eroded-true => true voxel.
        margin = np.zeros(tf.ndim, dtype=int)
        # kills hitting the tight box come from falses within radius of it.
        fb = falses.join(F.broadcast(_image_boxes_df(tf)), on=IMAGE_ID, how="inner")
        falses = fb.filter(_in_box(tf, delta, F.lit(True))).select(IMAGE_ID, *tf.coords)
    kill = F.col("__kill").isNull()
    return _shift_join(tf, falses, footprint_offsets(footprint), -1, "__kill", kill, margin)


def _np_op(op_name):
    from ..kernels import dilation_numpy, erosion_numpy

    def run(arr, footprint):
        offsets = footprint_offsets(footprint)
        if op_name == "binary_dilation":
            return dilation_numpy(arr, offsets)
        if op_name == "binary_erosion":
            return erosion_numpy(arr, offsets)
        if op_name == "binary_closing":
            return erosion_numpy(dilation_numpy(arr, offsets), offsets)
        return dilation_numpy(erosion_numpy(arr, offsets), offsets)

    return run


def _morph_wrapper(op_name, df_op):
    def wrapped(
        image,
        footprint: np.ndarray | None = None,
        output=None,
        boxed: bool = False,
        num_threads: int = -1,
        backend=None,
    ):
        strategy = resolve_backend(backend)
        normalize_num_threads(num_threads)
        if output is not None:
            raise ValueError("output= (in-place) is not supported by the Spark engine")
        if isinstance(image, TensorFrame):
            return df_op(image, footprint, boxed=boxed)
        image = np.asarray(image).astype(bool)
        ndim = image.ndim
        if footprint is None:
            footprint = generate_binary_structure(ndim, 1)
        elif not footprint.size:
            raise RuntimeError("Footprint must not be empty.")
        if np.asarray(footprint).ndim != ndim:
            raise ValueError("Input image and footprint number of dimensions must be the same.")
        # Trivial-input short-circuits, parity with morphology.py:87-97.
        if not image.any():
            warnings.warn(
                f"{op_name} is applied to the fully False mask (mask.any() == False)."
            )
            return np.zeros_like(image)
        if image.all():
            warnings.warn(
                f"{op_name} is applied to the fully True mask (mask.all() == True)."
            )
            return np.ones_like(image)

        # 'auto' size-dispatch on the full image: one-task inputs take the
        # vectorized kernel, oversized volumes the distributed plan.
        strategy_name = dispatch_strategy(strategy, image.nbytes)

        def run_full(sub):
            if strategy_name == "udf":
                # Per-image vectorized kernel — the reference's Scipy-backend
                # analog; on blob tables this runs inside Arrow tasks.
                return _np_op(op_name)(sub, np.asarray(footprint))
            tf = encode_volume(_active_spark(), sub)
            return decode_volume(df_op(tf, np.asarray(footprint)), default=False)

        if boxed:
            # Bbox work-skipping, parity with the reference's boxed_morphology
            # (morphology.py:118-151): run the op only on the mask's bounding
            # box + 2*footprint//2 margin; everything outside stays False.
            # Falls back to the full op when the support box would leave the
            # image (border effects then matter).
            from ..box import add_margin, mask_to_box, shape_to_box
            from ..utils import build_slices

            box_delta = np.asarray(np.asarray(footprint).shape) // 2
            image_box = shape_to_box(image.shape)
            tight_box = mask_to_box(image)
            supp_box = add_margin(tight_box, 2 * box_delta)
            if not ((supp_box[0] < image_box[0]).any() or (image_box[1] < supp_box[1]).any()):
                final_box = add_margin(tight_box, box_delta)
                sub = image[build_slices(supp_box[0], supp_box[1])]
                res_sub = run_full(sub)
                inner = res_sub[
                    build_slices(box_delta, np.asarray(res_sub.shape) - box_delta)
                ]
                out = np.zeros_like(image)
                out[build_slices(final_box[0], final_box[1])] = inner
                return out
        return run_full(image)

    wrapped.__name__ = op_name
    return wrapped


binary_dilation = _morph_wrapper("binary_dilation", binary_dilation_df)
binary_erosion = _morph_wrapper("binary_erosion", binary_erosion_df)


def _closing_df(tf, footprint, boxed: bool = False):
    return binary_erosion_df(
        binary_dilation_df(tf, footprint, boxed=boxed), footprint, boxed=boxed
    )


def _opening_df(tf, footprint, boxed: bool = False):
    return binary_dilation_df(
        binary_erosion_df(tf, footprint, boxed=boxed), footprint, boxed=boxed
    )


binary_closing = _morph_wrapper("binary_closing", _closing_df)
binary_opening = _morph_wrapper("binary_opening", _opening_df)


def morphology_blobs(blobs: DataFrame, op_name: str, footprint: np.ndarray | None = None) -> DataFrame:
    """Apply a morphology op per image over a blob table (udf strategy):
    one Arrow task per batch of images, vectorized numpy inside."""
    from ..tensor_io import map_blobs

    def run(arr):
        fp = generate_binary_structure(arr.ndim, 1) if footprint is None else footprint
        return _np_op(op_name)(arr.astype(bool), np.asarray(fp))

    return map_blobs(blobs, run)


# ---------------------------------------------------------------------------
# Euclidean distance transform
# ---------------------------------------------------------------------------

# Sentinel standing in for +inf in the envelope arithmetic: far above any
# reachable squared distance (<= sum_k (w_k * n_k)^2) yet finite, so every
# intersection s stays finite and the stack never needs inf special-casing.
# All envelope math runs in float32: squared distances on these grids are
# small integers (exact in fp32); the couple-of-ulp error on boundary ties
# only swaps equidistant argmins.
_EDT_BIG = np.float32(1e30)


def _plane_accumulate(a: np.ndarray, ax: int, ufunc) -> None:
    """In-place ``ufunc.accumulate(a, axis=ax)``, but as an explicit loop
    over hyperplanes when they are wide: each step is one contiguous
    vectorized op, instead of ufunc.accumulate's per-line inner loop whose
    stride along a leading axis thrashes the cache."""
    n = a.shape[ax]
    if a.size // max(n, 1) < 4096:
        ufunc.accumulate(a, axis=ax, out=a)
        return
    ix = [slice(None)] * a.ndim
    for i in range(1, n):
        cur = list(ix)
        cur[ax] = i
        prev = list(ix)
        prev[ax] = i - 1
        ufunc(a[tuple(cur)], a[tuple(prev)], out=a[tuple(cur)])


def _edt_pass_binary(sq: np.ndarray, w: float, ax: int, need_arg: bool):
    """First-axis fast path, in place along ``ax``: cells are {0, inf}, so
    the 1-D squared EDT is just distance-to-nearest-zero — two accumulate
    scans, fully vectorized, no column loop, no transposes.  Ties pick the
    lower index (any true argmin is a valid feature).  Returns the argmin
    index array when ``need_arg`` else None."""
    n = sq.shape[ax]
    far = np.int32(2 * n)
    shp1 = [1] * sq.ndim
    shp1[ax] = n
    pos = np.arange(n, dtype=np.int32).reshape(shp1)
    is0 = sq == 0.0
    last = np.where(is0, pos, np.int32(-1))
    _plane_accumulate(last, ax, np.maximum)
    nxt = np.where(is0, pos, far)
    _plane_accumulate(np.flip(nxt, axis=ax), ax, np.minimum)  # through the view
    fwd = np.where(last >= 0, pos - last, far)
    bwd = nxt - pos
    dist = np.minimum(fwd, bwd)
    arg = None
    if need_arg:
        arg = np.where(fwd <= bwd, last, nxt)
        np.clip(arg, 0, n - 1, out=arg)
    d = (np.float32(w) * dist.astype(np.float32)) ** 2
    d[dist >= far] = np.inf  # line had no zero at all
    np.copyto(sq, d)
    return arg


def _edt_sq_batch(f: np.ndarray, w: float) -> tuple[np.ndarray, np.ndarray]:
    """Felzenszwalb-Huttenlocher squared EDT along the last axis, batched.

    ``f`` is ``(R, n)`` rows of squared distances so far (``inf`` allowed);
    the column loop is Python-level (n iterations) but every step inside is
    vectorized across all R rows — no per-element Python (the round-1
    scale bug).  The stack top (parabola index / height / boundary) is
    cached in dense per-row arrays so the steady-state column step does no
    gathers at all: gathers touch only the popped/advanced row subset,
    whose total size is amortized by the push count.  Returns ``(d, arg)``;
    ``arg[r, i]`` is a true argmin parabola index for every
    finitely-reachable cell.
    """
    R, n = f.shape
    if n == 1:
        return f.astype(np.float32, copy=True), np.zeros((R, 1), dtype=np.int32)
    ff = np.where(np.isinf(f), _EDT_BIG, f).astype(np.float32, copy=False)
    w2 = np.float32(w * w)
    q2 = w2 * np.arange(n, dtype=np.float32) ** 2
    g = np.ascontiguousarray((ff + q2).T)  # (n, R) parabola heights f[p] + w²p²
    v = np.zeros((n, R), dtype=np.int32)  # per-row parabola stacks
    z = np.empty((n, R), dtype=np.float32)  # z[k] = left boundary of level k>=1
    k = np.zeros(R, dtype=np.int32)
    p_top = np.zeros(R, dtype=np.float32)  # = v[k], kept in fp32 for the s math
    g_top = g[0].copy()  # = g[v[k]]
    z_top = np.full(R, -np.inf, dtype=np.float32)  # = z[k] (z[0] == -inf)
    cols = np.arange(R)
    inv2w2 = np.float32(1.0 / (2.0 * w * w))
    for q in range(1, n):
        gq = g[q]
        fq = np.float32(q)
        s = (gq - g_top) * (inv2w2 / (fq - p_top))
        pop = s <= z_top
        while pop.any():
            idx = np.nonzero(pop)[0]
            knew = k[idx] - 1
            k[idx] = knew
            pi = v[knew, idx]
            pt = pi.astype(np.float32)
            p_top[idx] = pt
            gt = g[pi, idx]
            g_top[idx] = gt
            zt = np.where(knew > 0, z[knew, idx], np.float32(-np.inf))
            z_top[idx] = zt
            ss = (gq[idx] - gt) * (inv2w2 / (fq - pt))
            s[idx] = ss
            pop = np.zeros(R, dtype=bool)
            pop[idx[ss <= zt]] = True
        k += 1
        v[k, cols] = q
        z[k, cols] = s
        p_top[:] = fq
        np.copyto(g_top, gq)
        np.copyto(z_top, s)
    # evaluate the lower envelope left-to-right with the same caching trick
    kf = k  # final stack depth per row; z entries above kf are stale
    kk = np.zeros(R, dtype=np.int32)
    p_cur = np.zeros(R, dtype=np.float32)  # v[0] is all zeros
    i_cur = np.zeros(R, dtype=np.int32)
    f_cur = ff[:, 0].copy()
    z_next = np.where(kf > 0, z[1], np.float32(np.inf))
    dt = np.empty((n, R), dtype=np.float32)
    argt = np.empty((n, R), dtype=np.int32)
    for q in range(n):
        adv = z_next < q
        while adv.any():
            idx = np.nonzero(adv)[0]
            kn = kk[idx] + 1
            kk[idx] = kn
            pc = v[kn, idx]
            i_cur[idx] = pc
            p_cur[idx] = pc.astype(np.float32)
            f_cur[idx] = ff[idx, pc]
            zn = np.where(kn + 1 <= kf[idx], z[np.minimum(kn + 1, n - 1), idx], np.float32(np.inf))
            z_next[idx] = zn
            adv = np.zeros(R, dtype=bool)
            adv[idx[zn < q]] = True
        dq = np.float32(q) - p_cur
        dt[q] = w2 * dq * dq + f_cur
        argt[q] = i_cur
    d = np.ascontiguousarray(dt.T)
    arg = np.ascontiguousarray(argt.T)
    d[d >= _EDT_BIG / 2] = np.inf
    return d, arg


# Iterated-erosion pass budget before a slab falls back to the stack
# envelope: covers winning offsets up to this size (dense masks need ~5).
_EDT_ITER_CAP = 24


def _edt_iter_inplace(view: np.ndarray, w: float, ax: int, cap: int, need_arg: bool):
    """Iterated parabolic erosion (van den Boomgaard's decomposition of the
    quadratic structuring function), in place along ``ax``: pass k
    min-relaxes each cell against its axis neighbors plus the odd increment
    (2k-1)·w².  Consecutive odd increments sum to m²·w² along an m-step
    path, so once a pass changes nothing the array IS the exact lower
    envelope (chamfer induction: cells within the converged horizon are
    exact, and the (2k-1) constraint is tighter than any farther parabola
    needs; mixed-direction Gauss-Seidel steps within a pass only produce
    valid path costs ≥ the envelope, so they never corrupt it).  Every step
    is a sliced contiguous ufunc — SIMD, GIL-releasing, no gathers, no
    transposes — and the pass count adapts to the data (≈ the largest
    winning |q-p|; a few passes on dense masks).

    Returns ``(True, arg|None)`` on convergence (result written back into
    ``view``), or ``(False, None)`` leaving ``view`` untouched so the caller
    can run the exact stack envelope on pristine input.
    """
    nd = view.ndim
    d = np.where(np.isinf(view), _EDT_BIG, view).astype(np.float32, copy=False)
    arg = None
    if need_arg:
        shp1 = [1] * nd
        shp1[ax] = view.shape[ax]
        arg = np.empty(view.shape, dtype=np.int32)
        arg[:] = np.arange(view.shape[ax], dtype=np.int32).reshape(shp1)
    head = [slice(None)] * nd
    head[ax] = slice(None, -1)
    head = tuple(head)
    tail = [slice(None)] * nd
    tail[ax] = slice(1, None)
    tail = tuple(tail)
    w2 = np.float32(w * w)
    for k in range(1, cap + 1):
        c = np.float32(2 * k - 1) * w2
        changed = False
        cand = d[head] + c
        mask = cand < d[tail]
        if mask.any():
            np.copyto(d[tail], cand, where=mask)
            if need_arg:
                np.copyto(arg[tail], arg[head], where=mask)
            changed = True
        cand = d[tail] + c
        mask = cand < d[head]
        if mask.any():
            np.copyto(d[head], cand, where=mask)
            if need_arg:
                np.copyto(arg[head], arg[tail], where=mask)
            changed = True
        if not changed:
            d[d >= _EDT_BIG / 2] = np.inf
            np.copyto(view, d)
            return True, arg
    return False, None


def _edt_pass(
    sq: np.ndarray, w: float, ax: int, num_threads: int, need_arg: bool, binary: bool
):
    """One separable squared-EDT pass along ``ax``, in place on ``sq``.

    Lines along ``ax`` are independent, so the volume is split into slabs
    along an orthogonal axis and fanned out on a thread pool — all kernel
    steps are big contiguous ufuncs that release the GIL.  Slabs whose
    winning offsets exceed the iterated-erosion budget individually fall
    back to the exact stack envelope (transposed to rows just for that
    slab).  Returns the argmin index array when ``need_arg`` else None.
    """
    nd = sq.ndim
    n = sq.shape[ax]
    if n == 1:
        return np.zeros(sq.shape, dtype=np.int32) if need_arg else None
    arg_out = np.empty(sq.shape, dtype=np.int32) if need_arg else None

    def run(slab):
        view = sq[slab]
        if binary:
            arg = _edt_pass_binary(view, w, ax, need_arg)
            if need_arg:
                arg_out[slab] = arg
            return
        ok, arg = _edt_iter_inplace(view, w, ax, _EDT_ITER_CAP, need_arg)
        if ok:
            if need_arg:
                arg_out[slab] = arg
            return
        moved = np.moveaxis(view, ax, -1)
        shp = moved.shape
        flat = np.ascontiguousarray(moved).reshape(-1, n)
        d2, a2 = _edt_sq_batch(flat, w)
        np.copyto(moved, d2.reshape(shp))
        if need_arg:
            arg_out[slab] = np.moveaxis(a2.reshape(shp), -1, ax)

    s_ax = 0 if ax != 0 else (1 if nd > 1 else None)
    if s_ax is None or num_threads <= 1 or sq.shape[s_ax] < 2 * num_threads:
        run((slice(None),) * nd)
        return arg_out
    m = sq.shape[s_ax]
    bounds = np.linspace(0, m, 2 * num_threads + 1).astype(int)
    slabs = []
    for i in range(len(bounds) - 1):
        if bounds[i] == bounds[i + 1]:
            continue
        sl = [slice(None)] * nd
        sl[s_ax] = slice(int(bounds[i]), int(bounds[i + 1]))
        slabs.append(tuple(sl))
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(num_threads, len(slabs))) as ex:
        list(ex.map(run, slabs))
    return arg_out


def edt_numpy(
    image: np.ndarray, sampling=None, return_distances=True, return_indices=False,
    num_threads: int = 1,
):
    """Exact EDT in pure numpy (separable lower-envelope passes, row-batched).

    The per-image kernel executed inside ``map_blobs`` by the distributed
    path; also the test oracle (the reference delegates to the external
    ``edt``/scipy C++ kernels, ``morphology.py:499-507``).  Each axis pass
    runs the batched envelope over all rows at once (``_edt_sq_batch``),
    optionally fanned out over row blocks on ``num_threads`` threads.
    """
    image = np.asarray(image).astype(bool)
    ndim = image.ndim
    if sampling is None:
        sampling = (1.0,) * ndim
    elif np.isscalar(sampling):
        sampling = (float(sampling),) * ndim
    sq = np.where(image, np.float32(np.inf), np.float32(0.0))
    feat = None
    if return_indices:
        feat = [np.ascontiguousarray(ix) for ix in np.indices(image.shape, dtype=np.int32)]
    for ax in range(ndim):
        arg = _edt_pass(
            sq, float(sampling[ax]), ax, num_threads,
            need_arg=return_indices, binary=(ax == 0),
        )
        if return_indices:
            for a in range(ndim):
                feat[a] = np.take_along_axis(feat[a], arg, axis=ax)
    if return_indices:
        feat = np.stack(feat)
    res = []
    if return_distances:
        # sqrt in float64: the fp32 squared distances are exact small
        # integers (unit sampling), so the widened sqrt is full-precision.
        # Upcast-copy into the output, then sqrt in place (forces the f64
        # loop); threaded because this numpy's sqrt is a scalar loop.
        dist = np.empty(sq.shape, dtype=np.float64)

        def _sq(sl):
            np.copyto(dist[sl], sq[sl])
            np.sqrt(dist[sl], out=dist[sl])

        if num_threads > 1 and sq.ndim > 1 and sq.shape[0] >= num_threads:
            from concurrent.futures import ThreadPoolExecutor

            bounds = np.linspace(0, sq.shape[0], 2 * num_threads + 1).astype(int)
            with ThreadPoolExecutor(max_workers=num_threads) as ex:
                list(ex.map(_sq, [slice(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]))
        else:
            _sq(slice(None))
        res.append(dist)
    if return_indices:
        res.append(feat.astype(np.int32))
    return res[0] if len(res) == 1 else tuple(res)


def distance_transform_edt(
    image,
    sampling=None,
    return_distances: bool = True,
    return_indices: bool = False,
    num_threads: int = -1,
    backend=None,
):
    """Exact Euclidean distance transform (parity ``morphology.py:372-521``).

    ndarray path runs the numpy kernel directly; TensorFrame/blob-table paths
    go through ``tensor_io.map_blobs`` (one Arrow task per image) — EDT's
    separable 3-pass structure is inherently per-volume, the documented UDF
    backend of this engine (SURVEY.md §2.1 #9).
    """
    resolve_backend(backend)
    n_threads = normalize_num_threads(num_threads)
    if not (return_distances or return_indices):
        raise RuntimeError("At least one of `return_distances`/`return_indices` must be True")
    if isinstance(image, DataFrame):  # blob table
        from ..tensor_io import map_blobs

        if return_indices:
            # one thread per image: the Arrow tasks already run concurrently
            return edt_blobs(
                image, sampling,
                return_distances=return_distances, return_indices=return_indices,
            )
        return map_blobs(image, lambda a: edt_numpy(a, sampling).astype(np.float32))
    return edt_numpy(
        np.asarray(image), sampling, return_distances=return_distances,
        return_indices=return_indices, num_threads=n_threads,
    )


def edt_blobs(
    image_df: DataFrame, sampling=None, return_distances: bool = True,
    return_indices: bool = True,
) -> DataFrame:
    """EDT over a blob table with feature indices (reference
    ``morphology.py:499-507`` returns (distances, indices); this is the
    multi-output blob twin): ``(image_id, shape, distances, indices)`` where
    ``distances`` is a float32 buffer of ``shape`` (NULL unless requested)
    and ``indices`` an int32 buffer of ``[ndim, *shape]`` — the nearest
    background coordinate per axis, scipy's return_indices layout.  Decode
    with :func:`decode_edt_blobs`.  One Arrow task per partition, images
    independent (same scaling shape as ``tensor_io.map_blobs``)."""

    def run(batches):
        import pyarrow as pa

        for image_id, arr in _blob_arrays(batches):
            res = edt_numpy(
                arr, sampling,
                return_distances=return_distances, return_indices=return_indices,
            )
            if return_distances and return_indices:
                dist, idx = res
            elif return_indices:
                dist, idx = None, res
            else:
                dist, idx = res, None
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([image_id], type=pa.int64()),
                    pa.array([[int(s) for s in arr.shape]], type=pa.list_(pa.int32())),
                    pa.array(
                        [dist.astype(np.float32).tobytes() if dist is not None else None],
                        type=pa.binary(),
                    ),
                    pa.array(
                        [idx.astype(np.int32).tobytes() if idx is not None else None],
                        type=pa.binary(),
                    ),
                ],
                names=["image_id", "shape", "distances", "indices"],
            )

    return image_df.mapInArrow(
        run, "image_id long, shape array<int>, distances binary, indices binary"
    )


def decode_edt_blobs(df: DataFrame) -> dict:
    """Collect :func:`edt_blobs` output: ``{image_id: (distances|None,
    indices|None)}`` with scipy-shaped arrays."""
    out = {}
    for row in df.collect():
        shape = list(row["shape"])
        dist = idx = None
        if row["distances"] is not None:
            dist = np.frombuffer(row["distances"], dtype=np.float32).reshape(shape)
        if row["indices"] is not None:
            idx = np.frombuffer(row["indices"], dtype=np.int32).reshape([len(shape)] + shape)
        out[int(row["image_id"])] = (dist, idx)
    return out
