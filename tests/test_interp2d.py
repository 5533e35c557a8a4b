"""Tests for Linear2DInterpolator: Delaunay invariants + interpolation
properties (the reference tests vs scipy.griddata with loose tolerances;
scipy is unavailable here so we check the defining properties exactly)."""

import numpy as np
import pytest
from numpy.testing import assert_allclose

from imops_spark.operators.interp2d import (
    Linear2DInterpolator,
    delaunay_bw,
    interp2d_batch_df,
)


def test_delaunay_square():
    pts = np.array([[0, 0], [0, 1], [1, 0], [1, 1]], dtype=float)
    tris = delaunay_bw(pts)
    assert len(tris) == 2  # two triangles tile the square


def test_delaunay_empty_circumcircles():
    """Delaunay property: no point lies strictly inside any circumcircle."""
    np.random.seed(3)
    pts = np.unique(np.random.randint(0, 50, size=(40, 2)), axis=0).astype(float)
    tris = delaunay_bw(pts)
    for t in tris:
        a, b, c = pts[t]
        d = 2 * (a[0] * (b[1] - c[1]) + b[0] * (c[1] - a[1]) + c[0] * (a[1] - b[1]))
        ux = ((a @ a) * (b[1] - c[1]) + (b @ b) * (c[1] - a[1]) + (c @ c) * (a[1] - b[1])) / d
        uy = ((a @ a) * (c[0] - b[0]) + (b @ b) * (a[0] - c[0]) + (c @ c) * (b[0] - a[0])) / d
        center = np.array([ux, uy])
        r2 = ((a - center) ** 2).sum()
        dists = ((pts - center) ** 2).sum(axis=1)
        strictly_inside = dists < r2 * (1 - 1e-9)
        strictly_inside[t] = False
        assert not strictly_inside.any()


def test_interp_exact_at_knots():
    np.random.seed(4)
    pts = np.unique(np.random.randint(0, 100, size=(60, 2)), axis=0).astype(float)
    vals = np.random.rand(len(pts))
    f = Linear2DInterpolator(pts, vals)
    assert_allclose(f(pts), vals, rtol=1e-9)


def test_interp_linear_function_reproduced():
    """Barycentric interpolation reproduces any affine function exactly."""
    np.random.seed(5)
    pts = np.unique(np.random.randint(0, 64, size=(80, 2)), axis=0).astype(float)
    vals = 3.0 * pts[:, 0] - 2.0 * pts[:, 1] + 7.0
    f = Linear2DInterpolator(pts, vals)
    # interior queries: centroids of triangles
    tris = f.triangles
    q = pts[tris].mean(axis=1)
    assert_allclose(f(q), 3.0 * q[:, 0] - 2.0 * q[:, 1] + 7.0, rtol=1e-9)


def test_fill_value_outside_hull():
    pts = np.array([[0, 0], [0, 10], [10, 0], [10, 10]], dtype=float)
    f = Linear2DInterpolator(pts, np.ones(4))
    out = f(np.array([[100.0, 100.0], [5.0, 5.0]]), fill_value=-3.0)
    assert out[0] == -3.0
    assert_allclose(out[1], 1.0, rtol=1e-9)


def test_values_in_call_override():
    pts = np.array([[0, 0], [0, 2], [2, 0]], dtype=float)
    f = Linear2DInterpolator(pts, np.zeros(3))
    out = f(np.array([[0.5, 0.5]]), values=np.array([3.0, 3.0, 3.0]))
    assert_allclose(out, [3.0])


def test_validation_errors():
    pts = np.array([[0, 0], [0, 2], [2, 0]], dtype=float)
    with pytest.raises(TypeError):
        Linear2DInterpolator([[0, 0]])
    with pytest.raises(ValueError):
        Linear2DInterpolator(np.zeros((3, 3)))
    with pytest.raises(ValueError):
        Linear2DInterpolator(pts, np.zeros((2, 2)))
    f = Linear2DInterpolator(pts)
    with pytest.raises(ValueError):
        f(np.array([[0.5, 0.5]]))
    with pytest.raises(ValueError):
        Linear2DInterpolator(pts, triangles=np.zeros((2, 4), dtype=int))


def test_precomputed_triangles():
    pts = np.array([[0, 0], [0, 2], [2, 0], [2, 2]], dtype=float)
    tris = delaunay_bw(pts)
    f = Linear2DInterpolator(pts, np.arange(4.0), triangles=tris)
    assert_allclose(f(pts), np.arange(4.0), rtol=1e-9)


GOLDEN = "/root/reference/tests/test_data"
# without the reference's CT fixtures these three cases SKIP: they are not
# coverage on such a run, and the test report counts them as skipped
needs_golden = pytest.mark.skipif(
    not __import__("os").path.isdir(GOLDEN),
    reason="reference golden CT data absent: golden interp2d case not run",
)


def _circumcircle_ok(pts, tris, sample=250):
    """Empty-circumcircle spot check of a triangulation over real data."""
    rng = np.random.default_rng(11)
    pick = rng.choice(len(tris), size=min(sample, len(tris)), replace=False)
    for t in tris[pick]:
        a, b, c = pts[t]
        d = 2 * (a[0] * (b[1] - c[1]) + b[0] * (c[1] - a[1]) + c[0] * (a[1] - b[1]))
        if d == 0:
            continue
        ux = ((a @ a) * (b[1] - c[1]) + (b @ b) * (c[1] - a[1]) + (c @ c) * (a[1] - b[1])) / d
        uy = ((a @ a) * (c[0] - b[0]) + (b @ b) * (a[0] - c[0]) + (c @ c) * (b[0] - a[0])) / d
        center = np.array([ux, uy])
        r2 = ((a - center) ** 2).sum()
        dists = ((pts - center) ** 2).sum(axis=1)
        inside = dists < r2 * (1 - 1e-7)
        inside[t] = False
        if inside.any():
            return False
    return True


@needs_golden
def test_golden_ct_small_case():
    """Reference CT fixture arr_2/val_2 (the reference's 'small case',
    test_interp2d.py:57-76): full 8k-knot triangulation + interpolation.
    scipy is unavailable here, so instead of |ours - griddata| <= 1.5 we
    assert the defining properties on the same real data: the triangulation
    is Delaunay, knots reproduce exactly, and interior values stay within
    the knot-value envelope (barycentric convexity)."""
    from imops_spark.tensor_io import load_npy_gz

    x = load_npy_gz(f"{GOLDEN}/arr_2.npy.gz")
    vals = load_npy_gz(f"{GOLDEN}/val_2.npy.gz").astype(np.float64)
    x_points = np.transpose(x.nonzero()).astype(np.float64)
    int_points = np.transpose((~x).nonzero()).astype(np.float64)

    f = Linear2DInterpolator(x_points, vals)
    assert _circumcircle_ok(x_points, f.triangles)

    rng = np.random.default_rng(12)
    knot_pick = rng.choice(len(x_points), size=1500, replace=False)
    assert_allclose(f(x_points[knot_pick]), vals[knot_pick], rtol=1e-9, atol=1e-9)

    q_pick = rng.choice(len(int_points), size=2000, replace=False)
    got = f(int_points[q_pick], fill_value=0.0)
    lo = min(0.0, vals.min()) - 1e-6 * np.ptp(vals)
    hi = max(0.0, vals.max()) + 1e-6 * np.ptp(vals)
    assert np.isfinite(got).all() and (got >= lo).all() and (got <= hi).all()


@needs_golden
def test_golden_ct_big_case_subsampled():
    """Reference CT fixture arr_0 (NaN-marked 'big case'): 70k knots is out
    of range for the O(n^2) driver triangulation, so validate on a 3k-knot
    subsample of the same real distribution."""
    from imops_spark.tensor_io import load_npy_gz

    x = load_npy_gz(f"{GOLDEN}/arr_0.npy.gz")
    knots = np.transpose((~np.isnan(x)).nonzero())
    rng = np.random.default_rng(13)
    pick = rng.choice(len(knots), size=3000, replace=False)
    x_points = knots[pick].astype(np.float64)
    vals = x[~np.isnan(x)][pick].astype(np.float64)

    f = Linear2DInterpolator(x_points, vals)
    assert _circumcircle_ok(x_points, f.triangles)
    check = rng.choice(len(x_points), size=1000, replace=False)
    assert_allclose(f(x_points[check]), vals[check], rtol=1e-9, atol=1e-9)

    queries = np.transpose(np.isnan(x).nonzero()).astype(np.float64)
    q_pick = rng.choice(len(queries), size=1500, replace=False)
    got = f(queries[q_pick], fill_value=0.0)
    lo = min(0.0, vals.min()) - 1e-6 * np.ptp(vals)
    hi = max(0.0, vals.max()) + 1e-6 * np.ptp(vals)
    assert np.isfinite(got).all() and (got >= lo).all() and (got <= hi).all()


@needs_golden
def test_golden_ct_batch_df_parity(spark):
    """The distributed applyInPandas path must agree with the local class on
    the real CT fixture (same kernels, Spark plumbing under test)."""
    from imops_spark.tensor_io import load_npy_gz

    x = load_npy_gz(f"{GOLDEN}/arr_3.npy.gz")
    vals = load_npy_gz(f"{GOLDEN}/val_3.npy.gz").astype(np.float64)
    knots = np.transpose(x.nonzero())
    queries = np.transpose((~x).nonzero())
    rng = np.random.default_rng(14)
    kp = rng.choice(len(knots), size=1200, replace=False)
    qp = rng.choice(len(queries), size=1200, replace=False)
    kpts, kvals, qpts = knots[kp], vals[kp], queries[qp]
    # interp2d_batch_df canonicalizes knot order (sorted by (x, y)) before
    # triangulating; near-cocircular configs make the triangulation — and a
    # few hull-edge queries — insertion-order-dependent, so the local twin
    # must use the same order.
    order = np.lexsort((kpts[:, 1], kpts[:, 0]))
    kpts, kvals = kpts[order], kvals[order]

    f = Linear2DInterpolator(kpts.astype(np.float64), kvals)
    exp = f(qpts.astype(np.float64), fill_value=0.0)

    rows = [(0, int(i), int(j), float(v)) for (i, j), v in zip(kpts, kvals)]
    rows += [(0, int(i), int(j), None) for i, j in qpts]
    df = spark.createDataFrame(rows, "set_id long, x long, y long, v double")
    out = {(r["x"], r["y"]): r["v_interp"] for r in interp2d_batch_df(df, fill_value=0.0).collect()}
    got = np.array([out[(int(i), int(j))] for i, j in qpts])
    assert_allclose(got, exp, rtol=1e-9, atol=1e-9)


def test_interp2d_batch_df(spark):
    np.random.seed(6)
    rows = []
    expected = {}
    for set_id in range(3):
        pts = np.unique(np.random.randint(0, 40, size=(50, 2)), axis=0).astype(float)
        vals = 2.0 * pts[:, 0] + pts[:, 1]
        n_knots = len(pts) * 2 // 3
        for (x, y), v in zip(pts[:n_knots], vals[:n_knots]):
            rows.append((set_id, int(x), int(y), float(v)))
        for x, y in pts[n_knots:]:
            rows.append((set_id, int(x), int(y), None))
        f = Linear2DInterpolator(pts[:n_knots], vals[:n_knots])
        got_local = f(pts[n_knots:], fill_value=np.nan)
        for (x, y), v in zip(pts[n_knots:], got_local):
            expected[(set_id, int(x), int(y))] = v
    df = spark.createDataFrame(rows, "set_id long, x long, y long, v double")
    out = interp2d_batch_df(df, fill_value=np.nan).collect()
    assert len(out) == len(expected)
    for r in out:
        exp = expected[(r["set_id"], r["x"], r["y"])]
        got = r["v_interp"]
        if np.isnan(exp):
            # pandas NaN -> Arrow null on the Spark side
            assert got is None or np.isnan(got)
        else:
            assert_allclose(got, exp, rtol=1e-9)
