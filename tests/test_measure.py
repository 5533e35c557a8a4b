"""Differential tests for center_of_mass / label vs pure-numpy oracles.

The reference tests against scipy/skimage (tests/test_measure.py of the
reference); scipy is unavailable in this container, so the oracles are small
exact numpy re-derivations of the same definitions.
"""

import numpy as np
import pytest
from numpy.testing import assert_allclose, assert_array_equal

from imops_spark import center_of_mass, label


def np_center_of_mass(a):
    idx = np.indices(a.shape)
    m = a.sum()
    return tuple(float((a * idx[k]).sum() / m) for k in range(a.ndim))


def np_label(a, background=0, connectivity=None):
    """Flood-fill CC oracle with skimage numbering (raster first-encounter)."""
    connectivity = connectivity or a.ndim
    offsets = []
    for raw in np.ndindex(*([3] * a.ndim)):
        off = tuple(v - 1 for v in raw)
        nz = sum(1 for v in off if v != 0)
        if 1 <= nz <= connectivity:
            offsets.append(off)
    out = np.zeros(a.shape, dtype=np.int64)
    nxt = 1
    for start in np.ndindex(*a.shape):
        if a[start] == background or out[start]:
            continue
        stack = [start]
        out[start] = nxt
        v = a[start]
        while stack:
            p = stack.pop()
            for off in offsets:
                q = tuple(p[k] + off[k] for k in range(a.ndim))
                if all(0 <= q[k] < a.shape[k] for k in range(a.ndim)):
                    if a[q] == v and not out[q]:
                        out[q] = nxt
                        stack.append(q)
        nxt += 1
    return out, nxt - 1


@pytest.mark.parametrize("shape", [(7,), (5, 6), (4, 5, 6)])
def test_center_of_mass_global(spark, shape):
    a = np.abs(np.random.randn(*shape)) + 0.01
    assert_allclose(center_of_mass(a), np_center_of_mass(a), rtol=1e-6)


def test_center_of_mass_bool(spark):
    a = np.random.binomial(1, 0.5, (6, 7)).astype(bool)
    a[0, 0] = True
    assert_allclose(center_of_mass(a), np_center_of_mass(a.astype(float)), rtol=1e-6)


def test_center_of_mass_labeled(spark):
    a = np.abs(np.random.randn(8, 9)) + 0.01
    labels = np.random.randint(0, 4, size=a.shape)
    index = [1, 2, 3]
    got = center_of_mass(a, labels, index)
    for i, lbl in enumerate(index):
        mask = labels == lbl
        m = a[mask].sum()
        idx = np.nonzero(mask)
        exp = tuple(float((a[mask] * idx[k]).sum() / m) for k in range(a.ndim))
        assert_allclose(got[i], exp, rtol=1e-6)


@pytest.mark.parametrize("connectivity", [1, 2])
def test_label_2d_bool(spark, connectivity):
    a = np.random.binomial(1, 0.4, (12, 13)).astype(bool)
    got = label(a, connectivity=connectivity)
    exp, n = np_label(a.astype(int), connectivity=connectivity)
    assert_array_equal(got.astype(np.int64), exp)


def test_label_multivalue(spark):
    a = np.random.randint(0, 3, size=(10, 11))
    got, num = label(a, return_num=True)
    exp, n = np_label(a)
    assert num == n
    assert_array_equal(got.astype(np.int64), exp)


def test_label_sizes_and_labels(spark):
    a = np.random.binomial(1, 0.4, (9, 9)).astype(bool)
    got, num, labels_arr, sizes = label(a, return_num=True, return_labels=True, return_sizes=True)
    exp, n = np_label(a.astype(int))
    assert num == n
    assert_array_equal(labels_arr, np.arange(1, n + 1))
    exp_sizes = np.array([(exp == i).sum() for i in range(1, n + 1)])
    assert_array_equal(sizes, exp_sizes)


def test_label_join_num_labels_sizes(spark):
    """The distributed path's num, labels and sizes match the oracle."""
    a = np.random.randint(0, 3, size=(7, 8))
    got, num, labels_arr, sizes = label(
        a, return_num=True, return_labels=True, return_sizes=True, backend="join"
    )
    exp, n = np_label(a)
    assert num == n
    assert_array_equal(got.astype(np.int64), exp)
    assert_array_equal(labels_arr, np.arange(1, n + 1))
    assert_array_equal(sizes, np.bincount(exp.ravel())[1:])


def test_label_background(spark):
    a = np.random.randint(0, 3, size=(8, 8))
    got = label(a, background=2)
    exp, _ = np_label(a, background=2)
    assert_array_equal(got.astype(np.int64), exp)


def test_label_1d(spark):
    a = np.array([1, 1, 0, 1, 0, 0, 1, 1, 1])
    got, num = label(a, return_num=True)
    exp = np.array([1, 1, 0, 2, 0, 0, 3, 3, 3])
    assert num == 3
    assert_array_equal(got.astype(np.int64), exp)


def test_label_connectivity_validation(spark):
    a = np.zeros((4, 4), dtype=bool)
    with pytest.raises(ValueError):
        label(a, connectivity=3)
    with pytest.raises(ValueError):  # 0 must not be coerced to full connectivity
        label(a, connectivity=0)


def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return {n: min(m for m in nodes if find(m) == find(n)) for n in nodes}


def test_connected_components_driver_and_fixpoint_paths_agree(spark):
    """The two kernel-solve paths — driver union-find under the threshold and
    the distributed fixpoint above it (forced with threshold=0) — must give
    identical components, and both must match a plain python union-find."""
    import random

    from imops_spark.operators.graph import connected_components_df

    rng = random.Random(42)
    nodes = list(range(200))
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    exp = _uf_components(edges, sorted({n for e in edges for n in e}))

    edf = spark.createDataFrame(edges, "src long, dst long").repartition(8)
    got_driver = {
        r["node"]: r["comp"] for r in connected_components_df(edf).collect()
    }
    got_fix = {
        r["node"]: r["comp"]
        for r in connected_components_df(edf, driver_solve_threshold=0).collect()
    }
    assert got_driver == exp
    assert got_fix == exp


def test_connected_components_isolated_nodes_and_parts(spark):
    """Isolated nodes keep comp=node on both paths; partition_cols keep
    same-id nodes of different groups in separate components."""
    from imops_spark.operators.graph import connected_components_df

    edges = spark.createDataFrame(
        [("a", 1, 2), ("a", 2, 3), ("b", 1, 9)], "g string, src long, dst long"
    )
    nodes = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("a", 7), ("b", 1), ("b", 9), ("b", 5)],
        "g string, node long",
    )
    for thr in (2_000_000, 0):
        got = {
            (r["g"], r["node"]): r["comp"]
            for r in connected_components_df(
                edges, nodes=nodes, partition_cols=["g"], driver_solve_threshold=thr
            ).collect()
        }
        assert got == {
            ("a", 1): 1, ("a", 2): 1, ("a", 3): 1, ("a", 7): 7,
            ("b", 1): 1, ("b", 9): 1, ("b", 5): 5,
        }, got


def test_connected_components_empty_edges(spark):
    from imops_spark.operators.graph import connected_components_df

    edges = spark.createDataFrame([], "src long, dst long")
    nodes = spark.createDataFrame([(4,), (8,)], "node long")
    got = {r["node"]: r["comp"] for r in connected_components_df(edges, nodes=nodes).collect()}
    assert got == {4: 4, 8: 8}
    assert connected_components_df(edges).count() == 0


def test_connected_components_long_path_graph(spark):
    """A single 400-node path — the worst case for plain neighbor-min
    propagation (O(diameter) rounds).  The per-partition contraction
    collapses each partition's chain segment to a star first, so both the
    driver solve and the forced distributed fixpoint finish quickly and
    agree: one component rooted at node 0."""
    from imops_spark.operators.graph import connected_components_df

    edges = [(i, i + 1) for i in range(399)]
    edf = spark.createDataFrame(edges, "src long, dst long").repartition(16)
    for thr in (2_000_000, 0):
        got = {
            r["node"]: r["comp"]
            for r in connected_components_df(edf, driver_solve_threshold=thr).collect()
        }
        assert got == {i: 0 for i in range(400)}, thr


def _serpentine(n):
    """One component winding through an n x n grid: full corridors on even
    rows, each joined to the next by one gap at alternating ends, so its
    geodesic diameter is about n^2 / 2."""
    a = np.zeros((n, n), dtype=bool)
    a[::2] = True
    for r in range(1, n, 2):
        a[r, -1 if (r // 2) % 2 == 0 else 0] = True
    return a


def test_label_numpy_serpentine_is_not_diameter_bound():
    """Min-label propagation alone needs sweeps in proportion to the
    component's diameter (~32k voxels here); the pointer jump after each
    sweep keeps this 256^2 serpentine well inside 5 s."""
    import time

    from imops_spark.kernels import label_numpy

    a = _serpentine(256)
    t0 = time.perf_counter()
    got, n = label_numpy(a)
    elapsed = time.perf_counter() - t0
    want, n_want = np_label(a)
    assert n == n_want == 1
    assert_array_equal(got, want)
    assert elapsed < 5.0, elapsed


def test_label_numpy_matches_oracle_on_bench_masks():
    """``label_blobs``' benchmark inputs (the seed-1 ellipsoid masks of the
    ``imaging`` workload): the benchmark checks ``label_blobs`` against
    ``label_numpy`` itself, so this flood fill is the independent check."""
    from imops_spark.kernels import label_numpy
    from perfbench.workloads import BLOB_SHAPES, Imaging

    masks = Imaging("").volumes(1)[1]
    assert [m.shape for m in masks.values()] == list(BLOB_SHAPES)
    for mask in masks.values():
        got, n = label_numpy(mask)
        want, n_want = np_label(mask)
        assert n == n_want
        assert_array_equal(got, want)
