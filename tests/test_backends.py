"""Backend-strategy tests: 'join' (relational) and 'udf' (numpy-kernel)
strategies must agree exactly; blob-table execution round-trips; the
reference's backend-name aliases resolve."""

import numpy as np
import pytest
from numpy.testing import assert_allclose, assert_array_equal

from imops_spark import (
    binary_closing,
    binary_dilation,
    binary_erosion,
    imops_backend,
    set_backend,
    zoom,
)
from imops_spark.backend import get_backend, resolve_backend
from imops_spark.operators.morphology import generate_binary_structure, morphology_blobs
from imops_spark.tensor_io import decode_blobs, encode_blobs, load_npy_gz


def test_backend_aliases():
    assert resolve_backend("Cython").name == "join"
    assert resolve_backend("Numba").name == "join"
    assert resolve_backend("Scipy").name == "udf"
    with pytest.raises(ValueError):
        resolve_backend("alien")


def test_auto_dispatch_by_size():
    """'auto' resolves to the udf kernel under the one-task threshold and the
    distributed join plan above it; explicit names pass through."""
    from imops_spark.backend import AUTO_UDF_MAX_BYTES, dispatch_strategy

    auto = resolve_backend(None)
    assert auto.name == "auto"
    assert dispatch_strategy(auto, 1024) == "udf"
    assert dispatch_strategy(auto, AUTO_UDF_MAX_BYTES) == "udf"
    assert dispatch_strategy(auto, AUTO_UDF_MAX_BYTES + 1) == "join"
    assert dispatch_strategy(resolve_backend("join"), 1024) == "join"
    assert dispatch_strategy(resolve_backend("udf"), 10**12) == "udf"


def test_auto_dispatch_label_runs_kernel(spark):
    """Default (auto) label on a small array must take the in-process kernel:
    no Spark job may run.  Regression for the 'auto is a misnomer' defect —
    a 9x9 label used to spend minutes in the distributed CC fixpoint."""
    from imops_spark import label
    from tests.test_measure import np_label

    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    a = np.random.binomial(1, 0.4, (9, 9)).astype(bool)
    a[0, 0] = True
    got, n = label(a, return_num=True)
    exp, n_exp = np_label(a.astype(int))
    assert n == n_exp
    assert_array_equal(got.astype(np.int64), exp)
    assert tracker.getJobIdsForGroup(None) == before  # zero Spark jobs


def test_backend_context_manager():
    assert get_backend() == "auto"
    with imops_backend("udf"):
        assert get_backend() == "udf"
        with imops_backend("join"):
            assert get_backend() == "join"
        assert get_backend() == "udf"
    assert get_backend() == "auto"
    set_backend("join")
    assert get_backend() == "join"
    set_backend("auto")


@pytest.mark.parametrize("op", [binary_dilation, binary_erosion, binary_closing])
def test_join_udf_agree_morphology(spark, op):
    x = np.random.binomial(1, 0.5, (9, 10)).astype(bool)
    x[0, 0], x[-1, -1] = True, False
    fp = np.array([[0, 1, 0], [1, 1, 1], [0, 0, 1]], dtype=bool)
    a = op(x, fp, backend="join")
    b = op(x, fp, backend="udf")
    assert_array_equal(a, b)


@pytest.mark.parametrize("order", [0, 1])
def test_join_udf_agree_zoom(spark, order):
    x = np.random.randn(7, 8)
    a = zoom(x, 1.6, order=order, backend="join")
    b = zoom(x, 1.6, order=order, backend="udf")
    assert_allclose(a, b, rtol=1e-12)


def test_zoom_udf_4d():
    x = np.random.randn(3, 4, 5, 6)
    out = zoom(x, [1.5, 1.0, 0.8, 1.2], backend="udf")
    assert out.shape == (round(3 * 1.5), 4, round(5 * 0.8), round(6 * 1.2))


def test_morphology_blobs(spark):
    arrays = {}
    for i in range(3):
        a = np.random.binomial(1, 0.5, (8, 9)).astype(bool)
        a[0, 0], a[-1, -1] = True, False  # avoid trivial short-circuit shapes
        arrays[i] = a
    blobs = encode_blobs(spark, arrays)
    out = decode_blobs(morphology_blobs(blobs, "binary_dilation"))
    fp = generate_binary_structure(2, 1)
    for i, a in arrays.items():
        assert_array_equal(out[i].astype(bool), binary_dilation(a, fp, backend="udf"))


def test_load_npy_gz(tmp_path):
    import gzip
    import io

    arr = np.random.randn(4, 5)
    buf = io.BytesIO()
    np.save(buf, arr)
    p = tmp_path / "x.npy.gz"
    with gzip.open(p, "wb") as f:
        f.write(buf.getvalue())
    assert_array_equal(load_npy_gz(str(p)), arr)


def test_label_udf_backend(spark):
    from imops_spark import label
    from tests.test_measure import np_label

    for shape, conn in [((14, 15), 1), ((14, 15), 2), ((6, 7, 8), 3)]:
        a = np.random.binomial(1, 0.4, shape).astype(bool)
        a.flat[0] = True
        got, n = label(a, return_num=True, connectivity=conn, backend="udf")
        exp, n_exp = np_label(a.astype(int), connectivity=conn)
        assert n == n_exp
        assert_array_equal(got.astype(np.int64), exp)


def test_label_udf_multivalue_sizes(spark):
    from imops_spark import label
    from tests.test_measure import np_label

    a = np.random.randint(0, 3, size=(12, 12))
    got, n, labels_arr, sizes = label(
        a, return_num=True, return_labels=True, return_sizes=True, backend="udf"
    )
    exp, n_exp = np_label(a)
    assert n == n_exp
    assert_array_equal(got.astype(np.int64), exp)
    assert_array_equal(sizes, np.array([(exp == i).sum() for i in range(1, n + 1)]))


def test_label_join_udf_agree(spark):
    from imops_spark import label

    a = np.random.binomial(1, 0.45, (10, 10)).astype(bool)
    a[0, 0] = True
    assert_array_equal(
        label(a, backend="join").astype(np.int64),
        label(a, backend="udf").astype(np.int64),
    )


def test_interp1d_join_udf_agree(spark):
    from imops_spark.operators.interp1d import interp1d

    x = np.sort(np.random.rand(12)) * 10
    y = np.random.randn(4, 5, 12)
    x_new = np.concatenate([np.random.rand(15) * 9 + 0.5, [-1.0, 11.0]])
    fj = interp1d(x, y, assume_sorted=True, bounds_error=False, fill_value=-3.0, backend="join")
    fu = interp1d(x, y, assume_sorted=True, bounds_error=False, fill_value=-3.0, backend="udf")
    assert_allclose(fj(x_new), fu(x_new), rtol=1e-12)
    fj2 = interp1d(x, y, assume_sorted=True, fill_value="extrapolate", backend="join")
    fu2 = interp1d(x, y, assume_sorted=True, fill_value="extrapolate", backend="udf")
    assert_allclose(fj2(x_new), fu2(x_new), rtol=1e-12)


def test_reference_backend_classes_are_drop_in(spark):
    """`from imops import Cython` ports verbatim: class, instance, string and
    Backend.Cython attribute forms all resolve; Cython(fast=True) warns like
    the reference (/root/reference/imops/backend.py:44-45)."""
    import warnings

    from imops_spark import Backend, Cython, Numba, Scipy, binary_dilation
    from imops_spark.backend import resolve_backend

    assert resolve_backend(Cython).name == "join"
    assert resolve_backend(Cython()).name == "join"
    assert resolve_backend("Cython").name == "join"
    assert resolve_backend(Numba()).name == "join"
    assert resolve_backend(Scipy()).name == "udf"
    assert Backend.Cython is Cython and Backend.Scipy is Scipy
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        resolve_backend(Cython(fast=True))
    assert any("fast=True" in str(x.message) for x in w)

    mask = np.zeros((4, 4, 4), dtype=bool)
    mask[1:3, 1:3, 1:3] = True
    out_c = binary_dilation(mask, backend=Cython())
    out_s = binary_dilation(mask, backend=Scipy())
    np.testing.assert_array_equal(out_c, out_s)


# The pinned ``auto`` form of every row of backend.ROUTES, per input kind
# (batch / stream) and hash family: (row, kind, hash_fn, build, expected).
# ``build(inputs, hash_fn)`` returns the operator's DataFrame, or ``None``
# where only the log records show the pick (the ndarray rule, a checkpointed
# side, or a stream the operator cannot plan, resolved on the row directly).
# ``expected`` lists the forms logged in resolution order: a composing
# operator resolves each side.
def _ops():
    from imops_spark.backend import choose_form, dispatch_strategy, resolve_backend
    from imops_spark.functions import curate, dedup, text

    def resolve(op, **kw):
        def build(i, h):
            choose_form(op, "auto", i["doc"], hash_fn=h, **kw)
        return build

    def imaging(nbytes):
        def build(i, h):
            dispatch_strategy(resolve_backend(None), nbytes)
        return build

    def report(i, h):
        # the eval side is checkpointed, so only the records show its form
        curate.contamination_report_df(i["doc"], i["doc"], hash_fn=h)

    return [
        ("imaging", "batch", None, imaging(1024), ["udf"]),
        ("imaging", "batch", None, imaging(1 << 30), ["join"]),
        ("minhash", "batch", "md5", lambda i, h: dedup.minhash_signatures_df(i["doc"], hash_fn=h), ["arrow"]),
        ("minhash", "batch", "xxhash64", lambda i, h: dedup.minhash_signatures_df(i["doc"], hash_fn=h), ["jvm"]),
        ("minhash", "stream", "md5", lambda i, h: dedup.minhash_signatures_df(i["doc"], hash_fn=h), ["jvm"]),
        ("minhash", "stream", "xxhash64", lambda i, h: dedup.minhash_signatures_df(i["doc"], hash_fn=h), ["jvm"]),
        ("minhash", "batch", "md5", lambda i, h: dedup.drop_near_duplicates_df(i["doc"], hash_fn=h), ["jvm"]),
        ("minhash", "batch", "xxhash64", lambda i, h: dedup.drop_near_duplicates_df(i["doc"], hash_fn=h), ["jvm"]),
        ("minhash", "stream", "md5", resolve("minhash", composed=True), ["jvm"]),
        ("minhash", "stream", "xxhash64", resolve("minhash", composed=True), ["jvm"]),
        ("simhash", "batch", None, lambda i, h: dedup.simhash_df(i["doc"]), ["arrow"]),
        ("simhash", "stream", None, lambda i, h: dedup.simhash_df(i["doc"]), ["local"]),
        ("winnow", "batch", "md5", lambda i, h: text.winnow_fingerprints_df(i["doc"], hash_fn=h), ["arrow"]),
        ("winnow", "batch", "xxhash64", lambda i, h: text.winnow_fp_set_df(i["doc"], hash_fn=h), ["arrow"]),
        ("winnow", "stream", "md5", lambda i, h: text.winnow_fp_set_df(i["doc"], hash_fn=h), ["arrow"]),
        ("winnow", "stream", "xxhash64", lambda i, h: text.winnow_fp_set_df(i["doc"], hash_fn=h), ["arrow"]),
        ("winnow", "batch", "md5",
         lambda i, h: curate.contamination_pairs_df(i["doc"], i["doc"], hash_fn=h), ["window", "window"]),
        ("winnow", "batch", "xxhash64",
         lambda i, h: curate.contamination_pairs_df(i["doc"], i["doc"], hash_fn=h), ["arrow", "arrow"]),
        # the report's eval side is a leaf, its train side is joined
        ("winnow", "batch", "md5", report, ["arrow", "window"]),
        ("winnow", "stream", "md5", resolve("winnow", composed=True), ["arrow"]),
        ("winnow", "stream", "xxhash64", resolve("winnow", composed=True), ["arrow"]),
        ("duplicate_spans", "batch", "md5", lambda i, h: dedup.duplicate_spans_df(i["doc"], hash_fn=h), ["window"]),
        ("duplicate_spans", "batch", "xxhash64",
         lambda i, h: dedup.duplicate_spans_df(i["doc"], hash_fn=h), ["window"]),
        ("dsir", "batch", None, lambda i, h: curate.dsir_logweights_df(i["doc"], i["static"]), ["arrow"]),
        ("dsir", "stream", None, lambda i, h: curate.dsir_logweights_df(i["doc"], i["static"]), ["agg"]),
        # footer-estimated train text within the 64 MiB budget -> arrow; an
        # in-memory frame has no estimate -> agg
        ("ngram_lm", "batch", None, lambda i, h: text.ngram_lm_df(i["doc"]), ["arrow"]),
        ("ngram_lm", "batch", None, lambda i, h: text.ngram_lm_df(i["memory"]), ["agg"]),
        ("ngram_lm", "stream", None, resolve("ngram_lm"), ["agg"]),
    ]


_ROUTE_CASES = _ops()


@pytest.fixture(scope="module")
def route_inputs(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("route_docs") / "docs")
    rows = [(i, f"document {i} says the quick brown fox jumps over {i % 3}") for i in range(12)]
    mem = spark.createDataFrame(rows, "doc_id long, text string")
    mem.write.parquet(src)
    return {
        "batch": spark.read.parquet(src),
        "stream": spark.readStream.schema("doc_id long, text string").parquet(src),
        "memory": mem,
    }


@pytest.mark.parametrize(
    "row,kind,hash_fn,build,expected",
    _ROUTE_CASES,
    ids=[f"{c[0]}-{c[1]}-{c[2] or 'nohash'}-{i}" for i, c in enumerate(_ROUTE_CASES)],
)
def test_routing_table_auto_forms(spark, route_inputs, caplog, row, kind, hash_fn, build, expected):
    """Every ``ROUTES`` row resolves ``auto`` to its pinned form for batch
    and streaming input and each hash family: one DEBUG record per
    resolution, and the plan carries a ``MapInPandas`` stage exactly when
    an arrow form was picked."""
    import logging

    inputs = {"doc": route_inputs[kind], "static": route_inputs["batch"], "memory": route_inputs["memory"]}
    caplog.set_level(logging.DEBUG, logger="imops_spark.backend")
    df = build(inputs, hash_fn)
    records = [r for r in caplog.records if r.name == "imops_spark.backend"]
    assert [r.args[0] for r in records] == [row] * len(expected)
    assert [r.args[1] for r in records] == expected
    if df is not None:
        plan = df._jdf.queryExecution().toString()
        assert ("MapInPandas" in plan) == ("arrow" in expected)


def test_routing_table_covers_every_row():
    from imops_spark.backend import ROUTES

    assert {c[0] for c in _ROUTE_CASES} == set(ROUTES)
    for op, row in ROUTES.items():
        assert len(row.forms) == 2 and row.evidence, op


def test_routing_errors_and_explicit_forms(spark, route_inputs, caplog):
    """Unknown names raise one shape naming the op; explicit forms pass
    through unlogged (the caller decided), with the md5-only and
    batch-only checks."""
    import logging

    from imops_spark.backend import choose_form

    doc, stream = route_inputs["batch"], route_inputs["stream"]
    with pytest.raises(ValueError, match=r"^dsir: strategy must be one of \('auto', 'arrow', 'agg'\), got 'x'$"):
        choose_form("dsir", "x", doc)
    with pytest.raises(ValueError, match="md5 family"):
        choose_form("minhash", "arrow", doc, hash_fn="xxhash64")
    with pytest.raises(ValueError, match="illegal on a streaming"):
        choose_form("winnow", "window", stream, hash_fn="md5")
    caplog.set_level(logging.DEBUG, logger="imops_spark.backend")
    assert choose_form("winnow", "window", doc, hash_fn="md5") == "window"
    assert choose_form("simhash", "local", stream) == "local"
    assert not [r for r in caplog.records if r.name == "imops_spark.backend"]


def test_routing_size_budget(route_inputs, monkeypatch):
    """A size fact over its row's budget takes the row's second form."""
    from dataclasses import replace

    from imops_spark.backend import ROUTES, choose_form

    doc = route_inputs["batch"]
    assert choose_form("ngram_lm", "auto", doc) == "arrow"
    monkeypatch.setitem(ROUTES, "ngram_lm", replace(ROUTES["ngram_lm"], budget=10))
    assert choose_form("ngram_lm", "auto", doc) == "agg"
