"""Public-API parity: every name the reference exports must exist here.

The reference's ``imops/__init__.py`` export list is checked in below
(ARCHITECTURE.md section 4 names it); every name must resolve on
``imops_spark``, so a user's ``from imops import X`` rewrites to
``from imops_spark import X`` verbatim.  Not mirrored, deliberately:
``__version__`` (our package carries its own) and the private ``_zoom``.
"""

import re

REFERENCE_EXPORTS = (
    "Backend", "Cython", "Numba", "Scipy", "imops_backend", "set_backend",
    "crop_to_box", "crop_to_shape",
    "interp1d", "Linear2DInterpolator",
    "center_of_mass", "label",
    "binary_closing", "binary_dilation", "binary_erosion", "binary_opening",
    "convex_hull_image", "distance_transform_edt",
    "copy", "fill_", "full", "pointwise_add",
    "pad", "pad_to_divisible", "pad_to_shape", "restore_crop",
    "inverse_radon", "radon",
    "zoom", "zoom_to_shape",
)


def test_every_reference_export_resolves():
    import imops_spark as im

    missing = [n for n in REFERENCE_EXPORTS if not hasattr(im, n)]
    assert not missing, f"reference exports without a counterpart: {missing}"


def test_extended_public_surface_resolves():
    """The documented extras (reference docs/index.md) + additive surface."""
    import imops_spark as im

    for n in (
        "center_of_mass", "distance_transform_edt", "convex_hull_image",
        "isin", "mask_to_box", "Linear2DInterpolator", "TensorFrame",
        "encode_volume", "decode_volume", "get_spark",
    ):
        assert hasattr(im, n), n


def test_every_submodule_export_resolves():
    """Every name in every ``imops_spark`` submodule's ``__all__`` exists
    on that module — no export outlives the code it names."""
    import importlib
    import pkgutil

    import imops_spark

    checked = 0
    for info in pkgutil.walk_packages(imops_spark.__path__, "imops_spark."):
        mod = importlib.import_module(info.name)
        names = getattr(mod, "__all__", ())
        missing = [n for n in names if not hasattr(mod, n)]
        assert not missing, f"{info.name}.__all__ names missing attributes: {missing}"
        checked += len(names)
    assert checked > 0


def test_auto_resolution_has_one_owner():
    """Every ``strategy='auto'`` resolution lives in ``backend.py``'s routing
    table: no other package module compares a value with ``"auto"`` or
    defines a ``_*strategy`` helper."""
    import ast
    import pathlib

    import imops_spark

    def is_auto(node):
        if isinstance(node, ast.Constant):
            return node.value == "auto"
        if isinstance(node, (ast.Tuple, ast.List, ast.Set)):
            return any(is_auto(e) for e in node.elts)
        return False

    pkg = pathlib.Path(imops_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "backend.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            where = f"{path.relative_to(pkg)}:{getattr(node, 'lineno', 0)}"
            if isinstance(node, ast.Compare) and any(
                is_auto(n) for n in (node.left, *node.comparators)
            ):
                offenders.append(where)
            elif (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and node.name.startswith("_")
                and node.name.endswith("strategy")
            ):
                offenders.append(f"{where} def {node.name}")
    assert not offenders, f"'auto' resolved outside backend.py: {offenders}"


def test_vector_search_mechanisms_have_one_owner():
    """The vector-search family's per-query rank window, per-batch top-k
    pre-selection and nearest-centroid sort each appear exactly once in
    ``functions/similarity.py``: every path calls the one helper."""
    import pathlib

    import imops_spark

    src = (
        pathlib.Path(imops_spark.__file__).parent / "functions" / "similarity.py"
    ).read_text()
    counts = {
        needle: src.count(needle)
        for needle in ('Window.partitionBy("query_id")', "np.partition(", 'kind="stable"')
    }
    assert counts == dict.fromkeys(counts, 1), counts


def test_tensor_layer_mechanisms_have_one_owner():
    """The tensor layer's session lookup, scipy-fallback warning, zoom
    output shape, connectivity offsets, voxel-table metadata, generated grid
    axis and zero-copy blob read each appear exactly once across
    ``tensor_io.py``, ``kernels.py``, ``utils.py`` and ``operators/*.py``:
    every caller uses the one owner."""
    import pathlib

    import imops_spark

    root = pathlib.Path(imops_spark.__file__).parent
    files = [root / "tensor_io.py", root / "kernels.py", root / "utils.py"]
    src = "".join(p.read_text() for p in files + sorted((root / "operators").glob("*.py")))
    needles = (
        "getActiveSession(", "Falling back to scipy", "round(s * z)",
        "np.ndindex(*([3]", '"logical_dtype": str(', "F.sequence(F.lit(0), F.lit(",
        "as_buffer()",
    )
    counts = {needle: src.count(needle) for needle in needles}
    assert counts == dict.fromkeys(counts, 1), counts


def test_classifier_trainer_has_one_pass():
    """The classifier trainer runs every gradient step and dev-loss
    evaluation through one per-partition NumPy pass: ``functions/curate.py``
    has no JVM ``element_at`` fold, and its one ``createDataFrame`` is the
    returned weights frame (no per-step weight broadcast)."""
    import pathlib

    import imops_spark

    src = (
        pathlib.Path(imops_spark.__file__).parent / "functions" / "curate.py"
    ).read_text()
    assert src.count("element_at(") == 0
    assert src.count("createDataFrame(") == 1


def test_document_kernels_have_one_boundary():
    """The nine row-local text kernels share one ``mapInPandas`` boundary,
    ``dedup._doc_kernel``: across ``functions/{dedup,text,curate}.py`` the
    allocator is tuned only there and in the cosine block-pair task, the
    empty-batch rule is written once, and no kernel looks up the
    ``doc_id`` type itself (the one lookup left is the BM25 index)."""
    import pathlib

    import imops_spark

    root = pathlib.Path(imops_spark.__file__).parent / "functions"
    src = "".join((root / f).read_text() for f in ("dedup.py", "text.py", "curate.py"))
    assert src.count("ensure_malloc_tuning()") == 2
    assert len(re.findall(r'dict\([\w.]+\.dtypes\)\["doc_id"\]', src)) <= 1
    assert src.count("type columns wrong") == 1


def test_tools_put_their_own_tree_on_sys_path():
    """A script under ``tools/`` imports the package from the tree it sits
    in, so a copy of the repository checks the copy."""
    import pathlib

    tools = pathlib.Path(__file__).resolve().parent.parent / "tools"
    offenders = [
        p.name
        for p in sorted(tools.glob("*.py"))
        if re.search(r"sys\.path\.\w+\([^)]*[\'\"]/", p.read_text())
    ]
    assert not offenders, offenders


def test_wrappers_without_a_session_raise_runtime_error(monkeypatch):
    """Every ndarray wrapper that needs Spark raises the same RuntimeError
    when no session is active, instead of failing on a ``None`` session."""
    import numpy as np
    from pyspark.sql import SparkSession

    import imops_spark as im

    monkeypatch.setattr(SparkSession, "getActiveSession", staticmethod(lambda: None))
    a = np.arange(36, dtype=np.float64).reshape(6, 6)
    mask = a > 20
    disk = np.zeros((8, 8))
    disk[3:5, 3:5] = 1.0
    calls = {
        "zoom": lambda: im.zoom(a, 2, backend="join"),
        "pad": lambda: im.pad(a, 1, backend="join"),
        "binary_dilation": lambda: im.binary_dilation(mask, backend="join"),
        "crop_to_shape": lambda: im.crop_to_shape(a, (3, 3)),
        "crop_to_box": lambda: im.crop_to_box(a, np.array([[1, 1], [4, 4]])),
        "full": lambda: im.full((3, 3), 1.5, backend="join"),
        "radon": lambda: im.radon(disk, backend="join"),
        "label": lambda: im.label(mask, backend="join"),
        "center_of_mass": lambda: im.center_of_mass(a, backend="join"),
        "pointwise_add": lambda: im.pointwise_add(a, 1.0, backend="join"),
        "isin": lambda: im.isin(a.astype(np.int64), [3, 4]),
    }
    wrong = {}
    for name, call in calls.items():
        try:
            call()
        except Exception as e:  # noqa: BLE001 - any other failure is reported
            if isinstance(e, RuntimeError) and "No active SparkSession" in str(e):
                continue
            wrong[name] = repr(e)
        else:
            wrong[name] = "returned"
    assert not wrong, wrong
