"""The benchmark's workloads: inputs, operations and output checks.

A workload writes its seeded inputs into a directory, names its operations,
and checks one pass of outputs.  Each operation is a pair of calls into the
program's public surface: ``build(spark)`` returns the DataFrame (the plan
build layer: the ``__spark_entry__`` query or the ``*_df`` / ``*_blobs``
call), and ``sink(df)`` forces it (the Spark execution layer).  ``curation``
forces with a noop write, as ``bench.py`` does; ``imaging`` writes parquet.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen

CURATION_OPS = ["cur_dsir", "txt_lm"]
IMAGING_OPS = ["zoom_blobs", "label_blobs", "zoom_df", "dilation_df"]

# Input sizes.  Curation reads 20% as many documents as the sf0.1 test
# data's 5000.  They keep one run of either workload near 55-65 s on a 4-core
# box, so that 4 + 22 runs per workload fit in the benchmark's 3420 s budget.
CURATION_DOCS = 1000
BLOB_SHAPES = [(48, 48, 48), (40, 56, 56), (64, 64, 64), (32, 40, 40)]
VOXEL_SHAPE = (20, 20, 20)
N_VOXEL_IMAGES = 3
ZOOM = 1.5


class Op:
    def __init__(self, name, build, sink):
        self.name, self.build, self.sink = name, build, sink


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    # untimed passes after the checked first one
    warm_passes = 0

    def __init__(self, work_dir: str):
        self.work_dir = work_dir
        self.in_dir = os.path.join(work_dir, "in")

    def generate(self, seed: int, out_dir: str) -> int:
        """Write the seeded inputs into ``out_dir``; returns their bytes."""
        raise NotImplementedError

    def ops(self, spark) -> list[Op]:
        raise NotImplementedError

    def capture(self, op: Op, df):
        """Force ``df`` and return what ``check`` compares."""
        raise NotImplementedError

    def check(self, outputs: dict) -> dict[str, str]:
        """Compare the captured outputs of one pass; returns ``{op: problem}``."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# curation: __spark_entry__ queries checked against their DuckDB twin
# ---------------------------------------------------------------------------


class Curation(Workload):
    name = "curation"
    # the pass after the checked one still costs 10-20% more CPU time than
    # the ones after it
    warm_passes = 1

    def generate(self, seed, out_dir):
        rng = np.random.default_rng([seed, 2])
        return gen.write_table(
            gen.documents_table(rng, CURATION_DOCS),
            os.path.join(out_dir, "documents.parquet"),
        )

    def ops(self, spark):
        import __spark_entry__ as entry

        qs = entry.queries()
        return [Op(n, (lambda s, q=qs[n]: q(s, self.in_dir)), _noop) for n in CURATION_OPS]

    def capture(self, op, df):
        return (list(df.columns), [tuple(r) for r in df.collect()])

    def check(self, outputs):
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            path = os.path.join(self.in_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            problems = {}
            for name, (cols, rows) in outputs.items():
                res = con.execute(oracles[name])
                dcols = [d[0] for d in res.description]
                problem = compare_rows(cols, rows, dcols, res.fetchall())
                if problem:
                    problems[name] = problem
            return problems
        finally:
            con.close()


def compare_rows(scols, srows, dcols, drows) -> str:
    """The canonical row-set comparison of ``tools/check_oracle.py``: same
    column names, same row count, same order-insensitive canonical values.
    Returns '' on a match."""
    from tools.check_oracle import row_set

    if sorted(scols) != sorted(dcols):
        return f"columns {sorted(scols)} vs {sorted(dcols)}"
    if len(srows) != len(drows):
        return f"rowcount {len(srows)} vs {len(drows)}"
    if row_set(srows, scols) != row_set(drows, dcols):
        return "values differ"
    return ""


# ---------------------------------------------------------------------------
# imaging: the paper's operators, blob and voxel paths, checked against the
# numpy kernels
# ---------------------------------------------------------------------------


def _blob_table(arrays: dict[int, np.ndarray]) -> pa.Table:
    """``tensor_io.blob_schema`` rows: (image_id, shape, dtype, data)."""
    ids = sorted(arrays)
    return pa.table({
        "image_id": pa.array(ids, type=pa.int64()),
        "shape": pa.array([list(arrays[i].shape) for i in ids], type=pa.list_(pa.int32())),
        "dtype": pa.array([str(arrays[i].dtype) for i in ids], type=pa.string()),
        "data": pa.array([np.ascontiguousarray(arrays[i]).tobytes() for i in ids],
                         type=pa.binary()),
    })


def _voxel_table(arrays: dict[int, np.ndarray]) -> pa.Table:
    """Voxel rows (image_id, i0, i1, i2, val), as ``tensor_io.encode_volumes``
    lays them out."""
    cols: dict[str, list] = {"image_id": [], "i0": [], "i1": [], "i2": [], "val": []}
    for image_id in sorted(arrays):
        arr = arrays[image_id]
        idx = np.indices(arr.shape).reshape(3, -1)
        cols["image_id"].append(np.full(arr.size, image_id, dtype=np.int64))
        for k in range(3):
            cols[f"i{k}"].append(idx[k].astype(np.int32))
        cols["val"].append(arr.ravel())
    return pa.table({k: np.concatenate(v) for k, v in cols.items()})


def _decode_blob_rows(table: pa.Table) -> dict[int, np.ndarray]:
    return {
        int(row["image_id"]):
            np.frombuffer(row["data"], dtype=np.dtype(row["dtype"])).reshape(row["shape"])
        for row in table.to_pylist()
    }


def _densify(table: pa.Table, shape) -> dict[int, np.ndarray]:
    out = {}
    ids = table.column("image_id").to_numpy()
    for image_id in np.unique(ids):
        sel = ids == image_id
        arr = np.zeros(shape, dtype=table.schema.field("val").type.to_pandas_dtype())
        idx = tuple(table.column(f"i{k}").to_numpy()[sel] for k in range(3))
        arr[idx] = table.column("val").to_numpy(zero_copy_only=False)[sel]
        out[int(image_id)] = arr
    return out


class Imaging(Workload):
    name = "imaging"

    def volumes(self, seed):
        rng = np.random.default_rng([seed, 3])
        ct = {i: gen.ct_volume(rng, s) for i, s in enumerate(BLOB_SHAPES)}
        masks = {i: gen.ellipsoid_mask(rng, s) for i, s in enumerate(BLOB_SHAPES)}
        vct = {i: gen.ct_volume(rng, VOXEL_SHAPE) for i in range(N_VOXEL_IMAGES)}
        vmask = {i: gen.ellipsoid_mask(rng, VOXEL_SHAPE) for i in range(N_VOXEL_IMAGES)}
        return ct, masks, vct, vmask

    def generate(self, seed, out_dir):
        ct, masks, vct, vmask = self.volumes(seed)
        self.seed = seed
        return sum(
            gen.write_table(t, os.path.join(out_dir, f"{n}.parquet"))
            for n, t in [
                ("ct_blobs", _blob_table(ct)), ("mask_blobs", _blob_table(masks)),
                ("ct_voxels", _voxel_table(vct)), ("mask_voxels", _voxel_table(vmask)),
            ]
        )

    def read(self, spark, name):
        return spark.read.parquet(os.path.join(self.in_dir, f"{name}.parquet"))

    def _tf(self, spark, name, dtype):
        from imops_spark.tensor_io import TensorFrame

        return TensorFrame(df=self.read(spark, name), shape=VOXEL_SHAPE, dtype=np.dtype(dtype))

    def out_path(self, op):
        return os.path.join(self.work_dir, "out", op)

    def ops(self, spark):
        from imops_spark import kernels
        from imops_spark.operators.measure import label_blobs
        from imops_spark.operators.morphology import binary_dilation_df
        from imops_spark.operators.zoom import zoom_df
        from imops_spark.tensor_io import map_blobs

        def zoom_kernel(a):
            return kernels.zoom_numpy(a, ZOOM, order=1)

        builds = {
            "zoom_blobs": lambda s: map_blobs(self.read(s, "ct_blobs"), zoom_kernel),
            "label_blobs": lambda s: label_blobs(self.read(s, "mask_blobs")),
            "zoom_df": lambda s: zoom_df(self._tf(s, "ct_voxels", "float64"), ZOOM, order=1).df,
            "dilation_df": lambda s: binary_dilation_df(self._tf(s, "mask_voxels", "bool")).df,
        }

        def sink_to(op):
            def sink(df):
                df.write.mode("overwrite").parquet(self.out_path(op))
            return sink

        return [Op(n, builds[n], sink_to(n)) for n in IMAGING_OPS]

    def capture(self, op, df):
        op.sink(df)
        return pq.read_table(self.out_path(op.name))

    def check(self, outputs):
        return check_imaging(self.volumes(self.seed), outputs)


def expected_imaging(volumes) -> dict[str, dict[int, np.ndarray]]:
    """The numpy kernels' result for every imaging op, computed on the
    driver.  The voxel path is a join-based implementation of its own, so for
    it this is a cross-check of two implementations."""
    from imops_spark import kernels
    from imops_spark.operators.morphology import footprint_offsets, generate_binary_structure

    ct, masks, vct, vmask = volumes
    offs = footprint_offsets(generate_binary_structure(3, 1))
    return {
        "zoom_blobs": {i: kernels.zoom_numpy(a, ZOOM, order=1) for i, a in ct.items()},
        "label_blobs": {i: kernels.label_numpy(a)[0] for i, a in masks.items()},
        "zoom_df": {i: kernels.zoom_numpy(a, ZOOM, order=1) for i, a in vct.items()},
        "dilation_df": {i: kernels.dilation_numpy(a, offs) for i, a in vmask.items()},
    }


def decode_imaging(op: str, table: pa.Table) -> dict[int, np.ndarray]:
    if op.endswith("_blobs"):
        return _decode_blob_rows(table)
    zoomed = tuple(int(round(s * ZOOM)) for s in VOXEL_SHAPE)
    return _densify(table, zoomed if op == "zoom_df" else VOXEL_SHAPE)


def compare_arrays(got: dict[int, np.ndarray], want: dict[int, np.ndarray]) -> str:
    """Same images, same shapes, values equal (floats to 1e-9 relative).
    Returns '' on a match."""
    if sorted(got) != sorted(want):
        return f"images {sorted(got)} vs {sorted(want)}"
    for i, w in want.items():
        g = got[i]
        if g.shape != w.shape:
            return f"image {i}: shape {g.shape} vs {w.shape}"
        if w.dtype.kind == "f":
            ok = np.allclose(g, w, rtol=1e-9, atol=1e-9)
        else:
            ok = np.array_equal(g.astype(w.dtype), w)
        if not ok:
            return f"image {i}: values differ"
    return ""


def check_imaging(volumes, outputs: dict[str, pa.Table]) -> dict[str, str]:
    want = expected_imaging(volumes)
    problems = {}
    for op, table in outputs.items():
        problem = compare_arrays(decode_imaging(op, table), want[op])
        if problem:
            problems[op] = problem
    return problems


WORKLOADS = {w.name: w for w in (Curation, Imaging)}
ALL_OPS = CURATION_OPS + IMAGING_OPS
