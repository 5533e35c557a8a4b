"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator family (SURVEY.md §2.2/§2.3 +
the LLM-data-pipeline extensions) to a DataFrame-producing callable;
``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL.  Column names/types are
aligned on both sides; float aggregates are ROUND-ed on both sides so the
order-insensitive value hash is stable across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SIMHASH_BITS = 32
MINHASHES = 8


_T_CACHE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Memoize the scan per (session, table): spark.read.parquet pays file
    # listing + footer schema inference eagerly, and the returned DataFrame
    # is an immutable logical plan that every query can share.
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _T_CACHE.get(key)
    if df is None:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _T_CACHE[key] = df
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same memoization for the events table: load_events pays file listing,
    # schema resolution (under the nanosAsLong conf), and the ts_sec
    # normalization — all analysis-time work identical across the 20+ event
    # gates, and the result is an immutable logical plan.
    from imops_spark.functions.events import load_events

    key = (spark.sparkContext.applicationId, sf_dir, "__events__")
    df = _T_CACHE.get(key)
    if df is None:
        df = load_events(spark, sf_dir)
        _T_CACHE[key] = df
    return df


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1 pricing summary at sf0.001."""
    return q_tpch_q1(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# imops-parity relational isomorphs (SURVEY.md §2.3 Q1-Q10)
# ---------------------------------------------------------------------------

def q_center_of_mass(spark, sf_dir):
    """center_of_mass (#12): weighted mean = sum(w*x)/sum(w) per group."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * F.col("l_quantity")) / F.sum("l_extendedprice"), 6
        ).alias("com")
    )


def q_isin(spark, sf_dir):
    """isin (#25): broadcast hash semi-join membership."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size").isin(1, 5, 9))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi")
        .select("l_orderkey", "l_linenumber", "l_partkey")
    )


def q_mask_to_box(spark, sf_dir):
    """mask_to_box (#26): tight min/max bounding aggregates over a predicate."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return li.agg(
        F.min("l_orderkey").alias("start0"),
        (F.max("l_orderkey") + 1).alias("stop0"),
        F.min("l_partkey").alias("start1"),
        (F.max("l_partkey") + 1).alias("stop1"),
    )


def q_crop(spark, sf_dir):
    """crop_to_box (#19-20): range filter + coordinate re-base projection."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_orderkey") >= 1000) & (F.col("l_orderkey") < 2000)).select(
        (F.col("l_orderkey") - 1000).alias("i0"),
        F.col("l_linenumber").cast("long").alias("i1"),
        F.col("l_quantity").alias("val"),
    )


def q_pointwise(spark, sf_dir):
    """pointwise_add (#21): projection arithmetic in whole-stage codegen."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) + F.col("l_tax"), 6
        ).alias("val"),
    )


def q_label_sizes(spark, sf_dir):
    """label sizes (#11): component size = groupBy count."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderstatus").alias("label")).agg(
        F.count("*").alias("size")
    )


def q_interp1d(spark, sf_dir):
    """interp1d (#3): as-of/range join of queries into lead()-built knot
    intervals + lerp."""
    from imops_spark.functions.events import asof_interpolate_df

    return asof_interpolate_df(_events(spark, sf_dir))


def q_dilation(spark, sf_dir):
    """binary_dilation (#5): neighbor-offset broadcast join + any() reduce."""
    from imops_spark.functions.events import neighborhood_flag_df

    return neighborhood_flag_df(_events(spark, sf_dir))


def q_erosion(spark, sf_dir):
    """binary_erosion (#6): all-neighbor bool_and, missing neighbors count
    True (the reference's erosion border rule, _morphology.pyx:222-227)."""

    events = _events(spark, sf_dir)
    bucket = F.floor(F.col("ts_sec") / 600)
    flags = events.groupBy(F.col("user_id"), bucket.alias("b")).agg(
        F.max(F.when(F.col("value") > 50.0, 1).otherwise(0)).alias("flag")
    )
    # missing neighbors (outside the occupied set) count True: all_near is
    # min over PRESENT neighbors only — a RANGE window over existing buckets,
    # one shuffle, no shift-union self-join.
    w = Window.partitionBy("user_id").orderBy("b").rangeBetween(-1, 1)
    return flags.select(
        "user_id", F.col("b").alias("bucket"), F.min("flag").over(w).alias("all_near")
    )


def q_sliding_window(spark, sf_dir):
    """Sliding windows (streaming §2.2): 10-min windows sliding by 5 — each
    event lands in 2 windows via a broadcast offset explode."""

    events = _events(spark, sf_dir)
    half = F.floor(F.col("ts_sec") / 300)  # 5-min half-windows
    tagged = events.select(half.alias("h"), "value")
    offsets = spark.createDataFrame([(0,), (1,)], "o int")
    exploded = tagged.crossJoin(F.broadcast(offsets)).select(
        ((F.col("h") - F.col("o")) * 300).alias("win_start"), "value"
    )
    # ROUND(SUM, 2): the data has exactly 2 decimals, so true sums are never
    # at a .005 tie — unlike AVG at 4 decimals, where ties are common and the
    # engines' half-rounding of doubles can disagree.
    return exploded.groupBy("win_start").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )


def q_zoom_1d(spark, sf_dir):
    """zoom order=1 (#1): linear resample of the daily-order-count series to
    64 points — the gather-join + lerp pattern on a 1-D signal."""
    o = _t(spark, sf_dir, "orders")
    # days is a BOUNDED aggregate (one row per distinct order date) that
    # feeds THREE plan branches: meta (n_old), lo, and hi.  Projection
    # pruning makes the branches canonically different, so without the
    # (lazy) localCheckpoint each branch re-plans the full orders scan +
    # groupBy — the round-11 before-plan carried 3 parquet scans for one
    # tiny series.  Checkpointed: one scan, three reuses.
    days = (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").cast("double").alias("v"))
        .localCheckpoint(eager=False)
    )
    w = Window.orderBy("day")
    series = days.select(
        (F.row_number().over(w) - 1).alias("p"), "v"
    )
    n_new = 64
    # n_old as a broadcast 1-row aggregate — no driver-side count job; the
    # scalar stays inside the plan (same shape as the oracle's meta CTE).
    meta = days.agg(F.count("*").alias("n_old"))
    grid = spark.range(0, n_new).select(F.col("id").cast("int").alias("j"))
    grid = (
        grid.crossJoin(F.broadcast(meta))
        .withColumn(
            "c",
            F.col("j") * ((F.col("n_old") - 1).cast("double") / F.lit(float(n_new - 1))),
        )
        .withColumn("f", F.floor("c").cast("int"))
        .drop("n_old")
    )
    lo = series.select(F.col("p").alias("f"), F.col("v").alias("v0"))
    hi = series.select((F.col("p") - 1).alias("f"), F.col("v").alias("v1"))
    out = (
        grid.join(lo, on="f", how="left")
        .join(hi, on="f", how="left")
        .select(
            "j",
            F.round(
                F.coalesce(F.col("v0"), F.lit(0.0))
                * (1 - (F.col("c") - F.col("f")))
                + F.coalesce(F.col("v1"), F.lit(0.0)) * (F.col("c") - F.col("f")),
                6,
            ).alias("val"),
        )
    )
    return out


def q_pad_1d(spark, sf_dir):
    """pad (#15): shift a keyed series and union a generated fill region."""
    n = _t(spark, sf_dir, "nation")
    shifted = n.select(
        (F.col("n_nationkey") + 3).alias("pos"), F.col("n_name").alias("name")
    )
    fill = spark.range(0, 3).select(
        F.col("id").cast("int").alias("pos"), F.lit("PAD").alias("name")
    )
    return shifted.unionAll(fill)


def q_edt_1d(spark, sf_dir):
    """distance_transform_edt (#9), 1-D: distance to the nearest background
    position via forward/backward IGNORE NULLS window scans — the separable
    per-axis pass of the EDT expressed relationally."""
    o = _t(spark, sf_dir, "orders")
    days = (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy("day")
    series = days.select((F.row_number().over(w) - 1).alias("i"), (F.col("cnt") > 8).alias("m"))
    wf = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    wb = Window.orderBy("i").rowsBetween(0, Window.unboundedFollowing)
    bg = F.when(~F.col("m"), F.col("i"))
    prev_bg = F.last(bg, ignorenulls=True).over(wf)
    next_bg = F.first(bg, ignorenulls=True).over(wb)
    dist = F.least(
        F.coalesce(F.col("i") - prev_bg, F.lit(1 << 30)),
        F.coalesce(next_bg - F.col("i"), F.lit(1 << 30)),
    )
    return series.select("i", F.when(F.col("m"), dist).otherwise(0).cast("long").alias("edt"))


# interp2d gate geometry: md5-derived deterministic point sets, recomputable
# bit-identically in Spark SQL, DuckDB SQL, and pure Python (hashlib) — the
# same cross-engine trick that hash-gates sim_lsh.  The Delaunay triangulation
# itself is driver-side sequential (reference runs delaunator on one thread
# the same way, /root/reference/imops/interp2d.py:48-121); the DISTRIBUTED
# part — barycentric point-in-triangle evaluation — is what the DuckDB oracle
# re-derives from the emitted triangle table with exact integer arithmetic.
I2_SETS, I2_KNOTS, I2_QUERIES = 5, 60, 120
I2_COORD_MOD, I2_V_MOD = 1000, 10000


def _i2_hash_int(key: str, lo: int, hi: int) -> int:
    import hashlib

    return int(hashlib.md5(key.encode()).hexdigest()[lo:hi], 16)


def _i2_knots(set_id: int) -> list[tuple[int, int, float]]:
    """Pure-Python twin of the Spark/DuckDB knot generators: (x, y, v) rows,
    deduplicated per (x, y) by max v, sorted — the canonical triangulation
    input order used by interp2d_batch_df."""
    best: dict[tuple[int, int], float] = {}
    for j in range(I2_KNOTS):
        h = f"i2k-{set_id}-{j}"
        x = _i2_hash_int(h, 0, 8) % I2_COORD_MOD
        y = _i2_hash_int(h, 8, 16) % I2_COORD_MOD
        v = (_i2_hash_int(h, 16, 24) % I2_V_MOD) / 100.0
        k = (x, y)
        best[k] = v if k not in best else max(best[k], v)
    return [(x, y, best[(x, y)]) for x, y in sorted(best)]


def q_interp2d(spark, sf_dir):
    """Linear2DInterpolator (#4): Delaunay + barycentric per point set via
    applyInPandas.  Point sets are md5-generated inside the plan (distributed
    spark.range + conv(md5) column expressions, no driver-side data) so the
    DuckDB oracle can regenerate them exactly."""
    from imops_spark.operators.interp2d import interp2d_batch_df

    knots = spark.range(I2_SETS * I2_KNOTS).selectExpr(
        f"id DIV {I2_KNOTS} AS set_id",
        f"md5(concat('i2k-', CAST(id DIV {I2_KNOTS} AS STRING), '-', "
        f"CAST(id % {I2_KNOTS} AS STRING))) AS h",
    ).selectExpr(
        "set_id",
        f"CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT) % {I2_COORD_MOD} AS x",
        f"CAST(conv(substring(h, 9, 8), 16, 10) AS BIGINT) % {I2_COORD_MOD} AS y",
        f"CAST(CAST(conv(substring(h, 17, 8), 16, 10) AS BIGINT) % {I2_V_MOD} AS DOUBLE)"
        " / CAST(100 AS DOUBLE) AS v",
    )
    queries = spark.range(I2_SETS * I2_QUERIES).selectExpr(
        f"id DIV {I2_QUERIES} AS set_id",
        f"md5(concat('i2q-', CAST(id DIV {I2_QUERIES} AS STRING), '-', "
        f"CAST(id % {I2_QUERIES} AS STRING))) AS h",
    ).selectExpr(
        "set_id",
        f"CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT) % {I2_COORD_MOD} AS x",
        f"CAST(conv(substring(h, 9, 8), 16, 10) AS BIGINT) % {I2_COORD_MOD} AS y",
        "CAST(NULL AS DOUBLE) AS v",
    )
    return interp2d_batch_df(knots.unionByName(queries), fill_value=-1.0)


def _interp2d_oracle() -> str:
    """DuckDB oracle for q_interp2d: regenerate the md5 query points in SQL,
    then evaluate barycentric interpolation against the INLINED driver-side
    triangle table (vertex coords/values are exact integers, so l1/l2/l3 are
    exact-integer ratios — bit-identical to the numpy kernel's doubles).
    Containing-triangle choice matches ``_barycentric_eval``: lowest tri_id
    among eps-tolerant containing triangles with det != 0."""
    from imops_spark.operators.interp2d import delaunay_bw
    import numpy as np

    rows = []
    for s in range(I2_SETS):
        knots = _i2_knots(s)
        pts = np.array([(x, y) for x, y, _ in knots], dtype=np.float64)
        vals = [int(round(v * 100)) for _, _, v in knots]
        tris = delaunay_bw(pts)
        for tri_id, (i, j, k) in enumerate(tris.tolist()):
            (x1, y1), (x2, y2), (x3, y3) = pts[i], pts[j], pts[k]
            det = int((y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3))
            if det == 0:  # excluded by the kernel too (ok = det != 0)
                continue
            rows.append(
                f"({tri_id}, {s}, {int(x1)}, {int(y1)}, {vals[i]}, "
                f"{int(x2)}, {int(y2)}, {vals[j]}, {int(x3)}, {int(y3)}, {vals[k]}, {det})"
            )
    values = ",\n              ".join(rows)
    return f"""
            WITH tri(tri_id, set_id, x1, y1, vi1, x2, y2, vi2, x3, y3, vi3, det) AS (
              VALUES {values}
            ),
            qpt AS (
              SELECT (s * {I2_QUERIES} + j) AS qid, s AS set_id,
                     ('0x' || substr(h, 1, 8))::BIGINT % {I2_COORD_MOD} AS x,
                     ('0x' || substr(h, 9, 8))::BIGINT % {I2_COORD_MOD} AS y
              FROM (
                SELECT t1.range AS s, t2.range AS j,
                       md5('i2q-' || CAST(t1.range AS VARCHAR) || '-'
                           || CAST(t2.range AS VARCHAR)) AS h
                FROM range({I2_SETS}) t1, range({I2_QUERIES}) t2
              )
            ),
            cand AS (
              SELECT qpt.qid, tri.tri_id,
                     CAST((tri.y2 - tri.y3) * (qpt.x - tri.x3)
                          + (tri.x3 - tri.x2) * (qpt.y - tri.y3) AS DOUBLE)
                       / CAST(tri.det AS DOUBLE) AS l1,
                     CAST((tri.y3 - tri.y1) * (qpt.x - tri.x3)
                          + (tri.x1 - tri.x3) * (qpt.y - tri.y3) AS DOUBLE)
                       / CAST(tri.det AS DOUBLE) AS l2,
                     CAST(tri.vi1 AS DOUBLE) / CAST(100 AS DOUBLE) AS v1,
                     CAST(tri.vi2 AS DOUBLE) / CAST(100 AS DOUBLE) AS v2,
                     CAST(tri.vi3 AS DOUBLE) / CAST(100 AS DOUBLE) AS v3
              FROM qpt JOIN tri USING (set_id)
            ),
            lam AS (
              SELECT qid, tri_id, l1, l2, CAST(1 AS DOUBLE) - l1 - l2 AS l3, v1, v2, v3
              FROM cand
            ),
            hit AS (
              SELECT qid, arg_min(l1 * v1 + l2 * v2 + l3 * v3, tri_id) AS v_in
              FROM lam
              WHERE l1 >= -1e-9 AND l2 >= -1e-9 AND l3 >= -1e-9
              GROUP BY qid
            )
            SELECT qpt.set_id, qpt.x, qpt.y,
                   COALESCE(hit.v_in, CAST(-1 AS DOUBLE)) AS v_interp
            FROM qpt LEFT JOIN hit USING (qid)
        """


# multimodal gate image geometry (w, h, c): 576 px = 36 md5 blocks exactly.
MM_W, MM_H, MM_C = 16, 12, 3


def q_multimodal(spark, sf_dir):
    """Multimodal plumbing: binary payloads + metadata structs through an
    Arrow feature-extraction kernel.  The fake decode is md5 arithmetic on
    the payload bytes, so the DuckDB oracle regenerates every pixel and
    recomputes the channel statistics — a full value-hash gate."""
    from imops_spark.functions.multimodal import image_features_df, multimodal_schema

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    items = docs.select(
        F.col("doc_id").alias("item_id"),
        F.lit("image").alias("modality"),
        F.encode("text", "utf-8").alias("data"),
        F.struct(
            F.lit(MM_W).alias("width"),
            F.lit(MM_H).alias("height"),
            F.lit(MM_C).alias("channels"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
            F.lit("fake").alias("format"),
        ).alias("meta"),
    )
    feats = image_features_df(items)
    # ROUND(6): mean/frac are exact (integer sums / fixed divisors) on both
    # engines; std differs in last ulps (numpy two-pass vs DuckDB streaming).
    return feats.select(
        "item_id",
        F.round("mean_c0", 6).alias("mean_c0"),
        F.round("std_c0", 6).alias("std_c0"),
        F.round("frac_dark", 6).alias("frac_dark"),
    )


def q_mm_frame_dedup(spark, sf_dir):
    """Cross-family gate: video frame sampling (multimodal Arrow kernel,
    payload = utf-8 text bytes sliced into 4 equal frames) feeding exact
    frame-level dedup (md5 groupBy) — duplicate documents collide on every
    frame, so the oracle reproduces the whole pipeline with substr+md5."""
    from imops_spark.functions.multimodal import sample_frames_df

    docs = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 200) & (F.length("text") >= 8)
    )
    items = docs.select(
        F.col("doc_id").alias("item_id"),
        F.lit("video").alias("modality"),
        F.encode("text", "utf-8").alias("data"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("channels"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(4).alias("n_frames"),
            F.lit("fake").alias("format"),
        ).alias("meta"),
    )
    frames = sample_frames_df(items, every_n=1)
    return (
        frames.select("item_id", F.md5("frame_data").alias("frame_hash"))
        .groupBy("frame_hash")
        .agg(F.count("*").alias("n_frames"), F.min("item_id").alias("keep_item"))
    )


def q_graph_cc(spark, sf_dir):
    """label (#11): distributed connected components (neighbor-min +
    pointer-jumping fixpoint) on a sparse bipartite graph from lineitem;
    the oracle recomputes components via a DuckDB recursive-CTE closure —
    two completely different algorithms, one answer."""
    from imops_spark.operators.graph import connected_components_df

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49)
    edges = li.select(
        (F.col("l_orderkey") % 400).alias("src"),
        (400 + F.col("l_partkey") % 400).alias("dst"),
    ).distinct()
    return connected_components_df(edges).select("node", "comp")


def q_radon_raysum(spark, sf_dir):
    """radon (#13): group-sum along a computed projection line bucket."""
    li = _t(spark, sf_dir, "lineitem")
    bucket = F.floor(0.8 * F.col("l_partkey") + 0.6 * F.col("l_suppkey")).alias("ray")
    return li.groupBy(bucket).agg(F.round(F.sum("l_quantity"), 4).alias("ray_sum"))


def q_hull_fill(spark, sf_dir):
    """convex_hull_image (#10) relational core: per-scanline fill between
    the row's left/right bounds (`src/_convex_hull.pyx:135-149` computes
    exactly these per-row extremes, then fills between them) — min/max
    aggregates feeding a generated sequence explode."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    bounds = li.groupBy("l_orderkey").agg(
        F.min("l_linenumber").alias("lo"), F.max("l_linenumber").alias("hi")
    )
    return bounds.select(
        "l_orderkey", F.explode(F.sequence("lo", "hi")).alias("p")
    ).select("l_orderkey", F.col("p").cast("long").alias("pos"))


def q_radon_backproj(spark, sf_dir):
    """inverse_radon (#14) relational core: UNFILTERED backprojection.  The
    sinogram is the gated ray-sum at three fixed angles; every generated
    grid point gathers each angle's two neighboring rays (floor/ceil
    equi-joins), lerps between them, and the per-angle contributions add in
    a FIXED order (conditional single-element sums, then v0+v1+v2) so the
    double arithmetic is expression-identical across engines — only the FFT
    filtering step stays outside SQL (operators/radon.py:300)."""
    li = _t(spark, sf_dir, "lineitem")
    angles = [(0.8, 0.6), (1.0, 0.0), (0.6, -0.8)]
    sino = None
    for k, (a, b) in enumerate(angles):
        sk = (
            li.groupBy(
                F.floor(a * F.col("l_partkey") + b * F.col("l_suppkey"))
                .cast("long")
                .alias("r")
            )
            .agg(F.sum("l_quantity").alias("s"))
            .withColumn("k", F.lit(k))
        )
        sino = sk if sino is None else sino.unionByName(sk)
    grid = spark.range(32 * 32).select(
        (F.col("id") % 32).alias("x"), F.expr("CAST(id DIV 32 AS BIGINT)").alias("y")
    )
    ang = F.array(
        *[
            F.struct(F.lit(k).alias("k"), F.lit(float(a)).alias("a"), F.lit(float(b)).alias("b"))
            for k, (a, b) in enumerate(angles)
        ]
    )
    pts = grid.select("x", "y", F.explode(ang).alias("g")).select(
        "x",
        "y",
        F.col("g.k").alias("k"),
        (F.col("g.a") * (40 * F.col("x") + 7) + F.col("g.b") * (40 * F.col("y") + 11)).alias("t"),
    )
    pp = pts.select(
        "x", "y", "k",
        F.floor("t").cast("long").alias("r0"),
        (F.col("t") - F.floor("t")).alias("frac"),
    )
    s0 = sino.select("k", F.col("r").alias("r0"), F.col("s").alias("s0"))
    s1 = sino.select("k", (F.col("r") - 1).alias("r0"), F.col("s").alias("s1"))
    j = (
        pp.join(s0, ["k", "r0"], "left")
        .join(s1, ["k", "r0"], "left")
        .withColumn(
            "val",
            F.coalesce("s0", F.lit(0.0))
            + (F.coalesce("s1", F.lit(0.0)) - F.coalesce("s0", F.lit(0.0))) * F.col("frac"),
        )
    )
    out = j.groupBy("x", "y").agg(
        F.sum(F.when(F.col("k") == 0, F.col("val"))).alias("v0"),
        F.sum(F.when(F.col("k") == 1, F.col("val"))).alias("v1"),
        F.sum(F.when(F.col("k") == 2, F.col("val"))).alias("v2"),
    )
    return out.select(
        "x", "y", F.round(F.col("v0") + F.col("v1") + F.col("v2"), 6).alias("backproj")
    )


def q_top1_nn(spark, sf_dir):
    """1-NN (#4 KD-tree query) in 1-D, sort-based: the nearest acctbal
    neighbor is the same-value group, the predecessor group, or the successor
    group in sorted order — O(n log n) windows instead of the O(n^2)
    within-nation self-join (which the DuckDB oracle still uses, so the two
    independent formulations cross-check each other).

    Tie semantics match the quadratic original exactly: minimize
    (round(dist, 6), neighbor_key); equal-distance pred/succ groups resolve
    to the global min key because array_min on (dist, key) structs is
    lexicographic.
    """
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    groups = c.groupBy("c_nationkey", "c_acctbal").agg(
        F.count("*").alias("n"),
        F.sort_array(F.collect_list("c_custkey")).alias("keys"),
    )
    gw = Window.partitionBy("c_nationkey").orderBy("c_acctbal")
    groups = groups.select(
        "c_nationkey",
        "c_acctbal",
        "n",
        F.element_at("keys", 1).alias("k1"),
        F.when(F.size("keys") > 1, F.element_at("keys", 2)).alias("k2"),
        F.lag("c_acctbal").over(gw).alias("pred_bal"),
        F.lag(F.element_at("keys", 1)).over(gw).alias("pred_k"),
        F.lead("c_acctbal").over(gw).alias("succ_bal"),
        F.lead(F.element_at("keys", 1)).over(gw).alias("succ_k"),
    )
    j = c.join(groups, on=["c_nationkey", "c_acctbal"])
    s0 = F.when(
        F.col("n") > 1,
        F.struct(
            F.lit(0.0).alias("d"),
            F.when(F.col("k1") != F.col("c_custkey"), F.col("k1"))
            .otherwise(F.col("k2"))
            .alias("k"),
        ),
    )
    sp = F.when(
        F.col("pred_bal").isNotNull(),
        F.struct(
            F.round(F.abs(F.col("c_acctbal") - F.col("pred_bal")), 6).alias("d"),
            F.col("pred_k").alias("k"),
        ),
    )
    ss = F.when(
        F.col("succ_bal").isNotNull(),
        F.struct(
            F.round(F.abs(F.col("succ_bal") - F.col("c_acctbal")), 6).alias("d"),
            F.col("succ_k").alias("k"),
        ),
    )
    cands = F.filter(F.array(s0, sp, ss), lambda s: s.isNotNull())
    best = F.array_min(cands)
    return (
        j.withColumn("best", best)
        .filter(F.size(cands) > 0)
        .select(
            "c_custkey",
            F.col("best.k").alias("nn_custkey"),
            F.col("best.d").alias("dist"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H classics (headline / bench queries)
# ---------------------------------------------------------------------------

def q_tpch_q1(spark, sf_dir):
    # The testdata timestamps are parquet-naive (isAdjustedToUTC=false): Spark
    # interprets them as session-local wall times, DuckDB keeps them naive.
    # Comparing against a string literal (also parsed in session tz) makes the
    # predicate a pure wall-clock comparison — invariant to the driver's
    # session timezone.
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_tpch_q3(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            # wall-clock string: session-tz round-trip restores the naive value
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_date"),
            "o_orderpriority",
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_tpch_q5(spark, sf_dir):
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
        )
    )


def q_tpch_q6(spark, sf_dir):
    """Pure filter + global aggregate: the predicate-pushdown showcase —
    every filter reaches the parquet scan, no shuffle at all (partial +
    final agg only)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q_tpch_q4(spark, sf_dir):
    """Q4-style correlated EXISTS: orders with a late-shipping lineitem
    (l_shipdate > o_orderdate + 60 days), counted per priority.  A LEFT SEMI
    join with a non-equi residual — the testdata lacks l_commitdate /
    l_receiptdate, so late shipment stands in for the late-commit predicate."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


def q_tpch_q7(spark, sf_dir):
    """Q7-style volume shipping: revenue between (supplier nation, customer
    nation) pairs per ship year — a 5-way star join whose order Catalyst +
    AQE pick (dims broadcast), grouped on three keys."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, "s_nationkey")
        .join(n2, "c_nationkey")
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year")
        )
        .agg(
            # revenue terms carry exactly 4 decimals (2-decimal price x
            # 2-decimal discount), so the true sum sits ON .xx5 cent
            # boundaries constantly — round at the tie-free 4-decimal grain
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q_tpch_q10(spark, sf_dir):
    """Q10-style returned-item ranking: top-20 customers by revenue lost to
    returns — star join + top-k with a deterministic (revenue, custkey)
    tie-break so LIMIT agrees across engines."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, "c_nationkey")
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            # 4-decimal grain: tie-free (see q7) — and the LIMIT cutoff
            # order must agree across engines, so the ranking value itself
            # has to round deterministically
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q_tpch_q14(spark, sf_dir):
    """Q14-style promo revenue share: one global ratio aggregate over a
    month of lineitem joined to part — conditional aggregation feeding a
    scalar division."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-03-01 00:00:00").cast("timestamp"))
    )
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_share"),
            F.count(F.lit(1)).alias("n"),
        )
    )

def q_tpch_q2(spark, sf_dir):
    """Q2-style minimum-cost supplier: for each part in a size slice, the
    EUROPE supplier(s) with the lowest account balance among those that
    shipped it.  Correlated-MIN subquery shape — expressed as a window MIN
    over the candidate relation (one shuffle on p_partkey, no re-join).
    No partsupp table in the testdata, so "supplies part" = distinct
    (l_partkey, l_suppkey) from lineitem and min s_acctbal stands in for
    min ps_supplycost."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") == 15)
        .select("p_partkey", "p_name")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    pairs = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").dropDuplicates()
    cand = (
        pairs.join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .join(F.broadcast(eu), pairs.l_suppkey == eu.s_suppkey)
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("min_bal", F.min("s_acctbal").over(w))
        # stored doubles compared bit-exactly: MIN returns one of the stored
        # values, so the equality keeps all tied suppliers on both engines
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
        )
    )


def q_tpch_q8(spark, sf_dir):
    """Q8-style national market share: NATION_5 suppliers' share of ECONOMY
    part revenue sold to AMERICA-region customers, per order year.  The
    ratio divides the two ROUNDED sums so both engines divide bit-identical
    operands (revenue terms carry exactly 4 decimals — the tie-free grain)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_regionkey"
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), "c_nationkey")
        .join(F.broadcast(r), n2.n_regionkey == r.r_regionkey, "left_semi")
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), "s_nationkey")
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(0.0)), 4
            ).alias("nation_rev"),
            F.round(F.sum(rev), 4).alias("total_rev"),
        )
    )
    return agg.select(
        "o_year",
        F.round(F.col("nation_rev") / F.col("total_rev"), 6).alias("mkt_share"),
        "nation_rev",
        "total_rev",
    )


def q_tpch_q9(spark, sf_dir):
    """Q9-style product-type profit: per supplier nation and order year, sum
    of revenue minus a synthetic supply cost (10% of retail price x qty; the
    testdata has no partsupp.ps_supplycost) over parts named '*bolt*'.
    Multiplication order matches the oracle exactly — left-associative
    0.1 * p_retailprice * l_quantity — so both engines sum identical terms."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%bolt%"))
        .select("p_partkey", "p_retailprice")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("nation")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), "s_nationkey")
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            # terms carry exactly 4 decimals (2-dec price x 2-dec discount;
            # 3-dec cost x integer qty) -> sums sit ON the 1e-4 grid
            F.round(F.sum(amount), 4).alias("sum_profit"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q_tpch_q11(spark, sf_dir):
    """Q11-style important stock: per-part shipped quantity from NATION_7
    suppliers, kept when above a fraction of the nation-wide total.  The
    scalar subquery is a 1-row broadcast cross join; quantities are
    integer-valued doubles so every sum is EXACT and the threshold compare
    is deterministic across engines."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    nat_li = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
    )
    per_part = nat_li.groupBy("l_partkey").agg(F.sum("l_quantity").alias("qty"))
    total = per_part.agg(F.sum("qty").alias("total_qty"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("qty") > F.lit(0.001) * F.col("total_qty"))
        .select("l_partkey", F.col("qty").cast("long").alias("stock_qty"))
    )


def q_tpch_q12(spark, sf_dir):
    """Q12-style late-shipment priority split: lineitems shipped >30 days
    after the order date in 1997, counted per returnflag with the
    URGENT/HIGH vs other conditional split.  Pure integer aggregates."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q_tpch_q13(spark, sf_dir):
    """Q13-style customer order-count distribution: LEFT OUTER join with a
    predicate INSIDE the join condition (priority filter must not drop
    order-less customers), two-level aggregation."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "3-MEDIUM"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q_tpch_q15(spark, sf_dir):
    """Q15-style top supplier: revenue per supplier over 1997Q1, keep the
    supplier(s) whose revenue equals the maximum.  Revenue is rounded to the
    tie-free 4-decimal grain BEFORE the max/equality so the scalar-subquery
    compare is bit-deterministic; the scalar is a 1-row broadcast."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("total_revenue")
        )
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q_tpch_q16(spark, sf_dir):
    """Q16-style supplier counts per part attribute: distinct suppliers per
    (brand, type, size) over shipped pairs, excluding one brand, one type,
    and "complaint" suppliers (negative balance) via an anti-join — the
    NOT IN subquery shape.  Integer counts: airtight across engines."""
    pairs = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").dropDuplicates()
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 15, 20, 25, 30, 45)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        pairs.join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), pairs.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_tpch_q17(spark, sf_dir):
    """Q17-style small-quantity revenue: Brand#3 lineitems below 20% of the
    part's average quantity; the correlated AVG subquery is a groupBy +
    equi-join back.  Quantities are integer-valued doubles, so both engines
    compute the identical exact sum/count -> identical threshold double."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey, "left_semi")
    )
    avg_qty = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        li.join(F.broadcast(avg_qty), "l_partkey")
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q_tpch_q18(spark, sf_dir):
    """Q18-style large-volume orders: orders whose total quantity exceeds an
    integer threshold (HAVING in a subquery + join back), with customer
    names.  Quantity sums are exact; no LIMIT so no cutoff ordering risk."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 350)
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_date"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.col("sum_qty").cast("long").alias("sum_qty"),
        )
    )


def q_tpch_q19(spark, sf_dir):
    """Q19-style disjunctive predicate revenue: OR of three (brand, size
    range, quantity range) conjuncts over the part join — the
    pushdown-through-disjunction showcase."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q_tpch_q20(spark, sf_dir):
    """Q20-style excess shipments: NATION_3 suppliers that shipped more than
    50 units of some 'red*' part during 1997 — nested IN subqueries become a
    filtered aggregate + two semi-joins.  Integer threshold: airtight."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    heavy = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
        .dropDuplicates()
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .join(F.broadcast(heavy), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


def q_tpch_q21(spark, sf_dir):
    """Q21-style suppliers who kept orders waiting: for finished orders, the
    late lineitem's supplier where ANOTHER supplier participated (EXISTS)
    but NO other supplier was late (NOT EXISTS) — a semi-join and an
    anti-join against the same relation with non-equi residuals."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_9")
    l1 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("o3_orderkey"),
        F.col("l_suppkey").alias("o3_suppkey"),
        F.col("l_shipdate").alias("o3_shipdate"),
    )
    waiting = (
        l1.join(
            l2,
            (l1.l_orderkey == l2.o2_orderkey) & (l1.l_suppkey != l2.o2_suppkey),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == l3.o3_orderkey)
            & (F.col("l_suppkey") != l3.o3_suppkey)
            & (l3.o3_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
            "left_anti",
        )
    )
    return (
        waiting.join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def q_tpch_q21_1scan(spark, sf_dir):
    """q21 rewritten to ONE lineitem scan: the EXISTS ("another supplier
    participated") and NOT EXISTS ("no other supplier was late") become two
    per-order window aggregates — distinct-supplier count > 1 and
    distinct-LATE-supplier count == 1 (the row itself is late, so the one
    late supplier is its own).  Same oracle as tpch_q21: the rewrite is
    cross-checked, and at 100 TB it reads the fact table once instead of
    three times (one window shuffle on l_orderkey replaces two
    fact-vs-fact joins)."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_9")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "is_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
    )
    w = Window.partitionBy("l_orderkey")
    flagged = joined.select(
        "l_suppkey",
        "is_late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
        F.size(
            F.collect_set(F.when(F.col("is_late"), F.col("l_suppkey"))).over(w)
        ).alias("n_late_supp"),
    )
    waiting = flagged.filter(
        F.col("is_late") & (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    )
    return (
        waiting.join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def q_tpch_q22(spark, sf_dir):
    """Q22-style global sales opportunity: customers with above-average
    positive balances and no recent orders, counted per nation.  The scalar
    AVG threshold is ROUNDED to the 4-decimal grain before the comparison
    (the q15 recipe): both engines' ~1e-11 summation difference is far below
    the 5e-5 rounding boundary, so the rounded thresholds are bitwise
    identical and `>` sees the same doubles on both sides — robust at any
    seed/sf, unlike the previous raw compare that relied on a data-grid
    distance argument."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    return (
        c.join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.round(F.col("avg_bal"), 4))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (documents / embeddings / events)
# ---------------------------------------------------------------------------

def q_dd_paragraphs(spark, sf_dir):
    """Cross-corpus keep-first paragraph dedup (text.dedup_paragraphs_df):
    the MassiveText/C4 exact-paragraph rule — every repeated paragraph
    keeps its globally first (doc_id, pos) occurrence and later copies
    are removed, across documents and within one.  The testdata has no
    newlines, so both engines build the same multi-paragraph corpus
    first: two 80-char text slices + a doc_id%7 shared marker (repeated
    across ~1/7 of the corpus — heavy dedup pressure) + a short 'end'
    line below min_chars (never a candidate, survives everywhere).
    Oracle: ROW_NUMBER over (md5(trimmed line)) ordered (doc_id, pos),
    keep rn=1, string_agg rebuild — winner identity and reassembly
    mirrored exactly."""
    from imops_spark.functions.text import dedup_paragraphs_df

    wrapped = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .selectExpr(
            "doc_id",
            "concat_ws('\\n', substr(text, 1, 80),"
            " concat('shared paragraph marker ', CAST(doc_id % 7 AS STRING)),"
            " substr(text, 81, 80), 'end') AS text",
        )
    )
    return dedup_paragraphs_df(wrapped, min_chars=20)


def q_dd_exact(spark, sf_dir):
    from imops_spark.functions.dedup import exact_dup_groups_df

    return exact_dup_groups_df(_t(spark, sf_dir, "documents"))


_SIG_CACHE: dict = {}


def clear_signature_cache():
    """Unpersist and drop every cached MinHash signature table.

    Lifecycle hook for long-lived sessions: the cache otherwise pins one
    tiny (H longs/doc) storage block per (session, sf_dir) for the session
    lifetime.  Driver/bench runs are one-shot, but an interactive user can
    call this to release storage explicitly."""
    for df in _SIG_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass  # session may already be stopped
    _SIG_CACHE.clear()


def _minhash_sigs(spark, sf_dir):
    """Shared, persisted MinHash signature table: dd_minhash materializes it
    once and dd_lsh_pairs reuses it instead of recomputing shingles +
    signatures from scratch (the signature table is tiny — H longs/doc)."""
    from imops_spark.functions.dedup import minhash_signatures_df

    app = spark.sparkContext.applicationId
    # entries from previous sessions are unreachable — drop them so the
    # cache stays bounded at the live session's sf_dirs
    for k in [k for k in _SIG_CACHE if k[0] != app]:
        del _SIG_CACHE[k]
    key = (app, sf_dir, MINHASHES)
    df = _SIG_CACHE.get(key)
    if df is None:
        df = minhash_signatures_df(
            _t(spark, sf_dir, "documents"), num_hashes=MINHASHES
        ).persist()
        _SIG_CACHE[key] = df
    return df


def q_dd_minhash(spark, sf_dir):
    return _minhash_sigs(spark, sf_dir)


def q_dd_lsh_pairs(spark, sf_dir):
    from imops_spark.functions.dedup import lsh_candidate_pairs_df

    return lsh_candidate_pairs_df(_minhash_sigs(spark, sf_dir), bands=4, rows_per_band=2)


def q_dd_minhash_char(spark, sf_dir):
    """Char-gram MinHash on the Arrow XXH64 kernel
    (dedup.minhash_signatures_char_df), end to end: clone the corpus under
    shifted doc_ids, band the signatures, verify candidates with exact
    normalized-text equality.  The output is EXACTLY the text-equal pairs —
    LSH cannot miss an identical normalized text (identical signature ->
    identical band keys) and the verification removes every non-identical
    candidate — which is what lets a DuckDB oracle with no xxhash64 check
    the kernel + banding + join pipeline hash-exactly.  Documents whose
    normalized text is shorter than k=9 chars produce no signature (the
    documented contract); the oracle mirrors the exclusion."""
    from imops_spark.functions.dedup import (
        lsh_candidate_pairs_df,
        minhash_signatures_char_df,
        normalized_text,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionAll(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    # persist through the shared signature cache (the _minhash_sigs
    # economics): the LSH self-join and the two verification joins would
    # otherwise re-run the Arrow kernel once per subtree — signatures are
    # model-thin (17 longs/doc), the materialize-once shape every
    # persisted index here uses
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, "char16")
    sigs = _SIG_CACHE.get(key)
    if sigs is None:
        sigs = minhash_signatures_char_df(corpus, num_hashes=16, k=9).persist()
        _SIG_CACHE[key] = sigs
    pairs = lsh_candidate_pairs_df(sigs, bands=4, rows_per_band=4)
    nt = corpus.filter(F.col("text").isNotNull()).select(
        "doc_id", normalized_text().alias("nt")
    )
    return (
        pairs.join(
            nt.select(F.col("doc_id").alias("doc_a"), F.col("nt").alias("__na")),
            "doc_a",
        )
        .join(
            nt.select(F.col("doc_id").alias("doc_b"), F.col("nt").alias("__nb")),
            "doc_b",
        )
        .filter(F.col("__na") == F.col("__nb"))  # == levenshtein dist 0,
        # without paying the O(len^2) DP per candidate — equality IS the
        # exactness being verified; graded edit similarity is dd_editsim
        .select("doc_a", "doc_b")
    )


def q_dd_jaccard(spark, sf_dir):
    from imops_spark.functions.dedup import ngram_jaccard_df

    docs = _t(spark, sf_dir, "documents")
    pairs = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 1).alias("doc_b")
    )
    return ngram_jaccard_df(docs, pairs)


def q_dd_snapshot(spark, sf_dir):
    """Incremental corpus diff (dedup.snapshot_diff_df): old snapshot vs a
    deterministically-derived new one (doc_id%5==0 removed, %3==0 edited,
    %7==0 re-added under shifted ids), classified added/removed/changed/
    unchanged by md5-of-normalized-text.  Fingerprints are row-local and
    pushed below the full outer join, so only (id, fp) pairs shuffle —
    never document bodies.  NULL-text docs carry a sentinel fp (both
    engines), keeping the status CASE two-valued."""
    from imops_spark.functions.dedup import snapshot_diff_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    kept = docs.filter("doc_id % 5 != 0").selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text",
    )
    added = docs.filter("doc_id % 7 = 0").selectExpr(
        "doc_id + 1000000 AS doc_id", "text"
    )
    return snapshot_diff_df(docs, kept.unionAll(added))


def q_dd_snapshot_stream(spark, sf_dir):
    """Streaming snapshot diff (dedup.snapshot_diff_stream_df): the NEW
    snapshot (same derived fixture as dd_snapshot) arrives as a stream and
    each document is classified added/changed/unchanged against the static
    old fingerprints on arrival — row-local md5 + stream-static LEFT join,
    zero state, append mode.  'removed' is inherently unknowable from a
    stream (absence needs end-of-stream); the oracle is the batch diff
    minus its removed rows."""
    from imops_spark.functions.dedup import snapshot_diff_stream_df
    from imops_spark.streaming.events import run_stream_to_memory

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = static.select("doc_id", "text")
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select("doc_id", "text")
    )
    kept = stream.filter("doc_id % 5 != 0").selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text",
    )
    added = stream.filter("doc_id % 7 = 0").selectExpr(
        "doc_id + 1000000 AS doc_id", "text"
    )
    out = snapshot_diff_stream_df(kept.unionAll(added), old_docs=old)
    return run_stream_to_memory(out, "dd_snapshot_stream_gate", spark, mode="append")


def q_dd_spans(spark, sf_dir):
    """Exact substring dedup, span level (dedup.duplicate_spans_df): the
    maximal character spans whose every 20-gram occurs in >= 2 distinct
    documents — the Lee et al. suffix-array primitive as a hash-relational
    plan (one gram shuffle with a window min/max distinct-doc test — no
    join, no second scan — then island merging by doc).  The shared-vocab
    corpus makes real cross-document spans common."""
    from imops_spark.functions.dedup import duplicate_spans_df

    return duplicate_spans_df(_t(spark, sf_dir, "documents"), k=20)


def q_dd_span_stats(spark, sf_dir):
    """Per-document duplicated-character coverage
    (dedup.duplicate_span_stats_df): span count, duplicated chars, and the
    thresholdable coverage fraction — maximal spans never overlap, so the
    sum is exact."""
    from imops_spark.functions.dedup import duplicate_span_stats_df

    return duplicate_span_stats_df(_t(spark, sf_dir, "documents"), k=20)


def q_dd_editsim(spark, sf_dir):
    """Edit-distance verification (dedup.edit_similarity_df): exact
    Levenshtein over normalized texts for candidate pairs — the
    order-sensitive complement to Jaccard verification.

    The documented ASCII scope of edit_similarity_df is ENFORCED here, not
    assumed: Spark's levenshtein counts codepoints but DuckDB's counts
    BYTES (measured: 'héllo'->'hello' = 1 vs 2), so the gate filters both
    engines to ASCII rows with the identical byte-length == codepoint-length
    predicate.  Today's testdata is all-ASCII (the filter keeps every row);
    if the corpus ever regenerates with multi-byte text the gate stays
    correct by construction instead of hash-diverging.  The multi-byte
    coverage lives in txt_utf8, whose functions agree cross-engine."""
    from imops_spark.functions.dedup import edit_similarity_df

    docs = _t(spark, sf_dir, "documents").filter(
        F.length("text") == F.octet_length("text")
    )
    pairs = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 1).alias("doc_b")
    )
    return edit_similarity_df(docs, pairs)


def q_curate(spark, sf_dir):
    """END-TO-END curation pipeline gate (functions.curate.curate_documents):
    quality gate -> exact dedup -> MinHash/LSH/Jaccard near dedup ->
    connected components -> BPE token budgets, hashed as ONE result against
    a single DuckDB CTE chain (recursive CTE for the cluster step) — the
    strongest composition check the driver can run."""
    from imops_spark.functions.curate import curate_documents

    out = curate_documents(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        "text",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_bpe").cast("long").alias("n_bpe"),
        F.col("n_unique_bpe").cast("long").alias("n_unique_bpe"),
    )


def q_cur_shards(spark, sf_dir):
    """Deterministic training order (curate.training_order_df): balanced
    md5-bucket shards plus within-shard hash rank — the decorrelation
    shuffle a training run reads, reproducible across engines/reruns
    (an RNG permutation could never be cross-engine gated).  Plan: ONE
    exchange by shard + in-partition window sort; never a global ORDER
    BY (a reader only needs order WITHIN a shard, and the shard count
    bounds each task's sort — the dd_spans sizing discipline applied to
    ordering)."""
    from imops_spark.functions.curate import training_order_df

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return training_order_df(docs, n_shards=8, salt=77)


def q_cur_pack_seqs(spark, sf_dir):
    """Distributed sequence packing (curate.pack_sequences_df): every
    document laid head-to-tail on one global token tape in the md5
    decorrelation order, cut into fixed 64-token training sequences —
    one row per (document, sequence) overlap with the offsets a loader
    needs for boundary-masked packed batches.  Plan: the global prefix
    sum is TWO-PHASE (in-shard window cumsum + an 8-row broadcast shard
    offset join) — never a single-partition global sort; the oracle
    re-derives the identical tape with one flat cumulative window (tiny
    data), proving the two-phase decomposition exact."""
    from imops_spark.functions.curate import pack_sequences_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences_df(docs, seq_len=64, n_shards=8, salt=77)


def q_cur_pack_mat(spark, sf_dir):
    """Packed-sequence MATERIALIZATION (curate.pack_sequence_tokens_df):
    the sequences cur_pack_seqs plans, actually assembled — per 64-token
    training sequence its exact token content (fingerprinted md5 over the
    space-joined tokens so the gate pins every token in every position),
    document arity, and length.  One seq_id exchange whose per-group
    state is a training sample, never a corpus; the oracle re-assembles
    each sequence with ordered list slicing and must hash identically."""
    from imops_spark.functions.curate import pack_sequence_tokens_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    seqs = pack_sequence_tokens_df(docs, seq_len=64, n_shards=8, salt=77)
    return seqs.select(
        "seq_id",
        "n_tokens",
        "n_docs",
        F.md5(F.concat_ws(" ", "tokens")).alias("fingerprint"),
    )


def q_cur_sample(spark, sf_dir):
    """Deterministic hash sampling + hash splitting (curate.hash_sample_df /
    split_by_hash_df): every doc gets a train/val/test split label and an
    in-sample flag, both pure md5-bucket arithmetic — reproducible under
    reprocessing and recomputed verbatim by the DuckDB oracle (an RNG
    sample could never be cross-engine gated)."""
    from imops_spark.functions.curate import hash_sample_df, split_by_hash_df

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    split = split_by_hash_df(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt=5
    )
    sampled = hash_sample_df(docs, "doc_id", 0.25, salt=7).select(
        "doc_id", F.lit(1).alias("in_sample")
    )
    return (
        split.join(sampled, "doc_id", "left_outer")
        .select("doc_id", "split", F.coalesce("in_sample", F.lit(0)).alias("in_sample"))
    )


def q_cur_quota(spark, sf_dir):
    """Per-group quota sampling (curate.cap_per_group_df): keep at most 10
    docs per source, chosen by deterministic md5 order — the
    source-balancing step of a corpus mix.  Oracle recomputes the
    ROW_NUMBER over the identical hash ordering."""
    from imops_spark.functions.curate import cap_per_group_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group_df(docs, "source", 10, "doc_id", salt=3)


def q_cur_mix(spark, sf_dir):
    """Mixture sampling (curate.mixture_sample_df): per-source keep
    fractions via the same md5-bucket membership as cur_sample — a literal
    MAP lookup, no join; unnamed sources drop.  Oracle recomputes the
    per-source thresholds with a CASE."""
    from imops_spark.functions.curate import mixture_sample_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return mixture_sample_df(
        docs,
        "source",
        {"src0": 1.0, "src1": 0.5, "src2": 0.1},
        key_col="doc_id",
        salt=11,
    )


def q_cur_pack(spark, sf_dir):
    """Deterministic sequence packing (curate.pack_documents_df): docs fill
    fixed-budget bins in per-shard md5 order (running-sum fill).  The
    oracle recomputes shard, order, cumulative sum, and bin arithmetic —
    integer-exact end to end."""
    from imops_spark.functions.curate import pack_documents_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pack_documents_df(docs, budget=4000, shards=8, salt=13).select(
        "doc_id", "pack_id"
    )


def q_mm_audio(spark, sf_dir):
    """Audio modality gate: document bytes reinterpreted as PCM16 clips run
    through the REAL audio kernel (int16 buffer decode in mapInPandas) and
    the oracle regenerates every sample with byte arithmetic (text is pure
    ASCII, so ord(char) == byte; sample = lo + 256*hi, signed).  rms is
    exact on both engines: squared samples sit on the 2^-30 grid and the
    clip sums fit 53 bits, so summation order cannot matter."""
    from imops_spark.functions.multimodal import audio_features_df

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
        & (F.col("doc_id") < 80)
        & (F.length("text") >= 4)
        # enforced ASCII scope: the byte-regeneration oracle needs
        # ord(char) == byte, so non-ASCII rows are excluded identically on
        # both engines instead of assumed absent (guard-tested before r6)
        & (F.length("text") == F.octet_length("text"))
    )
    # int16 needs an even byte count: truncate to even length (ASCII text,
    # so char length == byte length)
    even = F.expr("substring(text, 1, CAST(floor(length(text)/2)*2 AS INT))")
    items = docs.select(
        F.col("doc_id").alias("item_id"),
        F.lit("audio").alias("modality"),
        F.encode(even, "utf-8").alias("data"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("channels"),
            F.lit(16000).alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
            F.lit("pcm16").alias("format"),
        ).alias("meta"),
    )
    return audio_features_df(items).select(
        "item_id",
        F.round("duration_s", 9).alias("duration_s"),
        F.round("rms", 9).alias("rms"),
        F.round("peak", 9).alias("peak"),
        F.round("zcr", 9).alias("zcr"),
    )


def q_mm_resample(spark, sf_dir):
    """Audio resampling gate (multimodal.resample_audio_df): the same
    ASCII-byte PCM16 clips as mm_audio, linearly resampled 16k -> 24k in
    the row-local Arrow kernel; the oracle regenerates every OUTPUT sample
    relationally — integer position split (idx = j*sr DIV target, frac =
    (j*sr MOD target)/target, exactly the kernel's arithmetic, never a
    floating division of positions), one lerp multiply over integer
    samples, micro-snap, ordered string_agg md5.  The 3/2 rate ratio makes
    every micro value provably >= 1/6 from a rounding boundary, so the
    kernel's half-even np.round and the oracle's half-away ROUND agree
    everywhere."""
    from imops_spark.functions.multimodal import resample_audio_df

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
        & (F.col("doc_id") < 80)
        & (F.length("text") >= 4)
        & (F.length("text") == F.octet_length("text"))
    )
    even = F.expr("substring(text, 1, CAST(floor(length(text)/2)*2 AS INT))")
    items = docs.select(
        F.col("doc_id").alias("item_id"),
        F.lit("audio").alias("modality"),
        F.encode(even, "utf-8").alias("data"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("channels"),
            F.lit(16000).alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
            F.lit("pcm16").alias("format"),
        ).alias("meta"),
    )
    return resample_audio_df(items, target_rate=24000).select(
        "item_id", "n_in", "n_out", "samples_hash"
    )


JSONL_DOCS_DDL = "doc_id long, text string, lang string, source string, n_chars long"


def _ensure_jsonl(spark, sf_dir) -> str:
    """Export the documents table to a JSONL directory once per
    (sf_dir, pid) — shared by the source gates and the ingestion
    composition (the index gates' build-if-absent recipe)."""
    import hashlib
    import os

    from imops_spark.sources.jsonl import write_jsonl

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/imops_spark_idx/jsonl_{key}_{os.getpid()}"
    if not os.path.exists(path):
        # a FIXED small file count: the streaming gates ingest 2 files per
        # micro-batch, so an unbounded one-file-per-partition export (32 at
        # sf0.1) turns the drain into 16 micro-batches of pure scheduling
        # overhead — 4 files = 2 batches, still crossing a batch boundary,
        # which is what the gates exist to exercise
        write_jsonl(_t(spark, sf_dir, "documents"), path, mode="overwrite", files=4)
    return path


def _jsonl_fingerprint_select(df):
    """The per-row fingerprint projection BOTH source gates apply — one
    owner, because they share one oracle: a drifted copy in either gate
    would silently diverge from the other."""
    return df.select(
        "doc_id",
        F.md5(F.encode(F.coalesce(F.col("text"), F.lit("<null>")), "utf-8")).alias(
            "text_md5"
        ),
        F.coalesce(F.col("lang"), F.lit("<null>")).alias("lang"),
        F.coalesce(F.col("source"), F.lit("<null>")).alias("source"),
        "n_chars",
    )


def _ensure_warc(spark, sf_dir) -> str:
    """Export the documents table as WARC response records once per
    (sf_dir, pid) — the _ensure_jsonl recipe for the crawl-native
    container."""
    import hashlib
    import os

    from imops_spark.sources.warc import write_warc

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/imops_spark_idx/warc_{key}_{os.getpid()}"
    if not os.path.exists(path):
        docs = (
            _t(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull())
            .select(
                F.concat(
                    F.lit("http://example.org/doc/"),
                    F.col("doc_id").cast("string"),
                ).alias("target_uri"),
                F.col("text").alias("payload"),
            )
        )
        write_warc(docs, path, mode="overwrite", files=4)
    return path


def _ensure_warc_gz(spark, sf_dir):
    """Repack the bare WARC export into the CommonCrawl layout (one gzip
    member per record) once per (sf_dir, pid) — the real crawl input
    format the reader must handle."""
    import hashlib
    import os

    from imops_spark.sources.warc import repack_warc_gz

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/imops_spark_idx/warcgz_{key}_{os.getpid()}"
    if not os.path.exists(path):
        repack_warc_gz(spark, _ensure_warc(spark, sf_dir), path)
    return path


def q_src_warc(spark, sf_dir):
    """WARC source/sink roundtrip gate (sources.warc.write_warc /
    read_warc): the documents table is exported as spec-shaped WARC
    response records (Content-Length octet framing, deterministic
    urn:uuid record ids) and parsed back through the per-file
    binaryFile + Arrow parser; the oracle re-derives uri, text,
    octet count, and the record-id construction from the parquet
    directly — they hash-match iff the container roundtrip is lossless
    and the framing is byte-exact."""
    from imops_spark.sources.warc import read_warc

    path = _ensure_warc(spark, sf_dir)
    return read_warc(spark, path).select(
        "target_uri",
        F.decode("payload", "UTF-8").alias("text"),
        "content_length",
        "record_id",
    )


def q_src_warc_gz(spark, sf_dir):
    """Gzip-member WARC gate (sources.warc.repack_warc_gz / read_warc):
    the bare WARC export repacked into the CommonCrawl layout — one gzip
    member per record, the actual format of every production crawl file —
    and parsed back through the member-stream reader (zlib.decompressobj
    member loop + carry-buffer record scan, warc.py).  Same projection
    and parquet-direct oracle as src_warc: a hash-match proves the gzip
    member framing, per-member decompression, and record parse compose
    losslessly on real-layout input."""
    from imops_spark.sources.warc import read_warc

    path = _ensure_warc_gz(spark, sf_dir)
    return read_warc(spark, path).select(
        "target_uri",
        F.decode("payload", "UTF-8").alias("text"),
        "content_length",
        "record_id",
    )


def _ensure_warc_http(spark, sf_dir) -> str:
    """Build the HTTP-response WARC fixture once per (sf_dir, pid): each
    document's text wrapped in the shared synthetic page (the txt_html /
    cur_ingest wrap — one owner), framed as a full HTTP/1.1 response and
    coded by ``doc_id % 4``: plain / Content-Encoding gzip / chunked
    transfer / chunked-over-gzip — the four framings real CommonCrawl
    response records arrive in.  Written as member-per-record .warc.gz
    (the crawl layout), one file per task via TaskContext partition id;
    the directory is renamed into place only after every part lands, so
    a died build can never be half-read."""
    import hashlib
    import os

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/imops_spark_idx/warchttp_{key}_{os.getpid()}"
    if os.path.exists(path):
        return path
    build = path + ".build"
    os.makedirs(build, exist_ok=True)
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    head, mid, tail = HTML_WRAP_HEAD, HTML_WRAP_MID, HTML_WRAP_TAIL

    def run(batches):
        import gzip as _g

        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        dst = os.path.join(build, f"part-{pid:05d}.warc.gz")
        n = 0
        with open(dst + ".tmp", "wb") as fh:
            for pdf in batches:
                for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                    page = head + text[:24] + mid + text + tail
                    body = page.encode("utf-8")
                    v = int(doc_id) % 4
                    hdrs = ["Content-Type: text/html; charset=utf-8"]
                    if v in (1, 3):
                        body = _g.compress(body)
                        hdrs.append("Content-Encoding: gzip")
                    if v in (2, 3):
                        parts = [
                            format(len(body[i : i + 64]), "x").encode()
                            + b"\r\n"
                            + body[i : i + 64]
                            + b"\r\n"
                            for i in range(0, len(body), 64)
                        ]
                        body = b"".join(parts) + b"0\r\n\r\n"
                        hdrs.append("Transfer-Encoding: chunked")
                    msg = (
                        b"HTTP/1.1 200 OK\r\n"
                        + "\r\n".join(hdrs).encode()
                        + b"\r\n\r\n"
                        + body
                    )
                    wh = (
                        f"WARC/1.0\r\nWARC-Type: response\r\n"
                        f"WARC-Record-ID: <urn:uuid:{doc_id}>\r\n"
                        f"WARC-Target-URI: http://example.org/doc/{doc_id}\r\n"
                        f"Content-Type: application/http; msgtype=response\r\n"
                        f"Content-Length: {len(msg)}\r\n\r\n"
                    ).encode()
                    fh.write(_g.compress(wh + msg + b"\r\n\r\n"))
                    n += 1
        if n:
            os.replace(dst + ".tmp", dst)
        else:
            os.remove(dst + ".tmp")
            return
        yield pd.DataFrame({"file": [dst], "n": [n]})

    docs.repartition(4).mapInPandas(run, schema="file string, n long").collect()
    os.replace(build, path)
    return path


# the non-UTF-8 charset fixture rows: (wire-name-or-None, codec canonical
# name, body prefix) by doc_id % 4 — v3 declares NOTHING in the header and
# is detected from its HTML meta tag (the HTML5 prescan path)
_CHARSET_FIXTURE = [
    ("ISO-8859-1", "iso8859-1", "café £5 ±æøß doc "),
    ("windows-1251", "cp1251", "Привет мир доклад "),
    ("Shift_JIS", "shift_jis", "こんにちは世界 文書 "),
    (None, "cp1251", '<meta charset="windows-1251"><p>Документ '),
]


def _ensure_warc_charset(spark, sf_dir) -> str:
    """Charset-decode fixture: synthesized bodies (by construction
    encodable) in latin-1 / windows-1251 / shift-jis, declared in the
    Content-Type header for variants 0-2 and ONLY in an HTML meta tag
    for variant 3 — the byte-decode coverage txt_utf8 (a string-function
    gate) can't give."""
    import hashlib
    import os

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/imops_spark_idx/warccs_{key}_{os.getpid()}"
    if os.path.exists(path):
        return path
    build = path + ".build"
    os.makedirs(build, exist_ok=True)
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id")
    )
    fixture = _CHARSET_FIXTURE

    def run(batches):
        import gzip as _g

        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        dst = os.path.join(build, f"part-{pid:05d}.warc.gz")
        n = 0
        with open(dst + ".tmp", "wb") as fh:
            for pdf in batches:
                for doc_id in pdf["doc_id"]:
                    v = int(doc_id) % 4
                    wire, codec, prefix = fixture[v]
                    text = prefix + str(doc_id) + ("</p>" if v == 3 else "")
                    body = text.encode(codec)
                    ct = "text/html" + (
                        f"; charset={wire}" if wire is not None else ""
                    )
                    msg = (
                        f"HTTP/1.1 200 OK\r\nContent-Type: {ct}\r\n\r\n"
                    ).encode() + body
                    wh = (
                        f"WARC/1.0\r\nWARC-Type: response\r\n"
                        f"WARC-Record-ID: <urn:uuid:{doc_id}>\r\n"
                        f"WARC-Target-URI: http://example.org/doc/{doc_id}\r\n"
                        f"Content-Type: application/http; msgtype=response\r\n"
                        f"Content-Length: {len(msg)}\r\n\r\n"
                    ).encode()
                    fh.write(_g.compress(wh + msg + b"\r\n\r\n"))
                    n += 1
        if n:
            os.replace(dst + ".tmp", dst)
        else:
            os.remove(dst + ".tmp")
            return
        yield pd.DataFrame({"file": [dst], "n": [n]})

    docs.repartition(4).mapInPandas(run, schema="file string, n long").collect()
    os.replace(build, path)
    return path


def q_src_warc_http(spark, sf_dir):
    """HTTP payload extraction gate (sources.warc.read_warc(http=True)):
    repacked response records with real HTTP framing — status line,
    headers, gzip Content-Encoding, chunked transfer coding, and both
    combined, by doc_id % 4 — parsed inside the per-file Arrow task.
    The oracle re-derives status/media-type/charset/coding headers and
    the exact page text from the parquet: a hash-match proves the
    framing split, both coding reversals, the header map, and the decode
    are lossless on every variant."""
    from imops_spark.sources.warc import read_warc

    path = _ensure_warc_http(spark, sf_dir)
    return read_warc(spark, path, http=True).select(
        F.regexp_extract("target_uri", r"(\d+)$", 1).cast("long").alias("doc_id"),
        "http_status",
        "http_content_type",
        "charset",
        F.col("http_headers")["content-encoding"].alias("content_encoding"),
        F.col("http_headers")["transfer-encoding"].alias("transfer_encoding"),
        "text",
        "http_error",
    )


def q_src_warc_charset(spark, sf_dir):
    """Charset byte-decode gate (read_warc(http=True) charset
    resolution): latin-1 / windows-1251 / shift-jis bodies declared in
    the Content-Type header, plus a variant declared ONLY by an HTML
    meta tag (the HTML5 prescan path).  The oracle states the expected
    canonical codec name and the expected decoded string per variant —
    a hash-match proves the bytes→text decode itself, which every
    downstream dedup/quality semantic depends on (txt_utf8 only gates
    string-function agreement on already-decoded text)."""
    from imops_spark.sources.warc import read_warc

    path = _ensure_warc_charset(spark, sf_dir)
    return read_warc(spark, path, http=True).select(
        F.regexp_extract("target_uri", r"(\d+)$", 1).cast("long").alias("doc_id"),
        "charset",
        "text",
        "http_error",
    )


def q_src_warc_stream(spark, sf_dir):
    """Streaming WARC gate (sources.warc.stream_warc): the SAME repacked
    HTTP-response fixture as src_warc_http consumed as a binaryFile
    file-source STREAM (two files per micro-batch, so the drain crosses
    batch boundaries) with the full HTTP split — framing, codings,
    charset decode — running inside the stateless per-file Arrow task,
    drained to memory.  Same projection and oracle as src_warc_http: a
    hash-match proves the landing-zone streaming leg is value-identical
    to the batch reader on every coding variant."""
    from imops_spark.sources.warc import stream_warc
    from imops_spark.streaming.events import run_stream_to_memory

    path = _ensure_warc_http(spark, sf_dir)
    s = stream_warc(spark, path, http=True, max_files_per_trigger=2).select(
        F.regexp_extract("target_uri", r"(\d+)$", 1).cast("long").alias("doc_id"),
        "http_status",
        "http_content_type",
        "charset",
        F.col("http_headers")["content-encoding"].alias("content_encoding"),
        F.col("http_headers")["transfer-encoding"].alias("transfer_encoding"),
        "text",
        "http_error",
    )
    return run_stream_to_memory(s, "src_warc_stream_gate", spark, mode="append")


def q_cur_ingest2(spark, sf_dir):
    """The CRAWL-ingestion composition gate: read_warc(http=True) over
    the HTTP fixture (gzip members -> WARC framing -> HTTP split ->
    coding reversal -> charset decode, all in one Arrow task) ->
    strip_html_df -> token_entropy_local_df -> entropy floor: the
    pipeline a real CommonCrawl run starts with, end to end, zero
    shuffles.  Same oracle as cur_ingest — the fixture wraps the same
    page around the same text, so the two ingestion legs (JSONL stream,
    WARC+HTTP batch) must land on identical scored survivors."""
    from imops_spark.functions.text import strip_html_df, token_entropy_local_df
    from imops_spark.sources.warc import read_warc

    path = _ensure_warc_http(spark, sf_dir)
    pages = read_warc(spark, path, http=True).select(
        F.regexp_extract("target_uri", r"(\d+)$", 1).cast("long").alias("doc_id"),
        "text",
    )
    cleaned = strip_html_df(pages).select(
        "doc_id", F.col("text_clean").alias("text")
    )
    return token_entropy_local_df(cleaned).filter(F.col("h_micro") >= 2_500_000)


def q_src_jsonl(spark, sf_dir):
    """JSONL source/sink roundtrip gate (sources.jsonl.write_jsonl /
    read_jsonl): the documents table is exported to line-delimited JSON
    and read back with an explicit schema, and the gate fingerprints
    every column of every row of the READ-BACK frame; the oracle
    fingerprints the original parquet directly — they hash-match iff the
    JSONL roundtrip is lossless (JSON string escaping, null fields,
    bigint fidelity).  Write-once per (sf_dir, pid), like the index
    gates.  The read uses on_corrupt='fail': a single malformed line in
    our own export should explode, not quarantine."""
    from imops_spark.sources.jsonl import read_jsonl

    path = _ensure_jsonl(spark, sf_dir)
    back = read_jsonl(spark, path, JSONL_DOCS_DDL, on_corrupt="fail")
    return _jsonl_fingerprint_select(back)


def q_src_jsonl_stream(spark, sf_dir):
    """Streaming JSONL ingest gate (sources.jsonl.stream_jsonl): the same
    exported JSONL directory as src_jsonl consumed as a file-source
    STREAM (two files per micro-batch, so the drain crosses batch
    boundaries) with ingestion-time row-local fingerprinting, drained to
    memory — proving the landing-zone shape end to end against the same
    parquet-direct oracle as the batch reader."""
    from imops_spark.sources.jsonl import stream_jsonl
    from imops_spark.streaming.events import run_stream_to_memory

    path = _ensure_jsonl(spark, sf_dir)
    stream = stream_jsonl(spark, path, JSONL_DOCS_DDL, max_files_per_trigger=2)
    out = _jsonl_fingerprint_select(stream)
    return run_stream_to_memory(out, "src_jsonl_stream_gate", spark, mode="append")


def q_cur_ingest(spark, sf_dir):
    """The INGESTION composition gate — the landing-zone pipeline a crawl
    runs, as ONE streaming plan with zero shuffles: stream_jsonl (the
    exported documents directory, two files per micro-batch) -> synthetic
    page wrap (both engines build the same HTML, as in txt_html) ->
    strip_html_df -> token_entropy_local_df (the row-local twin — streams
    cannot aggregate mid-plan) -> entropy floor at 2.5 nats -> append
    drain.  Every stage is individually gated (src_jsonl_stream,
    txt_html, txt_entropy_stream); this proves they COMPOSE
    ingestion-side, the way cur_select3 proves the batch cleaning family
    composes.  The oracle rebuilds the chain relationally: the shared
    HTML step tables inlined into the entropy SQL's tokenizer, floor as
    an integer micro-nat predicate."""
    from imops_spark.functions.text import strip_html_df, token_entropy_local_df
    from imops_spark.sources.jsonl import stream_jsonl
    from imops_spark.streaming.events import run_stream_to_memory

    path = _ensure_jsonl(spark, sf_dir)
    stream = stream_jsonl(spark, path, JSONL_DOCS_DDL, max_files_per_trigger=2)
    wrapped = stream.select(
        "doc_id",
        F.concat(
            F.lit(HTML_WRAP_HEAD),
            F.substring("text", 1, 24),
            F.lit(HTML_WRAP_MID),
            F.col("text"),
            F.lit(HTML_WRAP_TAIL),
        ).alias("text"),
    )
    cleaned = strip_html_df(wrapped).select(
        "doc_id", F.col("text_clean").alias("text")
    )
    scored = token_entropy_local_df(cleaned).filter(
        F.col("h_micro") >= 2_500_000
    )
    return run_stream_to_memory(scored, "cur_ingest_gate", spark, mode="append")


def q_mm_vad(spark, sf_dir):
    """Audio energy segmentation gate (multimodal.audio_energy_segments_df
    — the VAD/silence-trim shape): the same ASCII-byte PCM16 clips as
    mm_audio, cut into 8-sample frames, integer frame energies
    thresholded at 5.2e9 (the empirical median-ish of the testdata's
    frame-energy distribution, so both branches of the threshold fire),
    runs of >= 2 active frames emitted as segments.  Everything is exact
    int64 arithmetic (squared int16 sums), so the gate hash-matches an
    INDEPENDENT relational derivation: the kernel scans each clip's
    array row-locally in numpy; the oracle explodes samples and runs the
    classic gaps-and-islands window chain (LAG run-start flags, running
    SUM island ids) — a segmentation bug in either formulation
    mismatches."""
    from imops_spark.functions.multimodal import audio_energy_segments_df

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
        & (F.col("doc_id") < 80)
        & (F.length("text") >= 4)
        & (F.length("text") == F.octet_length("text"))
    )
    even = F.expr("substring(text, 1, CAST(floor(length(text)/2)*2 AS INT))")
    items = docs.select(
        F.col("doc_id").alias("item_id"),
        F.lit("audio").alias("modality"),
        F.encode(even, "utf-8").alias("data"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("channels"),
            F.lit(16000).alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
            F.lit("pcm16").alias("format"),
        ).alias("meta"),
    )
    return audio_energy_segments_df(
        items, frame_len=8, threshold=5_200_000_000, min_frames=2
    )


def q_mm_image_raw(spark, sf_dir):
    """REAL image decode gate (raw_u8): 4x5x3 uint8 images cut from
    document bytes run through image_features_df(decode='real') — the
    buffer-reinterpret path resize_images_df emits — while the oracle
    rebuilds every pixel with byte arithmetic.  Channel means are exact
    integer ratios; std rounds at 6 (numpy two-pass vs DuckDB streaming
    differ in last ulps); the channel-mean dark compare divides the same
    left-associated sum by 3.0 on both engines."""
    from imops_spark.functions.multimodal import image_features_df

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
        & (F.col("doc_id") < 80)
        & (F.length("text") >= 60)
        # enforced ASCII scope: substring() counts codepoints but the
        # oracle's pixel math counts bytes — identical exclusion on both
        & (F.length("text") == F.octet_length("text"))
    )
    items = docs.select(
        F.col("doc_id").alias("item_id"),
        F.lit("image").alias("modality"),
        F.encode(F.substring("text", 1, 60), "utf-8").alias("data"),
        F.struct(
            F.lit(5).alias("width"),
            F.lit(4).alias("height"),
            F.lit(3).alias("channels"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
            F.lit("raw_u8").alias("format"),
        ).alias("meta"),
    )
    return image_features_df(items, decode="real").select(
        "item_id",
        F.round("mean_c0", 9).alias("mean_c0"),
        F.round("std_c0", 6).alias("std_c0"),
        F.round("frac_dark", 9).alias("frac_dark"),
    )


def q_mm_imresize(spark, sf_dir):
    """Image RESIZE gate (multimodal.resize_images_df): 4x5x3 raw_u8
    images cut from document bytes are nearest-neighbor-resized to 2x3x3
    through the real decode path, and EVERY OUTPUT PIXEL is value-hashed
    against an oracle that recomputes the gather indices with integer
    arithmetic — ys[y] = y*4 DIV 2, xs[x] = x*5 DIV 3, source byte
    (ys*5 + xs)*3 + c + 1 — and reads the byte with ord(substr(..)).
    The Spark side extracts pixels from the resized BINARY payload via
    hex(substring(data, pos, 1)), so the kernel's tobytes() layout is
    pinned end to end, not just a summary statistic."""
    from imops_spark.functions.multimodal import resize_images_df

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
        & (F.col("doc_id") < 80)
        & (F.length("text") >= 60)
        # enforced ASCII scope (the mm_image_raw rule): substring counts
        # codepoints, the oracle's byte math counts bytes
        & (F.length("text") == F.octet_length("text"))
    )
    items = docs.select(
        F.col("doc_id").alias("item_id"),
        F.lit("image").alias("modality"),
        F.encode(F.substring("text", 1, 60), "utf-8").alias("data"),
        F.struct(
            F.lit(5).alias("width"),
            F.lit(4).alias("height"),
            F.lit(3).alias("channels"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
            F.lit("raw_u8").alias("format"),
        ).alias("meta"),
    )
    res = resize_images_df(items, out_w=3, out_h=2, decode="real")
    return (
        res.select(
            "item_id",
            F.explode(F.sequence(F.lit(1), F.lit(18))).alias("pos"),
            F.col("data"),
        )
        .selectExpr(
            "item_id",
            "pos",
            "CAST(conv(hex(substring(data, pos, 1)), 16, 10) AS INT) AS val",
        )
    )


def q_mm_tiles(spark, sf_dir):
    """Image TILING gate (multimodal.tile_images_df — the ViT patching
    step): the same 4x5x3 raw_u8 images as mm_imresize are cut into the
    2x2 tile grid (2 rows x 2 cols of full tiles; the 5th pixel column
    is a partial tile and must be DROPPED — the patching contract), and
    EVERY BYTE of every tile payload is value-checked against an oracle
    that recomputes the source byte index with integer arithmetic:
    within tile (r, c), byte (y, x, ch) comes from source position
    ((r*2 + y)*5 + (c*2 + x))*3 + ch + 1.  Byte-exact, like the other
    raw-image gates — the kernel's slice/tobytes layout is pinned, not a
    summary statistic."""
    from imops_spark.functions.multimodal import tile_images_df

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
        & (F.col("doc_id") < 80)
        & (F.length("text") >= 60)
        & (F.length("text") == F.octet_length("text"))
    )
    items = docs.select(
        F.col("doc_id").alias("item_id"),
        F.lit("image").alias("modality"),
        F.encode(F.substring("text", 1, 60), "utf-8").alias("data"),
        F.struct(
            F.lit(5).alias("width"),
            F.lit(4).alias("height"),
            F.lit(3).alias("channels"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
            F.lit("raw_u8").alias("format"),
        ).alias("meta"),
    )
    tiles = tile_images_df(items, tile_w=2, tile_h=2, decode="real")
    return (
        tiles.select(
            "item_id",
            "tile_row",
            "tile_col",
            F.explode(F.sequence(F.lit(1), F.lit(12))).alias("pos"),
            F.col("data"),
        )
        .selectExpr(
            "item_id",
            "tile_row",
            "tile_col",
            "pos",
            "CAST(conv(hex(substring(data, pos, 1)), 16, 10) AS INT) AS val",
        )
    )


def q_emb_text_topk(spark, sf_dir):
    """Composition gate: documents -> hashed embeddings (txt_embed's
    dim-16 random sign projection, components rounded at 6 so both
    engines rank IDENTICAL doubles) -> PERSISTED embedding index
    (``embedding_write_index`` — stamped, bucketed; the corpus pays its
    featurization exactly ONCE, at write time) -> exact cosine top-3
    neighbors for the first 5 docs (``embedding_index_topk``: both the
    query side and the corpus GEMM read the STORED column — zero
    featurization at probe time, the write-once/probe-many economics an
    ANN service needs at 100 TB).  Zero-norm embeddings (an all-bits-tie
    document) are filtered before the write: cosine against a zero
    vector is NaN in both engines but NaN ORDER is not worth gating."""
    from imops_spark.functions.similarity import (
        embedding_index_topk,
        embedding_write_index,
    )
    from imops_spark.functions.text import hashed_embedding_df

    # Build-if-absent, SESSION-scoped: the in-memory catalog dies with the
    # session, so every fresh process rebuilds (staleness is impossible)
    # while repeated calls within one session — bench passes, a service's
    # query stream — pay only the probe.  That is the quantity the bench
    # row measures: an ANN service amortizes ONE build over every query
    # it ever serves, exactly like lsh_write_index/ivf_write_index.
    # The table name keys on sf_dir (one session may probe several
    # scales); the external path keys on pid (a managed table's warehouse
    # dir would outlive the session-local catalog and make overwrite
    # refuse with LOCATION_ALREADY_EXISTS).
    import hashlib
    import os
    import shutil

    table = f"imops_emb_text_topk_idx_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    if not spark.catalog.tableExists(table):
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        emb = hashed_embedding_df(docs, dim=16).filter(
            F.expr("size(filter(embedding, x -> x != 0D)) > 0")
        )
        path = f"/tmp/imops_spark_idx/{table}_{os.getpid()}"
        shutil.rmtree(path, ignore_errors=True)
        embedding_write_index(
            emb, table, family="hashed_md5", dim=16, path=path
        )
    queries = spark.table(table).filter(F.col("doc_id") < 5)
    return embedding_index_topk(
        spark, table, queries, k=3, family="hashed_md5", dim=16
    ).select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        "cosine",
    )


def q_rel_hof(spark, sf_dir):
    """Higher-order array functions (§2.2 scalar functions) as a first-class
    gate: per embedding, the L2 norm via aggregate(), a self inner product
    via zip_with()+aggregate(), and the count of positive components via
    filter() — vs DuckDB's list_* builtins.  Sums fold in index order on
    both engines (left fold vs list_sum over the same list), error ~1e-15
    against a round-6 grain."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    vec = F.col("embedding").cast("array<double>")
    sq = F.zip_with(vec, vec, lambda a, b: a * b)
    return emb.select(
        "vec_id",
        F.round(
            F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)), 6
        ).alias("l2_norm"),
        F.round(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x), 5).alias("self_dot"),
        F.size(F.filter(vec, lambda x: x > 0.0)).alias("n_pos"),
    )


def q_cur_contam(spark, sf_dir):
    """Train/eval contamination scan (curate.contamination_pairs_df): docs
    split by doc_id % 5 into pseudo-train/eval; pairs sharing >= 30
    winnowing fingerprints are flagged (the testdata's planted dups share
    51-203, background vocab noise far fewer — clean separation).  The winnowing guarantee makes any
    verbatim overlap >= k+window-1 chars detectable; candidates come from
    a fingerprint EQUI-join, never a train x eval cross product.  Oracle
    recomputes both fingerprint sets with the txt_winnow SQL chain."""
    from imops_spark.functions.curate import contamination_pairs_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    holdout = docs.filter(F.col("doc_id") % 5 == 0)
    return contamination_pairs_df(train, holdout, min_shared=30)


def q_cur_lenfilter(spark, sf_dir):
    """Quantile length trim (curate.filter_by_quantile_df): documents
    whose char length lies within the corpus's exact [p05, p95] — the
    outlier trim at the head of every length-based cleaning recipe.  One
    1-row exact-percentile aggregate broadcast into a row-local range
    filter; thresholds rounded at 5 before comparing (the evt_median
    cross-engine percentile recipe)."""
    from imops_spark.functions.curate import filter_by_quantile_df

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.length("text").cast("long").alias("n_chars"))
    )
    return filter_by_quantile_df(docs, "n_chars", lo=0.05, hi=0.95)


def q_cur_select3(spark, sf_dir):
    """Composition gate for the CLEANING family — the full hygiene chain
    run end to end: (1) exact-quantile length trim [p05, p95]
    (`filter_by_quantile_df`); (2) unigram-entropy floor at 2.5 nats
    (`token_entropy_df` — drops the repetitive tail, ~p06 of the
    testdata); (3) decontamination of the train slice (doc_id % 5 != 0)
    against the FULL holdout slice at min_shared=30
    (`decontaminate_df`, the cur_contam regime); (4) deterministic
    balanced shards + within-shard rank (`training_order_df`) over the
    survivors.  Every stage is individually hash-gated (cur_lenfilter,
    txt_entropy, cur_contam, cur_shards); this gate proves they COMPOSE —
    the output is the (doc_id, shard, pos) training order of the cleaned,
    decontaminated corpus."""
    from imops_spark.functions.curate import (
        decontaminate_df,
        filter_by_quantile_df,
        training_order_df,
    )
    from imops_spark.functions.text import token_entropy_df

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    sized = docs.withColumn("n_chars", F.length("text").cast("long"))
    k1 = filter_by_quantile_df(sized, "n_chars", 0.05, 0.95).drop("n_chars")
    ent_keep = (
        token_entropy_df(k1)
        .filter(F.col("h_micro") >= 2_500_000)
        .select("doc_id")
    )
    # k2 (the post-entropy survivor slice) feeds TWO consumers inside
    # decontaminate_df — the winnow train side and the final anti-join —
    # and its subtree is the most expensive in the query (quantile-filter
    # scan + the entropy tokenize/explode/aggregate semi-join), so each
    # consumer re-planned all of it.  The lazy localCheckpoint runs that
    # subtree once; measured A/B (alternating, noop sink, idle box):
    # sf0.1 min 4.33 s vs 4.99 s, and 23.2 vs 27.3 s on a 20x-scaled
    # corpus (value-identity checked at both scales).  Checkpointing k1
    # as well was measured and REJECTED (the entropy aggregate then runs
    # twice over the checkpoint and the extra corpus-scale
    # materialization buys nothing: 32.5 vs 27.3 s at 20x).
    k2 = k1.join(ent_keep, "doc_id", "left_semi").localCheckpoint(
        eager=False
    )
    train = k2.filter(F.col("doc_id") % 5 != 0)
    holdout = docs.filter(F.col("doc_id") % 5 == 0)
    clean = decontaminate_df(train, holdout, min_shared=30)
    return training_order_df(clean.select("doc_id"), n_shards=8, salt=77)


def q_cur_contam_frac(spark, sf_dir):
    """Per-eval-doc contamination report (curate.contamination_report_df):
    same pseudo train/eval split as cur_contam, but the EVAL-side summary —
    how many of each eval doc's winnowing fingerprints appear anywhere in
    train (n_hit of n_fps + fraction).  Plan is the asymmetric 100 TB
    shape: eval fp set broadcasts, train fps are probed row-locally (zero
    train-side shuffles), and the hit set — bounded by the eval fp count —
    broadcasts back.  Oracle recomputes both sides with the txt_winnow SQL
    chain and a LEFT JOIN against the distinct train fps."""
    from imops_spark.functions.curate import contamination_report_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    holdout = docs.filter(F.col("doc_id") % 5 == 0)
    return contamination_report_df(train, holdout)


def q_cur_contam_emb(spark, sf_dir):
    """Semantic decontamination scan (dedup.cross_near_dup_df): embeddings
    split by vec_id % 10 into pseudo train/eval; every (train vector, eval
    vector) pair with exact cosine >= 0.3 (the emb_near_dup threshold
    regime — the testdata vectors are near-random, so realistic 0.95
    thresholds would gate on an empty set).  Asymmetric plan: the eval
    side is driver-collected under the 100k broadcast contract and GEMMed
    against each corpus Arrow batch — the train side is scanned once with
    ZERO exchanges (mapInPandas only).  Oracle: exact cosine join, both
    engines rounding to 6dp before thresholding."""
    from imops_spark.functions.dedup import cross_near_dup_df

    emb = _t(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") % 10 != 0)
    holdout = emb.filter(F.col("vec_id") % 10 == 0)
    return cross_near_dup_df(train, holdout, threshold=0.3)


def q_cur_contam_frac_stream(spark, sf_dir):
    """Streaming twin of cur_contam_frac: training docs ARRIVE AS A STREAM
    and each micro-batch's winnowing-fingerprint hits against the static
    eval set are appended to a persisted hit log (a MONOTONE SET UNION, so
    at-least-once foreachBatch delivery gives exactly-once report
    semantics — the bloom-maintenance argument); the report is then read
    off the drained log.  Same oracle as cur_contam_frac.  The scratch log
    lives in a fresh tempdir (the managed-table/pid trap) and the tiny
    report is re-materialized in memory before cleanup."""
    import shutil
    import tempfile

    from imops_spark.streaming.curate import (
        contamination_report_from_hits,
        start_contamination_hits_maintenance,
    )

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 5 != 0)
    )
    holdout = static.select("doc_id", "text").filter(F.col("doc_id") % 5 == 0)
    tmp = tempfile.mkdtemp(prefix="imops_contam_gate_")
    try:
        q = start_contamination_hits_maintenance(
            stream, holdout, f"{tmp}/hits", checkpoint=f"{tmp}/ckpt"
        )
        q.awaitTermination(120)
        rows = contamination_report_from_hits(
            spark, f"{tmp}/hits", holdout
        ).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "eval_id long, n_fps bigint, n_hit bigint, frac double"
    )


def q_cur_mix_temp(spark, sf_dir):
    """Temperature mixture weights (curate.temperature_fractions_df):
    alpha-sampling rates per predicted language — raw share, temperature
    share at alpha=0.5, and the capped per-group keep rate realizing the
    mix.  alpha=0.5 routes through sqrt (IEEE-correctly-rounded, so both
    engines produce bit-identical powed sizes; generic pow's last-ulp
    cross-libm drift is why the gate pins the sqrt path).  Two bounded
    aggregations: group counts + a 1-row broadcast total."""
    from imops_spark.functions.curate import temperature_fractions_df
    from imops_spark.functions.text import langid_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    langs = langid_df(docs)
    return temperature_fractions_df(langs, "lang_pred", alpha=0.5, target_rate=0.5)


def q_txt_vocab(spark, sf_dir):
    """Corpus vocabulary with cumulative coverage (text.vocab_df): top-200
    tokens by occurrence count with exact document frequency and the
    running corpus-coverage fraction — tokenizer-budget planning surface.
    Plan: explode -> two-level aggregate (the (token, doc_id) partial
    map-side combines, so exact doc frequency costs no COUNT(DISTINCT)
    storm) -> distributed TakeOrderedAndProject top-k -> a running-sum
    window over ONLY the surviving top_k rows (single task bounded by the
    parameter, not the data).  Ties break by token text so the rank-200
    cut is deterministic; coverage divisions are exact-integer/total."""
    from imops_spark.functions.text import vocab_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return vocab_df(docs, top_k=200)


def q_cur_profile(spark, sf_dir):
    """Corpus data card (curate.corpus_profile_df): per-predicted-language
    volumes, mean quality ratios, and short-doc counts — ONE scan, every
    per-doc metric row-local, ONE groupBy(lang) exchange (the fused form of
    txt_tokens + txt_quality + txt_langid; composing those operators with
    doc_id joins would triple the scan and shuffle the corpus).  Ratios
    round per-doc at the 4-decimal grain before averaging, averages at 6
    (repo determinism recipe); the oracle recomputes everything from the
    same SQL chains the three standalone gates use."""
    from imops_spark.functions.curate import corpus_profile_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return corpus_profile_df(docs, min_tokens=60)


def q_cur_profile_stream(spark, sf_dir):
    """Ingestion-time corpus data card: the same fused one-projection
    profile (every per-doc metric row-local, hence streaming-legal — no
    upstream state) aggregated per language in complete mode as documents
    land.  Proves the data card needs no second batch pass over a corpus
    that arrived as a stream.  Same oracle as cur_profile."""
    from imops_spark.functions.curate import corpus_profile_df
    from imops_spark.streaming.events import run_stream_to_memory

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select("doc_id", "text")
    )
    out = corpus_profile_df(stream, min_tokens=60)
    return run_stream_to_memory(out, "cur_profile_stream_gate", spark, mode="complete")


def q_cur_topfrac(spark, sf_dir):
    """Per-group dynamic quality threshold (curate.keep_top_fraction_df):
    keep the top 30% of each source by n_chars — a PER-GROUP quantile
    cutoff, not a global absolute one (which over-prunes low-resource
    groups).  Quota is ceil(frac*n) in exact integer micro arithmetic;
    rank order (score desc, doc_id) is total; one window shuffle."""
    from imops_spark.functions.curate import keep_top_fraction_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return keep_top_fraction_df(docs, "source", "n_chars", 0.3, "doc_id")


def q_cur_dsir(spark, sf_dir):
    """DSIR importance resampling (curate.dsir_sample_df, Xie et al. 2023):
    score every document by the log-ratio of hashed-unigram+bigram
    likelihoods under a TARGET model (here: the corpus's 'en' slice) vs the
    RAW model (the whole corpus), then draw the top-25 by deterministic
    Gumbel top-k — sampling without replacement proportional to the
    importance weights, reproducible because each doc's Gumbel variate
    derives from md5(doc_id), not an RNG.  Cross-engine exactness: integer
    bucket counts -> identical doubles -> identical LN (the 1.0D suffix
    guards against Spark's SQL-text DECIMAL-literal division trap) ->
    per-feature micro-nat snap BEFORE the per-doc integer sum.  Plan: two
    <= 1024-row broadcast model tables; the corpus shuffles once, compact,
    by doc_id; the top-k is TakeOrderedAndProject (per-partition heaps),
    never a global sort."""
    from imops_spark.functions.curate import dsir_sample_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    target = docs.filter(F.col("lang") == "en")
    return dsir_sample_df(
        docs.select("doc_id", "text"),
        target.select("doc_id", "text"),
        k=25,
        num_buckets=1024,
    )


def q_cur_select2(spark, sf_dir):
    """Composition gate for the selection family — the modern
    data-selection chain run END TO END from ONE shared feature frame:
    (1) hashed linear classifier scoring with the analytic weight ramp,
    keep prob >= 0.5; (2) DSIR fit on the SURVIVORS (target = surviving
    'en' docs) and deterministic Gumbel top-50; (3) chunk budgeting (how
    many 120/20 chunks each selected doc will produce) joined on.  Every
    stage is individually hash-gated (txt_classify, cur_dsir,
    txt_chunks); this gate proves they COMPOSE — and that they can all
    feed off one materialized `dsir_feature_frame_df` (lang and the chunk
    budget ride as carry columns), so `documents` is scanned and
    featurized ONCE where the round-6 formulation re-planned the corpus
    subtree ~3x.  The DSIR stage (fit + score) runs off ONE checkpointed
    explode of the survivor frame with the target flag riding along
    (`dsir_sample_from_exploded_df`) — the round-7 formulation exploded
    the frame three times (target + raw fit streams, scoring stream);
    measured ~12% off the chain at sf0.1, differential-tested
    bit-identical.  Frames are localCheckpoint-ed, not persist()-ed: a
    cacheManager entry would survive this query and hand the bench's
    second pass a warm cache (cross-pass state, the r5 lesson), while a
    local checkpoint dies with the DataFrame."""
    from imops_spark.functions.curate import (
        classifier_score_from_features_df,
        dsir_exploded_features_df,
        dsir_feature_frame_df,
        dsir_sample_from_exploded_df,
    )

    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "text",
        "lang",
        # chunk budget per doc at the txt_chunks grain, derived on the
        # ONE pass over the corpus
        "CAST(1 + (GREATEST(length(text) - 120, 0) + 99) DIV 100 AS INT)"
        " AS n_chunks",
    )
    weights = spark.range(512).selectExpr(
        "id AS bucket",
        "CAST((id * 2654435761) % 1000003 AS DOUBLE)"
        " / CAST(1000003 AS DOUBLE) - CAST(0.5 AS DOUBLE) AS weight",
    )
    frame = dsir_feature_frame_df(d, carry=("lang", "n_chunks")).localCheckpoint(
        eager=False
    )
    scored = classifier_score_from_features_df(
        frame, weights, num_buckets=512, bias=0.1
    )
    keep = scored.filter(F.col("prob") >= 0.5).select("doc_id", "prob")
    survivors = frame.join(keep.select("doc_id"), "doc_id", "left_semi")
    ex = dsir_exploded_features_df(
        survivors, num_buckets=1024, target_flag=F.col("lang") == "en"
    ).localCheckpoint(eager=False)
    selected = dsir_sample_from_exploded_df(ex, k=50, num_buckets=1024)
    return (
        selected.join(keep, "doc_id")
        .join(frame.select("doc_id", "n_chunks"), "doc_id")
        .select("doc_id", "n_feats", "logw_micro", "key", "prob", "n_chunks")
    )


def q_cur_dsir_stream(spark, sf_dir):
    """Ingestion-time DSIR scoring (curate.dsir_score_local_df): the model
    fits ONCE on the static snapshot (dsir_model_df, <= 1024 rows), is
    collected at plan build into one dense micro-nat vector, and every
    streamed document sums its own features' log-ratios row-locally in
    the shared hashed-feature-sum Arrow kernel — zero shuffles, append
    mode, no state: a crawl importance-scored as it lands.
    Value-identical to the batch join formulation
    (differential-tested); unseen buckets score the smoothing prior.
    Oracle: the weights half of cur_dsir's SQL."""
    from imops_spark.functions.curate import dsir_model_df, dsir_score_local_df
    from imops_spark.streaming.events import run_stream_to_memory

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = static.select("doc_id", "text")
    target = static.filter(F.col("lang") == "en").select("doc_id", "text")
    model = dsir_model_df(docs, target, num_buckets=1024)
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select("doc_id", "text")
    )
    out = dsir_score_local_df(stream, model, num_buckets=1024)
    return run_stream_to_memory(out, "cur_dsir_stream_gate", spark, mode="append")


def q_txt_embed(spark, sf_dir):
    """Model-free hashed text embeddings (text.hashed_embedding_df): each
    document's distinct tokens vote +-1 per md5 bit (the pre-sign SimHash
    accumulator kept real-valued = a random sign projection of the hashed
    bag-of-words), L2-normalized to an embedding column that feeds the
    whole similarity family — text-only near-dup/ANN with no model.
    Integer votes, integer squared norm, one division + ROUND(6) per
    component: both engines divide identical doubles."""
    from imops_spark.functions.text import hashed_embedding_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return hashed_embedding_df(docs, dim=16)


def q_txt_embed_stream(spark, sf_dir):
    """Ingestion-time hashed embeddings (text.hashed_embedding_local_df):
    the ZERO-SHUFFLE twin of txt_embed — an Arrow kernel (hashlib md5
    behind a per-worker token cache, per-bit votes as segmented reduceat
    passes, vectorized ROUND(v/norm, 6)), so every document embeds
    itself in one stateless mapInPandas projection: append-mode
    streaming-legal, no state, no watermark, no interpreted JVM
    expression left to go bimodal over a long-lived stream.  A crawl
    gets an embedding column AS IT LANDS, feeding the streaming near-dup
    and ANN maintenance sinks.  Same oracle as txt_embed; the kernel is
    additionally differential-tested against the batch form."""
    from imops_spark.functions.text import hashed_embedding_local_df
    from imops_spark.streaming.events import run_stream_to_memory

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select("doc_id", "text")
    )
    out = hashed_embedding_local_df(stream, dim=16)
    return run_stream_to_memory(out, "txt_embed_stream_gate", spark, mode="append")


def q_txt_bpe_pairs(spark, sf_dir):
    """BPE training's round-0 statistics (bpe.bpe_pair_counts_df): the
    top-50 weighted adjacent character pairs over the word-frequency
    model, ordered by the deterministic merge-selection rule
    (n DESC, pair ASC) — the cross-engine-verifiable primitive of the
    tokenizer trainer (the merge LOOP is exactly-deterministic and
    python/distributed path-equality-tested, but iterative state is not
    SQL-expressible, so the gate pins the statistics the loop consumes).
    Output columns l/r: LEFT/RIGHT are DuckDB keywords."""
    from imops_spark.functions.bpe import bpe_pair_counts_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_pair_counts_df(docs, top_k=50).select(
        F.col("left").alias("l"), F.col("right").alias("r"), "n"
    )


def q_txt_sentences(spark, sf_dir):
    """Sentence segmentation (text.sentences_df): lookaround-free regex
    extraction — [^.!?]*[.!?]+ keeps terminal punctuation runs attached,
    a trailing unterminated fragment survives — posexploded in document
    order with a full-whitespace regex trim.  Pure row-local scan cost;
    the ordinal is the match index (gaps where sub-min_chars segments
    were dropped), identical to the oracle's UNNEST ordinality."""
    from imops_spark.functions.text import sentences_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return sentences_df(docs, min_chars=2)


def q_txt_chunks(spark, sf_dir):
    """Overlapping fixed-size chunking (text.chunk_documents_df): 120-char
    chunks at stride 100 (20 overlap), last chunk short, 0-based chunk
    index + 1-based start offset + per-doc chunk count.  Pure row-local
    explode + substring arithmetic — zero shuffles, streaming-legal; both
    engines count codepoints for length/substr, so the oracle recomputes
    chunks verbatim."""
    from imops_spark.functions.text import chunk_documents_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents_df(docs, chunk_chars=120, overlap=20)


def q_txt_classify(spark, sf_dir):
    """fastText-style hashed linear classifier APPLY at scale
    (curate.classifier_score_df): broadcast (bucket, weight) model joined
    to the DSIR unigram+bigram feature stream, mean weight + bias through
    the integer micro-unit pipeline (snap weights once, exact integer doc
    sums, signed round-half-away mean), sigmoid of the tie-free logit.
    The gate's weight table is analytic (a Knuth-hash ramp over buckets)
    so both engines derive the identical model without shipping floats."""
    from imops_spark.functions.curate import classifier_score_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    weights = spark.range(512).selectExpr(
        "id AS bucket",
        "CAST((id * 2654435761) % 1000003 AS DOUBLE)"
        " / CAST(1000003 AS DOUBLE) - CAST(0.5 AS DOUBLE) AS weight",
    )
    return classifier_score_df(docs, weights, num_buckets=512, bias=0.1)


def q_cur_roc(spark, sf_dir):
    """Classifier threshold-selection gate (curate.roc_points_df): the
    txt_classify scores bucketed into 32 integer score bands, descending
    cumulative tp/fp per band, integer micro-ratio tpr/fpr/precision —
    the curve a pipeline reads to pick its quality-filter threshold.
    Labels are a deterministic pseudo-assignment (doc_id % 3 = 0): the
    gate pins the CURVE MACHINERY (bucketing arithmetic, clamp edges,
    descending cumulatives, guarded integer-ratio rates), which is
    label-agnostic.  Scale shape under test: one map-side-combined
    groupBy(bucket) over the corpus; the window sorts <= 32 rows — a
    model, not a corpus."""
    from imops_spark.functions.curate import classifier_score_df, roc_points_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    weights = spark.range(512).selectExpr(
        "id AS bucket",
        "CAST((id * 2654435761) % 1000003 AS DOUBLE)"
        " / CAST(1000003 AS DOUBLE) - CAST(0.5 AS DOUBLE) AS weight",
    )
    scored = classifier_score_df(docs, weights, num_buckets=512, bias=0.1)
    labeled = scored.withColumn(
        "label", (F.col("doc_id") % 3 == 0).cast("int")
    )
    return roc_points_df(labeled, "label", "logit_micro", n_buckets=32)


def _cur_roc_sql(classify_sql: str) -> str:
    """The ROC oracle over the txt_classify oracle's scored relation —
    the bucket/threshold/rate arithmetic mirrored expression-for-
    expression (integer DIV rates, double FLOOR bucketing — exact for
    these magnitudes on both engines, see roc_points_df)."""
    return f"""
        WITH scored AS ({classify_sql}),
        d AS (
          SELECT logit_micro AS s,
                 CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y
          FROM scored WHERE logit_micro IS NOT NULL
        ),
        bounds AS (
          SELECT MIN(s) AS lo, MAX(s) AS hi, MAX(s) - MIN(s) + 1 AS width
          FROM d
        ),
        per AS (
          SELECT CAST(FLOOR(((GREATEST(lo, LEAST(hi, s)) - lo) * 32)
                            / width) AS INT) AS bucket,
                 CAST(COUNT(1) AS BIGINT) AS n_rows,
                 CAST(SUM(y) AS BIGINT) AS n_pos
          FROM d CROSS JOIN bounds
          GROUP BY 1
        ),
        cum AS (
          SELECT bucket, n_rows, n_pos,
                 CAST(SUM(n_pos) OVER (ORDER BY bucket DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS tp,
                 CAST(SUM(n_rows) OVER (ORDER BY bucket DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - SUM(n_pos) OVER (ORDER BY bucket DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS fp,
                 CAST(SUM(n_pos) OVER () AS BIGINT) AS P,
                 CAST(SUM(n_rows - n_pos) OVER () AS BIGINT) AS N
          FROM per
        )
        SELECT bucket,
               CAST(lo + (CAST(bucket AS BIGINT) * width + 31) // 32 AS BIGINT)
                 AS threshold_micro,
               n_rows, n_pos, tp, fp,
               CASE WHEN P > 0 THEN CAST((tp * 1000000) // P AS BIGINT) END
                 AS tpr_micro,
               CASE WHEN N > 0 THEN CAST((fp * 1000000) // N AS BIGINT) END
                 AS fpr_micro,
               CASE WHEN tp + fp > 0
                    THEN CAST((tp * 1000000) // (tp + fp) AS BIGINT) END
                 AS prec_micro
        FROM cum CROSS JOIN bounds
    """


def q_cur_select4(spark, sf_dir):
    """ROC-threshold-driven selection composition gate
    (curate.select_by_roc_df): the cur_roc curve is not just reported —
    it is READ, the most permissive operating point within an
    fpr <= 0.4 budget is picked (min threshold_micro with fpr_micro <=
    400000, a bounded 1-row driver action over the <= 32-row curve),
    and the picked threshold is deployed as the classifier filter.
    Survivors carry the deployed threshold_micro column, so the oracle
    hash-checks curve arithmetic, threshold pick, and filter semantics
    composed end to end — including roc_points_df's ceiling-edge
    contract that 'score >= threshold' reproduces exactly the tp+fp the
    curve reported for that point."""
    from imops_spark.functions.curate import classifier_score_df, select_by_roc_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    weights = spark.range(512).selectExpr(
        "id AS bucket",
        "CAST((id * 2654435761) % 1000003 AS DOUBLE)"
        " / CAST(1000003 AS DOUBLE) - CAST(0.5 AS DOUBLE) AS weight",
    )
    scored = classifier_score_df(docs, weights, num_buckets=512, bias=0.1)
    labeled = scored.withColumn(
        "label", (F.col("doc_id") % 3 == 0).cast("int")
    )
    return select_by_roc_df(
        labeled, "label", "logit_micro", n_buckets=32, max_fpr_micro=400000
    ).select("doc_id", "logit_micro", "threshold_micro")


def _cur_select4_sql(classify_sql: str) -> str:
    """The composition oracle: the cur_roc curve SQL as a subquery, the
    same min-threshold-within-fpr-budget pick, the same >= filter over
    the scored relation."""
    return f"""
        WITH scored AS ({classify_sql}),
        curve AS ({_cur_roc_sql(classify_sql)}),
        pick AS (
          SELECT MIN(threshold_micro) AS thr FROM curve
          WHERE fpr_micro <= 400000
        )
        SELECT s.doc_id, s.logit_micro, CAST(p.thr AS BIGINT) AS threshold_micro
        FROM scored s CROSS JOIN pick p
        WHERE s.logit_micro >= p.thr
    """


def q_txt_classify_stream(spark, sf_dir):
    """Ingestion-time classifier scoring (curate.classifier_score_local_df):
    the ZERO-SHUFFLE twin of txt_classify — an Arrow kernel (the
    snapped micro-weight table collected once into a dense vector at
    plan build, vectorized md5 feature buckets over byte spans — the
    hashed-feature-sum kernel shared with DSIR scoring — exact integer
    logit, sigmoid ROUND(.,6) behind a cross-runtime exp tie band):
    append-mode streaming-legal with no state or watermark and no
    interpreted JVM fold to go bimodal over a long-lived stream.  Same
    oracle as txt_classify; the kernel is additionally
    differential-tested against the groupBy form."""
    from imops_spark.functions.curate import classifier_score_local_df
    from imops_spark.streaming.events import run_stream_to_memory

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select("doc_id", "text")
    )
    weights = spark.range(512).selectExpr(
        "id AS bucket",
        "CAST((id * 2654435761) % 1000003 AS DOUBLE)"
        " / CAST(1000003 AS DOUBLE) - CAST(0.5 AS DOUBLE) AS weight",
    )
    out = classifier_score_local_df(stream, weights, num_buckets=512, bias=0.1)
    return run_stream_to_memory(out, "txt_classify_stream_gate", spark, mode="append")


def q_cur_contam_bloom(spark, sf_dir):
    """Bloom-prefiltered contamination scan
    (curate.contamination_pairs_bloom_df): a Bloom filter built over the
    holdout fingerprints (bounded-cardinality bit_or exchange — <=
    num_bits/64 rows however large the holdout, functions/bloom.py) is
    broadcast and probed ROW-LOCALLY against every train fingerprint
    before the exact equi-join.  No false negatives keeps every truly
    shared fp; the exact join kills the filter's false positives, so the
    output is bit-identical to cur_contam — same oracle.  This is the
    plan for the regime where the train side is the 100 TB one: the join
    input shrinks to true matches + fpr * n_train_fps without shuffling
    the train corpus.  The gate deliberately undersizes the filter
    (2^14 bits for ~37k holdout fps => fpr ~1) so the verify join is
    exercised for real, not vacuously."""
    from imops_spark.functions.curate import contamination_pairs_bloom_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    holdout = docs.filter(F.col("doc_id") % 5 == 0)
    return contamination_pairs_bloom_df(
        train, holdout, min_shared=30, num_bits=1 << 14, num_hashes=3
    )


def q_cur_contam_stream(spark, sf_dir):
    """Ingestion-time decontamination: the TRAIN side arrives as a stream and
    is checked against the static holdout as it lands — row-locally distinct
    winnowing fingerprint sets (zero shuffles, hence streaming-legal; the
    batch chain's groupBy/dropDuplicates would be illegal upstream state),
    stream-static fp equi-join, single pair-count aggregation (complete
    mode).  Same oracle as cur_contam."""
    from imops_spark.streaming.curate import contamination_pairs_stream
    from imops_spark.streaming.events import run_stream_to_memory

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 5 != 0)
    )
    holdout = static.select("doc_id", "text").filter(F.col("doc_id") % 5 == 0)
    out = contamination_pairs_stream(stream, holdout, min_shared=30)
    return run_stream_to_memory(out, "cur_contam_stream_gate", spark, mode="complete")


def q_dd_clusters(spark, sf_dir):
    """End-to-end near-dup pipeline closure: shared MinHash signatures ->
    banded LSH candidate pairs -> n-gram Jaccard verification (>= 0.6) ->
    connected components over the verified edges -> (doc_id, cluster_id)
    with cluster_id = min doc of the cluster (the canonical keeper).  The
    oracle recomputes the whole chain relationally, closing the graph with a
    recursive CTE — every stage cross-checked in one gate."""
    from imops_spark.functions.dedup import lsh_candidate_pairs_df, ngram_jaccard_df
    from imops_spark.operators.graph import connected_components_df

    docs = _t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs_df(_minhash_sigs(spark, sf_dir), bands=4, rows_per_band=2)
    edges = (
        ngram_jaccard_df(docs, pairs)
        .filter(F.col("jaccard") >= 0.6)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    cc = connected_components_df(edges)
    return cc.select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))


def q_dd_simhash(spark, sf_dir):
    from imops_spark.functions.dedup import simhash_df

    return simhash_df(_t(spark, sf_dir, "documents"), bits=SIMHASH_BITS)


def q_dd_lsh_stream(spark, sf_dir):
    """Streaming twin of dd_lsh_pairs: documents ingested as a stream, banded
    signatures computed with the same row-local (streaming-legal, zero
    aggregation) expressions, and candidate pairs emitted by a per-bucket
    applyInPandasWithState operator — the incremental ingestion-time dedup a
    training pipeline runs.  Drained one-shot it must equal the batch LSH
    self-join, which the oracle recomputes relationally in DuckDB."""
    from imops_spark.streaming.dedup import lsh_pairs_stream
    from imops_spark.streaming.events import run_stream_to_memory

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select("doc_id", "text")
    )
    out = lsh_pairs_stream(stream, num_hashes=MINHASHES, bands=4, rows_per_band=2)
    drained = run_stream_to_memory(out, "dd_lsh_stream_gate", spark, mode="append")
    # per-band emission: cross-band duplicate pairs collapse like the batch
    # twin's .distinct()
    return drained.distinct()


def q_dd_lsh_sjoin(spark, sf_dir):
    """LSH candidate pairs via a true stream-stream SELF-join: both sides of
    every pair arrive on the stream and are buffered in Spark's symmetric
    join state (watermark + event-time bound evict it) — the third streaming
    dedup formulation next to the stateful operator (dd_lsh_stream) and the
    persisted index.  All fixture timestamps sit inside the horizon, so a
    one-shot drain equals the batch LSH self-join the oracle recomputes."""
    from imops_spark.streaming.dedup import lsh_pairs_selfjoin_stream
    from imops_spark.streaming.events import run_stream_to_memory

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select(
            "doc_id",
            "text",
            # synthetic event time: deterministic, spread over 100 s — far
            # inside the 60 min horizon, so no pair is outside the window
            F.timestamp_seconds(F.lit(1_000_000) + F.col("doc_id") % 100).alias(
                "ts_t"
            ),
        )
    )
    out = lsh_pairs_selfjoin_stream(
        stream, ts_col="ts_t", num_hashes=MINHASHES, bands=4, rows_per_band=2
    )
    drained = run_stream_to_memory(out, "dd_lsh_sjoin_gate", spark, mode="append")
    # per-band emission duplicates collapse like the batch twin's .distinct()
    return drained.distinct()


def q_dd_near_stream(spark, sf_dir):
    """Streaming candidates + stream-static exact-Jaccard verification
    (array_intersect per pair — no aggregation, legal downstream of the
    stateful operator): the full ingestion-time near-dup check.  The oracle
    recomputes LSH pairs AND shingle-set Jaccard relationally."""
    from imops_spark.streaming.dedup import verified_near_dup_stream
    from imops_spark.streaming.events import run_stream_to_memory

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select("doc_id", "text")
    )
    out = verified_near_dup_stream(
        stream, static.select("doc_id", "text"), threshold=0.5,
        num_hashes=MINHASHES, bands=4, rows_per_band=2,
    )
    drained = run_stream_to_memory(out, "dd_near_stream_gate", spark, mode="append")
    return drained.distinct()


def q_emb_near_dup(spark, sf_dir):
    from imops_spark.functions.dedup import embedding_near_dup_df

    return embedding_near_dup_df(_t(spark, sf_dir, "embeddings"), threshold=0.35)


def q_emb_semdedup(spark, sf_dir):
    """SemDeDup (dedup.semdedup_df): k-means clusters + within-cluster
    cosine near-dup pruning.  Gated in the SATURATED configuration
    (n_clusters=1 — every pair examined), where the answer is
    centroid-free: keep iff no lower-id vector is cosine-similar above
    threshold — the sim_ivf/sim_pq gating recipe.  The clustered path
    (n_clusters>1: sample-trained spherical k-means, window-derived
    per-cluster block counts, one exchange end-to-end) is pinned against
    a full numpy re-derivation in tests/test_semdedup.py."""
    from imops_spark.functions.dedup import semdedup_df

    return semdedup_df(
        _t(spark, sf_dir, "embeddings"), n_clusters=1, threshold=0.35
    )


def q_txt_tokens(spark, sf_dir):
    from imops_spark.functions.text import token_count_df

    out = token_count_df(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_chars_computed").cast("long").alias("n_chars_computed"),
        F.col("n_unique_tokens").cast("long").alias("n_unique_tokens"),
    )


def q_txt_bpe(spark, sf_dir):
    """BPE pre-tokenizer token budgets (functions.text.bpe_token_count_df):
    the GPT-2-style segmentation regex evaluated by Spark's Java regex vs
    DuckDB's RE2 — two regex engines, one pattern, identical counts."""
    from imops_spark.functions.text import bpe_token_count_df

    out = bpe_token_count_df(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_bpe").cast("long").alias("n_bpe"),
        F.col("n_unique_bpe").cast("long").alias("n_unique_bpe"),
        F.col("n_words").cast("long").alias("n_words"),
    )


def q_txt_quality(spark, sf_dir):
    from imops_spark.functions.text import quality_df

    out = quality_df(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "chars_per_token",
        "stopword_ratio",
        "type_token_ratio",
    )


def q_txt_langid(spark, sf_dir):
    from imops_spark.functions.text import langid_df

    return langid_df(_t(spark, sf_dir, "documents"))


def q_txt_fingerprint(spark, sf_dir):
    from imops_spark.functions.text import fingerprint_df

    return fingerprint_df(_t(spark, sf_dir, "documents"))


def q_txt_winnow(spark, sf_dir):
    from imops_spark.functions.text import winnow_fingerprints_df

    return winnow_fingerprints_df(_t(spark, sf_dir, "documents"))


# Multi-byte UTF-8 gate corpus (accents, CJK, Cyrillic, Greek, a non-BMP
# emoji, and one sub-window-length row): the driver testdata is ASCII-only,
# so this constructed corpus is what proves the text chain cross-engine on
# real multi-byte input.  No apostrophes (rows are spliced into SQL VALUES).
_UTF8_ROWS = [
    (1, "Héllo wörld ça va très bien aujourd hui données préparées"),
    (2, "中文字符 测试 数据 管道 需要 更多 的 覆盖 范围 与 验证"),
    (3, "Ελληνικά και κυριλλικά русский текст вместе в одном документе"),
    (4, "mixed ascii and ünïcödé tokens with a 😀 non-bmp emoji inside"),
    (5, "  Straße   grüße   übermäßig   weiß   führt   zum   Fluß  "),
    (6, "短文 😀"),  # < 11 codepoints: no complete winnow window
]
_UTF8_VALUES = ", ".join(f"({i}, '{t}')" for i, t in _UTF8_ROWS)


def q_txt_utf8(spark, sf_dir):
    """Text analysis over REAL multi-byte UTF-8 (constructed corpus — the
    driver testdata is ASCII-only): per doc the codepoint length, byte
    length, whitespace token count, md5 fingerprint of the normalized text,
    and the winnowing-fingerprint-set size.  Both engines verified to agree
    codepoint-for-codepoint on length/substring/lower/trim/md5 (upper() is
    the one that diverges — ß -> SS vs ẞ — and is avoided engine-wide);
    md5 hashes the UTF-8 bytes, so identical substrings hash identically.
    This is the coverage twin of dd_editsim's EXCLUSION: levenshtein counts
    codepoints in Spark but BYTES in DuckDB, so the edit gate enforces its
    ASCII scope instead."""
    from imops_spark.functions.dedup import normalized_text
    from imops_spark.functions.text import winnow_fp_set_df

    docs = spark.createDataFrame(_UTF8_ROWS, "doc_id long, text string")
    nt = normalized_text()
    stats = docs.select(
        "doc_id",
        F.length(nt).cast("long").alias("n_cp"),
        F.octet_length(nt).cast("long").alias("n_bytes"),
        F.size(F.split(nt, " ")).cast("long").alias("n_tokens"),
        F.md5(nt).alias("fingerprint"),
    )
    fps = (
        winnow_fp_set_df(docs)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fps"))
    )
    return stats.join(fps, "doc_id", "left").select(
        "doc_id", "n_cp", "n_bytes", "n_tokens", "fingerprint",
        F.coalesce("n_fps", F.lit(0)).alias("n_fps"),
    )


def q_txt_repetition(spark, sf_dir):
    """Gopher-style repetition metrics (functions.text.repetition_df) over
    the real corpus: top-{2,3,4}-gram character fractions and the
    duplicate-5-gram fraction — the small shared vocabulary makes every
    metric non-trivial.  Plan: ONE scan, ONE exchange (compact docs
    repartitioned by doc_id; explode + all three aggregations run inside
    it, line metrics carried through as first() aggregates).  Line metrics
    are exercised with real newlines in txt_replines."""
    from imops_spark.functions.text import repetition_df

    return repetition_df(
        _t(spark, sf_dir, "documents"), top_ns=(2, 3, 4), dup_ns=(5,)
    )


# Constructed corpus for the LINE-level repetition metrics (the driver
# testdata has no newlines): planted duplicate lines, whitespace-only and
# empty lines, a whitespace-padded duplicate (trim applies before line
# comparison), and an empty document.  No apostrophes (rows are spliced
# into SQL VALUES as chr(10)-joined line concatenations).
_REPLINE_ROWS = [
    (1, ["the same boilerplate footer", "real content here",
         "the same boilerplate footer", "more real content",
         "the same boilerplate footer"]),
    (2, ["every line unique", "another distinct line", "third line"]),
    (3, ["dup", "dup", "  dup  ", "", "   ", "not dup"]),
    (4, ["single line only"]),
    (5, [""]),
]


def q_txt_replines(spark, sf_dir):
    """Line-level repetition metrics over a constructed newline corpus:
    duplicate-line fraction and duplicate-line character fraction with
    trimmed comparison, empty-line dropping, and an all-empty document —
    the half of repetition_df that txt_repetition cannot exercise (the
    driver testdata is newline-free)."""
    from imops_spark.functions.text import repetition_df

    rows = [(i, "\n".join(lines)) for i, lines in _REPLINE_ROWS]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return repetition_df(docs, top_ns=(2,), dup_ns=(3,))


# Constructed corpus for cross-corpus boilerplate removal: a banner and a
# footer shared across documents (one whitespace-padded — trim applies
# before comparison), a fully-boilerplate document, whitespace-only and
# empty lines that must never count as boilerplate, and unique content
# that must survive untouched.  No apostrophes (SQL VALUES splicing).
_BOILER_ROWS = [
    (1, ["cookie banner", "real content one", "shared footer"]),
    (2, ["cookie banner", "unique text two", "shared footer"]),
    (3, ["  cookie banner  ", "only unique content"]),
    (4, ["cookie banner", "shared footer"]),
    (5, ["nothing shared here", "", "   ", "another line"]),
]


def q_txt_boiler(spark, sf_dir):
    """Cross-corpus boilerplate line removal
    (text.remove_boilerplate_lines_df): lines whose TRIMMED form appears in
    >= 2 distinct documents are stripped from every document (CCNet's
    paragraph dedup — the nav-bar/footer deletion per-document repetition
    metrics cannot see).  The corpus repartitions once by doc_id: line
    explode, broadcast anti-join against the bounded hot-line table,
    collect_list reassembly, and the carry-join all share that exchange.
    Whitespace-only lines are kept verbatim; a fully-boilerplate document
    survives as the empty string."""
    from imops_spark.functions.text import remove_boilerplate_lines_df

    rows = [(i, "\n".join(lines)) for i, lines in _BOILER_ROWS]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return remove_boilerplate_lines_df(docs, min_docs=2)


def _boiler_values() -> str:
    rows = []
    for i, lines in _BOILER_ROWS:
        text = " || chr(10) || ".join("'" + ln + "'" for ln in lines)
        rows.append(f"({i}, {text})")
    return ", ".join(rows)


# Constructed PII corpus: planted emails, IPv4s, and phone numbers in
# realistic surroundings, plus adversarial near-misses (a bare domain
# with no local part, a dotted version string, a too-short digit run).
# No apostrophes, no braces-sensitive characters beyond the patterns.
_PII_ROWS = [
    (100001, "contact us at support@example.com or sales.team@corp.co.uk today"),
    (100002, "server 192.168.1.1 talks to 10.0.0.255 over the wire"),
    (100003, "call +1 (555) 123-4567 or 020 7946 0958 for details"),
    (100004, "version 1.2.3 of the lib and section 4.5 are unrelated"),
    (100005, "visit example.com and ping 999.999.999.999 maybe"),
    (100006, "mixed: a@b.io at 8.8.8.8 phone 555-867-5309 done"),
    (100007, "no pii in this sentence at all just words"),
]


def q_txt_pii(spark, sf_dir):
    """PII detection + redaction (functions.text.pii_df /
    redact_pii_df): per-doc email/IPv4/phone counts and the redacted text,
    over the real corpus (doc_id < 100 — all clean, guarding against false
    positives) UNION a planted-PII constructed corpus.  Both engines run
    the identical lookaround-free patterns — Java regex vs RE2, one
    answer, including the greedy-backtrack shapes (the domain grab in
    emails, the trailing-digit anchor in phones)."""
    from imops_spark.functions.text import pii_df, redact_pii_df

    real = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    planted = spark.createDataFrame(_PII_ROWS, "doc_id long, text string")
    docs = real.unionByName(planted)
    return pii_df(docs).join(redact_pii_df(docs), "doc_id")


# Constructed C4-rule corpus (the driver testdata has no punctuation or
# newlines, so every line/content rule needs planted rows; the real docs
# ride along as the false-positive guard).  No apostrophes.
_C4_ROWS = [
    (200001, ["This is a good sentence with many words.",
              "Another fine long sentence right here!",
              "Does this line have enough words too?",
              "short one."]),
    (200002, ["only two kept lines here today.",
              "and the second such line is this one.",
              "no terminal punct line with many words"]),
    (200003, ["contains lorem ipsum dolor sit amet today.",
              "second good line with enough words here.",
              "third good line with enough words also.",
              "fourth good line with enough words indeed."]),
    (200004, ["a brace { appears in this long line today.",
              "second good line with enough words here!",
              "third good line with enough words also?",
              "fourth proper line with enough words too."]),
    (200005, ["the forbidden word appears in this sentence.",
              "second good line with enough words here.",
              "third good line with enough words also.",
              "one more long enough sentence right here."]),
    (200006, ['a quote terminated line with enough words"',
              "second good line with enough words here.",
              "third good line with enough words also."]),
]


def q_txt_c4(spark, sf_dir):
    """C4 cleaning rules (functions.text.c4_rules_df): line keeping
    (terminal punctuation + min words) and the document flags (lorem
    ipsum / curly brace / bad-word list) — the Raffel et al. 2020 rule
    set as zero-shuffle column expressions, over the real corpus (all
    rules trivially clean — the false-positive guard) UNION a constructed
    corpus that trips each rule exactly once."""
    from imops_spark.functions.text import c4_rules_df

    real = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    planted = spark.createDataFrame(
        [(i, "\n".join(lines)) for i, lines in _C4_ROWS],
        "doc_id long, text string",
    )
    return c4_rules_df(real.unionByName(planted), bad_words=("forbidden",))


# Constructed URL corpus: blocklisted, clean, uppercased, and trailing
# URLs plus a bare domain (not extracted — no scheme).  No apostrophes.
_URL_ROWS = [
    (300001, "see https://evil.example.com/path?q=1 and http://ok.org today"),
    (300002, "mixed https://SPAM.io/x https://good.net/a/b plain example.com"),
    (300003, "no urls at all in this document"),
    (300004, "trailing https://good.net"),
]

# canonicalization fixture: authority case, default ports, fragments,
# tracking params (leading/middle/trailing/only), bare trailing slash
_URLCANON_ROWS = [
    (310001, "a http://Host.EXAMPLE.com:80/Path/Q?a=1&utm_source=x&b=2#frag b"),
    (310002, "see https://site.org:443/ and https://site.org/a/"),
    (310003, "x http://t.co/Page?utm_a=1&utm_b=2 y"),
    (310004, "mix http://h.io/p?gclid=9 http://h.io/p?fbclid=8&keep=1"),
    (310005, "tail http://h.io/p?keep=1&utm_z=3 end"),
    # removed MIDDLE params leave '&&' separator debris (caught in review
    # by desk-check before the gate landed — keep covered)
    (310006, "mid https://mid.net/p?a=1&utm_m=2&b=3 two https://mid.net/p?a=1&utm_m=2&utm_n=4&b=3"),
]


def q_txt_urls(spark, sf_dir):
    """URL extraction (functions.text.urls_df): one row per URL mention
    with the lowercased host — scheme-anchored regex in the
    Java-regex/RE2 common subset (bare domains without a scheme are
    deliberately NOT URLs).  Real docs contribute zero rows (guard), the
    constructed corpus covers path/query/port-free hosts, case folding,
    and end-of-string URLs."""
    from imops_spark.functions.text import urls_df

    real = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    planted = spark.createDataFrame(_URL_ROWS, "doc_id long, text string")
    return urls_df(real.unionByName(planted))


def q_txt_domfilter(spark, sf_dir):
    """Domain blocklist filtering (functions.text.filter_by_domain_df):
    drop every document mentioning a blocklisted domain — broadcast
    semi-join on the URL explode, anti join back on doc_id.  Output is the
    surviving doc_ids (real docs survive — no URLs; the two planted
    blocklist hitters drop, case-insensitively)."""
    from imops_spark.functions.text import filter_by_domain_df

    real = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    planted = spark.createDataFrame(_URL_ROWS, "doc_id long, text string")
    block = spark.createDataFrame(
        [("evil.example.com",), ("Spam.IO",)], "domain string"
    )
    return filter_by_domain_df(real.unionByName(planted), block).select(
        "doc_id"
    )


def q_txt_urlcanon(spark, sf_dir):
    """URL canonicalization (text.canonical_urls_df): fragments stripped,
    authority lowercased (path/query case preserved), default ports
    dropped, utm_*/gclid/fbclid tracking params removed with separator
    cleanup, bare trailing slash collapsed — every regex in the
    Java∩RE2 subset (no lookaround), zero shuffles.  Real docs contribute
    zero rows (guard); the planted corpus trips each rule.  Oracle replays
    the exact regexp chain with DuckDB's \\1/'g' replacement dialect."""
    from imops_spark.functions.text import canonical_urls_df

    real = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    planted = spark.createDataFrame(_URLCANON_ROWS, "doc_id long, text string")
    return canonical_urls_df(real.unionByName(planted))


def q_dd_urldup(spark, sf_dir):
    """URL-keyed dedup (dedup.drop_url_duplicates_df) — the crawl
    pipeline's first dedup pass: one surviving page per CANONICAL url,
    lowest doc_id wins.  Pages fixture derives urls from the planted
    canonicalization corpus so tracking-param/port/case variants of the
    same page collapse.  One window exchange, no join."""
    from imops_spark.functions.dedup import drop_url_duplicates_df
    from imops_spark.functions.text import urls_df

    planted = spark.createDataFrame(_URLCANON_ROWS, "doc_id long, text string")
    pages = urls_df(planted).select(
        (F.col("doc_id") * 10 + F.length("url") % 7).alias("doc_id"), "url"
    )
    return drop_url_duplicates_df(pages).select(
        "doc_id", "url", "canonical_url"
    )


def q_txt_entropy(spark, sf_dir):
    """Per-document unigram Shannon entropy (text.token_entropy_df): the
    low-entropy tail is template/keyword-stuffed text — a quality filter
    adjacent to the Gopher repetition family.  Hash-gated end to end via
    the micro-nat integer discipline: each p*ln(p) term rounds to integer
    micro-nats BEFORE the order-proof BIGINT sum (the txt_lm recipe)."""
    from imops_spark.functions.text import token_entropy_df

    return token_entropy_df(_t(spark, sf_dir, "documents"))


def q_txt_entropy_stream(spark, sf_dir):
    """Ingestion-time entropy scoring: the zero-shuffle row-local twin
    (text.token_entropy_local_df) over a documents STREAM, drained
    append-mode — no aggregation, no state, the shape a crawl scores
    quality at landing.  Bit-identical to the batch exchange form
    (differential-tested); same oracle as txt_entropy."""
    from imops_spark.functions.text import token_entropy_local_df
    from imops_spark.streaming.events import run_stream_to_memory

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select("doc_id", "text")
    )
    out = token_entropy_local_df(stream)
    return run_stream_to_memory(out, "txt_entropy_stream_gate", spark)


def q_txt_tfidf(spark, sf_dir):
    from imops_spark.functions.text import tfidf_df

    return tfidf_df(_t(spark, sf_dir, "documents"))


# the txt_bm25 gate's fixed query — terms chosen from the testdata's real
# vocabulary so tf/df spread across documents (every term matches hundreds
# of docs at sf0.01, none matches all)
BM25_QUERY = "hash join scan vector stream quality"


def q_txt_bm25(spark, sf_dir):
    """BM25 retrieval (text.bm25_topk_df): top-20 documents for a fixed
    6-term query, Lucene idf, k1=1.2 b=0.75.  Per-(doc, term) partial
    scores round to integer micro-units BEFORE the per-doc sum (order-proof
    BIGINT addition — the ngram_lm_df recipe), so the double work is all
    per-row expressions whose trees match the oracle's exactly (constants
    interpolated from ONE shared bm25_constants() dict; a k1+1 computed
    engine-side could differ in the last ulp from a 2.2 literal).  Plan:
    dl is row-local (no explode), stats is a 1-row broadcast, the explode
    is filtered to the 6 query terms before its groupBy, and the top-k is
    TakeOrderedAndProject — never a global sort."""
    from imops_spark.functions.text import bm25_topk_df

    return bm25_topk_df(_t(spark, sf_dir, "documents"), BM25_QUERY, top_k=20)


def q_txt_bm25_idx(spark, sf_dir):
    """BM25 over the PERSISTED inverted index (text.bm25_write_index /
    bm25_index_topk): the corpus is tokenized ONCE into a token-bucketed
    postings table with the global stats stamped; the probe reads only
    the query terms' postings and scores through the SAME shared tail as
    the inline operator — bit-identical by construction, which the gate
    proves against the same oracle as txt_bm25.  Build-if-absent,
    session-scoped, external path keyed on pid (the managed-table
    LOCATION_ALREADY_EXISTS trap)."""
    import hashlib
    import os
    import shutil

    from imops_spark.functions.text import bm25_index_topk, bm25_write_index

    table = f"imops_bm25_idx_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    if not spark.catalog.tableExists(table):
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        path = f"/tmp/imops_spark_idx/{table}_{os.getpid()}"
        shutil.rmtree(path, ignore_errors=True)
        bm25_write_index(docs, table, path=path)
    return bm25_index_topk(spark, table, BM25_QUERY, top_k=20)


# the txt_bm25_phrase gate's fixed phrase: a REPEATED token, so the gate
# exercises both hard paths at once — duplicate phrase slots share one
# posting row, and "big big big" must count TWO overlapping occurrences
# (the positional-index semantics; a substring counter would say one)
BM25_PHRASE = "big big"


def q_txt_bm25_phrase(spark, sf_dir):
    """Exact-phrase BM25 over POSITIONAL postings (text.bm25_write_index
    positions=True / bm25_phrase_index_topk): the index stores each
    (token, doc) row's sorted 0-based positions; the probe reads only the
    phrase terms' bucket-pruned postings, assembles a term→positions map
    per candidate row-locally, and counts positional intersections
    (position p matches iff slot i's term holds p+i — OVERLAPPING
    occurrences count).  The phrase scores as one virtual term through
    the shared Lucene-idf/k1/b micro-rounded recipe.  Oracle: an
    independent algorithm — DuckDB scans each token list directly with a
    list_filter lambda over candidate start positions (no positional
    index at all), so a positional-bookkeeping bug on either side
    hash-mismatches.  Build-if-absent, session-scoped, pid-keyed external
    path (the managed-table LOCATION_ALREADY_EXISTS trap)."""
    import hashlib
    import os
    import shutil

    from imops_spark.functions.text import (
        bm25_phrase_index_topk,
        bm25_write_index,
    )

    table = f"imops_bm25_pidx_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    if not spark.catalog.tableExists(table):
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        path = f"/tmp/imops_spark_idx/{table}_{os.getpid()}"
        shutil.rmtree(path, ignore_errors=True)
        bm25_write_index(docs, table, path=path, positions=True)
    return bm25_phrase_index_topk(spark, table, BM25_PHRASE, top_k=20)


# the txt_html gate's synthetic page wrapper: both engines build the SAME
# HTML around each document's text, so the gate pins the full strip
# pipeline — script/style content removal, comment removal, block tags to
# newlines, tag strip, one-level entity decode (&amp;amp; must come out as
# &amp;, never &), nbsp, and whitespace normalization
HTML_WRAP_HEAD = (
    '<html><head><title>T</title><script type="text/javascript">var x = 1 < 2;'
    "</script><style>p { color: red; }</style></head><body><!-- header --><h1>"
)
HTML_WRAP_MID = "</h1>\n<p>"
HTML_WRAP_TAIL = (
    " &amp;amp; &lt;tags&gt; &quot;q&quot; &#39;s&#39; a&nbsp;b</p>"
    "<div>tail<br/>line</div></body></html>"
)


def q_txt_html(spark, sf_dir):
    """HTML→text extraction gate (text.strip_html_df): each document's
    text is wrapped in a synthetic page (script/style/comment blocks,
    heading + paragraph structure, double-escaped entities, nbsp, a
    self-closing br) identically on both engines, then Spark strips it
    with the operator while the oracle mirrors the SAME ordered step
    tables (HTML_STRIP_STEPS/HTML_ENTITIES/HTML_WS_STEPS — one owner) in
    RE2.  Hash-matching proves every regex in the pipeline means the
    same thing in java.util.regex and RE2 — the property that makes the
    extractor reproducible across engines."""
    from imops_spark.functions.text import strip_html_df

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    html = docs.select(
        "doc_id",
        F.concat(
            F.lit(HTML_WRAP_HEAD),
            F.substring("text", 1, 24),
            F.lit(HTML_WRAP_MID),
            F.col("text"),
            F.lit(HTML_WRAP_TAIL),
        ).alias("text"),
    )
    return strip_html_df(html).select("doc_id", "text_clean")


def _sql_str(s: str) -> str:
    """A DuckDB single-quoted string literal (quotes doubled; backslashes
    are literal in standard SQL strings, which is what RE2 patterns
    want)."""
    return "'" + s.replace("'", "''") + "'"


def _strip_html_sql(expr: str) -> str:
    """The strip_html_column pipeline as DuckDB SQL, generated from the
    SAME step tables the Spark operator folds — one owner, zero drift."""
    from imops_spark.functions.text import (
        HTML_ENTITIES,
        HTML_STRIP_STEPS,
        HTML_WS_STEPS,
    )

    out = expr
    for pat, rep in HTML_STRIP_STEPS:
        out = f"regexp_replace({out}, {_sql_str(pat)}, {_sql_str(rep)}, 'g')"
    for ent, rep in HTML_ENTITIES:
        out = f"replace({out}, {_sql_str(ent)}, {_sql_str(rep)})"
    for pat, rep in HTML_WS_STEPS:
        out = f"regexp_replace({out}, {_sql_str(pat)}, {_sql_str(rep)}, 'g')"
    return out


def _txt_html_sql() -> str:
    html = (
        f"{_sql_str(HTML_WRAP_HEAD)} || substr(text, 1, 24) || "
        f"{_sql_str(HTML_WRAP_MID)} || text || {_sql_str(HTML_WRAP_TAIL)}"
    )
    return f"""
        SELECT doc_id, {_strip_html_sql(html)} AS text_clean
        FROM documents
    """


def _src_warc_http_sql() -> str:
    """The HTTP extraction gate relationally: the oracle re-states the
    fixture's contract from the parquet — status 200, text/html, utf-8,
    the coding headers implied by doc_id % 4, and the exact wrapped page
    text (one owner: the same HTML_WRAP_* constants build the fixture)."""
    html = (
        f"{_sql_str(HTML_WRAP_HEAD)} || substr(text, 1, 24) || "
        f"{_sql_str(HTML_WRAP_MID)} || text || {_sql_str(HTML_WRAP_TAIL)}"
    )
    return f"""
        SELECT doc_id,
               CAST(200 AS INT) AS http_status,
               'text/html' AS http_content_type,
               'utf-8' AS charset,
               CASE WHEN doc_id % 4 IN (1, 3) THEN 'gzip' END
                 AS content_encoding,
               CASE WHEN doc_id % 4 IN (2, 3) THEN 'chunked' END
                 AS transfer_encoding,
               {html} AS text,
               CAST(NULL AS VARCHAR) AS http_error
        FROM documents WHERE text IS NOT NULL
    """


def _src_warc_charset_sql() -> str:
    """The charset-decode gate relationally: expected canonical codec
    name and expected decoded string per variant, generated from the
    SAME _CHARSET_FIXTURE table that built the bytes — one owner."""
    cs = " ".join(
        f"WHEN {v} THEN {_sql_str(codec)}"
        for v, (_, codec, _p) in enumerate(_CHARSET_FIXTURE)
    )
    tx = " ".join(
        f"WHEN {v} THEN {_sql_str(prefix)} || CAST(doc_id AS VARCHAR)"
        + (f" || {_sql_str('</p>')}" if v == 3 else "")
        for v, (_, _c, prefix) in enumerate(_CHARSET_FIXTURE)
    )
    return f"""
        SELECT doc_id,
               CASE doc_id % 4 {cs} END AS charset,
               CASE doc_id % 4 {tx} END AS text,
               CAST(NULL AS VARCHAR) AS http_error
        FROM documents WHERE text IS NOT NULL
    """


def _cur_ingest_sql() -> str:
    """The ingestion composition relationally: the shared HTML step
    tables inlined as the entropy tokenizer's input, entropy floor as an
    integer micro-nat HAVING."""
    html = (
        f"{_sql_str(HTML_WRAP_HEAD)} || substr(text, 1, 24) || "
        f"{_sql_str(HTML_WRAP_MID)} || text || {_sql_str(HTML_WRAP_TAIL)}"
    )
    norm = (
        f"regexp_replace(lower(trim({_strip_html_sql(html)})), '\\s+', ' ', 'g')"
    )
    return f"""
        WITH d AS (
          SELECT doc_id,
                 list_filter(string_split({norm}, ' '), x -> x <> '') AS toks
          FROM documents WHERE text IS NOT NULL
        ),
        wd AS (
          SELECT doc_id, len(toks) AS n, unnest(toks) AS token
          FROM d WHERE len(toks) > 0
        ),
        cnt AS (
          SELECT doc_id, token, CAST(COUNT(1) AS BIGINT) AS c, MIN(n) AS n
          FROM wd GROUP BY 1, 2
        ),
        t AS (
          SELECT doc_id, n,
                 CAST(ROUND((c / n) * LN(c / n)
                            * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS tm
          FROM cnt
        )
        SELECT doc_id, MIN(n) AS n_tokens, COUNT(1) AS n_types,
               CAST(-SUM(tm) AS BIGINT) AS h_micro,
               ROUND(CAST(-SUM(tm) AS BIGINT)
                     / CAST(1000000.0 AS DOUBLE), 6) AS h
        FROM t GROUP BY 1
        HAVING CAST(-SUM(tm) AS BIGINT) >= 2500000
    """


def q_txt_lm(spark, sf_dir):
    """Bigram-LM cross-entropy scorer (CCNet-style perplexity filter),
    self-trained on the corpus.  Hash-gated end-to-end: the per-bigram
    log-probs are snapped to an integer micro-nat grid before the
    per-document sum, so the summed column is exact integer arithmetic on
    both engines (order-independent — a double sum would be partial-agg
    order-sensitive)."""
    from imops_spark.functions.text import ngram_lm_df

    return ngram_lm_df(_t(spark, sf_dir, "documents"))


def q_sim_topk(spark, sf_dir):
    from imops_spark.functions.similarity import cosine_topk_df

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk_df(emb, queries, k=3).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine"
    )


def q_sim_int8(spark, sf_dir):
    """Int8-quantized similarity serving (similarity.quantize_int8_df +
    int8_topk_df): symmetric per-vector quantization (scale = amax/127,
    row-local, zero-shuffle), then exact top-3 cosine over the QUANTIZED
    vectors — per-vector scales cancel out of cosine, so scoring is
    integer-exact (partial sums < 2^53) and hence order/engine-independent.
    The oracle re-derives the identical quantization from the raw floats in
    SQL and ranks with the same rounded-cosine + id tie-break, gating the
    whole quantize -> score pipeline end to end."""
    from imops_spark.functions.similarity import int8_topk_df

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return int8_topk_df(emb, queries, k=3).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine"
    )


def q_sim_ivf(spark, sf_dir):
    """IVF ANN at full probe (n_probe == n_centroids): scans every inverted
    list, so the result is exactly brute force — which gives the IVF path an
    oracle-backed hash gate (the recall-vs-probe trade-off is exercised in
    tests; sim_lsh stays the documented rows-only approximate gate)."""
    from imops_spark.functions.similarity import ivf_topk_df

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf_topk_df(emb, queries, k=3, n_centroids=8, n_probe=8).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine"
    )


def q_sim_lsh(spark, sf_dir):
    """Sign-LSH ANN.  The hyperplanes are md5-derived (deterministic), so the
    whole pipeline — bucket assignment, candidate equi-join, cosine ranking —
    is SQL-expressible and the gate is a full hash match, not rows-only: the
    oracle recomputes the planes from the same md5 recipe."""
    from imops_spark.functions.similarity import lsh_topk_df

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 20)
    return lsh_topk_df(emb, queries, k=3, planes=6).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine"
    )


def q_sim_pq(spark, sf_dir):
    """Product quantization with a SATURATED codebook: every corpus subvector
    is its own centroid, so encoding is lossless, reconstruction norms are
    exact, and ADC scoring equals exact cosine — giving the PQ path an
    oracle-backed hash gate (the sim_ivf full-probe trick; the compression
    trade-off at realistic ksub is exercised in tests/test_similarity.py).
    The codebook build collects the corpus driver-side — a gate construction,
    not the production recipe (that's pq_train's bounded sample)."""
    import numpy as np

    from imops_spark.functions.similarity import pq_encode_df, pq_topk_df

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 20)
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    vecs = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    m = 8
    dsub = vecs.shape[1] // m
    books = np.stack(
        [vecs[:, s * dsub : (s + 1) * dsub] for s in range(m)]
    )  # [m, n_corpus, dsub]: full coverage
    codes = pq_encode_df(emb, books)
    return pq_topk_df(codes, queries, books, k=3).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine"
    )


def q_sim_ivfpq(spark, sf_dir):
    """IVFPQ (coarse quantizer + product-quantized residuals — the
    production ANN index shape) at full probe with a SATURATED residual
    codebook: coarse approximation removed by probing every list, fine
    approximation removed by lossless residual encoding, so ADC scoring
    equals exact cosine and the brute-force oracle hash-gates the whole
    index path (tests exercise realistic ksub recall + partition pruning).
    Codebook build collects the corpus driver-side — a gate construction,
    not the production recipe (that's ivfpq_residual_train's sample)."""
    import numpy as np

    from imops_spark.functions.similarity import (
        ivf_centroids,
        ivfpq_encode_df,
        ivfpq_topk_df,
    )

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 20)
    cents = ivf_centroids(emb, n_centroids=8)
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    vecs = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    xn = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
    assign = np.argsort(-(xn @ np.asarray(cents).T), axis=1, kind="stable")[:, 0]
    res = vecs - np.asarray(cents)[assign]
    m = 8
    dsub = vecs.shape[1] // m
    books = np.stack([res[:, s * dsub : (s + 1) * dsub] for s in range(m)])
    index = ivfpq_encode_df(emb, cents, books)
    return ivfpq_topk_df(index, queries, cents, books, k=3, n_probe=8).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine"
    )


def q_evt_sessions_stream(spark, sf_dir):
    """Custom stateful streaming op (applyInPandasWithState): gap
    sessionization with per-user open-session state.  Drained one-shot with
    an effectively-infinite watermark, the emitted (closed) sessions are
    exactly every session except each user's last — the oracle recomputes
    that set relationally."""
    from imops_spark.streaming.events import (
        run_stream_to_memory,
        sessionize_stateful_stream,
        stream_events,
    )

    out = sessionize_stateful_stream(stream_events(spark, sf_dir), watermark="87600 hours")
    return run_stream_to_memory(out, "evt_sessions_stream_gate", spark)


def q_evt_window(spark, sf_dir):
    from imops_spark.functions.events import tumbling_window_df

    return tumbling_window_df(_events(spark, sf_dir))


def q_tpch_rollup(spark, sf_dir):
    """ROLLUP hierarchy aggregates (§2.2 aggregations): subtotal rows at
    (flag, status), (flag), and grand-total levels in one pass — Spark's
    partial-aggregate-friendly grouping-sets expansion vs DuckDB ROLLUP.
    NULL group markers stringified (COALESCE) so the hash compare is
    deterministic across engines."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("<all>")).alias("flag"),
            F.coalesce(F.col("l_linestatus"), F.lit("<all>")).alias("status"),
            "n",
            "sum_qty",
        )
    )


def q_evt_running(spark, sf_dir):
    """Running (cumulative) per-user aggregate ordered by (ts, event_id) —
    the unbounded-preceding window frame, §2.2 window functions."""

    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
        F.row_number().over(w).alias("seq"),
    )


def q_evt_json(spark, sf_dir):
    """JSON column functions (§2.2 scalar functions): parse the props JSON
    payload per event and aggregate an extracted field — Spark
    get_json_object vs DuckDB json_extract, two independent JSON parsers."""

    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.countDistinct(k).alias("n_distinct_k"),
        F.count("*").alias("n"),
    )


def q_evt_antijoin(spark, sf_dir):
    """Set difference (§2.2 set ops): users who clicked but never purchased —
    a left_anti join; the oracle uses EXCEPT, a different formulation of the
    same algebra."""

    ev = _events(spark, sf_dir)
    clickers = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    big_buyers = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 90.0))
        .select("user_id")
        .distinct()
    )
    return clickers.join(big_buyers, on="user_id", how="left_anti")


def q_evt_dedup_stream(spark, sf_dir):
    """Streaming stateful exact dedup (dropDuplicates under a watermark):
    the kept ROW per key is batch-order-dependent, so the gate projects the
    KEYS — which are deterministic and equal SELECT DISTINCT."""
    from imops_spark.streaming.events import dedup_stream, run_stream_to_memory, stream_events

    out = dedup_stream(stream_events(spark, sf_dir))
    drained = run_stream_to_memory(out, "evt_dedup_stream_gate", spark, mode="append")
    return drained.select("user_id", "event_type")


def q_evt_median(spark, sf_dir):
    """Exact per-group percentiles: Spark's exact `percentile` (linear
    interpolation) vs DuckDB quantile_cont — same math, two engines.
    ROUND(5): interpolated midpoints can land on 1e-7-grain values where
    double rounding at 6 digits disagrees in the last ulp."""

    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 5).alias("median_value"),
        F.round(F.expr("percentile(value, 0.9)"), 5).alias("p90_value"),
        F.count("*").alias("n"),
    )


def q_rel_salted_join(spark, sf_dir):
    """Skew-salted fact-dim join (plans.skew.salted_join, full salting):
    the fact side gets a deterministic row-hash salt, the dim side
    replicates per salt, and the join runs on (key, salt) — the oracle is
    the PLAIN join, proving the salting is semantics-free."""
    from imops_spark.plans import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    pt = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_name", "p_size"
    )
    return salted_join(li, pt, ["l_partkey"], num_salts=8).select(
        "l_orderkey",
        "l_partkey",
        F.round(F.col("l_quantity"), 2).alias("qty"),
        "p_name",
        "p_size",
    )


def q_evt_pivot(spark, sf_dir):
    """PIVOT (§2.2 aggregations): per-user event-type counts as columns.
    Spark's pivot is a single map-side-combined aggregate over (user, type)
    pairs with the explicit value list avoiding the extra distinct-values
    job; the oracle is conditional aggregation — same algebra, no PIVOT
    syntax dependence."""

    ev = _events(spark, sf_dir)
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
        )
    )


def q_tpch_cube(spark, sf_dir):
    """CUBE (§2.2 aggregations): all 2^2 grouping sets over
    (returnflag, linestatus) in one grouping-sets expansion, NULL markers
    stringified for a deterministic cross-engine hash."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("<all>")).alias("flag"),
            F.coalesce(F.col("l_linestatus"), F.lit("<all>")).alias("status"),
            "n",
            "sum_price",
        )
    )


def q_evt_lag(spark, sf_dir):
    """lag/lead window navigation (§2.2 window functions): per-user gap to
    the previous event and id of the next one under the total
    (ts_sec, event_id) ordering; boundary NULLs coalesced to sentinels so
    the hash compare is deterministic."""

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.coalesce(
            F.col("ts_sec") - F.lag("ts_sec").over(w), F.lit(-1)
        ).alias("gap_sec"),
        F.coalesce(F.lead("event_id").over(w), F.lit(-1)).alias("next_event_id"),
    )


def q_evt_intersect(spark, sf_dir):
    """INTERSECT (§2.2 set ops): users who both clicked and purchased —
    Spark rewrites intersect to a left-semi aggregate; the oracle runs
    DuckDB's native INTERSECT."""

    ev = _events(spark, sf_dir)
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return clickers.intersect(buyers)


def q_evt_ntile(spark, sf_dir):
    """ntile + percent_rank (§2.2 window functions) under the total
    per-user (ts_sec, event_id) ordering — rank arithmetic must agree
    across engines exactly; percent_rank rounded at a tie-free grain."""

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 5).alias("prank"),
    )


def q_evt_gsets(spark, sf_dir):
    """GROUPING SETS with an explicit arbitrary combination list (§2.2
    aggregations) — distinct from the gated ROLLUP/CUBE prefixes/power set:
    (type, bucket), (type), (bucket), () in one pass.  GROUPING() ids
    disambiguate "NULL because aggregated" from data NULLs."""

    ev = _events(spark, sf_dir).select(
        "event_type", F.pmod("user_id", F.lit(4)).alias("bucket"), "value"
    )
    ev.createOrReplaceTempView("evt_gsets_src")
    return spark.sql(
        """
        SELECT COALESCE(event_type, '<all>') AS etype,
               COALESCE(CAST(bucket AS STRING), '<all>') AS ubucket,
               GROUPING(event_type) + 2 * GROUPING(bucket) AS gid,
               COUNT(1) AS n,
               ROUND(SUM(value), 4) AS sum_value
        FROM evt_gsets_src
        GROUP BY GROUPING SETS ((event_type, bucket), (event_type), (bucket), ())
        """
    )


def q_evt_range_frame(spark, sf_dir):
    """RANGE interval window frame (§2.2 window functions): per-user
    trailing 60-second sum/count.  Unlike the gated ROWS frames, the frame
    is defined by the ORDER-BY VALUE — peers at the same ts_sec share one
    frame, so the result is set-determined and tie-proof by construction."""

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_sec").rangeBetween(-59, 0)
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("trailing_sum"),
        F.count(F.lit(1)).over(w).alias("trailing_n"),
    )


def q_evt_nullsafe(spark, sf_dir):
    """Null-safe equality join (§2.2 joins): Spark's <=> vs DuckDB's
    IS NOT DISTINCT FROM.  Both sides derive a NULLable key with NULLIF, so
    the NULL<=>NULL bucket must actually match (a plain equi-join would drop
    it) — the semantics dedup pipelines rely on when keying by optional
    fields."""

    ev = _events(spark, sf_dir)
    a = ev.groupBy(
        F.nullif(F.pmod("user_id", F.lit(7)), F.lit(3)).alias("grp")
    ).agg(F.count(F.lit(1)).alias("n_users_side"))
    b = ev.groupBy(
        F.nullif(F.pmod("event_id", F.lit(7)), F.lit(3)).alias("grp")
    ).agg(F.count(F.lit(1)).alias("n_events_side"))
    return (
        a.join(b, a["grp"].eqNullSafe(b["grp"]))
        .select(
            F.coalesce(a["grp"], F.lit(-1)).alias("grp_key"),
            "n_users_side",
            "n_events_side",
        )
    )


def q_rel_unpivot(spark, sf_dir):
    """UNPIVOT (§2.2 set ops/reshape): lineitem's three measure columns
    melt into (measure, value) rows — Spark's DataFrame.unpivot vs DuckDB's
    native UNPIVOT; values rounded at their stored grain."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount"],
            "measure",
            "value",
        )
        .select(
            "l_orderkey",
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            "measure",
            F.round("value", 2).alias("value"),
        )
    )


def q_rel_explode(spark, sf_dir):
    """Lateral array expansion with ordinality (§2.2 scalar/array
    functions): per document, posexplode of its whitespace tokens vs
    DuckDB's UNNEST WITH ORDINALITY — positions must agree exactly."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = F.split(F.trim("text"), "\\s+")
    return (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.posexplode(toks).alias("pos", "tok"))
        .select("doc_id", (F.col("pos") + 1).alias("ordinality"), "tok")
    )


def q_evt_stats(spark, sf_dir):
    """Statistical aggregates (§2.2): sample stddev/variance, Pearson
    correlation, and least-squares slope per event type — numerically
    touchy aggregates (sum-of-squares accumulators differ between engines)
    rounded where both engines' ~1e-10 accumulation error cannot reach."""

    ev = _events(spark, sf_dir).select(
        "event_type", "value", F.col("user_id").cast("double").alias("uid")
    )
    return ev.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 6).alias("sd_value"),
        F.round(F.var_samp("value"), 5).alias("var_value"),
        F.round(F.corr("value", "uid"), 6).alias("corr_vu"),
        F.round(F.regr_slope("value", "uid"), 6).alias("slope_vu"),
        F.count(F.lit(1)).alias("n"),
    )


def q_evt_heavy(spark, sf_dir):
    """Heavy hitters per group (sketch.top_items_df): the most frequent
    user buckets per event type via the native approx_top_k aggregate — a
    bounded-memory frequent-items summary that map-side combines (the
    exchange carries one candidate table per partition, never per-value
    counts; at 100 TB this replaces the full groupBy count whose key
    cardinality is the data's, not the summary's).  Gated in the SATURATED
    regime — 97 buckets < k=200 <= max_tracked, so nothing is evicted or
    cut and the counts are exact — against the plain GROUP BY oracle; the
    sub-saturation tie/eviction caveat is documented on the operator and
    exercised in tests."""
    from imops_spark.functions.sketch import top_items_df

    ev = _events(spark, sf_dir).select(
        "event_type", (F.col("user_id") % 97).alias("bucket")
    )
    return top_items_df(ev, "bucket", k=200, by=["event_type"]).select(
        "event_type", F.col("item").alias("bucket"), "est_count"
    )


def q_sk_distinct_stream(spark, sf_dir):
    """Streaming HLL maintenance (streaming.sketch): per-micro-batch
    distinct-user sketches land in a (writer_id, batch_id)-partitioned
    parquet log via dynamic partition overwrite — replays overwrite their
    own partition, so the log is exactly-once under at-least-once
    foreachBatch delivery — and the reader merges the log's partials per
    event type.  Gated in HLL's exact sparse regime (user_id % 128 -> <=
    128 distinct per group stays in coupon mode at lg_k=12) against exact
    COUNT(DISTINCT); the merged-log-equals-batch-sketch identity and the
    replay/namespace mechanics are differential-tested.  The tiny merged
    card is re-materialized in memory so the scratch log can be deleted."""
    import shutil
    import tempfile

    from imops_spark.streaming.events import stream_events
    from imops_spark.streaming.sketch import (
        read_distinct_sketch_log,
        start_distinct_sketch_maintenance,
    )

    tmp = tempfile.mkdtemp(prefix="imops_sk_gate_")
    try:
        ev = stream_events(spark, sf_dir).select(
            "event_type", (F.col("user_id") % 128).alias("ub")
        )
        q = start_distinct_sketch_maintenance(
            ev,
            ["event_type"],
            "ub",
            f"{tmp}/log",
            checkpoint=f"{tmp}/ckpt",
        )
        q.awaitTermination(120)
        rows = (
            read_distinct_sketch_log(spark, f"{tmp}/log", keys=["event_type"])
            .select("event_type", "approx_distinct", "n_rows")
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_type string, approx_distinct bigint, n_rows bigint"
    )


def q_cur_pack_text(spark, sf_dir):
    """Pack materialization: per pack, the documents' texts concatenated in
    the packing order (shard-local md5 order) and md5-hashed — proves the
    grouping AND the intra-pack ordering end-to-end.  Spark builds the
    concatenation row-locally (sort_array over collected structs, no
    window); the oracle uses DuckDB's ordered string_agg — two different
    concatenation mechanisms, one hash."""
    from imops_spark.functions.curate import pack_documents_df
    from imops_spark.functions.dedup import _md5_hash_col

    # NULL-text rows are excluded on BOTH sides: a pack of only-NULL texts
    # would hash md5('') in Spark (array_join skips nulls) but NULL in
    # DuckDB (string_agg of all-NULL is NULL) — a latent gate divergence
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "n_chars", "text")
    )
    packed = pack_documents_df(docs, budget=4000, shards=8, salt=13)
    h = _md5_hash_col(F.col("doc_id").cast("string"), 13)
    return (
        packed.select("pack_id", F.struct(h.alias("h"), "doc_id", "text").alias("s"))
        .groupBy("pack_id")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("s")), lambda s: s.getField("text")
                    ),
                    "",
                )
            ).alias("pack_md5"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def q_evt_window_stream(spark, sf_dir):
    """Streaming twin of evt_window: tumbling-window counts over the event
    stream, drained with availableNow in complete mode — one-shot it must
    equal the batch aggregation, which the oracle recomputes relationally."""
    from imops_spark.streaming.events import (
        run_stream_to_memory,
        stream_events,
        windowed_counts_stream,
    )

    out = windowed_counts_stream(stream_events(spark, sf_dir))
    return run_stream_to_memory(out, "evt_window_stream_gate", spark, mode="complete")


def q_evt_topk_stream(spark, sf_dir):
    """Streaming top-k: the ORDER BY + LIMIT runs INSIDE the streaming
    query (legal only in complete output mode, after the stateful
    aggregation) — the memory sink holds exactly the top 10 users by event
    count with a deterministic (n desc, user_id asc) tie-break, and must
    equal the batch top-k the oracle computes."""
    from imops_spark.streaming.events import run_stream_to_memory, stream_events

    ev = stream_events(spark, sf_dir)
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(10)
    )
    return run_stream_to_memory(top, "evt_topk_stream_gate", spark, mode="complete")


def q_evt_join_stream(spark, sf_dir):
    """TRUE stream-stream join: purchases joined to the same user's clicks
    within the preceding 30 minutes, both sides watermarked, the interval
    condition bounding state eviction (streaming/events.py
    interval_join_stream).  Drained one-shot the inner join must equal the
    batch interval self-join, which the oracle recomputes in DuckDB."""
    from imops_spark.streaming.events import (
        interval_join_stream,
        run_stream_to_memory,
        stream_events,
    )

    purchases = stream_events(spark, sf_dir).where(F.col("event_type") == "purchase")
    clicks = stream_events(spark, sf_dir).where(F.col("event_type") == "click")
    out = interval_join_stream(purchases, clicks, window_minutes=30)
    return run_stream_to_memory(out, "evt_join_stream_gate", spark, mode="append")


def q_evt_asof(spark, sf_dir):
    """General backward-inclusive as-of join via the union + running
    last(ignorenulls) window trick (no range join, no interval explosion);
    the oracle is DuckDB's NATIVE ASOF JOIN — two different algorithms,
    one answer."""
    from imops_spark.functions.events import asof_join_df

    ev = _events(spark, sf_dir)
    knots = (
        ev.filter(F.col("event_id") % 50 == 0)
        .groupBy("ts_sec")
        .agg(F.max_by("value", "event_id").alias("kval"))
    )
    queries = ev.filter(F.col("event_id") % 7 == 0).select("event_id", "ts_sec")
    return asof_join_df(queries, knots, on="ts_sec", value_cols=["kval"]).select(
        "event_id", "asof_kval"
    )


def _asof_fixture(spark, sf_dir):

    ev = _events(spark, sf_dir)
    knots = (
        ev.filter(F.col("event_id") % 50 == 0)
        .groupBy("ts_sec")
        .agg(F.max_by("value", "event_id").alias("kval"))
    )
    queries = ev.filter(F.col("event_id") % 7 == 0).select("event_id", "ts_sec")
    return knots, queries


def q_evt_asof_fwd(spark, sf_dir):
    """Forward (next-knot) as-of join — same union+window machinery as the
    gated backward direction, opposite sort; the oracle is an independent
    algorithm (correlated min-over-range subquery), so direction handling
    is cross-checked, not self-checked."""
    from imops_spark.functions.events import asof_join_df

    knots, queries = _asof_fixture(spark, sf_dir)
    return asof_join_df(
        queries, knots, on="ts_sec", value_cols=["kval"], direction="forward"
    ).select("event_id", "asof_kval")


def q_evt_asof_near(spark, sf_dir):
    """Nearest-knot as-of join (ties resolve backward, the pandas
    merge_asof convention): two running-last windows over ONE shuffle pick
    the closer candidate; oracle recomputes both sides with correlated
    subqueries and applies the same tie rule."""
    from imops_spark.functions.events import asof_join_df

    knots, queries = _asof_fixture(spark, sf_dir)
    return asof_join_df(
        queries, knots, on="ts_sec", value_cols=["kval"], direction="nearest"
    ).select("event_id", "asof_kval")


def q_evt_closing(spark, sf_dir):
    """binary_closing (#7) as its 1-D relational composition: dilate then
    erode the per-user occupied-bucket flags over a DENSIFIED bucket domain
    (generated with sequence+explode — absent buckets are explicit 0s, as the
    dense-voxel contract requires), each pass one RANGE window."""
    from pyspark.sql.window import Window


    events = _events(spark, sf_dir)
    bucket = F.floor(F.col("ts_sec") / 600)
    flags = events.groupBy("user_id", bucket.alias("b")).agg(
        F.max(F.when(F.col("value") > 90.0, 1).otherwise(0)).alias("flag")
    )
    bounds = flags.groupBy("user_id").agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
    dense = bounds.select("user_id", F.explode(F.sequence("lo", "hi")).alias("b"))
    dns = dense.join(flags, ["user_id", "b"], "left").select(
        "user_id", "b", F.coalesce("flag", F.lit(0)).alias("flag")
    )
    w = Window.partitionBy("user_id").orderBy("b").rangeBetween(-1, 1)
    dil = dns.select("user_id", "b", F.max("flag").over(w).alias("d"))
    return dil.select(
        "user_id", F.col("b").alias("bucket"), F.min("d").over(w).alias("closed")
    )


def q_evt_pipeline(spark, sf_dir):
    """END-TO-END imaging-pipeline analog, chained as ONE query: binary
    closing (#7, densify + two RANGE windows) -> connected-component
    labeling of the closed mask (#11, 1-D gaps-and-islands: bucket -
    row_number is constant within a run) -> per-component measures (#12/#26:
    size, bounding stop, center of mass).  The composition twin of the
    `curate` gate for the array-operator half of the engine."""
    from pyspark.sql.window import Window


    events = _events(spark, sf_dir)
    bucket = F.floor(F.col("ts_sec") / 600)
    flags = events.groupBy("user_id", bucket.alias("b")).agg(
        F.max(F.when(F.col("value") > 90.0, 1).otherwise(0)).alias("flag")
    )
    bounds = flags.groupBy("user_id").agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
    dense = bounds.select("user_id", F.explode(F.sequence("lo", "hi")).alias("b"))
    dns = dense.join(flags, ["user_id", "b"], "left").select(
        "user_id", "b", F.coalesce("flag", F.lit(0)).alias("flag")
    )
    w = Window.partitionBy("user_id").orderBy("b").rangeBetween(-1, 1)
    closed = dns.select(
        "user_id", "b", F.max("flag").over(w).alias("d")
    ).select("user_id", "b", F.min("d").over(w).alias("closed"))
    ones = closed.filter(F.col("closed") == 1)
    w2 = Window.partitionBy("user_id").orderBy("b")
    isl = ones.withColumn("grp", F.col("b") - F.row_number().over(w2))
    return (
        isl.groupBy("user_id", "grp")
        .agg(
            F.min("b").alias("label"),
            F.count(F.lit(1)).alias("size"),
            (F.max("b") + 1).alias("stop"),
            F.round(F.avg("b"), 6).alias("com"),
        )
        .select("user_id", "label", "size", "stop", "com")
    )


def q_evt_sliding_stream(spark, sf_dir):
    """Streaming sliding windows (10-min length, 5-min slide): every event
    lands in two overlapping windows; drained complete it must equal the
    relational two-offset recomputation."""
    from imops_spark.streaming.events import (
        run_stream_to_memory,
        sliding_avg_stream,
        stream_events,
    )

    out = sliding_avg_stream(stream_events(spark, sf_dir))
    return run_stream_to_memory(out, "evt_sliding_stream_gate", spark, mode="complete")


def q_evt_sessions(spark, sf_dir):
    from imops_spark.functions.events import sessionize_df

    return sessionize_df(_events(spark, sf_dir))


def q_evt_session_native(spark, sf_dir):
    """Gap sessionization via Spark's NATIVE session_window aggregation (the
    streaming-legal built-in merge-on-gap windowing; contrast the
    applyInPandasWithState formulation gated as evt_sessions_stream and the
    batch window formulation of evt_sessions).  A new session starts when
    the gap to the previous event is >= 30 min (window end is exclusive:
    end = last_ts + gap); the oracle recomputes the same islands with
    LAG + running SUM of breaks."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("ts_t", F.timestamp_seconds("ts_sec"))
        .groupBy("user_id", F.session_window("ts_t", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("start_sec"),
            F.unix_timestamp("w.end").alias("end_sec"),
            "n_events",
            "sum_value",
        )
    )


def q_evt_session_append(spark, sf_dir):
    """APPEND-mode native session_window stream with real watermark
    eviction (``streaming.events.session_agg_stream``) — the production
    shape of evt_session_native's aggregation: a session row is emitted
    exactly once, when the event-time watermark passes its end, and its
    state is evicted (complete mode re-emits everything per trigger and is
    only a test harness).  To make the one-shot drain equal the FULL batch
    result, a far-future sentinel stream (region.parquet rows re-mapped to
    user_id=-1, ts=2100-01-01) is unioned in: the final no-data micro-batch
    then carries the watermark past every real session's end, flushing them
    all.  The sentinel's own session stays open forever so it never appears
    in append output; the user_id >= 0 filter runs on the DRAINED batch —
    an in-stream filter would be pushed below the EventTimeWatermark node
    and erase the sentinel from the watermark stats (measured: the two
    sessions ending within the 1h horizon of max event ts never flush).
    Oracle: identical to evt_session_native (LAG + running-SUM islands).
    """
    from imops_spark.streaming.events import (
        run_stream_to_memory,
        session_agg_stream,
        stream_events,
    )

    ev = stream_events(spark, sf_dir).select("user_id", "value", "ts_t")
    region_schema = spark.read.parquet(f"{sf_dir}/region.parquet").schema
    sentinel = (
        spark.readStream.schema(region_schema)
        .option("pathGlobFilter", "region.parquet")
        .parquet(sf_dir)
        .select(
            F.lit(-1).cast("long").alias("user_id"),
            F.lit(0.0).alias("value"),
            F.timestamp_seconds(F.lit(4102444800)).alias("ts_t"),  # 2100-01-01
        )
    )
    out = session_agg_stream(ev.unionByName(sentinel))
    drained = run_stream_to_memory(out, "evt_session_append_gate", spark, mode="append")
    return drained.filter("user_id >= 0")


def q_rel_lateral(spark, sf_dir):
    """LATERAL correlated subquery (Spark DecorrelateInnerQuery path): per
    nation, the top-3 customers by balance — the per-row-subquery shape
    ANSI LATERAL expresses and Catalyst rewrites into a join + per-group
    window (no nested-loop re-execution per outer row).  Tie-proof order:
    (c_acctbal DESC, c_custkey).  DuckDB runs the identical LATERAL."""
    _t(spark, sf_dir, "nation").createOrReplaceTempView("lat_nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    return spark.sql(
        """
        SELECT n.n_name, c.c_custkey, c.bal
        FROM lat_nation n,
        LATERAL (
          SELECT c_custkey, ROUND(c_acctbal, 2) AS bal
          FROM lat_customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 3
        ) c
        """
    )


def q_rel_intersect_all(spark, sf_dir):
    """Multiplicity-preserving set ops (INTERSECT ALL / EXCEPT ALL — bag
    semantics, kept distinct from the evt_intersect/evt_antijoin DISTINCT
    variants): per-engine identical ANSI multiset rules on a
    deliberately-duplicated projection."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("k"), F.col("l_linenumber").alias("ln")
    )
    a = li.filter(F.col("ln") <= 4)
    b = li.filter(F.col("ln") >= 2)
    inter = a.intersectAll(b).groupBy("k").agg(F.count(F.lit(1)).alias("n_inter"))
    exc = a.exceptAll(b).groupBy("k").agg(F.count(F.lit(1)).alias("n_except"))
    return inter.join(exc, "k", "outer").select(
        "k",
        F.coalesce("n_inter", F.lit(0)).alias("n_inter"),
        F.coalesce("n_except", F.lit(0)).alias("n_except"),
    )


def q_evt_rankfns(spark, sf_dir):
    """The full ANSI rank-function family over one window (rank /
    dense_rank / percent_rank / cume_dist) — deterministic because the
    order (value, event_id) is total.  The fractional functions compare
    RAW: both engines compute the same (rank-1)/(n-1) / rank/n double
    division on identical integer inputs, so the doubles are bitwise
    equal — rounding would ADD fragility here (k/(n-1) can land exactly
    on a .5 rounding boundary where engines' tie rules differ)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.filter(F.col("event_id") % 17 == 0).select(
        "event_type",
        "event_id",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
    )


def q_evt_neighbor(spark, sf_dir):
    """1-D binary-dilation pattern on the events table: per (user, 10-min
    bucket), did any event in the ±1-bucket neighborhood exceed the
    threshold — a RANGE window over present neighbors, one shuffle."""
    from imops_spark.functions.events import neighborhood_flag_df

    return neighborhood_flag_df(_events(spark, sf_dir))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE: the driver verifies the FIRST 50 entries of this dict as its
    # correctness scorecard.  Positions 1-50 are therefore FROZEN (they must
    # keep covering the same 50 queries, ending at tpch_q2/q8/q9/q11 at
    # positions 47-50).  New queries are APPEND-ONLY: add them at the END of
    # the dict, never mid-dict (tests/test_tpch.py pins the window).
    return {
        "center_of_mass": q_center_of_mass,
        "isin": q_isin,
        "mask_to_box": q_mask_to_box,
        "crop": q_crop,
        "pointwise": q_pointwise,
        "label_sizes": q_label_sizes,
        "interp1d": q_interp1d,
        "dilation": q_dilation,
        "erosion": q_erosion,
        "sliding_window": q_sliding_window,
        "zoom_1d": q_zoom_1d,
        "pad_1d": q_pad_1d,
        "edt_1d": q_edt_1d,
        "interp2d": q_interp2d,
        "multimodal": q_multimodal,
        "mm_frame_dedup": q_mm_frame_dedup,
        "mm_audio": q_mm_audio,
        "mm_resample": q_mm_resample,
        "mm_vad": q_mm_vad,
        "mm_tiles": q_mm_tiles,
        "src_jsonl": q_src_jsonl,
        "src_warc": q_src_warc,
        "src_warc_gz": q_src_warc_gz,
        "src_jsonl_stream": q_src_jsonl_stream,
        "cur_ingest": q_cur_ingest,
        "mm_image_raw": q_mm_image_raw,
        "mm_imresize": q_mm_imresize,
        "graph_cc": q_graph_cc,
        "radon_raysum": q_radon_raysum,
        "hull_fill": q_hull_fill,
        "radon_backproj": q_radon_backproj,
        "top1_nn": q_top1_nn,
        "tpch_rollup": q_tpch_rollup,
        "evt_running": q_evt_running,
        "evt_median": q_evt_median,
        "evt_json": q_evt_json,
        "evt_antijoin": q_evt_antijoin,
        "evt_dedup_stream": q_evt_dedup_stream,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q4": q_tpch_q4,
        "tpch_q5": q_tpch_q5,
        "tpch_q6": q_tpch_q6,
        "tpch_q7": q_tpch_q7,
        "tpch_q10": q_tpch_q10,
        "tpch_q14": q_tpch_q14,
        "tpch_q2": q_tpch_q2,
        "tpch_q8": q_tpch_q8,
        "tpch_q9": q_tpch_q9,
        "tpch_q11": q_tpch_q11,
        "tpch_q12": q_tpch_q12,
        "tpch_q13": q_tpch_q13,
        "tpch_q15": q_tpch_q15,
        "tpch_q16": q_tpch_q16,
        "tpch_q17": q_tpch_q17,
        "tpch_q18": q_tpch_q18,
        "tpch_q19": q_tpch_q19,
        "tpch_q20": q_tpch_q20,
        "tpch_q21": q_tpch_q21,
        "tpch_q21_1scan": q_tpch_q21_1scan,
        "tpch_q22": q_tpch_q22,
        "dd_exact": q_dd_exact,
        "dd_paragraphs": q_dd_paragraphs,
        "dd_minhash": q_dd_minhash,
        "dd_minhash_char": q_dd_minhash_char,
        "dd_lsh_pairs": q_dd_lsh_pairs,
        "dd_lsh_stream": q_dd_lsh_stream,
        "dd_lsh_sjoin": q_dd_lsh_sjoin,
        "dd_near_stream": q_dd_near_stream,
        "dd_jaccard": q_dd_jaccard,
        "dd_snapshot": q_dd_snapshot,
        "dd_snapshot_stream": q_dd_snapshot_stream,
        "dd_spans": q_dd_spans,
        "dd_span_stats": q_dd_span_stats,
        "dd_editsim": q_dd_editsim,
        "dd_clusters": q_dd_clusters,
        "curate": q_curate,
        "cur_sample": q_cur_sample,
        "cur_shards": q_cur_shards,
        "cur_pack_seqs": q_cur_pack_seqs,
        "cur_pack_mat": q_cur_pack_mat,
        "cur_quota": q_cur_quota,
        "cur_mix": q_cur_mix,
        "cur_pack": q_cur_pack,
        "cur_pack_text": q_cur_pack_text,
        "cur_contam": q_cur_contam,
        "cur_lenfilter": q_cur_lenfilter,
        "cur_select3": q_cur_select3,
        "cur_contam_frac": q_cur_contam_frac,
        "cur_contam_frac_stream": q_cur_contam_frac_stream,
        "cur_contam_emb": q_cur_contam_emb,
        "cur_profile": q_cur_profile,
        "cur_profile_stream": q_cur_profile_stream,
        "cur_topfrac": q_cur_topfrac,
        "cur_dsir": q_cur_dsir,
        "cur_dsir_stream": q_cur_dsir_stream,
        "cur_select2": q_cur_select2,
        "txt_embed": q_txt_embed,
        "txt_embed_stream": q_txt_embed_stream,
        "emb_text_topk": q_emb_text_topk,
        "txt_chunks": q_txt_chunks,
        "txt_sentences": q_txt_sentences,
        "txt_bpe_pairs": q_txt_bpe_pairs,
        "txt_classify": q_txt_classify,
        "cur_roc": q_cur_roc,
        "cur_select4": q_cur_select4,
        "txt_classify_stream": q_txt_classify_stream,
        "txt_vocab": q_txt_vocab,
        "cur_mix_temp": q_cur_mix_temp,
        "cur_contam_bloom": q_cur_contam_bloom,
        "cur_contam_stream": q_cur_contam_stream,
        "evt_stats": q_evt_stats,
        "evt_heavy": q_evt_heavy,
        "sk_distinct_stream": q_sk_distinct_stream,
        "rel_unpivot": q_rel_unpivot,
        "rel_explode": q_rel_explode,
        "rel_hof": q_rel_hof,
        "dd_simhash": q_dd_simhash,
        "emb_near_dup": q_emb_near_dup,
        "emb_semdedup": q_emb_semdedup,
        "txt_tokens": q_txt_tokens,
        "txt_bpe": q_txt_bpe,
        "txt_quality": q_txt_quality,
        "txt_langid": q_txt_langid,
        "txt_fingerprint": q_txt_fingerprint,
        "txt_winnow": q_txt_winnow,
        "txt_utf8": q_txt_utf8,
        "txt_repetition": q_txt_repetition,
        "txt_replines": q_txt_replines,
        "txt_boiler": q_txt_boiler,
        "txt_pii": q_txt_pii,
        "txt_c4": q_txt_c4,
        "txt_urls": q_txt_urls,
        "txt_urlcanon": q_txt_urlcanon,
        "txt_entropy": q_txt_entropy,
        "txt_entropy_stream": q_txt_entropy_stream,
        "dd_urldup": q_dd_urldup,
        "txt_domfilter": q_txt_domfilter,
        "txt_tfidf": q_txt_tfidf,
        "txt_bm25": q_txt_bm25,
        "txt_bm25_idx": q_txt_bm25_idx,
        "txt_bm25_phrase": q_txt_bm25_phrase,
        "txt_html": q_txt_html,
        "txt_lm": q_txt_lm,
        "sim_topk": q_sim_topk,
        "sim_int8": q_sim_int8,
        "sim_ivf": q_sim_ivf,
        "sim_lsh": q_sim_lsh,
        "sim_pq": q_sim_pq,
        "sim_ivfpq": q_sim_ivfpq,
        "evt_window": q_evt_window,
        "evt_window_stream": q_evt_window_stream,
        "evt_topk_stream": q_evt_topk_stream,
        "evt_sliding_stream": q_evt_sliding_stream,
        "evt_sessions": q_evt_sessions,
        "evt_session_native": q_evt_session_native,
        "evt_session_append": q_evt_session_append,
        "rel_lateral": q_rel_lateral,
        "rel_intersect_all": q_rel_intersect_all,
        "evt_rankfns": q_evt_rankfns,
        "evt_neighbor": q_evt_neighbor,
        "evt_asof": q_evt_asof,
        "evt_asof_fwd": q_evt_asof_fwd,
        "evt_asof_near": q_evt_asof_near,
        "evt_closing": q_evt_closing,
        "evt_pipeline": q_evt_pipeline,
        "evt_sessions_stream": q_evt_sessions_stream,
        "evt_join_stream": q_evt_join_stream,
        "rel_salted_join": q_rel_salted_join,
        "evt_pivot": q_evt_pivot,
        "tpch_cube": q_tpch_cube,
        "evt_lag": q_evt_lag,
        "evt_intersect": q_evt_intersect,
        "evt_ntile": q_evt_ntile,
        "evt_gsets": q_evt_gsets,
        "evt_range_frame": q_evt_range_frame,
        "evt_nullsafe": q_evt_nullsafe,
        # Build-round additions moved here from mid-dict (they had pushed
        # tpch_q2/q8/q9/q11 out of the driver's first-50 verified window).
        "src_warc_http": q_src_warc_http,
        "src_warc_charset": q_src_warc_charset,
        "src_warc_stream": q_src_warc_stream,
        "cur_ingest2": q_cur_ingest2,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_SHINGLES = f"""
  toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents),
  sh AS (
    SELECT DISTINCT doc_id, array_to_string(t[(i+1):(i+3)], ' ') AS shingle
    FROM toks, unnest(generate_series(0, greatest(len(t)-3, 0))) u(i)
  )
"""


def _mh_hash(i: int, col: str = "shingle") -> str:
    # Hash i = 60 bits from half of md5(i//2 | value): mirrors
    # dedup._md5_hash_col(col, i // 2, i % 2) exactly.
    return f"(('0x' || substr(md5('{i // 2}|' || {col}), {1 + 16 * (i % 2)}, 15))::BIGINT)"


def _winnow_fps_sql(pred: str) -> str:
    """Winnowing fingerprint subquery (same chain as the txt_winnow
    oracle, k=8 window=4) over the documents matching ``pred`` —
    DISTINCT (doc_id, fp)."""
    return _winnow_fps_rel_sql(f"(SELECT doc_id, text FROM documents WHERE {pred})")


def _winnow_fps_rel_sql(rel: str) -> str:
    """The same winnowing chain over an arbitrary ``(doc_id, text)``
    relation — lets composition oracles (cur_select3) fingerprint a
    COMPUTED survivor set, not just a predicate over ``documents``."""
    return f"""(
      WITH d AS (
        SELECT doc_id, {_NORM} AS nt FROM {rel} r
        WHERE length({_NORM}) >= 8
      ),
      g AS (
        SELECT doc_id, pos,
               ('0x'||substr(md5(substr(nt, pos, 8)),1,15))::BIGINT AS h
        FROM d, unnest(generate_series(1, length(nt) - 7)) u(pos)
      ),
      ng AS (SELECT doc_id, MAX(pos) AS ng FROM g GROUP BY 1),
      s AS (
        SELECT doc_id, pos, h, pos - o AS t
        FROM g, unnest(generate_series(0, 3)) v(o)
        WHERE pos - o >= 1
      ),
      w AS (
        SELECT doc_id, t, pos, h,
               ROW_NUMBER() OVER (PARTITION BY doc_id, t ORDER BY h, pos) AS rn
        FROM s
      )
      SELECT DISTINCT doc_id, h AS fp
      FROM w JOIN ng USING (doc_id)
      WHERE rn = 1 AND t <= ng - 3
    )"""


def _urlcanon_rel_sql(urls_rel: str) -> str:
    """``(doc_id, url, canonical_url)`` over a ``(doc_id, url)`` relation —
    DuckDB mirror of ``text.canonical_url`` step for step (``\\1`` group
    references and explicit ``'g'`` flags are DuckDB's replacement
    dialect; Spark writes ``$1`` and replaces all matches by default)."""
    return rf"""(
      WITH u0 AS (
        SELECT doc_id, url, regexp_replace(url, '#.*', '') AS c
        FROM {urls_rel} r
      ),
      u1 AS (
        SELECT doc_id, url, c,
               regexp_extract(c, '^(https?://[^/?#]*)', 1) AS auth
        FROM u0
      ),
      u2 AS (
        SELECT doc_id, url,
               regexp_replace(
                 regexp_replace(lower(auth), '^(http://[^/?#]*):80$', '\1'),
                 '^(https://[^/?#]*):443$', '\1') AS low,
               substring(c, length(auth) + 1) AS rest
        FROM u1
      ),
      u3 AS (
        SELECT doc_id, url, low,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       rest,
                       '([?&])(utm_[A-Za-z0-9_]*|gclid|fbclid)=[^&#]*',
                       '\1', 'g'),
                     '&&+', '&', 'g'),
                   '\?&', '?', 'g'),
                 '[?&]$', '') AS rest
        FROM u2
      )
      SELECT doc_id, url,
             regexp_replace(low || rest, '^(https?://[^/?#]+)/$', '\1')
               AS canonical_url
      FROM u3
    )"""


def _urlcanon_base_sql() -> str:
    planted = ", ".join("(%d, '%s')" % (i, t) for i, t in _URLCANON_ROWS)
    return (
        "SELECT doc_id, text FROM documents WHERE doc_id < 100 "
        "UNION ALL SELECT * FROM (VALUES %s) v(doc_id, text)" % planted
    )


def _urlcanon_sql() -> str:
    urls_rel = (
        r"(SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\s]+'))"
        r" AS url FROM base WHERE text IS NOT NULL)"
    )
    return rf"""
      WITH base AS ({_urlcanon_base_sql()})
      SELECT doc_id, url, canonical_url,
             regexp_replace(canonical_url, 'https?://([^/:?#\s]+).*', '\1')
               AS domain
      FROM {_urlcanon_rel_sql(urls_rel)} t
    """


def _urldup_sql() -> str:
    planted = ", ".join("(%d, '%s')" % (i, t) for i, t in _URLCANON_ROWS)
    pages_rel = rf"""(
      SELECT doc_id * 10 + length(url) %% 7 AS doc_id, url
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
            FROM (VALUES %s) v(doc_id, text) WHERE text IS NOT NULL) e
    )""" % planted
    return rf"""
      SELECT doc_id, url, canonical_url FROM (
        SELECT doc_id, url, canonical_url,
               ROW_NUMBER() OVER (PARTITION BY canonical_url ORDER BY doc_id)
                 AS rn
        FROM {_urlcanon_rel_sql(pages_rel)} t
      ) WHERE rn = 1
    """


def _select3_sql() -> str:
    """cur_select3 oracle: the cleaning chain assembled from the proven
    per-stage pieces — lenfilter quantiles, the txt_entropy micro-nat
    chain, the txt_winnow fingerprint chain over the COMPUTED survivor
    relation (``_winnow_fps_rel_sql``), the cur_contam pair threshold,
    and the cur_shards md5 shard+rank tail (same salt/shard count/order)."""
    train_rel = "(SELECT doc_id, text FROM k2 WHERE doc_id % 5 <> 0)"
    return f"""
        WITH d0 AS (
          SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        ),
        q AS (
          SELECT ROUND(quantile_cont(length(text), 0.05), 5) AS qlo,
                 ROUND(quantile_cont(length(text), 0.95), 5) AS qhi
          FROM d0
        ),
        k1 AS (
          SELECT doc_id, text FROM d0, q
          WHERE length(text) >= qlo AND length(text) <= qhi
        ),
        toks AS (
          SELECT doc_id,
                 list_filter(string_split({_NORM}, ' '), x -> x <> '') AS toks
          FROM k1
        ),
        wd AS (
          SELECT doc_id, len(toks) AS n, unnest(toks) AS token
          FROM toks WHERE len(toks) > 0
        ),
        cnt AS (
          SELECT doc_id, token, CAST(COUNT(1) AS BIGINT) AS c, MIN(n) AS n
          FROM wd GROUP BY 1, 2
        ),
        t AS (
          SELECT doc_id,
                 CAST(ROUND((c / n) * LN(c / n)
                            * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS tm
          FROM cnt
        ),
        ent AS (
          SELECT doc_id FROM t GROUP BY doc_id
          HAVING CAST(-SUM(tm) AS BIGINT) >= 2500000
        ),
        k2 AS (SELECT k1.doc_id, k1.text FROM k1 SEMI JOIN ent USING (doc_id)),
        tf AS (SELECT doc_id, fp FROM {_winnow_fps_rel_sql(train_rel)} w),
        ef AS (SELECT doc_id, fp FROM {_winnow_fps_sql("doc_id % 5 = 0")} e),
        pairs AS (
          SELECT tf.doc_id AS td, ef.doc_id AS ed, COUNT(1) AS c
          FROM tf JOIN ef ON tf.fp = ef.fp GROUP BY 1, 2
        ),
        bad AS (SELECT DISTINCT td AS doc_id FROM pairs WHERE c >= 30),
        keep AS (
          SELECT doc_id FROM k2
          WHERE doc_id % 5 <> 0
            AND doc_id NOT IN (SELECT doc_id FROM bad)
        ),
        hashed AS (
          SELECT doc_id,
                 (('0x' || substr(md5('77|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) AS h
          FROM keep
        )
        SELECT doc_id, CAST(h % 8 AS INT) AS shard,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY h % 8 ORDER BY h, doc_id
               ) AS BIGINT) AS pos
        FROM hashed
    """


def _bm25_sql() -> str:
    """BM25 oracle mirroring text.bm25_topk_df expression-for-expression:
    constants interpolated from the SAME bm25_constants() dict the Spark
    plan uses (shortest-repr round-trip = identical doubles), every
    literal cast to DOUBLE (bare decimals are DECIMAL in DuckDB — decimal
    division rounds before LN, the known 1e-7 trap), per-(doc, term)
    scores rounded to integer micro-units before the order-proof BIGINT
    sum, and SUM/COUNT wrapped in CAST AS BIGINT against HUGEINT."""
    from imops_spark.functions.text import bm25_constants

    c = bm25_constants(1.2, 0.75)
    terms = ", ".join(f"'{t}'" for t in sorted(set(BM25_QUERY.split())))
    return f"""
        WITH d AS (
          SELECT doc_id,
                 list_filter(string_split({_NORM}, ' '), x -> x <> '') AS toks
          FROM documents WHERE text IS NOT NULL
        ),
        wd AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
        stats AS (
          SELECT CAST(COUNT(1) AS BIGINT) AS n_docs,
                 CAST(SUM(len(toks)) AS BIGINT) AS tot_len
          FROM d
        ),
        ex AS (SELECT doc_id, dl, unnest(toks) AS token FROM wd),
        tf AS (
          SELECT doc_id, token, CAST(COUNT(1) AS BIGINT) AS tf,
                 MIN(dl) AS dl
          FROM ex WHERE token IN ({terms}) GROUP BY 1, 2
        ),
        dfreq AS (
          SELECT token, CAST(COUNT(1) AS BIGINT) AS df FROM tf GROUP BY 1
        ),
        scored AS (
          SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_terms,
                 CAST(SUM(CAST(ROUND(
                   LN(CAST(1.0 AS DOUBLE)
                      + (n_docs - df + CAST(0.5 AS DOUBLE))
                        / (df + CAST(0.5 AS DOUBLE)))
                   * ((CAST(tf AS DOUBLE) * CAST({c["k1p1"]!r} AS DOUBLE))
                      / (CAST(tf AS DOUBLE)
                         + CAST({c["k1"]!r} AS DOUBLE)
                           * (CAST({c["one_minus_b"]!r} AS DOUBLE)
                              + CAST({c["b"]!r} AS DOUBLE)
                                * (dl / (tot_len / n_docs)))))
                   * CAST(1000000.0 AS DOUBLE)) AS BIGINT)) AS BIGINT)
                 AS score_micro
          FROM tf JOIN dfreq USING (token) CROSS JOIN stats
          GROUP BY 1
        )
        SELECT doc_id, n_terms, score_micro,
               ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rank
        FROM scored
        ORDER BY score_micro DESC, doc_id
        LIMIT 20
    """


def _bm25_phrase_sql() -> str:
    """Phrase-BM25 oracle by a DIFFERENT algorithm than the Spark probe:
    instead of positional postings + per-term position-array
    intersection, DuckDB scans each document's token list directly — a
    list_filter lambda over candidate start positions (1-based) testing
    all phrase slots — so the two sides only agree if the positional
    bookkeeping is right.  Overlapping occurrences count on both sides.
    Scoring mirrors _bm25_score_tail's phrase form expression-for-
    expression: constants from the SAME bm25_constants() dict, every
    literal CAST AS DOUBLE (the DECIMAL-division trap), the single
    phrase term micro-rounded, SUM/COUNT cast against HUGEINT."""
    from imops_spark.functions.text import bm25_constants

    c = bm25_constants(1.2, 0.75)
    ptoks = BM25_PHRASE.split()
    m = len(ptoks)
    slots = " AND ".join(
        f"toks[p + {i}] = '{t}'" for i, t in enumerate(ptoks)
    )
    return f"""
        WITH d AS (
          SELECT doc_id,
                 list_filter(string_split({_NORM}, ' '), x -> x <> '') AS toks
          FROM documents WHERE text IS NOT NULL
        ),
        stats AS (
          SELECT CAST(COUNT(1) AS BIGINT) AS n_docs,
                 CAST(SUM(len(toks)) AS BIGINT) AS tot_len
          FROM d
        ),
        cand AS (
          SELECT doc_id, len(toks) AS dl,
                 CAST(len(list_filter(range(1, len(toks) - {m} + 2),
                                      p -> {slots})) AS BIGINT) AS phrase_tf
          FROM d
        ),
        c2 AS (SELECT * FROM cand WHERE phrase_tf > 0),
        dfp AS (SELECT CAST(COUNT(1) AS BIGINT) AS df FROM c2),
        scored AS (
          SELECT doc_id, phrase_tf,
                 CAST(ROUND(
                   LN(CAST(1.0 AS DOUBLE)
                      + (n_docs - df + CAST(0.5 AS DOUBLE))
                        / (df + CAST(0.5 AS DOUBLE)))
                   * ((CAST(phrase_tf AS DOUBLE) * CAST({c["k1p1"]!r} AS DOUBLE))
                      / (CAST(phrase_tf AS DOUBLE)
                         + CAST({c["k1"]!r} AS DOUBLE)
                           * (CAST({c["one_minus_b"]!r} AS DOUBLE)
                              + CAST({c["b"]!r} AS DOUBLE)
                                * (dl / (tot_len / n_docs)))))
                   * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS score_micro
          FROM c2 CROSS JOIN stats CROSS JOIN dfp
        )
        SELECT doc_id, phrase_tf, score_micro,
               ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rank
        FROM scored
        ORDER BY score_micro DESC, doc_id
        LIMIT 20
    """


def _minhash_select() -> str:
    cols = ", ".join(f"MIN({_mh_hash(i)}) AS mh{i}" for i in range(MINHASHES))
    return f"WITH {_SHINGLES} SELECT doc_id, {cols} FROM sh GROUP BY doc_id"


def _simhash_sql() -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
      WITH toks AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok FROM documents)
      ),
      hashed AS (SELECT doc_id, {_mh_hash(0, 'tok')} AS th FROM toks),
      votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
      SELECT doc_id, {sig} AS simhash FROM votes
    """


def _lsh_pairs_sql(bands: int = 4, rows_per_band: int = 2) -> str:
    band_selects = []
    for b in range(bands):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        key = "md5(" + " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in cols) + ")"
        band_selects.append(f"SELECT doc_id, {b} AS band, {key} AS band_key FROM sigs")
    buckets = " UNION ALL ".join(band_selects)
    return f"""
      WITH {_SHINGLES},
      sigs AS (SELECT doc_id, {", ".join(f"MIN({_mh_hash(i)}) AS mh{i}" for i in range(MINHASHES))}
               FROM sh GROUP BY doc_id),
      buckets AS ({buckets})
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """


def _verified_pairs_sql(bands: int = 4, rows_per_band: int = 2, thresh: float = 0.5) -> str:
    band_selects = []
    for b in range(bands):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        key = "md5(" + " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in cols) + ")"
        band_selects.append(f"SELECT doc_id, {b} AS band, {key} AS band_key FROM sigs")
    buckets = " UNION ALL ".join(band_selects)
    return f"""
      WITH {_SHINGLES},
      sigs AS (SELECT doc_id, {", ".join(f"MIN({_mh_hash(i)}) AS mh{i}" for i in range(MINHASHES))}
               FROM sh GROUP BY doc_id),
      buckets AS ({buckets}),
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      ),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
        FROM pairs p
        JOIN sh sa ON sa.doc_id = p.doc_a
        JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2
      )
      SELECT p.doc_a, p.doc_b,
             ROUND(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                   / (na.n + nb.n - COALESCE(i.n_inter, 0)), 6) AS jaccard
      FROM pairs p
      LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
      JOIN sizes na ON na.doc_id = p.doc_a
      JOIN sizes nb ON nb.doc_id = p.doc_b
      WHERE CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
            / (na.n + nb.n - COALESCE(i.n_inter, 0)) >= {thresh}
    """


def _dd_clusters_sql(bands: int = 4, rows_per_band: int = 2, thresh: float = 0.6) -> str:
    band_selects = []
    for b in range(bands):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        key = "md5(" + " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in cols) + ")"
        band_selects.append(f"SELECT doc_id, {b} AS band, {key} AS band_key FROM sigs")
    buckets = " UNION ALL ".join(band_selects)
    return f"""
      WITH RECURSIVE {_SHINGLES},
      sigs AS (SELECT doc_id, {", ".join(f"MIN({_mh_hash(i)}) AS mh{i}" for i in range(MINHASHES))}
               FROM sh GROUP BY doc_id),
      buckets AS ({buckets}),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      ),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
        GROUP BY c.doc_a, c.doc_b
      ),
      verified AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN sizes na ON na.doc_id = c.doc_a
        JOIN sizes nb ON nb.doc_id = c.doc_b
        WHERE ROUND(COALESCE(i.n_inter, 0)::DOUBLE /
                    (na.n + nb.n - COALESCE(i.n_inter, 0)), 6) >= {thresh}
      ),
      edges AS (
        SELECT doc_a AS a, doc_b AS b FROM verified
        UNION SELECT doc_b AS a, doc_a AS b FROM verified
      ),
      nodes AS (SELECT DISTINCT a AS node FROM edges),
      reach(src, node) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT r.src, e.b AS node FROM reach r JOIN edges e ON e.a = r.node
      )
      SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src
    """


def _curate_sql(bands: int = 4, rows_per_band: int = 2, thresh: float = 0.6) -> str:
    """End-to-end oracle for the curation pipeline: quality gate -> exact
    dedup -> near-dup chain (minhash/LSH/jaccard/recursive-CTE CC) -> BPE
    budgets, all running on the same CTE chain the individually-gated
    stages use — one hash over the WHOLE pipeline."""
    band_selects = []
    for b in range(bands):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        key = "md5(" + " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in cols) + ")"
        band_selects.append(f"SELECT doc_id, {b} AS band, {key} AS band_key FROM sigs")
    buckets = " UNION ALL ".join(band_selects)
    stop = "['the','a','of','and','to','in','is','it','data','value']"
    bpe_pat = (
        "'''(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+'"
    )
    return f"""
      WITH RECURSIVE
      q AS (
        SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents WHERE text IS NOT NULL
      ),
      qf AS (
        SELECT doc_id, text FROM q
        WHERE len(toks) >= 5
          AND ROUND(length(text)::DOUBLE / len(toks), 4) <= 12.0
          AND ROUND(len(list_filter(toks, x -> list_contains({stop}, x)))::DOUBLE
                    / len(toks), 4) >= 0.0
          AND ROUND(len(list_distinct(toks))::DOUBLE / len(toks), 4) >= 0.2
      ),
      keys AS (
        SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
        FROM qf
      ),
      keep AS (SELECT h, MIN(doc_id) AS doc_id FROM keys GROUP BY h),
      cdocs AS (SELECT qf.doc_id, qf.text FROM qf JOIN keep ON keep.doc_id = qf.doc_id),
      toks2 AS (
        SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
        FROM cdocs
      ),
      sh AS (
        SELECT DISTINCT doc_id, array_to_string(t[(i+1):(i+3)], ' ') AS shingle
        FROM toks2, unnest(generate_series(0, greatest(len(t)-3, 0))) u(i)
      ),
      sigs AS (SELECT doc_id, {", ".join(f"MIN({_mh_hash(i)}) AS mh{i}" for i in range(MINHASHES))}
               FROM sh GROUP BY doc_id),
      buckets AS ({buckets}),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      ),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
        GROUP BY c.doc_a, c.doc_b
      ),
      verified AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN sizes na ON na.doc_id = c.doc_a
        JOIN sizes nb ON nb.doc_id = c.doc_b
        WHERE ROUND(COALESCE(i.n_inter, 0)::DOUBLE /
                    (na.n + nb.n - COALESCE(i.n_inter, 0)), 6) >= {thresh}
      ),
      edges AS (
        SELECT doc_a AS a, doc_b AS b FROM verified
        UNION SELECT doc_b AS a, doc_a AS b FROM verified
      ),
      nodes AS (SELECT DISTINCT a AS node FROM edges),
      reach(src, node) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT r.src, e.b AS node FROM reach r JOIN edges e ON e.a = r.node
      ),
      clusters AS (SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src),
      losers AS (SELECT doc_id FROM clusters WHERE doc_id != cluster_id),
      surv AS (
        SELECT * FROM cdocs WHERE doc_id NOT IN (SELECT doc_id FROM losers)
      ),
      bt AS (SELECT doc_id, regexp_extract_all(text, {bpe_pat}) AS b FROM surv)
      SELECT s.doc_id, s.text,
             CAST(len(string_split_regex(trim(s.text), '\\s+')) AS BIGINT) AS n_words,
             CAST(len(b) AS BIGINT) AS n_bpe,
             CAST(len(list_distinct(b)) AS BIGINT) AS n_unique_bpe
      FROM surv s JOIN bt ON bt.doc_id = s.doc_id
    """


def _repetition_sql(source: str, top_ns: tuple, dup_ns: tuple) -> str:
    """DuckDB mirror of functions.text.repetition_df: identical metric
    definitions (trimmed non-empty lines, beyond-the-first duplicate
    counting, (cnt, len, gram) lexicographic top-gram tie-break) via
    window functions instead of Spark's max-of-struct."""
    all_ns = sorted(set(top_ns) | set(dup_ns))
    ns_vals = ", ".join(f"({n})" for n in all_ns)
    cases = ", ".join(
        [f"MAX(CASE WHEN n = {n} THEN top_num END) AS t{n}" for n in top_ns]
        + [f"MAX(CASE WHEN n = {n} THEN dupch END) AS d{n}" for n in dup_ns]
    )
    fracs = ", ".join(
        [
            f"ROUND(COALESCE(t{n}, 0)::DOUBLE / GREATEST(tk.n_chars, 1)::DOUBLE, 6)"
            f" AS top{n}gram_char_frac"
            for n in top_ns
        ]
        + [
            f"ROUND(COALESCE(d{n}, 0)::DOUBLE / GREATEST(tk.n_chars, 1)::DOUBLE, 6)"
            f" AS dup{n}gram_char_frac"
            for n in dup_ns
        ]
    )
    return f"""
      WITH src AS ({source}),
      d AS (SELECT doc_id, text, {_NORM} AS nt FROM src WHERE text IS NOT NULL),
      tk AS (SELECT doc_id, string_split(nt, ' ') AS toks,
                    CAST(length(nt) AS BIGINT) AS n_chars
             FROM d),
      lm AS (
        SELECT doc_id,
               len(ls) AS nl,
               len(list_distinct(ls)) AS nd,
               COALESCE(list_sum(list_transform(ls, x -> length(x))), 0) AS tot,
               COALESCE(list_sum(list_transform(list_distinct(ls),
                   x -> (len(list_filter(ls, l -> l = x)) - 1) * length(x))), 0) AS dup
        FROM (SELECT doc_id,
                     list_filter(list_transform(string_split(text, chr(10)),
                                                x -> trim(x)),
                                 x -> x <> '') AS ls
              FROM d)
      ),
      g AS (
        SELECT doc_id, n, array_to_string(list_slice(toks, i, i + n - 1), ' ') AS gram
        FROM tk, (VALUES {ns_vals}) ns(n),
             unnest(generate_series(1, len(toks) - n + 1)) u(i)
        WHERE len(toks) >= n
      ),
      c AS (SELECT doc_id, n, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2, 3),
      r AS (
        SELECT doc_id, n, cnt, length(gram) AS glen,
               ROW_NUMBER() OVER (PARTITION BY doc_id, n
                                  ORDER BY cnt DESC, length(gram) DESC, gram DESC) AS rn,
               SUM((cnt - 1) * length(gram)) OVER (PARTITION BY doc_id, n) AS dupch
        FROM c
      ),
      p AS (SELECT doc_id, n, cnt * glen AS top_num, dupch FROM r WHERE rn = 1),
      w AS (SELECT doc_id, {cases} FROM p GROUP BY 1)
      SELECT tk.doc_id, tk.n_chars,
             CAST(lm.nl AS BIGINT) AS n_lines,
             ROUND((lm.nl - lm.nd)::DOUBLE / GREATEST(lm.nl, 1)::DOUBLE, 6)
               AS dup_line_frac,
             ROUND(lm.dup::DOUBLE / GREATEST(lm.tot, 1)::DOUBLE, 6)
               AS dup_line_char_frac,
             {fracs}
      FROM tk JOIN lm USING (doc_id) LEFT JOIN w USING (doc_id)
    """


def _replines_values() -> str:
    """The txt_replines corpus as a DuckDB VALUES clause (lines joined with
    chr(10) expressions — no literal newlines in the SQL)."""
    rows = []
    for i, lines in _REPLINE_ROWS:
        text = " || chr(10) || ".join("'" + ln + "'" for ln in lines)
        rows.append(f"({i}, {text})")
    return ", ".join(rows)


def _dup_spans_core_sql(k: int) -> str:
    """Shared WITH-chain for the duplicate-span oracles: per-position
    k-gram hashes (the engine's exact md5 recipe), the window min!=max
    distinct-doc test, and island numbering."""
    return f"""
      d AS (SELECT doc_id, {_NORM} AS nt FROM documents),
      g AS (
        SELECT doc_id, pos,
               ('0x' || substr(md5(substr(nt, pos, {k})), 1, 15))::BIGINT AS h
        FROM (SELECT * FROM d WHERE length(nt) >= {k}) dd,
             unnest(generate_series(1, length(nt) - {k - 1})) u(pos)
      ),
      m AS (
        SELECT doc_id, pos
        FROM (SELECT doc_id, pos,
                     MIN(doc_id) OVER (PARTITION BY h) AS mn,
                     MAX(doc_id) OVER (PARTITION BY h) AS mx
              FROM g) x
        WHERE mn <> mx
      ),
      r AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM m
      )
    """


def _dup_spans_sql(k: int = 20) -> str:
    return f"""
      WITH {_dup_spans_core_sql(k)}
      SELECT doc_id,
             CAST(MIN(pos) AS BIGINT) AS span_start,
             CAST(MAX(pos) - MIN(pos) + {k} AS BIGINT) AS span_len,
             CAST(COUNT(*) AS BIGINT) AS n_grams
      FROM r GROUP BY doc_id, grp
    """


def _dup_span_stats_sql(k: int = 20) -> str:
    return f"""
      WITH {_dup_spans_core_sql(k)},
      sp AS (
        SELECT doc_id, MAX(pos) - MIN(pos) + {k} AS span_len
        FROM r GROUP BY doc_id, grp
      ),
      agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(span_len) AS BIGINT) AS dup_span_chars
        FROM sp GROUP BY 1
      ),
      base AS (
        SELECT doc_id, length({_NORM}) AS n_chars
        FROM documents WHERE text IS NOT NULL
      )
      SELECT base.doc_id,
             COALESCE(n_spans, 0) AS n_spans,
             COALESCE(dup_span_chars, 0) AS dup_span_chars,
             ROUND(COALESCE(dup_span_chars, 0)::DOUBLE
                   / GREATEST(n_chars, 1)::DOUBLE, 6) AS dup_span_char_frac
      FROM base LEFT JOIN agg USING (doc_id)
    """


def _c4_values() -> str:
    rows = []
    for i, lines in _C4_ROWS:
        text = " || chr(10) || ".join("'" + ln.replace('"', '"') + "'" for ln in lines)
        rows.append(f"({i}, {text})")
    return ", ".join(rows)


def _c4_sql() -> str:
    """DuckDB mirror of functions.text.c4_rules_df over the txt_c4 gate
    corpus.  Built with %-formatting (the SQL contains literal braces)."""
    return """
      WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 100
        UNION ALL
        SELECT * FROM (VALUES %(values)s) v(doc_id, text)
      ),
      t AS (SELECT doc_id, text FROM base WHERE text IS NOT NULL),
      lm AS (
        SELECT doc_id,
               len(ls) AS n_lines,
               len(list_filter(ls, x ->
                   list_contains(['.', '!', '?', '"'], substr(x, -1, 1))
                   AND len(string_split_regex(x, ' +')) >= 5)) AS n_kept
        FROM (SELECT doc_id,
                     list_filter(list_transform(string_split(text, chr(10)),
                                                x -> trim(x)),
                                 x -> x <> '') AS ls
              FROM t)
      ),
      flags AS (
        SELECT doc_id,
               contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
               contains(text, '{') AS has_brace,
               len(list_intersect(string_split(%(norm)s, ' '),
                                  ['forbidden'])) > 0 AS has_bad_word
        FROM t
      )
      SELECT t.doc_id,
             CAST(n_lines AS BIGINT) AS n_lines,
             CAST(n_kept AS BIGINT) AS n_kept_lines,
             has_lorem_ipsum, has_brace, has_bad_word,
             (n_kept >= 3 AND NOT has_lorem_ipsum AND NOT has_brace
              AND NOT has_bad_word) AS keep
      FROM t JOIN lm USING (doc_id) JOIN flags USING (doc_id)
    """ % {"values": _c4_values(), "norm": _NORM}


def _urls_base_sql() -> str:
    planted = ", ".join("(%d, '%s')" % (i, t) for i, t in _URL_ROWS)
    return (
        "SELECT doc_id, text FROM documents WHERE doc_id < 100 "
        "UNION ALL SELECT * FROM (VALUES %s) v(doc_id, text)" % planted
    )


def _urls_sql() -> str:
    return r"""
      WITH base AS (%s)
      SELECT doc_id, url,
             lower(regexp_replace(url, 'https?://([^/:?#\s]+).*', '\1')) AS domain
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
            FROM base WHERE text IS NOT NULL)
    """ % _urls_base_sql()


def _domfilter_sql() -> str:
    return r"""
      WITH base AS (%s),
      u AS (
        SELECT doc_id,
               lower(regexp_replace(url, 'https?://([^/:?#\s]+).*', '\1')) AS domain
        FROM (SELECT doc_id,
                     unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
              FROM base WHERE text IS NOT NULL)
      ),
      bad AS (
        SELECT DISTINCT doc_id FROM u
        WHERE domain IN (lower('evil.example.com'), lower('Spam.IO'))
      )
      SELECT doc_id FROM base ANTI JOIN bad USING (doc_id)
    """ % _urls_base_sql()


def _pii_sql() -> str:
    """DuckDB mirror of functions.text.pii_df + redact_pii_df over the
    txt_pii gate corpus.  Built by concatenation, not f-string — the regex
    patterns contain literal braces.  Patterns splice verbatim: they are
    single-quote-free and lookaround-free by construction (RE2-compatible,
    see PII_PATTERNS)."""
    from imops_spark.functions.text import PII_PATTERNS

    pats = {name: "'" + pat + "'" for name, pat in PII_PATTERNS.items()}
    planted = ", ".join("(%d, '%s')" % (i, t) for i, t in _PII_ROWS)
    counts = ", ".join(
        "CAST(len(regexp_extract_all(text, %s)) AS BIGINT) AS n_%s" % (p, name)
        for name, p in pats.items()
    )
    any_pii = " OR ".join(
        "len(regexp_extract_all(text, %s)) > 0" % p for p in pats.values()
    )
    red = "text"
    for name, p in pats.items():
        red = "regexp_replace(%s, %s, '<%s>', 'g')" % (red, p, name.upper())
    return """
      WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 100
        UNION ALL
        SELECT * FROM (VALUES %s) v(doc_id, text)
      )
      SELECT doc_id, %s, (%s) AS any_pii, %s AS text_redacted
      FROM base WHERE text IS NOT NULL
    """ % (planted, counts, any_pii, red)


def oracle_sql() -> dict[str, str]:
    oracles = _oracle_sql_literals()
    # the single-scan rewrite must reproduce the EXISTS/NOT-EXISTS
    # formulation exactly — same oracle, different physical plan
    oracles["tpch_q21_1scan"] = oracles["tpch_q21"]
    # the streaming decontamination drain must equal the batch scan —
    # same oracle, stream-static physical plan
    oracles["cur_contam_stream"] = oracles["cur_contam"]
    # bloom prefilter + exact verify == exact scan (no false negatives)
    oracles["cur_contam_bloom"] = oracles["cur_contam"]
    # the drained hit-log report must equal the batch report — same oracle,
    # foreachBatch monotone-set-union physical plan
    oracles["cur_contam_frac_stream"] = oracles["cur_contam_frac"]
    # the index probe shares the inline operator's scoring tail — same
    # oracle, postings-read physical plan
    oracles["txt_bm25_idx"] = oracles["txt_bm25"]
    oracles["src_jsonl_stream"] = oracles["src_jsonl"]
    # the gzip-member (CommonCrawl layout) read must equal the bare-WARC
    # read — same oracle, per-member decompression physical plan
    oracles["src_warc_gz"] = oracles["src_warc"]
    # the binaryFile-stream drain must equal the batch HTTP reader —
    # same oracle, micro-batch (availableNow) physical plan
    oracles["src_warc_stream"] = oracles["src_warc_http"]
    # the WARC+HTTP batch ingestion leg must land on the same scored
    # survivors as the JSONL streaming leg — same oracle, entirely
    # different plumbing (gzip members -> HTTP split -> decode vs
    # file-stream JSON parse)
    oracles["cur_ingest2"] = oracles["cur_ingest"]
    # the row-local streaming twin must equal the batch exchange form
    oracles["txt_entropy_stream"] = oracles["txt_entropy"]
    # the streaming data-card drain must equal the batch profile
    oracles["cur_profile_stream"] = oracles["cur_profile"]
    oracles["txt_embed_stream"] = oracles["txt_embed"]
    oracles["emb_text_topk"] = f"""
        WITH emb AS (
          SELECT doc_id, embedding FROM ({oracles["txt_embed"]})
          WHERE len(list_filter(embedding, x -> x <> 0)) > 0
        )
        SELECT query_id, neighbor_id, rank, cosine FROM (
          SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
                 ROUND(list_cosine_similarity(q.embedding, c.embedding), 6) AS cosine,
                 ROW_NUMBER() OVER (
                   PARTITION BY q.doc_id
                   ORDER BY ROUND(list_cosine_similarity(q.embedding, c.embedding), 6) DESC,
                            c.doc_id ASC
                 ) AS rank
          FROM emb q JOIN emb c ON q.doc_id <> c.doc_id
          WHERE q.doc_id < 5
        ) WHERE rank <= 3
    """
    # zero-shuffle streamed scoring must equal the batch classifier apply
    oracles["txt_classify_stream"] = oracles["txt_classify"]
    oracles["cur_roc"] = _cur_roc_sql(oracles["txt_classify"])
    # curve -> threshold pick -> deployed filter, composed
    oracles["cur_select4"] = _cur_select4_sql(oracles["txt_classify"])
    # the append-mode session stream, sentinel-flushed, must equal the full
    # batch session set — same oracle, streaming state-eviction plan
    oracles["evt_session_append"] = oracles["evt_session_native"]
    return oracles


def _oracle_sql_literals() -> dict[str, str]:
    return {
        "center_of_mass": """
            SELECT l_orderkey,
                   ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_extendedprice), 6) AS com
            FROM lineitem GROUP BY l_orderkey
        """,
        "isin": """
            SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size IN (1, 5, 9))
        """,
        "mask_to_box": """
            SELECT MIN(l_orderkey) AS start0, MAX(l_orderkey) + 1 AS stop0,
                   MIN(l_partkey) AS start1, MAX(l_partkey) + 1 AS stop1
            FROM lineitem WHERE l_quantity > 45
        """,
        "crop": """
            SELECT l_orderkey - 1000 AS i0, CAST(l_linenumber AS BIGINT) AS i1,
                   l_quantity AS val
            FROM lineitem WHERE l_orderkey >= 1000 AND l_orderkey < 2000
        """,
        "pointwise": """
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   ROUND(l_extendedprice * (1 - l_discount) + l_tax, 6) AS val
            FROM lineitem
        """,
        "label_sizes": """
            SELECT o_orderstatus AS label, COUNT(*) AS size FROM orders GROUP BY o_orderstatus
        """,
        "interp1d": """
            WITH knots AS (
              SELECT CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS kx, value AS ky,
                     event_id AS knot_id
              FROM events WHERE event_id % 50 = 0
            ),
            intervals AS (
              SELECT kx, ky,
                     LEAD(kx) OVER (ORDER BY kx, knot_id) AS kx2,
                     LEAD(ky) OVER (ORDER BY kx, knot_id) AS ky2
              FROM knots
            ),
            queries AS (
              SELECT event_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS qx
              FROM events WHERE event_id % 7 = 0
            )
            SELECT q.event_id,
                   ROUND(i.ky + (i.ky2 - i.ky) * (q.qx - i.kx) / (i.kx2 - i.kx), 6) AS value_interp
            FROM queries q JOIN intervals i ON q.qx >= i.kx AND q.qx < i.kx2
            WHERE i.kx2 IS NOT NULL
        """,
        "dilation": """
            WITH flags AS (
              SELECT user_id,
                     CAST(FLOOR((epoch_ns(ts) // 1000000000) / 600.0) AS BIGINT) AS b,
                     MAX(CASE WHEN value > 90.0 THEN 1 ELSE 0 END) AS flag
              FROM events GROUP BY 1, 2
            ),
            shifted AS (
              SELECT user_id, b + o AS b, flag
              FROM flags, (VALUES (-1), (0), (1)) offs(o)
            ),
            dilated AS (SELECT user_id, b, MAX(flag) AS any_near FROM shifted GROUP BY 1, 2)
            SELECT f.user_id, f.b AS bucket, d.any_near
            FROM flags f JOIN dilated d ON f.user_id = d.user_id AND f.b = d.b
        """,
        "erosion": """
            WITH flags AS (
              SELECT user_id,
                     CAST(FLOOR((epoch_ns(ts) // 1000000000) / 600.0) AS BIGINT) AS b,
                     MAX(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS flag
              FROM events GROUP BY 1, 2
            ),
            shifted AS (
              SELECT user_id, b + o AS b, flag
              FROM flags, (VALUES (-1), (0), (1)) offs(o)
            ),
            eroded AS (SELECT user_id, b, MIN(flag) AS minf FROM shifted GROUP BY 1, 2)
            SELECT f.user_id, f.b AS bucket, e.minf AS all_near
            FROM flags f JOIN eroded e ON f.user_id = e.user_id AND f.b = e.b
        """,
        "sliding_window": """
            WITH tagged AS (
              SELECT CAST(FLOOR((epoch_ns(ts) // 1000000000) / 300.0) AS BIGINT) AS h, value
              FROM events
            ),
            exploded AS (
              SELECT (h - o) * 300 AS win_start, value
              FROM tagged, (VALUES (0), (1)) offs(o)
            )
            SELECT win_start, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
            FROM exploded GROUP BY win_start
        """,
        "zoom_1d": """
            WITH days AS (
              SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
                     CAST(COUNT(*) AS DOUBLE) AS v
              FROM orders GROUP BY 1
            ),
            series AS (
              SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS p, v FROM days
            ),
            meta AS (SELECT COUNT(*) AS n_old FROM series),
            grid AS (
              SELECT CAST(j AS INT) AS j,
                     j * (CAST(n_old - 1 AS DOUBLE) / 63) AS c,
                     CAST(FLOOR(j * (CAST(n_old - 1 AS DOUBLE) / 63)) AS INT) AS f
              FROM generate_series(0, 63) t(j), meta
            )
            SELECT g.j,
                   ROUND(COALESCE(lo.v, 0) * (1 - (g.c - g.f))
                         + COALESCE(hi.v, 0) * (g.c - g.f), 6) AS val
            FROM grid g
            LEFT JOIN series lo ON lo.p = g.f
            LEFT JOIN series hi ON hi.p = g.f + 1
        """,
        "pad_1d": """
            SELECT n_nationkey + 3 AS pos, n_name AS name FROM nation
            UNION ALL
            SELECT CAST(i AS INT) AS pos, 'PAD' AS name FROM generate_series(0, 2) t(i)
        """,
        "edt_1d": """
            WITH days AS (
              SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, COUNT(*) AS cnt
              FROM orders GROUP BY 1
            ),
            series AS (
              SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS i, cnt > 8 AS m FROM days
            ),
            scans AS (
              SELECT i, m,
                LAST_VALUE(CASE WHEN NOT m THEN i END IGNORE NULLS)
                  OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_bg,
                FIRST_VALUE(CASE WHEN NOT m THEN i END IGNORE NULLS)
                  OVER (ORDER BY i ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_bg
              FROM series
            )
            SELECT i,
                   CAST(CASE WHEN m THEN LEAST(
                     COALESCE(i - prev_bg, 1073741824),
                     COALESCE(next_bg - i, 1073741824)) ELSE 0 END AS BIGINT) AS edt
            FROM scans
        """,
        "interp2d": _interp2d_oracle(),
        "multimodal": f"""
            -- regenerate the md5 fake-decode pixels: seed = md5(utf-8 text),
            -- block b = md5(seed || '-' || b), byte o of a block = hex pair
            -- 2o+1..2o+2.  {MM_H}x{MM_W}x{MM_C} = {MM_H * MM_W * MM_C} px
            -- = {(MM_H * MM_W * MM_C) // 16} blocks exactly.
            WITH src AS (
              SELECT doc_id AS item_id, md5(text) AS seed
              FROM documents WHERE doc_id < 50
            ),
            px AS (
              SELECT s.item_id, (b.range * 16 + o.range) AS i,
                     ('0x' || substr(
                        md5(s.seed || '-' || CAST(b.range AS VARCHAR)),
                        o.range * 2 + 1, 2))::BIGINT AS v
              FROM src s, range({(MM_H * MM_W * MM_C) // 16}) b, range(16) o
            ),
            chan AS (SELECT item_id, v, i % {MM_C} AS c, i // {MM_C} AS p FROM px),
            pix AS (
              SELECT item_id, p, AVG(CAST(v AS DOUBLE)) AS pmean
              FROM chan GROUP BY item_id, p
            ),
            stats AS (
              SELECT item_id,
                     ROUND(AVG(CASE WHEN c = 0 THEN CAST(v AS DOUBLE) END), 6) AS mean_c0,
                     ROUND(STDDEV_POP(CASE WHEN c = 0 THEN CAST(v AS DOUBLE) END), 6) AS std_c0
              FROM chan GROUP BY item_id
            ),
            dark AS (
              SELECT item_id,
                     ROUND(AVG(CASE WHEN pmean < 32 THEN CAST(1 AS DOUBLE)
                               ELSE CAST(0 AS DOUBLE) END), 6) AS frac_dark
              FROM pix GROUP BY item_id
            )
            SELECT stats.item_id, mean_c0, std_c0, frac_dark
            FROM stats JOIN dark USING (item_id)
        """,
        "graph_cc": """
            WITH RECURSIVE
            edges0 AS (
              SELECT DISTINCT l_orderkey % 400 AS a, 400 + (l_partkey % 400) AS b
              FROM lineitem WHERE l_quantity > 49
            ),
            edges AS (SELECT a, b FROM edges0 UNION SELECT b AS a, a AS b FROM edges0),
            nodes AS (SELECT DISTINCT a AS node FROM edges),
            reach(src, node) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT r.src, e.b AS node FROM reach r JOIN edges e ON e.a = r.node
            )
            SELECT src AS node, MIN(node) AS comp FROM reach GROUP BY src
        """,
        "hull_fill": """
            WITH b AS (
              SELECT l_orderkey, MIN(l_linenumber) AS lo, MAX(l_linenumber) AS hi
              FROM lineitem WHERE l_quantity > 45 GROUP BY 1
            )
            SELECT l_orderkey, CAST(u.pos AS BIGINT) AS pos
            FROM b, unnest(generate_series(lo, hi)) u(pos)
        """,
        "radon_backproj": """
            WITH sino AS (
              SELECT 0 AS k, CAST(FLOOR(CAST(0.8 AS DOUBLE)*l_partkey + CAST(0.6 AS DOUBLE)*l_suppkey) AS BIGINT) AS r, SUM(l_quantity) AS s FROM lineitem GROUP BY 2
              UNION ALL
              SELECT 1, CAST(FLOOR(CAST(1.0 AS DOUBLE)*l_partkey + CAST(0.0 AS DOUBLE)*l_suppkey) AS BIGINT), SUM(l_quantity) FROM lineitem GROUP BY 2
              UNION ALL
              SELECT 2, CAST(FLOOR(CAST(0.6 AS DOUBLE)*l_partkey + CAST(-0.8 AS DOUBLE)*l_suppkey) AS BIGINT), SUM(l_quantity) FROM lineitem GROUP BY 2
            ),
            grid AS (
              SELECT CAST(gx.x AS BIGINT) AS x, CAST(gy.y AS BIGINT) AS y
              FROM generate_series(0, 31) gx(x), generate_series(0, 31) gy(y)
            ),
            ang(k, a, b) AS (
              VALUES (0, CAST(0.8 AS DOUBLE), CAST(0.6 AS DOUBLE)),
                     (1, CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
                     (2, CAST(0.6 AS DOUBLE), CAST(-0.8 AS DOUBLE))
            ),
            pts AS (
              SELECT x, y, k, a*(40*x + 7) + b*(40*y + 11) AS t FROM grid, ang
            ),
            pp AS (
              SELECT x, y, k, CAST(FLOOR(t) AS BIGINT) AS r0, t - FLOOR(t) AS frac
              FROM pts
            ),
            j AS (
              SELECT p.x, p.y, p.k,
                     COALESCE(s0.s, CAST(0 AS DOUBLE))
                       + (COALESCE(s1.s, CAST(0 AS DOUBLE)) - COALESCE(s0.s, CAST(0 AS DOUBLE))) * p.frac AS val
              FROM pp p
              LEFT JOIN sino s0 ON s0.k = p.k AND s0.r = p.r0
              LEFT JOIN sino s1 ON s1.k = p.k AND s1.r = p.r0 + 1
            )
            SELECT x, y,
                   ROUND(SUM(CASE WHEN k = 0 THEN val END)
                         + SUM(CASE WHEN k = 1 THEN val END)
                         + SUM(CASE WHEN k = 2 THEN val END), 6) AS backproj
            FROM j GROUP BY x, y
        """,
        "radon_raysum": """
            SELECT CAST(FLOOR(CAST(0.8 AS DOUBLE) * l_partkey + CAST(0.6 AS DOUBLE) * l_suppkey) AS BIGINT) AS ray,
                   ROUND(SUM(l_quantity), 4) AS ray_sum
            FROM lineitem GROUP BY 1
        """,
        "top1_nn": """
            SELECT c_custkey, nn_custkey, dist FROM (
              SELECT a.c_custkey, b.c_custkey AS nn_custkey,
                     ROUND(ABS(a.c_acctbal - b.c_acctbal), 6) AS dist,
                     ROW_NUMBER() OVER (
                       PARTITION BY a.c_custkey
                       ORDER BY ROUND(ABS(a.c_acctbal - b.c_acctbal), 6) ASC, b.c_custkey ASC
                     ) AS rn
              FROM customer a JOIN customer b
                ON a.c_nationkey = b.c_nationkey AND a.c_custkey <> b.c_custkey
            ) WHERE rn = 1
        """,
        "tpch_rollup": """
            SELECT COALESCE(l_returnflag, '<all>') AS flag,
                   COALESCE(l_linestatus, '<all>') AS status,
                   COUNT(*) AS n,
                   ROUND(SUM(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "evt_running": """
            SELECT user_id, event_id,
                   ROUND(SUM(value) OVER (
                     PARTITION BY user_id
                     ORDER BY (epoch_ns(ts) // 1000000000), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value,
                   ROW_NUMBER() OVER (
                     PARTITION BY user_id
                     ORDER BY (epoch_ns(ts) // 1000000000), event_id) AS seq
            FROM events
        """,
        "evt_json": """
            SELECT event_type,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_distinct_k,
                   COUNT(*) AS n
            FROM events GROUP BY event_type
        """,
        "evt_antijoin": """
            SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
            EXCEPT
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase' AND value > CAST(90.0 AS DOUBLE)
        """,
        "evt_dedup_stream": """
            SELECT DISTINCT user_id, event_type FROM events
        """,
        "evt_median": """
            SELECT event_type,
                   ROUND(quantile_cont(value, 0.5), 5) AS median_value,
                   ROUND(quantile_cont(value, 0.9), 5) AS p90_value,
                   COUNT(*) AS n
            FROM events GROUP BY event_type
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   ROUND(AVG(l_quantity), 4) AS avg_qty,
                   ROUND(AVG(l_extendedprice), 4) AS avg_price,
                   ROUND(AVG(l_discount), 6) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3": """
            SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_date,
                   o_orderpriority,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "tpch_q5": """
            SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
        """,
        "tpch_q4": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders o
            WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
              AND EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
              )
            GROUP BY o_orderpriority
        """,
        "tpch_q6": """
            SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
              AND l_discount >= CAST(0.05 AS DOUBLE)
              AND l_discount <= CAST(0.07 AS DOUBLE)
              AND l_quantity < 24
        """,
        "tpch_q7": """
            SELECT n1.n_name AS supp_nation,
                   n2.n_name AS cust_nation,
                   EXTRACT(year FROM l_shipdate) AS ship_year,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   COUNT(*) AS n
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY 1, 2, 3
        """,
        "tpch_q10": """
            SELECT c_custkey, c_name, n_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "tpch_q14": """
            SELECT ROUND(
                     100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_share,
                   COUNT(*) AS n
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-03-01 00:00:00'
        """,
        "tpch_q2": """
            WITH eu AS (
              SELECT s_suppkey, s_name, s_acctbal
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'EUROPE'
            ),
            cand AS (
              SELECT p.p_partkey, p.p_name, eu.s_suppkey, eu.s_name, eu.s_acctbal
              FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
              JOIN part p ON l.l_partkey = p.p_partkey AND p.p_size = 15
              JOIN eu ON l.l_suppkey = eu.s_suppkey
            )
            SELECT p_partkey, p_name, s_suppkey, s_name,
                   ROUND(s_acctbal, 2) AS s_acctbal
            FROM cand c
            WHERE s_acctbal = (SELECT MIN(s_acctbal) FROM cand c2
                               WHERE c2.p_partkey = c.p_partkey)
        """,
        "tpch_q8": """
            WITH agg AS (
              SELECT EXTRACT(year FROM o_orderdate) AS o_year,
                     ROUND(SUM(CASE WHEN n1.n_name = 'NATION_5'
                                    THEN l_extendedprice * (1 - l_discount)
                                    ELSE 0.0 END), 4) AS nation_rev,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS total_rev
              FROM lineitem
              JOIN part     ON l_partkey = p_partkey AND p_type = 'ECONOMY'
              JOIN orders   ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n2 ON c_nationkey = n2.n_nationkey
              JOIN region   ON n2.n_regionkey = r_regionkey AND r_name = 'AMERICA'
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation n1 ON s_nationkey = n1.n_nationkey
              GROUP BY 1
            )
            SELECT o_year, ROUND(nation_rev / total_rev, 6) AS mkt_share,
                   nation_rev, total_rev
            FROM agg
        """,
        "tpch_q9": """
            SELECT n_name AS nation,
                   EXTRACT(year FROM o_orderdate) AS o_year,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)
                             - CAST(0.1 AS DOUBLE) * p_retailprice * l_quantity),
                         4) AS sum_profit,
                   COUNT(*) AS n
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN orders   ON l_orderkey = o_orderkey
            GROUP BY 1, 2
        """,
        "tpch_q11": """
            WITH nat_li AS (
              SELECT l_partkey, l_quantity
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation   ON s_nationkey = n_nationkey
              WHERE n_name = 'NATION_7'
            ),
            per_part AS (
              SELECT l_partkey, SUM(l_quantity) AS qty FROM nat_li GROUP BY 1
            )
            SELECT l_partkey, CAST(qty AS BIGINT) AS stock_qty
            FROM per_part
            WHERE qty > CAST(0.001 AS DOUBLE) * (SELECT SUM(qty) FROM per_part)
        """,
        "tpch_q12": """
            SELECT l_returnflag,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
              AND l_shipdate > o_orderdate + INTERVAL 30 DAY
            GROUP BY 1
        """,
        "tpch_q13": """
            SELECT c_count, COUNT(*) AS custdist
            FROM (
              SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer
              LEFT OUTER JOIN orders
                ON c_custkey = o_custkey AND o_orderpriority <> '3-MEDIUM'
              GROUP BY c_custkey
            )
            GROUP BY c_count
        """,
        "tpch_q15": """
            WITH rev AS (
              SELECT l_suppkey,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
              GROUP BY 1
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        """,
        "tpch_q16": """
            SELECT p_brand, p_type, p_size,
                   COUNT(DISTINCT l_suppkey) AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#5'
              AND p_type <> 'PROMO'
              AND p_size IN (1, 5, 9, 15, 20, 25, 30, 45)
              AND l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
              )
            GROUP BY 1, 2, 3
        """,
        "tpch_q17": """
            WITH li AS (
              SELECT l_partkey, l_quantity, l_extendedprice
              FROM lineitem
              WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#3')
            ),
            avg_qty AS (
              SELECT l_partkey, AVG(l_quantity) AS avg_qty FROM li GROUP BY 1
            )
            SELECT ROUND(SUM(l_extendedprice) / 7.0, 4) AS avg_yearly,
                   COUNT(*) AS n
            FROM li JOIN avg_qty USING (l_partkey)
            WHERE l_quantity < CAST(0.2 AS DOUBLE) * avg_qty
        """,
        "tpch_q18": """
            SELECT c_custkey, c_name, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_date,
                   ROUND(o_totalprice, 2) AS o_totalprice,
                   CAST(sum_qty AS BIGINT) AS sum_qty
            FROM (
              SELECT l_orderkey, SUM(l_quantity) AS sum_qty
              FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 350
            ) big
            JOIN orders   ON big.l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "tpch_q19": """
            SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   COUNT(*) AS n
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "tpch_q20": """
            SELECT s_suppkey, s_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
              AND s_suppkey IN (
                SELECT l_suppkey
                FROM lineitem
                WHERE l_partkey IN (SELECT p_partkey FROM part
                                    WHERE p_name LIKE 'red%')
                  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
                GROUP BY l_suppkey, l_partkey
                HAVING SUM(l_quantity) > 50
              )
        """,
        "tpch_q21": """
            SELECT s_name, COUNT(*) AS numwait
            FROM lineitem l1
            JOIN orders   ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
            JOIN supplier ON l1.l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey AND n_name = 'NATION_9'
            WHERE l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
              AND EXISTS (
                SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey
              )
              AND NOT EXISTS (
                SELECT 1 FROM lineitem l3
                WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey
                  AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY
              )
            GROUP BY s_name
        """,
        "tpch_q22": """
            SELECT c_nationkey,
                   COUNT(*) AS numcust,
                   ROUND(SUM(c_acctbal), 2) AS totacctbal
            FROM customer c
            WHERE c_acctbal > (SELECT ROUND(AVG(c_acctbal), 4) FROM customer
                               WHERE c_acctbal > CAST(0.0 AS DOUBLE))
              AND NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
              )
            GROUP BY c_nationkey
        """,
        "mm_imresize": """
            WITH d AS (
              SELECT doc_id, substr(text, 1, 60) AS t
              FROM documents
              WHERE text IS NOT NULL AND doc_id < 80 AND length(text) >= 60
                AND length(text) = strlen(text)  -- enforced ASCII scope
            ),
            p AS (
              SELECT doc_id, t, CAST(i AS INT) AS pos,
                     (i - 1) // 9 AS y, ((i - 1) // 3) % 3 AS x, (i - 1) % 3 AS c
              FROM d, unnest(generate_series(1, 18)) u(i)
            )
            SELECT doc_id AS item_id, pos,
                   CAST(ord(substr(t,
                     CAST(((y * 4 // 2) * 5 + (x * 5 // 3)) * 3 + c + 1 AS INT),
                     1)) AS INT) AS val
            FROM p
        """,
        "mm_tiles": """
            WITH d AS (
              SELECT doc_id, substr(text, 1, 60) AS t
              FROM documents
              WHERE text IS NOT NULL AND doc_id < 80 AND length(text) >= 60
                AND length(text) = strlen(text)  -- enforced ASCII scope
            ),
            g AS (
              SELECT doc_id, t,
                     CAST(r.r AS INT) AS tile_row, CAST(c.c AS INT) AS tile_col,
                     CAST(i.i AS INT) AS pos,
                     (i.i - 1) // 6 AS y, ((i.i - 1) // 3) % 2 AS x,
                     (i.i - 1) % 3 AS ch
              FROM d,
                   unnest(generate_series(0, 1)) r(r),
                   unnest(generate_series(0, 1)) c(c),
                   unnest(generate_series(1, 12)) i(i)
            )
            SELECT doc_id AS item_id, tile_row, tile_col, pos,
                   CAST(ord(substr(t,
                     CAST(((tile_row*2 + y) * 5 + (tile_col*2 + x)) * 3
                          + ch + 1 AS INT),
                     1)) AS INT) AS val
            FROM g
        """,
        "mm_image_raw": """
            WITH d AS (
              SELECT doc_id, substr(text, 1, 60) AS t
              FROM documents
              WHERE text IS NOT NULL AND doc_id < 80 AND length(text) >= 60
                AND length(text) = strlen(text)  -- enforced ASCII scope
            ),
            px AS (
              SELECT doc_id,
                     ord(substr(t, CAST(3*u.i + 1 AS INT), 1)) AS c0,
                     ord(substr(t, CAST(3*u.i + 2 AS INT), 1)) AS c1,
                     ord(substr(t, CAST(3*u.i + 3 AS INT), 1)) AS c2
              FROM d, unnest(generate_series(0, 19)) u(i)
            )
            SELECT doc_id AS item_id,
                   ROUND(AVG(CAST(c0 AS DOUBLE)), 9) AS mean_c0,
                   ROUND(STDDEV_POP(CAST(c0 AS DOUBLE)), 6) AS std_c0,
                   ROUND(AVG(CASE WHEN (CAST(c0 AS DOUBLE) + c1 + c2) / 3.0 < 32
                                  THEN 1.0 ELSE 0.0 END), 9) AS frac_dark
            FROM px GROUP BY 1
        """,
        "mm_audio": """
            WITH d AS (
              SELECT doc_id,
                     substr(text, 1, CAST(floor(length(text)/2)*2 AS INT)) AS t
              FROM documents
              WHERE text IS NOT NULL AND doc_id < 80 AND length(text) >= 4
                AND length(text) = strlen(text)  -- enforced ASCII scope
            ),
            s AS (
              SELECT doc_id, u.i,
                     ord(substr(t, CAST(2*u.i-1 AS INT), 1))
                       + 256 * ord(substr(t, CAST(2*u.i AS INT), 1)) AS v
              FROM d, unnest(generate_series(1, length(t) // 2)) u(i)
            ),
            sg AS (
              SELECT doc_id, i,
                     CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS sv
              FROM s
            ),
            w AS (
              SELECT doc_id, sv,
                     LAG(sv) OVER (PARTITION BY doc_id ORDER BY i) AS prev
              FROM sg
            )
            SELECT doc_id AS item_id,
                   ROUND(COUNT(1) / 16000.0, 9) AS duration_s,
                   ROUND(SQRT(AVG((sv / 32768.0) * (sv / 32768.0))), 9) AS rms,
                   ROUND(MAX(ABS(sv / 32768.0)), 9) AS peak,
                   ROUND(SUM(CASE WHEN prev IS NOT NULL
                                   AND ((sv < 0) <> (prev < 0)) THEN 1 ELSE 0 END)
                         / CAST(COUNT(prev) AS DOUBLE), 9) AS zcr
            FROM w GROUP BY doc_id
        """,
        "mm_resample": """
            WITH d AS (
              SELECT doc_id,
                     substr(text, 1, CAST(floor(length(text)/2)*2 AS INT)) AS t
              FROM documents
              WHERE text IS NOT NULL AND doc_id < 80 AND length(text) >= 4
                AND length(text) = strlen(text)
            ),
            s AS (
              SELECT doc_id, u.i,
                     ord(substr(t, CAST(2*u.i-1 AS INT), 1))
                       + 256 * ord(substr(t, CAST(2*u.i AS INT), 1)) AS v
              FROM d, unnest(generate_series(1, length(t) // 2)) u(i)
            ),
            sg AS (
              SELECT doc_id, i,
                     CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS sv
              FROM s
            ),
            nn AS (SELECT doc_id, COUNT(1)::BIGINT AS n FROM sg GROUP BY 1),
            pos AS (
              SELECT nn.doc_id, nn.n, u.j,
                     (u.j * 16000) // 24000 AS idx,
                     (u.j * 16000) % 24000 AS rem
              FROM nn, unnest(generate_series(0, (nn.n - 1) * 24000 // 16000)) u(j)
            ),
            vals AS (
              SELECT p.doc_id, p.n, p.j,
                     CAST(ROUND((s0.sv + (COALESCE(s1.sv, s0.sv) - s0.sv)
                         * (p.rem / CAST(24000 AS DOUBLE))) * 1000000) AS BIGINT)
                       AS micro
              FROM pos p
              JOIN sg s0 ON s0.doc_id = p.doc_id AND s0.i = p.idx + 1
              LEFT JOIN sg s1 ON s1.doc_id = p.doc_id AND s1.i = p.idx + 2
            )
            SELECT doc_id AS item_id,
                   CAST(MAX(n) AS BIGINT) AS n_in,
                   CAST(COUNT(1) AS BIGINT) AS n_out,
                   md5(string_agg(micro, ',' ORDER BY j)) AS samples_hash
            FROM vals GROUP BY doc_id
        """,
        "src_jsonl": """
            SELECT doc_id,
                   md5(COALESCE(text, '<null>')) AS text_md5,
                   COALESCE(lang, '<null>') AS lang,
                   COALESCE(source, '<null>') AS source,
                   n_chars
            FROM documents
        """,
        "src_warc": """
            -- re-derive the WARC export from the parquet: uri, payload,
            -- octet-exact Content-Length (strlen = BYTES in DuckDB), and
            -- the writer's deterministic urn:uuid record id
            SELECT target_uri, text,
                   strlen(text) AS content_length,
                   '<urn:uuid:' || substr(h, 1, 8) || '-' || substr(h, 9, 4)
                     || '-' || substr(h, 13, 4) || '-' || substr(h, 17, 4)
                     || '-' || substr(h, 21, 12) || '>' AS record_id
            FROM (
              SELECT 'http://example.org/doc/' || CAST(doc_id AS VARCHAR)
                       AS target_uri,
                     text,
                     md5('http://example.org/doc/' || CAST(doc_id AS VARCHAR)
                         || '|' || text) AS h
              FROM documents WHERE text IS NOT NULL
            )
        """,
        "mm_vad": """
            WITH d AS (
              SELECT doc_id,
                     substr(text, 1, CAST(floor(length(text)/2)*2 AS INT)) AS t
              FROM documents
              WHERE text IS NOT NULL AND doc_id < 80 AND length(text) >= 4
                AND length(text) = strlen(text)
            ),
            s AS (
              SELECT doc_id, u.i,
                     ord(substr(t, CAST(2*u.i-1 AS INT), 1))
                       + 256 * ord(substr(t, CAST(2*u.i AS INT), 1)) AS v
              FROM d, unnest(generate_series(1, length(t) // 2)) u(i)
            ),
            sg AS (
              SELECT doc_id, i,
                     CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS sv
              FROM s
            ),
            f AS (
              SELECT doc_id, (i-1)//8 AS frm,
                     CAST(SUM(sv*sv) AS BIGINT) AS energy
              FROM sg GROUP BY 1, 2
            ),
            a AS (
              SELECT doc_id, frm, energy,
                     (energy >= 5200000000) AS act
              FROM f
            ),
            st AS (
              SELECT *, CASE WHEN act AND NOT COALESCE(
                       LAG(act) OVER (PARTITION BY doc_id ORDER BY frm),
                       FALSE) THEN 1 ELSE 0 END AS is_start
              FROM a
            ),
            isl AS (
              SELECT *, SUM(is_start)
                     OVER (PARTITION BY doc_id ORDER BY frm) AS gid
              FROM st
            ),
            seg AS (
              SELECT doc_id, gid,
                     CAST(MIN(frm) AS INT) AS start_frame,
                     CAST(MAX(frm) AS INT) AS end_frame,
                     CAST(COUNT(1) AS INT) AS n_frames,
                     CAST(SUM(energy) AS BIGINT) AS energy
              FROM isl WHERE act GROUP BY 1, 2
              HAVING COUNT(1) >= 2
            )
            SELECT doc_id AS item_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY start_frame) - 1 AS INT) AS seg,
                   start_frame, end_frame, n_frames, energy
            FROM seg
        """,
        "mm_frame_dedup": """
            WITH f AS (
              SELECT d.doc_id,
                     md5(substr(d.text, fi.fi * (length(d.text) // 4) + 1,
                                length(d.text) // 4)) AS frame_hash
              FROM documents d
              CROSS JOIN (SELECT unnest(range(0, 4)) AS fi) fi
              WHERE d.doc_id < 200 AND length(d.text) >= 8
            )
            SELECT frame_hash, COUNT(*) AS n_frames, MIN(doc_id) AS keep_item
            FROM f GROUP BY 1
        """,
        "dd_paragraphs": """
            WITH d AS (
              SELECT doc_id,
                     concat_ws(chr(10), substr(text, 1, 80),
                               'shared paragraph marker ' || CAST(doc_id % 7 AS VARCHAR),
                               substr(text, 81, 80), 'end') AS text
              FROM documents WHERE text IS NOT NULL
            ),
            ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM d),
            l AS (
              SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, arr[i] AS line,
                     CASE WHEN length(trim(arr[i])) >= 20
                          THEN md5(trim(arr[i])) END AS k
              FROM ls, unnest(generate_series(1, len(arr))) u(i)
            ),
            n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM l GROUP BY 1),
            r AS (
              SELECT doc_id, pos, line,
                     CASE WHEN k IS NULL THEN 1
                          ELSE ROW_NUMBER() OVER (PARTITION BY k
                                                  ORDER BY doc_id, pos) END AS rn
              FROM l
            ),
            kept AS (SELECT doc_id, pos, line FROM r WHERE rn = 1)
            SELECT n.doc_id,
                   COALESCE(string_agg(kept.line, chr(10) ORDER BY kept.pos), '') AS text,
                   n.n_lines,
                   CAST(n.n_lines - COUNT(kept.line) AS BIGINT) AS n_removed
            FROM n LEFT JOIN kept ON n.doc_id = kept.doc_id
            GROUP BY n.doc_id, n.n_lines
        """,
        "dd_exact": f"""
            SELECT md5({_NORM}) AS content_hash, COUNT(*) AS n_docs,
                   MIN(doc_id) AS keep_doc_id
            FROM documents GROUP BY 1
        """,
        "dd_minhash": _minhash_select(),
        "dd_minhash_char": f"""
            -- the char-gram LSH gate reduces to text-equal pairs by
            -- construction (see q_dd_minhash_char): clone under shifted
            -- ids, self-join on normalized-text equality; docs shorter
            -- than k=9 normalized chars produce no signature either side
            WITH n AS (
              SELECT doc_id, {_NORM} AS nt FROM documents
              WHERE text IS NOT NULL
            ),
            c AS (
              SELECT doc_id, nt FROM n WHERE length(nt) >= 9
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, nt FROM n
              WHERE length(nt) >= 9
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM c a JOIN c b ON a.nt = b.nt AND a.doc_id < b.doc_id
        """,
        "dd_lsh_pairs": _lsh_pairs_sql(),
        "dd_lsh_stream": _lsh_pairs_sql(),
        "dd_lsh_sjoin": _lsh_pairs_sql(),
        "dd_near_stream": _verified_pairs_sql(),
        "dd_editsim": f"""
            -- ASCII scope enforced on BOTH engines (Spark levenshtein counts
            -- codepoints, DuckDB bytes): byte-length == codepoint-length
            WITH ad AS (
              SELECT doc_id, text FROM documents WHERE length(text) = strlen(text)
            ),
            n AS (SELECT doc_id, {_NORM} AS nt FROM ad),
            p AS (
              SELECT doc_id AS doc_a, doc_id + 1 AS doc_b FROM ad
              WHERE doc_id % 10 = 0
            )
            SELECT p.doc_a, p.doc_b,
                   levenshtein(a.nt, b.nt) AS edit_dist,
                   ROUND(CASE WHEN greatest(length(a.nt), length(b.nt)) = 0
                              THEN 1.0
                              ELSE 1.0 - levenshtein(a.nt, b.nt)
                                   / CAST(greatest(length(a.nt), length(b.nt)) AS DOUBLE)
                         END, 6) AS edit_sim
            FROM p
            JOIN n a ON p.doc_a = a.doc_id
            JOIN n b ON p.doc_b = b.doc_id
        """,
        "dd_snapshot": f"""
            WITH oldd AS (
              SELECT doc_id,
                     COALESCE(md5({_NORM}), '<null-text>') AS old_fp
              FROM documents
            ),
            newsrc AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END
                       AS text
              FROM documents WHERE doc_id % 5 <> 0
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text
              FROM documents WHERE doc_id % 7 = 0
            ),
            newd AS (
              SELECT doc_id,
                     COALESCE(md5({_NORM}), '<null-text>') AS new_fp
              FROM newsrc
            )
            SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.old_fp IS NULL THEN 'added'
                        WHEN n.new_fp IS NULL THEN 'removed'
                        WHEN o.old_fp = n.new_fp THEN 'unchanged'
                        ELSE 'changed' END AS status,
                   o.old_fp, n.new_fp
            FROM oldd o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id
        """,
        "dd_snapshot_stream": f"""
            WITH oldd AS (
              SELECT doc_id,
                     COALESCE(md5({_NORM}), '<null-text>') AS old_fp
              FROM documents
            ),
            newsrc AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END
                       AS text
              FROM documents WHERE doc_id % 5 <> 0
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text
              FROM documents WHERE doc_id % 7 = 0
            ),
            newd AS (
              SELECT doc_id,
                     COALESCE(md5({_NORM}), '<null-text>') AS new_fp
              FROM newsrc
            )
            SELECT n.doc_id,
                   CASE WHEN o.old_fp IS NULL THEN 'added'
                        WHEN o.old_fp = n.new_fp THEN 'unchanged'
                        ELSE 'changed' END AS status,
                   o.old_fp, n.new_fp
            FROM newd n LEFT JOIN oldd o ON o.doc_id = n.doc_id
        """,
        "dd_spans": _dup_spans_sql(20),
        "dd_span_stats": _dup_span_stats_sql(20),
        "dd_jaccard": f"""
            WITH {_SHINGLES},
            pairs AS (
              SELECT doc_id AS doc_a, doc_id + 1 AS doc_b FROM documents WHERE doc_id % 10 = 0
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
              FROM pairs p
              JOIN sh sa ON sa.doc_id = p.doc_a
              JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
              GROUP BY p.doc_a, p.doc_b
            )
            SELECT p.doc_a, p.doc_b,
                   ROUND(COALESCE(i.n_inter, 0)::DOUBLE /
                         (na.n + nb.n - COALESCE(i.n_inter, 0)), 6) AS jaccard
            FROM pairs p
            LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
            JOIN sizes na ON na.doc_id = p.doc_a
            JOIN sizes nb ON nb.doc_id = p.doc_b
        """,
        "dd_clusters": _dd_clusters_sql(),
        "curate": _curate_sql(),
        "cur_shards": """
            SELECT doc_id,
                   CAST((('0x' || substr(md5('77|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 8 AS INT) AS shard,
                   CAST(ROW_NUMBER() OVER (
                     PARTITION BY (('0x' || substr(md5('77|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 8
                     ORDER BY (('0x' || substr(md5('77|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT), doc_id
                   ) AS BIGINT) AS pos
            FROM documents
        """,
        "cur_pack_seqs": f"""
            WITH base AS (
              SELECT doc_id,
                     (('0x' || substr(md5('77|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) AS h,
                     CASE WHEN {_NORM} = '' THEN 0
                          ELSE CAST(len(string_split({_NORM}, ' ')) AS BIGINT) END AS n
              FROM documents WHERE text IS NOT NULL
            ), b2 AS (
              SELECT doc_id, h, h % 8 AS shard, n FROM base WHERE n > 0
            ), pos AS (
              SELECT doc_id, n,
                     -- SUM(BIGINT) is HUGEINT in DuckDB; pin the tape
                     -- position back to BIGINT like the Spark side
                     CAST(SUM(n) OVER (ORDER BY shard, h, doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          - n AS BIGINT) AS start
              FROM b2
            )
            SELECT doc_id,
                   n AS n_tokens,
                   i AS seq_id,
                   GREATEST(i * 64 - start, 0) AS doc_offset,
                   GREATEST(start - i * 64, 0) AS seq_offset,
                   LEAST((i + 1) * 64, start + n) - GREATEST(i * 64, start) AS len
            FROM pos, unnest(generate_series(start // 64, (start + n - 1) // 64)) u(i)
        """,
        "cur_pack_mat": f"""
            WITH base AS (
              SELECT doc_id, {_NORM} AS nt,
                     (('0x' || substr(md5('77|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) AS h,
                     CASE WHEN {_NORM} = '' THEN 0
                          ELSE CAST(len(string_split({_NORM}, ' ')) AS BIGINT) END AS n
              FROM documents WHERE text IS NOT NULL
            ), b2 AS (
              SELECT doc_id, nt, h, h % 8 AS shard, n FROM base WHERE n > 0
            ), pos AS (
              SELECT doc_id, nt, n,
                     CAST(SUM(n) OVER (ORDER BY shard, h, doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          - n AS BIGINT) AS start
              FROM b2
            ), overlap AS (
              SELECT i AS seq_id,
                     GREATEST(i * 64 - start, 0) AS doc_offset,
                     GREATEST(start - i * 64, 0) AS seq_offset,
                     LEAST((i + 1) * 64, start + n) - GREATEST(i * 64, start) AS len,
                     string_split(nt, ' ') AS t
              FROM pos, unnest(generate_series(start // 64, (start + n - 1) // 64)) u(i)
            )
            SELECT seq_id,
                   CAST(SUM(len) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   md5(string_agg(array_to_string(t[(doc_offset + 1):(doc_offset + len)], ' '),
                                  ' ' ORDER BY seq_offset)) AS fingerprint
            FROM overlap
            GROUP BY seq_id
        """,
        "cur_sample": f"""
            SELECT doc_id,
                   CASE WHEN {_mh_hash(10, "CAST(doc_id AS VARCHAR)")} % 1000000 < 800000
                        THEN 'train'
                        WHEN {_mh_hash(10, "CAST(doc_id AS VARCHAR)")} % 1000000 < 900000
                        THEN 'val'
                        ELSE 'test' END AS split,
                   CASE WHEN {_mh_hash(14, "CAST(doc_id AS VARCHAR)")} % 1000000 < 250000
                        THEN 1 ELSE 0 END AS in_sample
            FROM documents
        """,
        "cur_quota": f"""
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY {_mh_hash(6, "CAST(doc_id AS VARCHAR)")}, doc_id
                     ) AS rk
              FROM documents
            ) WHERE rk <= 10
        """,
        "cur_mix": f"""
            SELECT doc_id, source FROM documents
            WHERE {_mh_hash(22, "CAST(doc_id AS VARCHAR)")} % 1000000 <
                  CASE source WHEN 'src0' THEN 1000000
                              WHEN 'src1' THEN 500000
                              WHEN 'src2' THEN 100000
                              ELSE 0 END
        """,
        "cur_pack": f"""
            WITH d AS (
              SELECT doc_id, n_chars,
                     {_mh_hash(26, "CAST(doc_id AS VARCHAR)")} AS h
              FROM documents
            ),
            c AS (
              SELECT doc_id, h % 8 AS shard,
                     SUM(n_chars) OVER (
                       PARTITION BY h % 8 ORDER BY h, doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
              FROM d
            )
            SELECT doc_id,
                   CAST((GREATEST(cum - 1, 0) // 4000) * 8 + shard AS BIGINT)
                     AS pack_id
            FROM c
        """,
        "cur_pack_text": f"""
            WITH d AS (
              SELECT doc_id, n_chars, text,
                     {_mh_hash(26, "CAST(doc_id AS VARCHAR)")} AS h
              FROM documents WHERE text IS NOT NULL
            ),
            c AS (
              SELECT doc_id, text, h, h % 8 AS shard,
                     SUM(n_chars) OVER (
                       PARTITION BY h % 8 ORDER BY h, doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
              FROM d
            )
            SELECT CAST((GREATEST(cum - 1, 0) // 4000) * 8 + shard AS BIGINT)
                     AS pack_id,
                   md5(string_agg(text, '' ORDER BY h, doc_id)) AS pack_md5,
                   COUNT(1) AS n_docs
            FROM c GROUP BY 1
        """,
        "rel_unpivot": """
            WITH src AS (
              SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
              FROM lineitem WHERE l_orderkey < 200
            ),
            u AS (
              UNPIVOT src
              ON l_quantity, l_extendedprice, l_discount
              INTO NAME measure VALUE value
            )
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   measure, ROUND(value, 2) AS value
            FROM u
        """,
        "rel_hof": """
            SELECT vec_id,
                   ROUND(sqrt(list_sum(list_transform(
                         CAST(embedding AS DOUBLE[]), x -> x*x))), 6) AS l2_norm,
                   ROUND(list_sum(list_transform(
                         CAST(embedding AS DOUBLE[]), x -> x*x)), 5) AS self_dot,
                   CAST(len(list_filter(CAST(embedding AS DOUBLE[]),
                                        x -> x > 0.0)) AS INT) AS n_pos
            FROM embeddings WHERE vec_id < 500
        """,
        "rel_explode": """
            WITH t AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents WHERE doc_id < 50 AND text IS NOT NULL
            )
            SELECT doc_id, CAST(u.i AS INTEGER) AS ordinality, toks[u.i] AS tok
            FROM t, unnest(generate_series(1, len(toks))) u(i)
        """,
        "evt_stats": """
            SELECT event_type,
                   ROUND(stddev_samp(value), 6) AS sd_value,
                   ROUND(var_samp(value), 5) AS var_value,
                   ROUND(corr(value, CAST(user_id AS DOUBLE)), 6) AS corr_vu,
                   ROUND(regr_slope(value, CAST(user_id AS DOUBLE)), 6) AS slope_vu,
                   COUNT(1) AS n
            FROM events GROUP BY 1
        """,
        "evt_heavy": """
            SELECT event_type, user_id % 97 AS bucket, COUNT(1) AS est_count
            FROM events GROUP BY 1, 2
        """,
        "sk_distinct_stream": """
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id % 128) AS BIGINT) AS approx_distinct,
                   CAST(COUNT(1) AS BIGINT) AS n_rows
            FROM events GROUP BY 1
        """,
        "cur_mix_temp": """
            WITH l AS (
              SELECT (['en','zh','fr','es','de'])[
                CAST((('0x' || substr(md5(substr(text, 1, 24)), 1, 8))::BIGINT % 5) AS INT) + 1
              ] AS lang_pred
              FROM documents
            ),
            g AS (SELECT lang_pred, COUNT(1) AS n_rows FROM l GROUP BY 1),
            t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS N, SUM(sqrt(n_rows)) AS S FROM g)
            SELECT lang_pred, n_rows,
                   ROUND(n_rows::DOUBLE / N, 6) AS p_raw,
                   ROUND(sqrt(n_rows) / S, 6) AS p_temp,
                   ROUND(LEAST(CAST(1.0 AS DOUBLE),
                         CAST(0.5 AS DOUBLE) * N * (sqrt(n_rows) / S) / n_rows), 6)
                       AS sampling_frac
            FROM g, t
        """,
        "txt_vocab": """
            WITH tok AS (
              SELECT doc_id, t AS token FROM (
                SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
                FROM documents
              ) WHERE length(t) > 0
            ),
            c AS (
              SELECT token, COUNT(1) AS n_occurrences,
                     COUNT(DISTINCT doc_id) AS n_docs
              FROM tok GROUP BY 1
            ),
            g AS (SELECT COUNT(1) AS total FROM tok),
            top AS (
              SELECT * FROM c ORDER BY n_occurrences DESC, token LIMIT 200
            )
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token) AS INT) AS rank,
                   token, n_occurrences, n_docs,
                   ROUND(n_occurrences::DOUBLE / total, 6) AS coverage,
                   ROUND(CAST(SUM(n_occurrences) OVER (
                       ORDER BY n_occurrences DESC, token
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS DOUBLE) / total, 6) AS cum_coverage
            FROM top, g
        """,
        "cur_topfrac": """
            SELECT doc_id, source, n_chars FROM (
              SELECT doc_id, source, n_chars,
                     ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
                     ) AS rk,
                     COUNT(*) OVER (PARTITION BY source) AS n
              FROM documents
            ) WHERE rk <= (n * 300000 + 999999) // 1000000
        """,
        "cur_dsir": f"""
            WITH d AS (
              SELECT doc_id,
                     list_filter(string_split({_NORM}, ' '), x -> x <> '') AS toks,
                     lang
              FROM documents WHERE text IS NOT NULL
            ),
            f AS (
              SELECT doc_id, lang, unnest(list_concat(
                toks,
                CASE WHEN len(toks) >= 2
                     THEN list_transform(generate_series(1, len(toks) - 1),
                                         i -> toks[i] || ' ' || toks[i + 1])
                     ELSE [] END)) AS feat
              FROM d
            ),
            b AS (SELECT doc_id, lang, {_mh_hash(100, "feat")} % 1024 AS bucket FROM f),
            tgt AS (SELECT bucket, COUNT(*)::BIGINT AS tc FROM b
                    WHERE lang = 'en' GROUP BY 1),
            raw AS (SELECT bucket, COUNT(*)::BIGINT AS rc FROM b GROUP BY 1),
            tt AS (SELECT SUM(tc)::BIGINT AS tt FROM tgt),
            rt AS (SELECT SUM(rc)::BIGINT AS rt FROM raw),
            sc AS (
              SELECT b.doc_id,
                     CAST(ROUND(LN(
                       ((COALESCE(tc, 0)::DOUBLE + 1.0) / (tt::DOUBLE + 1024.0))
                       / ((COALESCE(rc, 0)::DOUBLE + 1.0) / (rt::DOUBLE + 1024.0))
                     ) * 1000000) AS BIGINT) AS lrm
              FROM b LEFT JOIN tgt USING (bucket) LEFT JOIN raw USING (bucket)
              CROSS JOIN tt CROSS JOIN rt
            ),
            w AS (
              SELECT doc_id, COUNT(*)::BIGINT AS n_feats,
                     SUM(lrm)::BIGINT AS logw_micro
              FROM sc GROUP BY 1
            )
            SELECT doc_id, n_feats, logw_micro,
                   logw_micro + CAST(ROUND(-LN(-LN(
                     (({_mh_hash(102, "CAST(doc_id AS VARCHAR)")} % 1000000)::DOUBLE
                      + 0.5) / 1000000.0
                   )) * 1000000) AS BIGINT) AS key
            FROM w
            ORDER BY key DESC, doc_id
            LIMIT 25
        """,
        "cur_dsir_stream": f"""
            WITH d AS (
              SELECT doc_id,
                     list_filter(string_split({_NORM}, ' '), x -> x <> '') AS toks,
                     lang
              FROM documents WHERE text IS NOT NULL
            ),
            f AS (
              SELECT doc_id, lang, unnest(list_concat(
                toks,
                CASE WHEN len(toks) >= 2
                     THEN list_transform(generate_series(1, len(toks) - 1),
                                         i -> toks[i] || ' ' || toks[i + 1])
                     ELSE [] END)) AS feat
              FROM d
            ),
            b AS (SELECT doc_id, lang, {_mh_hash(100, "feat")} % 1024 AS bucket FROM f),
            tgt AS (SELECT bucket, COUNT(*)::BIGINT AS tc FROM b
                    WHERE lang = 'en' GROUP BY 1),
            raw AS (SELECT bucket, COUNT(*)::BIGINT AS rc FROM b GROUP BY 1),
            tt AS (SELECT SUM(tc)::BIGINT AS tt FROM tgt),
            rt AS (SELECT SUM(rc)::BIGINT AS rt FROM raw),
            sc AS (
              SELECT b.doc_id,
                     CAST(ROUND(LN(
                       ((COALESCE(tc, 0)::DOUBLE + 1.0) / (tt::DOUBLE + 1024.0))
                       / ((COALESCE(rc, 0)::DOUBLE + 1.0) / (rt::DOUBLE + 1024.0))
                     ) * 1000000) AS BIGINT) AS lrm
              FROM b LEFT JOIN tgt USING (bucket) LEFT JOIN raw USING (bucket)
              CROSS JOIN tt CROSS JOIN rt
            )
            SELECT doc_id, COUNT(*)::BIGINT AS n_feats,
                   SUM(lrm)::BIGINT AS logw_micro
            FROM sc GROUP BY 1
        """,
        "cur_select2": f"""
            WITH feats0 AS (
              SELECT doc_id,
                     list_filter(string_split({_NORM}, ' '), x -> x <> '') AS toks
              FROM documents WHERE text IS NOT NULL
            ),
            f0 AS (
              SELECT doc_id, unnest(list_concat(
                toks,
                CASE WHEN len(toks) >= 2
                     THEN list_transform(generate_series(1, len(toks) - 1),
                                         i -> toks[i] || ' ' || toks[i + 1])
                     ELSE [] END)) AS feat
              FROM feats0
            ),
            cb AS (SELECT doc_id, {_mh_hash(100, "feat")} % 512 AS bucket FROM f0),
            wtab AS (
              SELECT i AS bucket,
                     CAST(ROUND((CAST((i * 2654435761) % 1000003 AS DOUBLE)
                       / CAST(1000003 AS DOUBLE) - CAST(0.5 AS DOUBLE))
                       * 1000000) AS BIGINT) AS w_micro
              FROM generate_series(0, 511) t(i)
            ),
            cagg AS (
              SELECT doc_id, COUNT(*)::BIGINT AS nf,
                     SUM(COALESCE(w_micro, 0))::BIGINT AS s
              FROM cb LEFT JOIN wtab USING (bucket) GROUP BY 1
            ),
            clog AS (
              SELECT doc_id,
                     CAST(100000 AS BIGINT) + CASE WHEN s >= 0
                       THEN (2 * s + nf) // (2 * nf)
                       ELSE -((2 * (-s) + nf) // (2 * nf)) END AS logit_micro
              FROM cagg
            ),
            keep AS (
              SELECT doc_id,
                     ROUND(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
                       + EXP(CAST(0 AS DOUBLE) - logit_micro
                             / CAST(1000000 AS DOUBLE))), 6) AS prob
              FROM clog
              WHERE ROUND(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
                       + EXP(CAST(0 AS DOUBLE) - logit_micro
                             / CAST(1000000 AS DOUBLE))), 6) >= 0.5
            ),
            surv AS (
              SELECT d.doc_id, d.text, d.lang
              FROM documents d JOIN keep USING (doc_id)
            ),
            d2 AS (
              SELECT doc_id, lang,
                     list_filter(string_split({_NORM}, ' '), x -> x <> '') AS toks
              FROM surv WHERE text IS NOT NULL
            ),
            f2 AS (
              SELECT doc_id, lang, unnest(list_concat(
                toks,
                CASE WHEN len(toks) >= 2
                     THEN list_transform(generate_series(1, len(toks) - 1),
                                         i -> toks[i] || ' ' || toks[i + 1])
                     ELSE [] END)) AS feat
              FROM d2
            ),
            b2 AS (SELECT doc_id, lang, {_mh_hash(100, "feat")} % 1024 AS bucket FROM f2),
            tgt2 AS (SELECT bucket, COUNT(*)::BIGINT AS tc FROM b2
                     WHERE lang = 'en' GROUP BY 1),
            raw2 AS (SELECT bucket, COUNT(*)::BIGINT AS rc FROM b2 GROUP BY 1),
            tt2 AS (SELECT SUM(tc)::BIGINT AS tt FROM tgt2),
            rt2 AS (SELECT SUM(rc)::BIGINT AS rt FROM raw2),
            sc2 AS (
              SELECT b2.doc_id,
                     CAST(ROUND(LN(
                       ((COALESCE(tc, 0)::DOUBLE + 1.0) / (tt::DOUBLE + 1024.0))
                       / ((COALESCE(rc, 0)::DOUBLE + 1.0) / (rt::DOUBLE + 1024.0))
                     ) * 1000000) AS BIGINT) AS lrm
              FROM b2 LEFT JOIN tgt2 USING (bucket) LEFT JOIN raw2 USING (bucket)
              CROSS JOIN tt2 CROSS JOIN rt2
            ),
            w2 AS (
              SELECT doc_id, COUNT(*)::BIGINT AS n_feats,
                     SUM(lrm)::BIGINT AS logw_micro
              FROM sc2 GROUP BY 1
            ),
            sel AS (
              SELECT doc_id, n_feats, logw_micro,
                     logw_micro + CAST(ROUND(-LN(-LN(
                       (({_mh_hash(102, "CAST(doc_id AS VARCHAR)")} % 1000000)::DOUBLE
                        + 0.5) / 1000000.0
                     )) * 1000000) AS BIGINT) AS key
              FROM w2
              ORDER BY key DESC, doc_id
              LIMIT 50
            )
            SELECT s.doc_id, s.n_feats, s.logw_micro, s.key, k.prob,
                   CAST(1 + (GREATEST(length(d.text) - 120, 0) + 99) // 100 AS INT)
                     AS n_chunks
            FROM sel s
            JOIN keep k ON k.doc_id = s.doc_id
            JOIN documents d ON d.doc_id = s.doc_id
        """,
        "txt_embed": f"""
            WITH toks AS (
              SELECT DISTINCT doc_id, tok
              FROM (SELECT doc_id,
                           unnest(list_filter(string_split({_NORM}, ' '),
                                              x -> x <> '')) AS tok
                    FROM documents WHERE text IS NOT NULL)
            ),
            hashed AS (SELECT doc_id, {_mh_hash(0, "tok")} AS h FROM toks),
            votes AS (SELECT doc_id, SUM(CASE WHEN (h >> 0) & 1 = 1 THEN 1 ELSE -1 END) AS v0, SUM(CASE WHEN (h >> 1) & 1 = 1 THEN 1 ELSE -1 END) AS v1, SUM(CASE WHEN (h >> 2) & 1 = 1 THEN 1 ELSE -1 END) AS v2, SUM(CASE WHEN (h >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS v3, SUM(CASE WHEN (h >> 4) & 1 = 1 THEN 1 ELSE -1 END) AS v4, SUM(CASE WHEN (h >> 5) & 1 = 1 THEN 1 ELSE -1 END) AS v5, SUM(CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END) AS v6, SUM(CASE WHEN (h >> 7) & 1 = 1 THEN 1 ELSE -1 END) AS v7, SUM(CASE WHEN (h >> 8) & 1 = 1 THEN 1 ELSE -1 END) AS v8, SUM(CASE WHEN (h >> 9) & 1 = 1 THEN 1 ELSE -1 END) AS v9, SUM(CASE WHEN (h >> 10) & 1 = 1 THEN 1 ELSE -1 END) AS v10, SUM(CASE WHEN (h >> 11) & 1 = 1 THEN 1 ELSE -1 END) AS v11, SUM(CASE WHEN (h >> 12) & 1 = 1 THEN 1 ELSE -1 END) AS v12, SUM(CASE WHEN (h >> 13) & 1 = 1 THEN 1 ELSE -1 END) AS v13, SUM(CASE WHEN (h >> 14) & 1 = 1 THEN 1 ELSE -1 END) AS v14, SUM(CASE WHEN (h >> 15) & 1 = 1 THEN 1 ELSE -1 END) AS v15
                      FROM hashed GROUP BY doc_id),
            n AS (SELECT *, SQRT(CAST(v0 * v0 + v1 * v1 + v2 * v2 + v3 * v3 + v4 * v4 + v5 * v5 + v6 * v6 + v7 * v7 + v8 * v8 + v9 * v9 + v10 * v10 + v11 * v11 + v12 * v12 + v13 * v13 + v14 * v14 + v15 * v15 AS DOUBLE)) AS nn FROM votes)
            SELECT doc_id, [ROUND(CASE WHEN nn = 0 THEN CAST(0 AS DOUBLE) ELSE v0 / nn END, 6), ROUND(CASE WHEN nn = 0 THEN CAST(0 AS DOUBLE) ELSE v1 / nn END, 6), ROUND(CASE WHEN nn = 0 THEN CAST(0 AS DOUBLE) ELSE v2 / nn END, 6), ROUND(CASE WHEN nn = 0 THEN CAST(0 AS DOUBLE) ELSE v3 / nn END, 6), ROUND(CASE WHEN nn = 0 THEN CAST(0 AS DOUBLE) ELSE v4 / nn END, 6), ROUND(CASE WHEN nn = 0 THEN CAST(0 AS DOUBLE) ELSE v5 / nn END, 6), ROUND(CASE WHEN nn = 0 THEN CAST(0 AS DOUBLE) ELSE v6 / nn END, 6), ROUND(CASE WHEN nn = 0 THEN CAST(0 AS DOUBLE) ELSE v7 / nn END, 6), ROUND(CASE WHEN nn = 0 THEN CAST(0 AS DOUBLE) ELSE v8 / nn END, 6), ROUND(CASE WHEN nn = 0 THEN CAST(0 AS DOUBLE) ELSE v9 / nn END, 6), ROUND(CASE WHEN nn = 0 THEN CAST(0 AS DOUBLE) ELSE v10 / nn END, 6), ROUND(CASE WHEN nn = 0 THEN CAST(0 AS DOUBLE) ELSE v11 / nn END, 6), ROUND(CASE WHEN nn = 0 THEN CAST(0 AS DOUBLE) ELSE v12 / nn END, 6), ROUND(CASE WHEN nn = 0 THEN CAST(0 AS DOUBLE) ELSE v13 / nn END, 6), ROUND(CASE WHEN nn = 0 THEN CAST(0 AS DOUBLE) ELSE v14 / nn END, 6), ROUND(CASE WHEN nn = 0 THEN CAST(0 AS DOUBLE) ELSE v15 / nn END, 6)] AS embedding
            FROM n
        """,
        "txt_bpe_pairs": f"""
            WITH wf AS (
              SELECT word, COUNT(1) AS freq FROM (
                SELECT unnest(list_filter(string_split({_NORM}, ' '),
                                          x -> x <> '')) AS word
                FROM documents WHERE text IS NOT NULL
              ) GROUP BY word
            ),
            p AS (
              SELECT substr(word, CAST(u.i AS INT), 1) AS l,
                     substr(word, CAST(u.i AS INT) + 1, 1) AS r,
                     freq
              FROM wf, unnest(generate_series(1, length(word) - 1)) u(i)
              WHERE length(word) >= 2
            )
            SELECT l, r, CAST(SUM(freq) AS BIGINT) AS n
            FROM p GROUP BY 1, 2
            ORDER BY n DESC, l, r LIMIT 50
        """,
        "txt_sentences": """
            WITH t AS (
              SELECT doc_id,
                     regexp_extract_all(text, '[^.!?]*[.!?]+|[^.!?]+$') AS segs
              FROM documents WHERE text IS NOT NULL
            ),
            m AS (
              SELECT doc_id, CAST(u.i - 1 AS INT) AS sent_ix,
                     regexp_replace(segs[u.i], '^\\s+|\\s+$', '', 'g') AS sentence
              FROM t, unnest(generate_series(1, len(segs))) u(i)
            )
            SELECT doc_id, sent_ix, sentence,
                   CAST(length(sentence) AS INT) AS n_chars
            FROM m WHERE length(sentence) >= 2
        """,
        "txt_chunks": """
            WITH d AS (
              SELECT doc_id, text,
                     CAST(1 + (GREATEST(length(text) - 120, 0) + 99) // 100 AS INT)
                       AS n_chunks
              FROM documents WHERE text IS NOT NULL AND length(text) > 0
            )
            SELECT doc_id, CAST(i AS INT) AS chunk_ix,
                   CAST(1 + i * 100 AS INT) AS start_char,
                   substr(text, CAST(1 + i * 100 AS INT), 120) AS chunk,
                   n_chunks
            FROM d, unnest(generate_series(0, n_chunks - 1)) u(i)
        """,
        "txt_classify": f"""
            WITH d AS (
              SELECT doc_id,
                     list_filter(string_split({_NORM}, ' '), x -> x <> '') AS toks
              FROM documents WHERE text IS NOT NULL
            ),
            f AS (
              SELECT doc_id, unnest(list_concat(
                toks,
                CASE WHEN len(toks) >= 2
                     THEN list_transform(generate_series(1, len(toks) - 1),
                                         i -> toks[i] || ' ' || toks[i + 1])
                     ELSE [] END)) AS feat
              FROM d
            ),
            b AS (SELECT doc_id, {_mh_hash(100, "feat")} % 512 AS bucket FROM f),
            w AS (
              SELECT i AS bucket,
                     CAST(ROUND((CAST((i * 2654435761) % 1000003 AS DOUBLE)
                       / CAST(1000003 AS DOUBLE) - CAST(0.5 AS DOUBLE))
                       * 1000000) AS BIGINT) AS w_micro
              FROM generate_series(0, 511) t(i)
            ),
            agg AS (
              SELECT doc_id, COUNT(*)::BIGINT AS n_feats,
                     SUM(COALESCE(w_micro, 0))::BIGINT AS s
              FROM b LEFT JOIN w USING (bucket) GROUP BY 1
            ),
            lg AS (
              SELECT doc_id, n_feats,
                     CAST(100000 AS BIGINT) + CASE WHEN s >= 0
                       THEN (2 * s + n_feats) // (2 * n_feats)
                       ELSE -((2 * (-s) + n_feats) // (2 * n_feats)) END
                       AS logit_micro
              FROM agg
            )
            SELECT doc_id, n_feats, logit_micro,
                   ROUND(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
                     + EXP(CAST(0 AS DOUBLE) - logit_micro / CAST(1000000 AS DOUBLE))), 6)
                     AS prob
            FROM lg
        """,
        "cur_profile": """
            WITH t AS (
              SELECT doc_id, text,
                     string_split_regex(trim(text), '\\s+') AS toks,
                     (['en','zh','fr','es','de'])[
                       CAST((('0x' || substr(md5(substr(text, 1, 24)), 1, 8))::BIGINT % 5) AS INT) + 1
                     ] AS lang_pred
              FROM documents
            ),
            p AS (
              SELECT lang_pred,
                     CAST(len(toks) AS BIGINT) AS n_tok,
                     CAST(length(text) AS BIGINT) AS n_chars,
                     ROUND(length(text)::DOUBLE / len(toks), 4) AS cpt,
                     ROUND(len(list_filter(toks, x -> list_contains(
                         ['the','a','of','and','to','in','is','it','data','value'], x)))::DOUBLE
                         / len(toks), 4) AS stop_r,
                     ROUND(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS ttr
              FROM t
            )
            SELECT lang_pred,
                   COUNT(1) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                   ROUND(AVG(n_tok), 4) AS avg_tokens,
                   ROUND(AVG(cpt), 6) AS avg_chars_per_token,
                   ROUND(AVG(stop_r), 6) AS avg_stopword_ratio,
                   ROUND(AVG(ttr), 6) AS avg_type_token_ratio,
                   CAST(SUM(CASE WHEN n_tok < 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
                   ROUND(CAST(SUM(CASE WHEN n_tok < 60 THEN 1 ELSE 0 END) AS DOUBLE)
                         / COUNT(1), 6) AS short_frac
            FROM p GROUP BY 1
        """,
        "dd_simhash": _simhash_sql(),
        "emb_semdedup": """
            WITH p AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
              WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                                 b.embedding::DOUBLE[]), 6) >= 0.35
            ),
            d AS (SELECT id_b AS vec_id, MIN(id_a) AS dup_of FROM p GROUP BY 1)
            SELECT e.vec_id, CAST(0 AS INT) AS centroid_id, d.dup_of,
                   d.dup_of IS NULL AS keep
            FROM embeddings e LEFT JOIN d USING (vec_id)
        """,
        "emb_near_dup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
        """,
        "txt_tokens": """
            SELECT doc_id,
                   CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars_computed,
                   CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_unique_tokens
            FROM documents
        """,
        "txt_bpe": """
            WITH t AS (
              SELECT doc_id,
                     regexp_extract_all(text,
                       '''(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+'
                     ) AS bt
              FROM documents WHERE text IS NOT NULL
            )
            SELECT doc_id,
                   CAST(len(bt) AS BIGINT) AS n_bpe,
                   CAST(len(list_distinct(bt)) AS BIGINT) AS n_unique_bpe,
                   CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words
            FROM t JOIN documents USING (doc_id)
        """,
        "txt_quality": """
            WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   ROUND(length(text)::DOUBLE / len(toks), 4) AS chars_per_token,
                   ROUND(len(list_filter(toks, x -> list_contains(
                       ['the','a','of','and','to','in','is','it','data','value'], x)))::DOUBLE
                       / len(toks), 4) AS stopword_ratio,
                   ROUND(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS type_token_ratio
            FROM t
        """,
        "txt_langid": """
            SELECT doc_id,
                   (['en','zh','fr','es','de'])[
                     CAST((('0x' || substr(md5(substr(text, 1, 24)), 1, 8))::BIGINT % 5) AS INT) + 1
                   ] AS lang_pred
            FROM documents
        """,
        "txt_fingerprint": f"""
            SELECT doc_id, md5({_NORM}) AS fp_full,
                   md5(substr({_NORM}, 1, 64)) AS fp_prefix
            FROM documents
        """,
        "txt_winnow": f"""
            WITH d AS (
              SELECT doc_id, {_NORM} AS nt FROM documents
              WHERE length({_NORM}) >= 8
            ),
            g AS (
              SELECT doc_id, pos,
                     ('0x'||substr(md5(substr(nt, pos, 8)),1,15))::BIGINT AS h
              FROM d, unnest(generate_series(1, length(nt) - 7)) u(pos)
            ),
            ng AS (SELECT doc_id, MAX(pos) AS ng FROM g GROUP BY 1),
            s AS (
              SELECT doc_id, pos, h, pos - o AS t
              FROM g, unnest(generate_series(0, 3)) v(o)
              WHERE pos - o >= 1
            ),
            w AS (
              SELECT doc_id, t, pos, h,
                     ROW_NUMBER() OVER (PARTITION BY doc_id, t ORDER BY h, pos) AS rn
              FROM s
            )
            SELECT DISTINCT doc_id, pos, h AS fp
            FROM w JOIN ng USING (doc_id)
            WHERE rn = 1 AND t <= ng - 3
        """,
        "txt_utf8": f"""
            WITH docs(doc_id, text) AS (VALUES {_UTF8_VALUES}),
            d AS (SELECT doc_id, {_NORM} AS nt FROM docs),
            g AS (
              SELECT doc_id, pos,
                     ('0x'||substr(md5(substr(nt, pos, 8)),1,15))::BIGINT AS h
              FROM (SELECT * FROM d WHERE length(nt) >= 8) dd,
                   unnest(generate_series(1, length(nt) - 7)) u(pos)
            ),
            ng AS (SELECT doc_id, MAX(pos) AS ng FROM g GROUP BY 1),
            s AS (
              SELECT doc_id, pos, h, pos - o AS t
              FROM g, unnest(generate_series(0, 3)) v(o)
              WHERE pos - o >= 1
            ),
            w AS (
              SELECT doc_id, t, pos, h,
                     ROW_NUMBER() OVER (PARTITION BY doc_id, t ORDER BY h, pos) AS rn
              FROM s
            ),
            fpsel AS (
              SELECT DISTINCT doc_id, h AS fp
              FROM w JOIN ng USING (doc_id)
              WHERE rn = 1 AND t <= ng - 3
            ),
            nf AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps FROM fpsel GROUP BY 1)
            SELECT d.doc_id,
                   CAST(length(nt) AS BIGINT) AS n_cp,
                   CAST(strlen(nt) AS BIGINT) AS n_bytes,
                   CAST(len(string_split(nt, ' ')) AS BIGINT) AS n_tokens,
                   md5(nt) AS fingerprint,
                   COALESCE(nf.n_fps, CAST(0 AS BIGINT)) AS n_fps
            FROM d LEFT JOIN nf USING (doc_id)
        """,
        "txt_repetition": _repetition_sql(
            "SELECT doc_id, text FROM documents", top_ns=(2, 3, 4), dup_ns=(5,)
        ),
        "txt_replines": _repetition_sql(
            f"SELECT * FROM (VALUES {_replines_values()}) v(doc_id, text)",
            top_ns=(2,),
            dup_ns=(3,),
        ),
        "txt_boiler": f"""
            WITH src AS (SELECT * FROM (VALUES {_boiler_values()}) v(doc_id, text)),
            d AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM src
                  WHERE text IS NOT NULL),
            l AS (
              SELECT doc_id, i AS pos, ls[i] AS line, trim(ls[i]) AS t,
                     len(ls) AS n_lines
              FROM d, unnest(generate_series(1, len(ls))) u(i)
            ),
            hot AS (
              SELECT t FROM l WHERE t <> ''
              GROUP BY t HAVING COUNT(DISTINCT doc_id) >= 2
            ),
            kept AS (
              SELECT doc_id, pos, line FROM l
              WHERE t = '' OR t NOT IN (SELECT t FROM hot)
            ),
            rebuilt AS (
              SELECT doc_id,
                     string_agg(line, chr(10) ORDER BY pos) AS text,
                     COUNT(*)::BIGINT AS n_kept
              FROM kept GROUP BY doc_id
            )
            SELECT d0.doc_id,
                   COALESCE(r.text, '') AS text,
                   CAST(len(d0.ls) AS BIGINT) AS n_lines,
                   CAST(len(d0.ls) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
            FROM d d0 LEFT JOIN rebuilt r ON d0.doc_id = r.doc_id
        """,
        "txt_pii": _pii_sql(),
        "txt_c4": _c4_sql(),
        "txt_urls": _urls_sql(),
        "txt_urlcanon": _urlcanon_sql(),
        "dd_urldup": _urldup_sql(),
        "txt_domfilter": _domfilter_sql(),
        "txt_entropy": f"""
            WITH d AS (
              SELECT doc_id,
                     list_filter(string_split({_NORM}, ' '), x -> x <> '') AS toks
              FROM documents WHERE text IS NOT NULL
            ),
            wd AS (
              SELECT doc_id, len(toks) AS n, unnest(toks) AS token
              FROM d WHERE len(toks) > 0
            ),
            cnt AS (
              SELECT doc_id, token, CAST(COUNT(1) AS BIGINT) AS c, MIN(n) AS n
              FROM wd GROUP BY 1, 2
            ),
            t AS (
              SELECT doc_id, n,
                     CAST(ROUND((c / n) * LN(c / n)
                                * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS tm
              FROM cnt
            )
            SELECT doc_id, MIN(n) AS n_tokens, COUNT(1) AS n_types,
                   CAST(-SUM(tm) AS BIGINT) AS h_micro,
                   ROUND(CAST(-SUM(tm) AS BIGINT)
                         / CAST(1000000.0 AS DOUBLE), 6) AS h
            FROM t GROUP BY 1
        """,
        "txt_tfidf": f"""
            WITH tok AS (
              SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token
              FROM documents
            ),
            tf AS (
              SELECT doc_id, token, COUNT(*) AS tf
              FROM tok WHERE token <> '' GROUP BY 1, 2
            ),
            dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
            SELECT doc_id, token, tf, df,
                   ROUND(tf * LN(n_docs::DOUBLE / df), 6) AS tfidf
            FROM tf JOIN dfreq USING (token) CROSS JOIN n
        """,
        "txt_lm": f"""
            WITH d AS (
              SELECT doc_id,
                     list_filter(string_split({_NORM}, ' '), x -> x <> '') AS toks
              FROM documents WHERE text IS NOT NULL
            ),
            seq AS (
              SELECT doc_id, list_prepend('<s>', toks) AS s, len(toks) AS nb
              FROM d WHERE len(toks) > 0
            ),
            big AS (
              SELECT doc_id, s[i] AS prev, s[i + 1] AS cur
              FROM seq, unnest(generate_series(1, nb)) u(i)
            ),
            c2 AS (SELECT prev, cur, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
            c1 AS (SELECT prev, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
            v AS (SELECT COUNT(DISTINCT cur) AS v FROM c2),
            scored AS (
              SELECT b.doc_id,
                     CAST(ROUND(LN((c2.c2 + 1.0) / (c1.c1 + 1.0 * v.v)) * 1000000)
                          AS BIGINT) AS lpm
              FROM big b
              JOIN c2 USING (prev, cur)
              JOIN c1 USING (prev)
              CROSS JOIN v
            ),
            agg AS (
              SELECT doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                     CAST(SUM(lpm) AS BIGINT) AS lp_micro_sum
              FROM scored GROUP BY doc_id
            ),
            -- tie-proof integer round-half-up of |sum|/n micro-nats: a double
            -- ROUND at 6 lands ON the half-grid ~1/n of the time, where the
            -- engines' rounding implementations may disagree
            x AS (
              SELECT doc_id, n_bigrams, lp_micro_sum,
                     (((-lp_micro_sum) * 2 + n_bigrams) // (2 * n_bigrams))::DOUBLE
                       / 1000000.0 AS xent
              FROM agg
            )
            SELECT doc_id, n_bigrams, lp_micro_sum, xent,
                   ROUND(EXP(xent), 4) AS ppl
            FROM x
        """,
        "sim_int8": """
            WITH base AS (
              SELECT vec_id, embedding,
                     list_max(list_transform(embedding, x -> abs(x::DOUBLE)))
                       / CAST(127 AS DOUBLE) AS s
              FROM embeddings
            ),
            qv AS (
              SELECT vec_id,
                     list_transform(embedding, x ->
                       CAST(ROUND(CASE WHEN s = 0 THEN 0 ELSE x::DOUBLE / s END)
                            AS BIGINT)) AS q
              FROM base
            )
            SELECT query_id, neighbor_id, rank, cosine FROM (
              SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                     ROUND(list_cosine_similarity(a.q::DOUBLE[], b.q::DOUBLE[]), 6) AS cosine,
                     ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY ROUND(list_cosine_similarity(a.q::DOUBLE[], b.q::DOUBLE[]), 6) DESC,
                                b.vec_id ASC
                     ) AS rank
              FROM qv a JOIN qv b ON a.vec_id <> b.vec_id
              WHERE a.vec_id < 20
            ) WHERE rank <= 3
        """,
        "sim_topk": """
            SELECT query_id, neighbor_id, rank, cosine FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
                     ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                                c.vec_id ASC
                     ) AS rank
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 20
            ) WHERE rank <= 3
        """,
        "sim_ivf": """
            SELECT query_id, neighbor_id, rank, cosine FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
                     ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                                c.vec_id ASC
                     ) AS rank
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 20
            ) WHERE rank <= 3
        """,
        "sim_pq": """
            SELECT query_id, neighbor_id, rank, cosine FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
                     ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                                c.vec_id ASC
                     ) AS rank
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 20
            ) WHERE rank <= 3
        """,
        "sim_ivfpq": """
            SELECT query_id, neighbor_id, rank, cosine FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
                     ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                                c.vec_id ASC
                     ) AS rank
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 20
            ) WHERE rank <= 3
        """,
        "sim_lsh": """
            WITH planes AS (
              SELECT p, list(('0x'||substr(md5('plane'||p||'|dim'||d),1,8))::BIGINT
                             / 2147483648.0 - 1.0 ORDER BY d) AS w
              FROM generate_series(0,5) t(p), generate_series(0,63) s(d)
              GROUP BY p
            ),
            buckets AS (
              SELECT vec_id,
                     CAST(SUM(CASE WHEN list_inner_product(embedding::DOUBLE[], w) >= 0
                                   THEN CAST(POWER(2, p) AS BIGINT) ELSE 0 END) AS INT) AS bucket
              FROM embeddings, planes GROUP BY vec_id
            )
            SELECT query_id, neighbor_id, rank, cosine FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
                     ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                                c.vec_id ASC
                     ) AS rank
              FROM embeddings q
              JOIN buckets bq ON bq.vec_id = q.vec_id
              JOIN buckets bc ON bc.bucket = bq.bucket
              JOIN embeddings c ON c.vec_id = bc.vec_id AND c.vec_id <> q.vec_id
              WHERE q.vec_id < 20
            ) WHERE rank <= 3
        """,
        "evt_window": """
            SELECT CAST(FLOOR((epoch_ns(ts) // 1000000000) / 300.0) AS BIGINT) AS win,
                   event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "evt_window_stream": """
            SELECT CAST(FLOOR((epoch_ns(ts) // 1000000000) / 300.0) AS BIGINT) * 300 AS win_start,
                   event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "evt_sliding_stream": """
            WITH e AS (
              SELECT user_id, value,
                     CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS s
              FROM events
            ),
            x AS (
              SELECT user_id, value,
                     CAST(FLOOR(s / 300.0) AS BIGINT) * 300 - o * 300 AS win_start
              FROM e, (VALUES (0), (1)) t(o)
            )
            SELECT win_start, user_id, ROUND(AVG(value), 4) AS avg_value
            FROM x GROUP BY 1, 2
        """,
        "evt_neighbor": """
            WITH f AS (
              SELECT user_id,
                     CAST(FLOOR((epoch_ns(ts) // 1000000000) / 600.0) AS BIGINT) AS b,
                     MAX(CASE WHEN value > 90.0 THEN 1 ELSE 0 END) AS flag
              FROM events GROUP BY 1, 2
            )
            SELECT user_id, b AS bucket,
                   MAX(flag) OVER (PARTITION BY user_id ORDER BY b
                                   RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS any_near
            FROM f
        """,
        "rel_salted_join": """
            SELECT l_orderkey, l_partkey,
                   ROUND(l_quantity, 2) AS qty,
                   p_name, p_size
            FROM lineitem JOIN part ON l_partkey = p_partkey
        """,
        "evt_pivot": """
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                   CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                   CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                   CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error
            FROM events GROUP BY user_id
        """,
        "tpch_cube": """
            SELECT COALESCE(l_returnflag, '<all>') AS flag,
                   COALESCE(l_linestatus, '<all>') AS status,
                   COUNT(*) AS n,
                   ROUND(SUM(l_extendedprice), 2) AS sum_price
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "evt_lag": """
            WITH e AS (
              SELECT user_id, event_id,
                     CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_sec
              FROM events
            )
            SELECT user_id, event_id,
                   COALESCE(ts_sec - LAG(ts_sec) OVER w, -1) AS gap_sec,
                   COALESCE(LEAD(event_id) OVER w, -1) AS next_event_id
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
        """,
        "evt_intersect": """
            SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'purchase'
        """,
        "evt_ntile": """
            WITH e AS (
              SELECT user_id, event_id,
                     CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_sec
              FROM events
            )
            SELECT user_id, event_id,
                   NTILE(4) OVER w AS quartile,
                   ROUND(PERCENT_RANK() OVER w, 5) AS prank
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
        """,
        "evt_gsets": """
            WITH e AS (
              SELECT event_type, user_id % 4 AS bucket, value FROM events
            )
            SELECT COALESCE(event_type, '<all>') AS etype,
                   COALESCE(CAST(bucket AS VARCHAR), '<all>') AS ubucket,
                   GROUPING(event_type) + 2 * GROUPING(bucket) AS gid,
                   COUNT(1) AS n,
                   ROUND(SUM(value), 4) AS sum_value
            FROM e
            GROUP BY GROUPING SETS ((event_type, bucket), (event_type), (bucket), ())
        """,
        "evt_range_frame": """
            WITH e AS (
              SELECT user_id, event_id, value,
                     CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_sec
              FROM events
            )
            SELECT user_id, event_id,
                   ROUND(SUM(value) OVER w, 4) AS trailing_sum,
                   COUNT(1) OVER w AS trailing_n
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
                         RANGE BETWEEN 59 PRECEDING AND CURRENT ROW)
        """,
        "evt_nullsafe": """
            WITH a AS (
              SELECT NULLIF(user_id % 7, 3) AS grp, COUNT(1) AS n_users_side
              FROM events GROUP BY 1
            ),
            b AS (
              SELECT NULLIF(event_id % 7, 3) AS grp, COUNT(1) AS n_events_side
              FROM events GROUP BY 1
            )
            SELECT COALESCE(a.grp, -1) AS grp_key, n_users_side, n_events_side
            FROM a JOIN b ON a.grp IS NOT DISTINCT FROM b.grp
        """,
        "evt_join_stream": """
            WITH e AS (
              SELECT event_id, user_id, event_type,
                     CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_sec
              FROM events
            )
            SELECT a.user_id AS user_id,
                   a.event_id AS l_event_id,
                   b.event_id AS r_event_id,
                   a.ts_sec - b.ts_sec AS lag_sec
            FROM e a JOIN e b
              ON a.user_id = b.user_id
             AND a.event_type = 'purchase' AND b.event_type = 'click'
             AND b.ts_sec >= a.ts_sec - 1800 AND b.ts_sec <= a.ts_sec
        """,
        "evt_pipeline": """
            WITH f AS (
              SELECT user_id,
                     CAST(FLOOR((epoch_ns(ts) // 1000000000) / 600.0) AS BIGINT) AS b,
                     MAX(CASE WHEN value > 90.0 THEN 1 ELSE 0 END) AS flag
              FROM events GROUP BY 1, 2
            ),
            bounds AS (SELECT user_id, MIN(b) AS lo, MAX(b) AS hi FROM f GROUP BY 1),
            dense AS (
              SELECT user_id, CAST(u.b AS BIGINT) AS b
              FROM bounds, unnest(generate_series(lo, hi)) u(b)
            ),
            dns AS (
              SELECT d.user_id, d.b, COALESCE(f.flag, 0) AS flag
              FROM dense d LEFT JOIN f ON f.user_id = d.user_id AND f.b = d.b
            ),
            dil AS (
              SELECT user_id, b,
                     MAX(flag) OVER (PARTITION BY user_id ORDER BY b
                                     RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS d
              FROM dns
            ),
            closed AS (
              SELECT user_id, b,
                     MIN(d) OVER (PARTITION BY user_id ORDER BY b
                                  RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS closed
              FROM dil
            ),
            ones AS (SELECT user_id, b FROM closed WHERE closed = 1),
            isl AS (
              SELECT user_id, b,
                     b - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY b) AS grp
              FROM ones
            )
            SELECT user_id, MIN(b) AS label, COUNT(*) AS size,
                   MAX(b) + 1 AS stop, ROUND(AVG(b), 6) AS com
            FROM isl GROUP BY user_id, grp
        """,
        "evt_asof": """
            WITH e AS (
              SELECT event_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_sec, value
              FROM events
            ),
            k AS (
              SELECT ts_sec, arg_max(value, event_id) AS kval
              FROM e WHERE event_id % 50 = 0 GROUP BY 1
            ),
            q AS (SELECT event_id, ts_sec FROM e WHERE event_id % 7 = 0)
            SELECT q.event_id, k.kval AS asof_kval
            FROM q ASOF JOIN k ON q.ts_sec >= k.ts_sec
        """,
        "cur_contam": f"""
            SELECT tf.doc_id AS train_id, ef.doc_id AS eval_id,
                   COUNT(1) AS n_shared
            FROM {_winnow_fps_sql("doc_id % 5 <> 0")} tf
            JOIN {_winnow_fps_sql("doc_id % 5 = 0")} ef ON tf.fp = ef.fp
            GROUP BY 1, 2
            HAVING COUNT(1) >= 30
        """,
        "cur_select3": _select3_sql(),
        "cur_lenfilter": """
            WITH q AS (
              SELECT ROUND(quantile_cont(length(text), 0.05), 5) AS qlo,
                     ROUND(quantile_cont(length(text), 0.95), 5) AS qhi
              FROM documents WHERE text IS NOT NULL
            )
            SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
            FROM documents, q
            WHERE text IS NOT NULL
              AND length(text) >= qlo AND length(text) <= qhi
        """,
        "cur_contam_frac": f"""
            WITH ef AS (
              SELECT doc_id AS eval_id, fp
              FROM {_winnow_fps_sql("doc_id % 5 = 0")} e
            ),
            tfd AS (
              SELECT DISTINCT fp FROM {_winnow_fps_sql("doc_id % 5 <> 0")} t
            )
            SELECT eval_id, COUNT(1) AS n_fps,
                   COUNT(tfd.fp) AS n_hit,
                   ROUND(CAST(COUNT(tfd.fp) AS DOUBLE) / COUNT(1), 6) AS frac
            FROM ef LEFT JOIN tfd ON ef.fp = tfd.fp
            GROUP BY 1
        """,
        "cur_contam_emb": """
            SELECT t.vec_id AS corpus_id, q.vec_id AS query_id,
                   ROUND(list_cosine_similarity(
                     t.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cosine
            FROM embeddings t JOIN embeddings q
              ON t.vec_id % 10 <> 0 AND q.vec_id % 10 = 0
            WHERE ROUND(list_cosine_similarity(
                    t.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) >= 0.3
        """,
        "txt_bm25": _bm25_sql(),
        "txt_bm25_phrase": _bm25_phrase_sql(),
        "txt_html": _txt_html_sql(),
        "cur_ingest": _cur_ingest_sql(),
        "src_warc_http": _src_warc_http_sql(),
        "src_warc_charset": _src_warc_charset_sql(),
        "evt_topk_stream": """
            SELECT user_id, COUNT(1) AS n, ROUND(SUM(value), 4) AS sum_value
            FROM events
            GROUP BY user_id
            ORDER BY n DESC, user_id ASC
            LIMIT 10
        """,
        "evt_asof_fwd": """
            WITH e AS (
              SELECT event_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_sec, value
              FROM events
            ),
            k AS (
              SELECT ts_sec, arg_max(value, event_id) AS kval
              FROM e WHERE event_id % 50 = 0 GROUP BY 1
            ),
            q AS (SELECT event_id, ts_sec FROM e WHERE event_id % 7 = 0)
            SELECT q.event_id,
                   (SELECT k.kval FROM k WHERE k.ts_sec >= q.ts_sec
                    ORDER BY k.ts_sec ASC LIMIT 1) AS asof_kval
            FROM q
            WHERE EXISTS (SELECT 1 FROM k WHERE k.ts_sec >= q.ts_sec)
        """,
        "evt_asof_near": """
            WITH e AS (
              SELECT event_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_sec, value
              FROM events
            ),
            k AS (
              SELECT ts_sec, arg_max(value, event_id) AS kval
              FROM e WHERE event_id % 50 = 0 GROUP BY 1
            ),
            q AS (SELECT event_id, ts_sec FROM e WHERE event_id % 7 = 0),
            cand AS (
              SELECT q.event_id, q.ts_sec,
                     (SELECT k.ts_sec FROM k WHERE k.ts_sec <= q.ts_sec
                      ORDER BY k.ts_sec DESC LIMIT 1) AS bk_ts,
                     (SELECT k.kval FROM k WHERE k.ts_sec <= q.ts_sec
                      ORDER BY k.ts_sec DESC LIMIT 1) AS bk_val,
                     (SELECT k.ts_sec FROM k WHERE k.ts_sec >= q.ts_sec
                      ORDER BY k.ts_sec ASC LIMIT 1) AS fw_ts,
                     (SELECT k.kval FROM k WHERE k.ts_sec >= q.ts_sec
                      ORDER BY k.ts_sec ASC LIMIT 1) AS fw_val
              FROM q
            )
            SELECT event_id,
                   CASE WHEN bk_ts IS NULL THEN fw_val
                        WHEN fw_ts IS NULL THEN bk_val
                        WHEN (fw_ts - ts_sec) < (ts_sec - bk_ts) THEN fw_val
                        ELSE bk_val END AS asof_kval
            FROM cand
            WHERE bk_ts IS NOT NULL OR fw_ts IS NOT NULL
        """,
        "evt_closing": """
            WITH f AS (
              SELECT user_id,
                     CAST(FLOOR((epoch_ns(ts) // 1000000000) / 600.0) AS BIGINT) AS b,
                     MAX(CASE WHEN value > 90.0 THEN 1 ELSE 0 END) AS flag
              FROM events GROUP BY 1, 2
            ),
            bounds AS (SELECT user_id, MIN(b) AS lo, MAX(b) AS hi FROM f GROUP BY 1),
            dense AS (
              SELECT user_id, CAST(u.b AS BIGINT) AS b
              FROM bounds, unnest(generate_series(lo, hi)) u(b)
            ),
            dns AS (
              SELECT d.user_id, d.b, COALESCE(f.flag, 0) AS flag
              FROM dense d LEFT JOIN f ON f.user_id = d.user_id AND f.b = d.b
            ),
            dil AS (
              SELECT user_id, b,
                     MAX(flag) OVER (PARTITION BY user_id ORDER BY b
                                     RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS d
              FROM dns
            )
            SELECT user_id, b AS bucket,
                   MIN(d) OVER (PARTITION BY user_id ORDER BY b
                                RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS closed
            FROM dil
        """,
        "evt_sessions_stream": """
            WITH e AS (
              SELECT user_id, event_id,
                     CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_sec
              FROM events
            ),
            g AS (
              SELECT user_id, event_id, ts_sec,
                     CASE WHEN ts_sec - LAG(ts_sec)
                               OVER (PARTITION BY user_id ORDER BY ts_sec, event_id)
                               > 1800
                          OR LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) IS NULL
                          THEN 1 ELSE 0 END AS is_new
              FROM e
            ),
            s AS (
              SELECT user_id, event_id,
                     CAST(SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts_sec, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS BIGINT) AS session_seq
              FROM g
            ),
            sess AS (
              SELECT user_id, session_seq, COUNT(*) AS n_events,
                     MIN(event_id) AS first_event_id
              FROM s GROUP BY user_id, session_seq
            )
            SELECT user_id, session_seq, n_events, first_event_id
            FROM sess
            QUALIFY session_seq < MAX(session_seq) OVER (PARTITION BY user_id)
        """,
        "evt_sessions": """
            WITH e AS (
              SELECT user_id, event_id,
                     CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_sec
              FROM events
            ),
            g AS (
              SELECT user_id, event_id, ts_sec,
                     CASE WHEN ts_sec - LAG(ts_sec)
                               OVER (PARTITION BY user_id ORDER BY ts_sec, event_id)
                               > 1800
                          OR LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) IS NULL
                          THEN 1 ELSE 0 END AS is_new
              FROM e
            ),
            s AS (
              SELECT user_id, event_id,
                     CAST(SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts_sec, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS BIGINT) AS session_seq
              FROM g
            )
            SELECT user_id, session_seq, COUNT(*) AS n_events,
                   MIN(event_id) AS first_event_id
            FROM s GROUP BY user_id, session_seq
        """,
        "rel_intersect_all": """
            WITH li AS (SELECT l_suppkey AS k, l_linenumber AS ln FROM lineitem),
            a AS (SELECT k, ln FROM li WHERE ln <= 4),
            b AS (SELECT k, ln FROM li WHERE ln >= 2),
            i AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_inter
                  FROM (SELECT k, ln FROM a INTERSECT ALL SELECT k, ln FROM b)
                  GROUP BY k),
            e AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_except
                  FROM (SELECT k, ln FROM a EXCEPT ALL SELECT k, ln FROM b)
                  GROUP BY k)
            SELECT COALESCE(i.k, e.k) AS k,
                   COALESCE(n_inter, 0) AS n_inter,
                   COALESCE(n_except, 0) AS n_except
            FROM i FULL OUTER JOIN e ON i.k = e.k
        """,
        "evt_rankfns": """
            WITH e AS (
              SELECT event_type, event_id, value FROM events
              WHERE event_id % 17 = 0
            )
            SELECT event_type, event_id,
                   RANK() OVER w AS rnk,
                   DENSE_RANK() OVER w AS drnk,
                   PERCENT_RANK() OVER w AS prnk,
                   CUME_DIST() OVER w AS cdist
            FROM e
            WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        """,
        "rel_lateral": """
            SELECT n.n_name, c.c_custkey, c.bal
            FROM nation n,
            LATERAL (
              SELECT c_custkey, ROUND(c_acctbal, 2) AS bal
              FROM customer
              WHERE c_nationkey = n.n_nationkey
              ORDER BY c_acctbal DESC, c_custkey
              LIMIT 3
            ) c
        """,
        "evt_session_native": """
            WITH e AS (
              SELECT user_id,
                     CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_sec,
                     value
              FROM events
            ),
            g AS (
              SELECT user_id, ts_sec, value,
                     CASE WHEN ts_sec - LAG(ts_sec)
                               OVER (PARTITION BY user_id ORDER BY ts_sec)
                               >= 1800
                          OR LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec) IS NULL
                          THEN 1 ELSE 0 END AS is_new
              FROM e
            ),
            s AS (
              SELECT user_id, ts_sec, value,
                     SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts_sec
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS sid
              FROM g
            )
            SELECT user_id,
                   MIN(ts_sec) AS start_sec,
                   MAX(ts_sec) + 1800 AS end_sec,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND(SUM(value), 4) AS sum_value
            FROM s GROUP BY user_id, sid
        """,
    }
