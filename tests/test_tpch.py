"""Plan-shape and semantics tests for the TPC-H-style relational queries.

The full value-level check is the DuckDB oracle gate (tools/check_oracle.py);
these tests pin the PHYSICAL invariants the 100 TB design depends on — the
shapes that could silently regress while values stay right at small scale:
disjunctions still push to the scan, subqueries stay broadcast (never a
cartesian product), semi/anti joins stay semi/anti.
"""

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = entry.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q19_disjunction_reaches_both_scans(spark):
    """The OR-of-conjuncts predicate must be pushed into BOTH scans as data
    filters (the per-table residue of the disjunction), not evaluated only
    post-join — at 100 TB the difference is reading ~3 brands' row groups
    vs the whole fact table."""
    plan = _plan(spark, "tpch_q19")
    scan = plan[plan.index("FileScan parquet [l_partkey") :].splitlines()[0]
    assert "l_quantity" in scan and ("DataFilters" in scan or "PushedFilters" in scan), scan
    pscan = plan[plan.index("FileScan parquet [p_partkey") :].splitlines()[0]
    assert "p_brand" in pscan or "p_size" in pscan, pscan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q21_compiles_to_semi_and_anti_joins(spark):
    """EXISTS / NOT EXISTS with non-equi residuals must stay LeftSemi /
    LeftAnti hash joins (one pass over lineitem), never a join + dedup or a
    cartesian fallback."""
    plan = _plan(spark, "tpch_q21")
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_scalar_subqueries_are_single_row_broadcasts(spark):
    """q11/q15/q22 compare against a 1-row aggregate: the cross join must be
    a BroadcastNestedLoopJoin of that single row (constant-size exchange),
    never a CartesianProduct — on a cluster the latter materializes
    |fact| x 1 through a full shuffle."""
    for name in ("tpch_q11", "tpch_q15", "tpch_q22"):
        plan = _plan(spark, name)
        # q11/q22 keep the 1-row nested-loop broadcast; q15's equality
        # compare gets rewritten by Catalyst into a broadcast HASH join on
        # the (float-normalized) revenue key — both are constant-size
        # broadcasts, which is the invariant
        assert (
            "BroadcastNestedLoopJoin" in plan
            or ("Cross, BuildRight" in plan and "BroadcastHashJoin" in plan)
        ), (name, plan)
        assert "CartesianProduct" not in plan, name


def test_q13_distribution_matches_python_rederivation(spark):
    """The priority filter lives INSIDE the left-outer join condition, so
    the distribution must partition ALL customers exactly once (a customer
    whose every order is 3-MEDIUM lands in the c_count=0 bucket instead of
    vanishing).  Re-derived row-by-row in Python."""
    from collections import Counter

    rows = entry.queries()["tpch_q13"](spark, SF).collect()
    by_count = {r["c_count"]: r["custdist"] for r in rows}

    custkeys = [
        r["c_custkey"] for r in spark.read.parquet(f"{SF}/customer.parquet").collect()
    ]
    per_cust = Counter()
    for o in spark.read.parquet(f"{SF}/orders.parquet").collect():
        if o["o_orderpriority"] != "3-MEDIUM":
            per_cust[o["o_custkey"]] += 1
    expected = Counter(per_cust.get(ck, 0) for ck in custkeys)
    assert by_count == dict(expected)
    assert sum(by_count.values()) == len(custkeys)


def test_q2_returns_exactly_the_min_balance_suppliers(spark):
    """Window-MIN + filter must keep every supplier tied at the per-part
    minimum and nothing else (re-derived here with a plain groupBy)."""
    from pyspark.sql import functions as F

    rows = entry.queries()["tpch_q2"](spark, SF).collect()
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    p = spark.read.parquet(f"{SF}/part.parquet").filter(F.col("p_size") == 15)
    s = spark.read.parquet(f"{SF}/supplier.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    r = spark.read.parquet(f"{SF}/region.parquet").filter(F.col("r_name") == "EUROPE")
    cand = (
        li.select("l_partkey", "l_suppkey")
        .dropDuplicates()
        .join(p, F.col("l_partkey") == p.p_partkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey, "left_semi")
    )
    expected_min = {
        row["p_partkey"]: row["mb"]
        for row in cand.groupBy("p_partkey").agg(F.min("s_acctbal").alias("mb")).collect()
    }
    assert rows, "q2 returned no rows at sf0.001"
    for row in rows:
        assert row["s_acctbal"] == round(expected_min[row["p_partkey"]], 2)
    # every part with candidates is represented
    assert {row["p_partkey"] for row in rows} == set(expected_min)


def test_q15_all_rows_share_the_max_revenue(spark):
    rows = entry.queries()["tpch_q15"](spark, SF).collect()
    assert rows
    revs = {row["total_revenue"] for row in rows}
    assert len(revs) == 1


def test_lateral_decorrelates_to_window_join(spark):
    """The LATERAL top-3-per-nation gate must compile to a window + hash
    join (DecorrelateInnerQuery), never a per-outer-row nested loop or
    cartesian product — the plan that survives a 100 TB outer table."""
    import __spark_entry__ as entry

    df = entry.queries()["rel_lateral"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan and "row_number" in plan


# the driver scores the FIRST 50 entries of queries(); their order is frozen
DRIVER_WINDOW = (
    "center_of_mass", "isin", "mask_to_box", "crop", "pointwise",
    "label_sizes", "interp1d", "dilation", "erosion", "sliding_window",
    "zoom_1d", "pad_1d", "edt_1d", "interp2d", "multimodal",
    "mm_frame_dedup", "mm_audio", "mm_resample", "mm_vad", "mm_tiles",
    "src_jsonl", "src_warc", "src_warc_gz", "src_jsonl_stream", "cur_ingest",
    "mm_image_raw", "mm_imresize", "graph_cc", "radon_raysum", "hull_fill",
    "radon_backproj", "top1_nn", "tpch_rollup", "evt_running", "evt_median",
    "evt_json", "evt_antijoin", "evt_dedup_stream", "tpch_q1", "tpch_q3",
    "tpch_q4", "tpch_q5", "tpch_q6", "tpch_q7", "tpch_q10",
    "tpch_q14", "tpch_q2", "tpch_q8", "tpch_q9", "tpch_q11",
)


def test_driver_window_is_frozen():
    """queries()' first 50 names, in order: new queries append at the end,
    never inside the window (positions 47-50 are tpch_q2/q8/q9/q11)."""
    names = list(entry.queries())
    assert tuple(names[:50]) == DRIVER_WINDOW
    assert names[46:50] == ["tpch_q2", "tpch_q8", "tpch_q9", "tpch_q11"]

