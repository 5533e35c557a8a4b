"""Round-6 hardening guards (ADVICE items):

1. ``lsh_write_index(mode='append')`` must REFUSE mismatched banding
   parameters instead of silently re-writing the ``imops.lsh.*`` table
   properties (which would make ``lsh_query_index`` validate against the
   new params and silently return incomplete probes).
2. ``carry=`` passthrough names are backtick-quoted into generated SQL —
   awkward-but-legal column names (dots, hyphens, reserved words) survive
   the shingle/minhash/winnow pipelines — and the pipelines' internal
   aliases (``t``/``nt``/...) are reserved (raise, never silently shadow).
"""

import pytest
from pyspark.sql import functions as F


def _docs(spark, extra=()):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "pack my box with five dozen liquor jugs for the long trip home"),
        (3, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for name, expr in extra:
        df = df.withColumn(name, expr)
    return df


# ---------------------------------------------------------------- LSH append


def test_lsh_append_param_mismatch_raises(spark, tmp_path):
    """Appending with different banding params must raise; the stored
    properties (what lsh_query_index validates probes against) must keep
    the ORIGINAL build's values."""
    from imops_spark.functions.dedup import _lsh_stored_props, lsh_write_index

    docs = _docs(spark)
    table = "lsh_guard_test"
    try:
        lsh_write_index(
            docs, table, num_hashes=8, bands=4, rows_per_band=2,
            path=str(tmp_path / "idx"),
        )
        with pytest.raises(ValueError, match="built with"):
            lsh_write_index(
                docs, table, num_hashes=8, bands=2, rows_per_band=4,
                mode="append",
            )
        assert _lsh_stored_props(spark, table) == {
            "num_hashes": 8, "bands": 4, "rows_per_band": 2, "k": 3,
            "hash_fn": "md5",
        }
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_lsh_append_matching_params_ok(spark, tmp_path):
    """A matching-parameter append (the maintenance-stream path) still
    works and leaves the properties intact."""
    from imops_spark.functions.dedup import _lsh_stored_props, lsh_write_index

    docs = _docs(spark)
    table = "lsh_guard_ok_test"
    try:
        lsh_write_index(
            docs, table, num_hashes=8, bands=4, rows_per_band=2,
            path=str(tmp_path / "idx2"),
        )
        before = spark.table(table).count()
        lsh_write_index(
            docs.withColumn("doc_id", F.col("doc_id") + 100),
            table, num_hashes=8, bands=4, rows_per_band=2, mode="append",
        )
        assert spark.table(table).count() == 2 * before
        assert _lsh_stored_props(spark, table)["bands"] == 4
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


# ------------------------------------------------------------- carry quoting


AWKWARD = "event-time.col"  # hyphen AND dot: unparseable / struct-path raw


def test_minhash_carry_awkward_name(spark):
    from imops_spark.functions.dedup import minhash_signatures_df

    docs = _docs(spark, extra=[(AWKWARD, F.col("doc_id") * 10)])
    out = minhash_signatures_df(docs, num_hashes=4, carry=(AWKWARD,))
    rows = {r["doc_id"]: r[AWKWARD] for r in out.collect()}
    assert rows == {1: 10, 2: 20, 3: 30}
    # identical signatures with and without the carry column
    plain = minhash_signatures_df(docs.select("doc_id", "text"), num_hashes=4)
    assert sorted(map(tuple, out.drop(AWKWARD).collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_band_entries_carry_awkward_name(spark):
    from imops_spark.functions.dedup import band_entries_df, minhash_signatures_df

    docs = _docs(spark, extra=[(AWKWARD, F.lit("x"))])
    sigs = minhash_signatures_df(docs, num_hashes=4, carry=(AWKWARD,))
    out = band_entries_df(sigs, bands=2, rows_per_band=2, carry=(AWKWARD,))
    assert out.columns == ["doc_id", AWKWARD, "band", "band_key"]
    assert out.filter(F.col(f"`{AWKWARD}`") == "x").count() == out.count() > 0


def test_minhash_char_arrow_carry_awkward_name(spark):
    # the Arrow kernel crosses mapInPandas, whose internal df[name]
    # parses dots as struct paths — pins the map_in_pandas_renamed route
    from imops_spark.functions.dedup import minhash_signatures_char_df, normalized_text

    docs = _docs(spark, extra=[(AWKWARD, F.col("doc_id") * 10)])
    out = minhash_signatures_char_df(docs, num_hashes=4, k=3, carry=(AWKWARD,))
    rows = {r["doc_id"]: r[AWKWARD] for r in out.collect()}
    assert rows == {1: 10, 2: 20, 3: 30}
    # Spark's own xxhash64 expression over the normalized text
    plain = (
        docs.select("doc_id", normalized_text().alias("nt"))
        .filter(F.length("nt") >= 3)
        .selectExpr(
            "doc_id",
            *[
                "array_min(transform(sequence(1, length(nt) - 2),"
                f" p -> xxhash64(substring(nt, p, 3), {i}))) AS mh{i}"
                for i in range(4)
            ],
        )
    )
    assert sorted(map(tuple, out.drop(AWKWARD).collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_winnow_arrow_vs_window_carry_awkward_name(spark):
    from imops_spark.functions.text import winnow_fp_set_df

    docs = _docs(spark, extra=[(AWKWARD, F.col("doc_id") + 7)])
    out = winnow_fp_set_df(
        docs, carry=(AWKWARD,), hash_fn="xxhash64", strategy="arrow"
    )
    assert set(out.columns) == {"doc_id", AWKWARD, "fp"}
    win = winnow_fp_set_df(
        docs, carry=(AWKWARD,), hash_fn="xxhash64", strategy="window"
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, win.collect()))


def test_winnow_carry_awkward_name(spark):
    from imops_spark.functions.text import winnow_fp_set_df

    docs = _docs(spark, extra=[(AWKWARD, F.col("doc_id") + 7)])
    out = winnow_fp_set_df(docs, carry=(AWKWARD,))
    assert set(out.columns) == {"doc_id", AWKWARD, "fp"}
    assert {r[AWKWARD] for r in out.select(f"`{AWKWARD}`").distinct().collect()} == {8, 9, 10}


@pytest.mark.parametrize(
    "fn,bad",
    [
        ("minhash", "t"),
        ("minhash", "shingles"),
        ("minhash", "mh0"),
        ("minhash", "__d0"),
        ("winnow", "nt"),
        ("winnow", "fps"),
    ],
)
def test_reserved_carry_names_raise(spark, fn, bad):
    from imops_spark.functions.dedup import minhash_signatures_df
    from imops_spark.functions.text import winnow_fp_set_df

    docs = _docs(spark, extra=[(bad, F.lit(0))])
    with pytest.raises(ValueError, match="reserved|collides"):
        if fn == "minhash":
            minhash_signatures_df(docs, num_hashes=4, carry=(bad,)).collect()
        else:
            winnow_fp_set_df(docs, carry=(bad,)).collect()


# ----------------------------------------------- append-mode session windows


def test_session_append_watermark_eviction_and_late_drop(spark, tmp_path):
    """Append-mode session_window with REAL watermark eviction across
    micro-batches (maxFilesPerTrigger=1):

    - batch 0 opens user 1's session (t=1000..1100, gap 30 min, wm 10 min);
    - batch 1 (t=10000) advances the watermark to 9400, past the session
      end 1100+1800=2900;
    - batch 2 (t=20000) runs WITH wm 9400 -> user 1's session is EMITTED
      (exactly once, only its batch-0 events) and its state evicted;
    - batch 3 carries a LATE row for user 1 at t=1500 (inside the emitted
      session's span, far below the watermark): it must be DROPPED — no
      new user-1 session, no re-emission, no extension.  (A late row
      arriving in the SAME batch as the first eviction opportunity is
      still merged — Spark evicts at batch end, after merging that
      batch's input; the drop guarantee starts one batch later.)
    - batch 4 (t=100000) flushes users 2 and 4; user 3's own session
      stays open at termination and is never emitted.
    """
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from imops_spark.streaming.events import run_stream_to_memory, session_agg_stream

    d = tmp_path / "sessstream"
    d.mkdir()
    batches = [
        pd.DataFrame({"user_id": [1, 1], "value": [10.0, 20.0], "ts": [1000, 1100]}),
        pd.DataFrame({"user_id": [2], "value": [5.0], "ts": [10000]}),
        pd.DataFrame({"user_id": [4], "value": [1.0], "ts": [20000]}),
        pd.DataFrame({"user_id": [1], "value": [99.0], "ts": [1500]}),  # late
        pd.DataFrame({"user_id": [3], "value": [7.0], "ts": [100000]}),
    ]
    for i, b in enumerate(batches):
        pq.write_table(pa.Table.from_pandas(b, preserve_index=False), d / f"b{i}.parquet")
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("user_id long, value double, ts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .withColumn("ts_t", F.timestamp_seconds("ts"))
    )
    out = session_agg_stream(stream, gap_minutes=30, watermark="10 minutes")
    got = run_stream_to_memory(out, "sess_evict_gate", spark, mode="append")
    rows = {
        (r["user_id"], r["start_sec"], r["end_sec"], r["n_events"], r["sum_value"])
        for r in got.collect()
    }
    # user 1: exactly the batch-0 session, WITHOUT the late t=1500 row
    assert (1, 1000, 1100 + 1800, 2, 30.0) in rows
    assert sum(1 for r in rows if r[0] == 1) == 1
    # users 2 and 4 flushed by batch 4's far-future row
    assert (2, 10000, 11800, 1, 5.0) in rows
    assert (4, 20000, 21800, 1, 1.0) in rows
    # user 3 (the flush row) still open at termination -> not emitted
    assert all(r[0] != 3 for r in rows)


# ----------------------------------------------- footer-based count estimate


def test_row_count_estimate_footer_vs_job(spark):
    """_row_count_estimate: a parquet-backed frame is counted from file
    footers (driver-side metadata, no Spark job); a non-file frame falls
    back to count(); a filtered scan returns the PRE-filter footer count
    (documented: block sizing only)."""
    from imops_spark.functions.dedup import _row_count_estimate

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    true_n = emb.count()
    assert _row_count_estimate(emb) == true_n

    local = spark.range(123)
    assert _row_count_estimate(local) == 123

    filtered = emb.filter("vec_id % 2 = 0")
    assert _row_count_estimate(filtered) == true_n  # pre-filter footer count


def test_text_chars_estimate_footer_upper_bound(spark):
    """_text_chars_estimate: parquet-backed docs estimate from the text
    column chunks' footer sizes — an UPPER bound on sum(length(text))
    (the exchange-sizing contract: oversizing costs small tasks,
    undersizing spills) and not absurdly loose on plain-encoded text;
    non-file frames and missing columns return None (caller pays the
    aggregation job)."""
    from imops_spark.functions.dedup import _text_chars_estimate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    true_chars = docs.selectExpr("sum(length(text))").first()[0]
    est = _text_chars_estimate(docs)
    assert est is not None
    assert est >= true_chars
    assert est <= 4 * true_chars

    local = spark.createDataFrame(
        [(1, "hello world")], "doc_id long, text string"
    )
    assert _text_chars_estimate(local) is None

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert _text_chars_estimate(emb) is None


def test_gram_sizing_prepass_launches_no_job(spark):
    """Building the window-form winnow and the spans operator over a
    parquet-backed frame must not launch a Spark job for the raw_chars
    sizing pre-pass (the footer path replaced a full text-column
    scan+aggregate per call): build the frames (no action) inside a job
    group and assert the group stays empty."""
    from imops_spark.functions.dedup import duplicate_spans_df
    from imops_spark.functions.text import winnow_fp_set_df

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sc = spark.sparkContext
    sc.setJobGroup("gram_sizing_probe", "build-only probe")
    try:
        winnow_fp_set_df(docs, strategy="window")
        duplicate_spans_df(docs, k=20, min_docs=2)
        ids = sc.statusTracker().getJobIdsForGroup("gram_sizing_probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(ids) == []


def test_embedding_near_dup_no_count_job(spark):
    """Auto block sizing must not launch a Spark count job for a
    parquet-backed embeddings frame (the footer path): assert via the
    sparkContext job-group-free listener proxy — simply that results still
    match an explicit num_blocks (block-count invariance already pinned
    elsewhere)."""
    from imops_spark.functions.dedup import embedding_near_dup_df

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    auto = embedding_near_dup_df(emb, threshold=0.9)
    fixed = embedding_near_dup_df(emb, threshold=0.9, num_blocks=3)
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, fixed.collect()))


# -------------------------------------------- update-mode uniqueness w/ CDC


def test_unique_docs_update_sink_assert_then_retract(spark, tmp_path):
    """start_unique_docs_update_sink: doc 1 arrives alone in batch 0 and is
    ASSERTED unique; its near-duplicate arrives in batch 1 -> a RETRACTION
    event for doc 1 is emitted and the status table flips it to
    is_unique=false.  An unrelated doc stays unique throughout."""
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from imops_spark.streaming.dedup import start_unique_docs_update_sink

    dup_text = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a very long tune about data pipelines and their many shuffles"
    )
    other = "completely different content with no overlapping shingles at all here"
    d = tmp_path / "docs"
    d.mkdir()
    batches = [
        pd.DataFrame({"doc_id": [1, 2], "text": [dup_text, other]}),
        pd.DataFrame({"doc_id": [3], "text": [dup_text + " extra"]}),
    ]
    for i, b in enumerate(batches):
        pq.write_table(pa.Table.from_pandas(b, preserve_index=False), d / f"b{i}.parquet")
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    table = "uniq_update_idx_test"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = start_unique_docs_update_sink(
            stream, table,
            status_path=str(tmp_path / "status"),
            log_path=str(tmp_path / "log"),
            index_path=str(tmp_path / "idx"),
            checkpoint=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(180)
        log = spark.read.parquet(str(tmp_path / "log"))
        events = {
            (r["batch_id"], r["doc_id"], r["is_unique"]) for r in log.collect()
        }
        assert (0, 1, True) in events      # asserted unique
        assert (0, 2, True) in events
        assert (1, 1, False) in events     # RETRACTED when the mate arrived
        assert (1, 3, False) in events     # the mate lands already-dup
        status = {
            r["doc_id"]: r["is_unique"]
            for r in spark.read.parquet(str(tmp_path / "status")).collect()
        }
        assert status == {1: False, 2: True, 3: False}
        # fold-by-latest over the log equals the status table
        folded = {
            r["doc_id"]: r["is_unique"]
            for r in log.orderBy("batch_id").collect()
        }
        assert folded == status
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_lsh_index_hash_family_stamped_and_guarded(spark, tmp_path):
    """The index stores its hash family: cross-family probes and appends
    RAISE (band keys from different families can never align — a silent
    mixed-family index returns incomplete candidates), and an xxhash64
    index probes identically to an md5 index on the same corpus."""
    from imops_spark.functions.dedup import (
        _lsh_stored_props,
        lsh_query_index,
        lsh_write_index,
    )

    docs = _docs(spark)
    for fam, other in (("md5", "xxhash64"), ("xxhash64", "md5")):
        table = f"lsh_fam_{fam}"
        try:
            lsh_write_index(
                docs, table, num_hashes=8, bands=4, rows_per_band=2,
                path=str(tmp_path / f"idx_{fam}"), hash_fn=fam,
            )
            assert _lsh_stored_props(spark, table)["hash_fn"] == fam
            with pytest.raises(ValueError, match="built with"):
                lsh_query_index(
                    spark, table, docs, num_hashes=8, bands=4,
                    rows_per_band=2, hash_fn=other,
                )
            with pytest.raises(ValueError, match="built with"):
                lsh_write_index(
                    docs, table, num_hashes=8, bands=4, rows_per_band=2,
                    mode="append", hash_fn=other,
                )
            # self-probe finds the same cross pairs under either family
            got = {
                (r["index_doc_id"], r["probe_doc_id"])
                for r in lsh_query_index(
                    spark, table, docs, num_hashes=8, bands=4,
                    rows_per_band=2, hash_fn=fam,
                ).collect()
            }
            assert got, "planted duplicates must collide"
            if fam == "md5":
                md5_pairs = got
            else:
                assert got == md5_pairs
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
