"""Tests for the Structured Streaming surface and multimodal plumbing."""

import numpy as np
import pytest

SF = "/root/testdata/sf0.001"


def test_windowed_counts_stream_matches_batch(spark):
    from imops_spark.functions.events import load_events, tumbling_window_df
    from imops_spark.streaming.events import (
        run_stream_to_memory,
        stream_events,
        windowed_counts_stream,
    )

    stream = stream_events(spark, SF)
    agg = windowed_counts_stream(stream, minutes=5)
    got = run_stream_to_memory(agg, "win_counts", spark, mode="complete")
    got_rows = {
        (r["win_start"] // 300, r["event_type"]): (r["n"], round(r["sum_value"], 4))
        for r in got.collect()
    }
    batch = tumbling_window_df(load_events(spark, SF), minutes=5)
    exp_rows = {
        (r["win"], r["event_type"]): (r["n"], round(r["sum_value"], 4))
        for r in batch.collect()
    }
    assert got_rows == exp_rows


def test_dedup_stream(spark):
    from imops_spark.streaming.events import dedup_stream, run_stream_to_memory, stream_events

    stream = stream_events(spark, SF)
    out = run_stream_to_memory(dedup_stream(stream), "dedup_ev", spark, mode="append")
    rows = out.select("user_id", "event_type").collect()
    pairs = [(r["user_id"], r["event_type"]) for r in rows]
    assert len(pairs) == len(set(pairs))
    assert len(pairs) > 0


def test_multimodal_features_and_resize(spark):
    from imops_spark.functions.multimodal import (
        fake_decode_image,
        image_features_df,
        make_items,
        resize_images_df,
    )

    items = [
        {"item_id": i, "modality": "image", "data": bytes([i]) * 64,
         "width": 16, "height": 12, "channels": 3, "format": "fake"}
        for i in range(4)
    ]
    df = make_items(spark, items)
    feats = {r["item_id"]: r for r in image_features_df(df).collect()}
    assert set(feats) == {0, 1, 2, 3}
    for i in range(4):
        img = fake_decode_image(bytes([i]) * 64, 16, 12, 3).astype(np.float64)
        assert abs(feats[i]["mean_c0"] - img[..., 0].mean()) < 1e-9

    resized = resize_images_df(df, out_w=8, out_h=6).collect()
    assert len(resized) == 4
    for r in resized:
        assert r["meta"]["width"] == 8 and r["meta"]["height"] == 6
        assert len(r["data"]) == 8 * 6 * 3


def test_multimodal_real_decode_raw_u8(spark):
    """decode='real' on raw_u8 payloads is a dependency-free buffer
    reinterpret — features must match a numpy re-derivation exactly."""
    from imops_spark.functions.multimodal import image_features_df, make_items

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
    df = make_items(
        spark,
        [{"item_id": 7, "modality": "image", "data": img.tobytes(),
          "width": 8, "height": 6, "channels": 3, "format": "raw_u8"}],
    )
    (row,) = image_features_df(df, decode="real").collect()
    f = img.astype(np.float64)
    assert row["item_id"] == 7
    assert abs(row["mean_c0"] - f[..., 0].mean()) < 1e-9
    assert abs(row["std_c0"] - f[..., 0].std()) < 1e-9
    assert abs(row["frac_dark"] - (f.mean(axis=-1) < 32).mean()) < 1e-9


def test_multimodal_real_decode_encoded(spark):
    """Encoded payloads decode via lazily-imported PIL when present; without
    Pillow the kernel raises NotImplementedError (documented contract)."""
    from imops_spark.functions.multimodal import image_features_df, make_items

    try:
        import io

        from PIL import Image

        have_pil = True
    except ImportError:
        have_pil = False

    if not have_pil:
        df = make_items(
            spark,
            [{"item_id": 0, "modality": "image", "data": b"x" * 16,
              "width": 4, "height": 4, "channels": 1, "format": "png"}],
        )
        with pytest.raises(Exception):  # NotImplementedError surfaces via Py4J
            image_features_df(df, decode="real").collect()
        pytest.skip("Pillow not installed; raise-path verified")

    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    buf = io.BytesIO()
    Image.fromarray(img).save(buf, format="PNG")
    df = make_items(
        spark,
        [{"item_id": 1, "modality": "image", "data": buf.getvalue(),
          "width": 7, "height": 5, "channels": 3, "format": "png"}],
    )
    (row,) = image_features_df(df, decode="real").collect()
    assert abs(row["mean_c0"] - img[..., 0].astype(np.float64).mean()) < 1e-9


def test_frame_sampling(spark):
    from imops_spark.functions.multimodal import make_items, sample_frames_df

    payload = bytes(range(100)) * 6  # 600 bytes, 6 frames of 100
    df = make_items(
        spark,
        [{"item_id": 7, "modality": "video", "data": payload, "n_frames": 6, "format": "fake"}],
    )
    frames = sample_frames_df(df, every_n=2).collect()
    assert [r["frame_index"] for r in sorted(frames, key=lambda r: r["frame_index"])] == [0, 2, 4]
    for r in frames:
        assert len(r["frame_data"]) == 100


def _python_sessions(spark, gap: int = 1800):
    """Independent pure-python sessionizer over the raw events table."""
    from imops_spark.functions.events import load_events

    pdf = load_events(spark, SF).select("user_id", "event_id", "ts_sec").toPandas()
    sessions = {}  # user -> list of (seq, n, min_eid, last_ts)
    for uid, grp in pdf.groupby("user_id"):
        rows = sorted(zip(grp["ts_sec"], grp["event_id"]))
        out, cur = [], None
        for ts, eid in rows:
            if cur is None or ts - cur["last"] > gap:
                if cur is not None:
                    out.append(cur)
                cur = {"n": 0, "min_eid": eid, "last": ts}
            cur["n"] += 1
            cur["min_eid"] = min(cur["min_eid"], eid)
            cur["last"] = ts
        out.append(cur)
        sessions[int(uid)] = [
            (i + 1, s["n"], int(s["min_eid"]), int(s["last"])) for i, s in enumerate(out)
        ]
    return sessions


def test_stateful_sessionize_stream_matches_batch(spark):
    """No-timeout drain: emitted == every session except each user's last."""
    from imops_spark.streaming.events import (
        run_stream_to_memory,
        sessionize_stateful_stream,
        stream_events,
    )

    out = sessionize_stateful_stream(stream_events(spark, SF), watermark="87600 hours")
    got = {
        (r["user_id"], r["session_seq"], r["n_events"], r["first_event_id"])
        for r in run_stream_to_memory(out, "sess_state_nt", spark).collect()
    }
    exp = {
        (uid, seq, n, eid)
        for uid, ss in _python_sessions(spark).items()
        for seq, n, eid, _last in ss[:-1]  # all but the open (last) session
    }
    assert got == exp
    assert len(got) > 0


def test_stateful_sessionize_stream_event_time_timeout(spark):
    """Default watermark: open sessions whose gap deadline fell behind the
    final watermark are additionally emitted via EventTimeTimeout."""
    from imops_spark.streaming.events import (
        run_stream_to_memory,
        sessionize_stateful_stream,
        stream_events,
    )

    out = sessionize_stateful_stream(stream_events(spark, SF), watermark="2 hours")
    got = {
        (r["user_id"], r["session_seq"], r["n_events"], r["first_event_id"])
        for r in run_stream_to_memory(out, "sess_state_to", spark).collect()
    }
    sessions = _python_sessions(spark)
    closed = {
        (uid, seq, n, eid)
        for uid, ss in sessions.items()
        for seq, n, eid, _last in ss[:-1]
    }
    max_ts = max(last for ss in sessions.values() for _s, _n, _e, last in ss)
    wm = max_ts - 7200
    timed_out = {
        (uid, *ss[-1][:3])
        for uid, ss in sessions.items()
        if (ss[-1][3] + 1800) * 1000 < wm * 1000
    }
    assert got == closed | timed_out


def test_events_loaders_dual_timestamp_precision(spark, tmp_path):
    """Both events loaders must survive TIMESTAMP(NANOS) (nanosAsLong long
    read path) AND TIMESTAMP(MICROS) (TIMESTAMP_NTZ read path) parquet with
    identical ``ts_sec`` — the testdata has flipped precision between harness
    rounds and only a dtype-dispatching loader copes with both."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from imops_spark.functions.events import load_events
    from imops_spark.streaming.events import run_stream_to_memory, stream_events

    base = pd.DataFrame(
        {
            "event_id": np.arange(6, dtype=np.int64),
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00.123456", "2024-01-01 00:00:59.999999",
                 "2024-01-01 00:01:00.000001", "2024-01-01 12:34:56.5",
                 "2024-02-29 23:59:59.999", "2024-03-01 00:00:00.000000"]
            ),
            "user_id": np.int64([1, 1, 2, 2, 3, 3]),
            "event_type": ["a", "b", "a", "b", "a", "b"],
            "value": np.float64([1.5, 2.5, 3.5, 4.5, 5.5, 6.5]),
            "props": ["{}"] * 6,
        }
    )
    expected = (base["ts"].astype("int64") // 1_000_000_000).tolist()

    got = {}
    for name, unit in [("nanos", "ns"), ("micros", "us")]:
        d = tmp_path / name
        d.mkdir()
        tbl = pa.Table.from_pandas(base, preserve_index=False)
        idx = tbl.schema.get_field_index("ts")
        tbl = tbl.set_column(idx, "ts", tbl.column("ts").cast(pa.timestamp(unit)))
        pq.write_table(tbl, d / "events.parquet", coerce_timestamps=None)
        # confirm the fixture really carries the intended physical precision
        assert pq.read_schema(d / "events.parquet").field("ts").type == pa.timestamp(unit)

        batch = load_events(spark, str(d))
        b = {r["event_id"]: r["ts_sec"] for r in batch.select("event_id", "ts_sec").collect()}
        streamed = run_stream_to_memory(
            stream_events(spark, str(d)), f"dual_ts_{name}", spark, mode="append"
        )
        s = {r["event_id"]: r["ts_sec"] for r in streamed.select("event_id", "ts_sec").collect()}
        assert b == s == dict(enumerate(expected)), name
        got[name] = b
    assert got["nanos"] == got["micros"]


def test_audio_features_pcm16(spark):
    """PCM16 decodes natively (no codec library): features must match a numpy
    re-derivation exactly."""
    from imops_spark.functions.multimodal import audio_features_df, make_items

    rng = np.random.default_rng(9)
    sr = 8000
    pcm = (rng.standard_normal(sr * 2) * 8000).clip(-32768, 32767).astype(np.int16)
    items = [
        {"item_id": 3, "modality": "audio", "data": pcm.tobytes(),
         "sample_rate": sr, "format": "pcm16"},
        # an image row must be filtered out, not crash the audio kernel
        {"item_id": 4, "modality": "image", "data": b"\0" * 12,
         "width": 2, "height": 2, "channels": 3, "format": "fake"},
    ]
    (row,) = audio_features_df(make_items(spark, items)).collect()
    x = pcm.astype(np.float64) / 32768.0
    assert row["item_id"] == 3
    assert abs(row["duration_s"] - 2.0) < 1e-12
    assert abs(row["rms"] - np.sqrt(np.mean(x * x))) < 1e-12
    assert abs(row["peak"] - np.abs(x).max()) < 1e-12
    assert abs(row["zcr"] - np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) < 1e-12


def test_stateful_sessionize_across_micro_batches(spark, tmp_path):
    """Split the events into three time-ordered files and process them one
    file per micro-batch: open sessions must carry through state across
    batch boundaries (the continuation path), and the final emitted set must
    still be every session except each user's last."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from imops_spark.functions.events import load_events
    from imops_spark.streaming.events import (
        run_stream_to_memory,
        sessionize_stateful_stream,
    )
    from pyspark.sql import functions as F

    ev = load_events(spark, SF)
    pdf = ev.select("event_id", "ts_sec", "user_id").toPandas().sort_values("ts_sec")
    cuts = [pdf["ts_sec"].quantile(q) for q in (1 / 3, 2 / 3)]
    d = tmp_path / "mb"
    d.mkdir()
    for i, part in enumerate(
        [
            pdf[pdf["ts_sec"] <= cuts[0]],
            pdf[(pdf["ts_sec"] > cuts[0]) & (pdf["ts_sec"] <= cuts[1])],
            pdf[pdf["ts_sec"] > cuts[1]],
        ]
    ):
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), d / f"b{i}.parquet")
        _time.sleep(1.1)  # file-source orders batches by modification time

    stream = (
        spark.readStream.schema("event_id long, ts_sec long, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .withColumn("ts_t", F.timestamp_seconds(F.col("ts_sec")))
    )
    out = sessionize_stateful_stream(stream, watermark="87600 hours")
    got = {
        (r["user_id"], r["session_seq"], r["n_events"], r["first_event_id"])
        for r in run_stream_to_memory(out, "sess_mb", spark).collect()
    }
    exp = {
        (uid, seq, n, eid)
        for uid, ss in _python_sessions(spark).items()
        for seq, n, eid, _last in ss[:-1]
    }
    assert got == exp and len(got) > 0


def test_interval_join_stream_buffers_across_micro_batches(spark, tmp_path):
    """Stream-stream interval join must BUFFER unmatched rows as state: a
    click arriving in micro-batch 0 must still match a purchase that only
    arrives in micro-batch 1 (and vice versa for the purchase-first file
    split).  The drained one-shot result must equal the batch interval join
    computed in plain pandas."""
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from imops_spark.streaming.events import interval_join_stream, run_stream_to_memory

    # user 1: click @100 (batch 0) <- purchase @200 (batch 1): cross-batch match
    # user 2: purchase @150 (batch 0) <- click @160 (batch 1): right side late,
    #         NO match (click after purchase)
    # user 2: click @120 (batch 1) -> purchase @150 (batch 0): cross-batch,
    #         right row arrives AFTER the left row's batch
    # user 3: click @100, purchase @5000 (both batch 1): outside 30 min window
    b0 = pd.DataFrame(
        {
            "event_id": [10, 20],
            "user_id": [1, 2],
            "event_type": ["click", "purchase"],
            "ts_sec": [100, 150],
        }
    )
    b1 = pd.DataFrame(
        {
            "event_id": [11, 21, 22, 30, 31],
            "user_id": [1, 2, 2, 3, 3],
            "event_type": ["purchase", "click", "click", "click", "purchase"],
            "ts_sec": [200, 160, 120, 100, 5000],
        }
    )
    d = tmp_path / "ssj"
    d.mkdir()
    for i, b in enumerate([b0, b1]):
        pq.write_table(pa.Table.from_pandas(b, preserve_index=False), d / f"b{i}.parquet")
        _time.sleep(1.1)  # file-source orders batches by modification time

    def src():
        return (
            spark.readStream.schema("event_id long, user_id long, event_type string, ts_sec long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
            .withColumn("ts_t", F.timestamp_seconds(F.col("ts_sec")))
        )

    out = interval_join_stream(
        src().where(F.col("event_type") == "purchase"),
        src().where(F.col("event_type") == "click"),
        window_minutes=30,
    )
    got = {
        (r["user_id"], r["l_event_id"], r["r_event_id"], r["lag_sec"])
        for r in run_stream_to_memory(out, "ssj_mb", spark, mode="append").collect()
    }
    both = pd.concat([b0, b1], ignore_index=True)
    p = both[both["event_type"] == "purchase"]
    c = both[both["event_type"] == "click"]
    m = p.merge(c, on="user_id", suffixes=("_p", "_c"))
    m = m[(m["ts_sec_c"] >= m["ts_sec_p"] - 1800) & (m["ts_sec_c"] <= m["ts_sec_p"])]
    exp = {
        (r.user_id, r.event_id_p, r.event_id_c, r.ts_sec_p - r.ts_sec_c)
        for r in m.itertuples()
    }
    assert got == exp
    # the load-bearing cases really are cross-batch
    assert (1, 11, 10, 100) in got and (2, 20, 22, 30) in got


def test_watermark_drops_late_events(spark, tmp_path):
    """Pin watermark late-data semantics: an event older than the watermark
    arriving in a later micro-batch is DROPPED from the windowed aggregate
    (a batch recomputation over the same rows would count it — the
    difference is exactly the watermark contract).

    Batch 0 fills window [0, 300) with 3 events; batch 1 advances event time
    to t=10000 (watermark delay is 10 s); batch 2 advances it again, and —
    because the late-row filter uses the PREVIOUS batch's watermark while
    eviction uses the current one — this is the batch that finalizes and
    emits the [0, 300) window; batch 3 then delivers a late event at t=50
    plus a fresh one at t=10050.  Append-mode output must contain the
    [0, 300) window with n=3 exactly once — the late event must neither bump
    nor re-open the finalized window (numRowsDroppedByWatermark path).
    """
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pandas as pd
    from pyspark.sql import functions as F

    from imops_spark.streaming.events import run_stream_to_memory, windowed_counts_stream

    d = tmp_path / "late"
    d.mkdir()
    batches = [
        pd.DataFrame({"ts_sec": [10, 50, 120], "event_type": ["a"] * 3, "value": [1.0] * 3}),
        pd.DataFrame({"ts_sec": [10000], "event_type": ["a"], "value": [1.0]}),
        pd.DataFrame({"ts_sec": [10010], "event_type": ["a"], "value": [1.0]}),
        pd.DataFrame({"ts_sec": [50, 10050], "event_type": ["a", "a"], "value": [1.0, 1.0]}),
    ]
    for i, b in enumerate(batches):
        pq.write_table(pa.Table.from_pandas(b, preserve_index=False), d / f"b{i}.parquet")
        _time.sleep(1.1)  # file-source orders batches by modification time

    stream = (
        spark.readStream.schema("ts_sec long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .withColumn("ts_t", F.timestamp_seconds(F.col("ts_sec")))
    )
    agg = windowed_counts_stream(stream, minutes=5, watermark="10 seconds")
    out = run_stream_to_memory(agg, "late_drop", spark, mode="append")
    rows = {r["win_start"]: r["n"] for r in out.collect()}
    # the finalized [0, 300) window counts only the 3 on-time events
    assert rows[0] == 3
    # the late t=50 event created no extra emission for that window
    assert sum(1 for w in rows if w == 0) == 1


def test_stream_parquet_sink_with_checkpoint(spark, tmp_path):
    """Streaming parquet SINK with a checkpoint: windowed aggregates written
    append-mode to parquet files, restartable exactly-once via the
    checkpointLocation — the write path a production pipeline pairs with the
    file/Kafka source.  A second availableNow run against the same checkpoint
    must be a no-op (no duplicate rows), proving the commit log works."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    import time as _time
    from pyspark.sql import functions as F

    from imops_spark.streaming.events import windowed_counts_stream

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        pd.DataFrame({"ts_sec": [10, 50, 120], "event_type": ["a"] * 3, "value": [1.0] * 3}),
        pd.DataFrame({"ts_sec": [10000], "event_type": ["a"], "value": [1.0]}),
        pd.DataFrame({"ts_sec": [10010], "event_type": ["a"], "value": [1.0]}),
    ]
    for i, b in enumerate(batches):
        pq.write_table(pa.Table.from_pandas(b, preserve_index=False), src / f"b{i}.parquet")
        _time.sleep(1.1)

    def run_once():
        stream = (
            spark.readStream.schema("ts_sec long, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .withColumn("ts_t", F.timestamp_seconds(F.col("ts_sec")))
        )
        agg = windowed_counts_stream(stream, minutes=5, watermark="10 seconds")
        q = (
            agg.writeStream.format("parquet")
            .option("path", str(tmp_path / "sink"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = [tuple(r) for r in spark.read.parquet(str(tmp_path / "sink")).collect()]
    assert (0, "a", 3, 3.0) in first
    run_once()  # replay against the same checkpoint: must not duplicate
    second = [tuple(r) for r in spark.read.parquet(str(tmp_path / "sink")).collect()]
    assert sorted(second) == sorted(first)


def test_lsh_pairs_stream_matches_batch(spark, tmp_path):
    """Streaming ingestion near-dup: documents drained through the stateful
    per-bucket operator in three micro-batches must yield exactly the batch
    lsh_candidate_pairs_df pair set (after cross-band distinct), with open
    bucket state carrying across batch boundaries."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from imops_spark.functions.dedup import lsh_candidate_pairs_df, minhash_signatures_df
    from imops_spark.streaming.dedup import lsh_pairs_stream
    from imops_spark.streaming.events import run_stream_to_memory

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    pdf = docs.toPandas().sort_values("doc_id")
    d = tmp_path / "docstream"
    d.mkdir()
    n = len(pdf)
    for i, part in enumerate([pdf.iloc[: n // 3], pdf.iloc[n // 3 : 2 * n // 3], pdf.iloc[2 * n // 3 :]]):
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), d / f"b{i}.parquet")
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = lsh_pairs_stream(stream, num_hashes=8, bands=4, rows_per_band=2)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in run_stream_to_memory(out, "lsh_stream", spark).collect()
    }
    exp = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs_df(
            minhash_signatures_df(docs, num_hashes=8), bands=4, rows_per_band=2
        ).collect()
    }
    assert got == exp
    assert len(got) > 0


def test_verified_near_dup_stream_matches_batch(spark, tmp_path):
    """Streaming candidates + stream-static Jaccard verification must equal
    the batch pipeline (LSH pairs -> ngram_jaccard -> threshold)."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from imops_spark.functions.dedup import (
        lsh_candidate_pairs_df,
        minhash_signatures_df,
        ngram_jaccard_df,
    )
    from imops_spark.streaming.dedup import verified_near_dup_stream
    from imops_spark.streaming.events import run_stream_to_memory

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    pdf = docs.toPandas().sort_values("doc_id")
    d = tmp_path / "vstream"
    d.mkdir()
    n = len(pdf)
    for i, part in enumerate([pdf.iloc[: n // 2], pdf.iloc[n // 2 :]]):
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), d / f"b{i}.parquet")
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    thr = 0.3
    out = verified_near_dup_stream(stream, docs, threshold=thr)
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in run_stream_to_memory(out, "vnd_stream", spark).collect()
    }
    pairs = lsh_candidate_pairs_df(minhash_signatures_df(docs, num_hashes=8), bands=4, rows_per_band=2)
    exp = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_df(docs, pairs).filter(f"jaccard >= {thr}").collect()
    }
    assert got == exp
    assert len(got) > 0


def test_lsh_persisted_index_matches_inline_and_skips_index_shuffle(spark, tmp_path):
    """lsh_write_index / lsh_query_index: probing a persisted band index with
    a batch of new documents yields exactly the cross pairs of the inline
    batch LSH over the union corpus, and the probe join's executed plan reads
    the index through its bucketing (no exchange on the index side)."""
    from pyspark.sql import functions as F

    from imops_spark.functions.dedup import (
        lsh_candidate_pairs_df,
        lsh_query_index,
        lsh_write_index,
        minhash_signatures_df,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lsh_write_index(
            hist, "lsh_idx_test", num_hashes=8, bands=4, rows_per_band=2,
            path=str(tmp_path / "lshidx"),
        )
        got_df = lsh_query_index(
            spark, "lsh_idx_test", new, num_hashes=8, bands=4, rows_per_band=2
        )
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in plan, plan
        got = {(r["index_doc_id"], r["probe_doc_id"]) for r in got_df.collect()}
        # inline twin over the union corpus, restricted to cross pairs
        pairs = lsh_candidate_pairs_df(
            minhash_signatures_df(docs, num_hashes=8), bands=4, rows_per_band=2
        )
        exp = {
            (a, b) if a % 2 == 0 else (b, a)
            for a, b in (
                (r["doc_a"], r["doc_b"]) for r in pairs.collect()
            )
            if (a % 2) != (b % 2)
        }
        assert got == exp
        assert len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS lsh_idx_test")


def test_streaming_lsh_index_maintenance(spark, tmp_path):
    """start_lsh_index_maintenance: documents streamed in two micro-batches
    append band entries into the persisted bucketed index; a probe against
    the streamed index must equal a probe against the same index built in
    one batch write, and stay bucketed (no exchange on the index side)."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from imops_spark.functions.dedup import lsh_query_index, lsh_write_index
    from imops_spark.streaming.dedup import start_lsh_index_maintenance

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    pdf = hist.toPandas().sort_values("doc_id")
    d = tmp_path / "docstream"
    d.mkdir()
    n = len(pdf)
    for i, part in enumerate([pdf.iloc[: n // 2], pdf.iloc[n // 2 :]]):
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), d / f"b{i}.parquet")
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = start_lsh_index_maintenance(
            stream, "lsh_idx_stream", num_hashes=8, bands=4, rows_per_band=2,
            path=str(tmp_path / "lsh_idx_stream"),
            checkpoint=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
        got_df = lsh_query_index(
            spark, "lsh_idx_stream", new, num_hashes=8, bands=4, rows_per_band=2
        )
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in plan, plan
        got = {(r["index_doc_id"], r["probe_doc_id"]) for r in got_df.collect()}

        lsh_write_index(
            hist, "lsh_idx_batch", num_hashes=8, bands=4, rows_per_band=2,
            path=str(tmp_path / "lsh_idx_batch"),
        )
        exp = {
            (r["index_doc_id"], r["probe_doc_id"])
            for r in lsh_query_index(
                spark, "lsh_idx_batch", new, num_hashes=8, bands=4, rows_per_band=2
            ).collect()
        }
        assert got == exp
        assert len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS lsh_idx_stream")
        spark.sql("DROP TABLE IF EXISTS lsh_idx_batch")


def test_interval_join_stream_left_outer_watermark_flush(spark, tmp_path):
    """how='left_outer': an unmatched purchase emits a NULL-padded row, but
    only after the watermark (advanced by later batches) proves no in-window
    click can still arrive; matched rows emit immediately."""
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from imops_spark.streaming.events import interval_join_stream, run_stream_to_memory

    # user 1: purchase @100 with NO click -> outer row once watermark > 100
    # user 2: purchase @200 with click @150 -> inner match immediately
    # batches 1/2 only advance event time far enough (watermark delay 10 s,
    # window 30 min) for the final batch to evict and flush user 1's row
    b0 = pd.DataFrame(
        {
            "event_id": [10, 20, 21],
            "user_id": [1, 2, 2],
            "event_type": ["purchase", "purchase", "click"],
            "ts_sec": [100, 200, 150],
        }
    )
    b1 = pd.DataFrame(
        {"event_id": [90], "user_id": [9], "event_type": ["click"], "ts_sec": [50000]}
    )
    b2 = pd.DataFrame(
        {"event_id": [91], "user_id": [9], "event_type": ["click"], "ts_sec": [60000]}
    )
    d = tmp_path / "ssjlo"
    d.mkdir()
    for i, b in enumerate([b0, b1, b2]):
        pq.write_table(pa.Table.from_pandas(b, preserve_index=False), d / f"b{i}.parquet")
        _time.sleep(1.1)

    def src():
        return (
            spark.readStream.schema("event_id long, user_id long, event_type string, ts_sec long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
            .withColumn("ts_t", F.timestamp_seconds(F.col("ts_sec")))
        )

    out = interval_join_stream(
        src().where(F.col("event_type") == "purchase"),
        src().where(F.col("event_type") == "click"),
        window_minutes=30,
        watermark="10 seconds",
        how="left_outer",
    )
    rows = run_stream_to_memory(out, "ssj_lo", spark, mode="append").collect()
    got = {(r["user_id"], r["l_event_id"], r["r_event_id"], r["lag_sec"]) for r in rows}
    assert (2, 20, 21, 50) in got  # inner match
    assert (1, 10, None, None) in got  # watermark-flushed outer row
    assert len(got) == 2


def test_streaming_hll_distinct_matches_batch(spark):
    """Mergeable sketches are streaming-legal: an HLL distinct-user count
    per event type over the event STREAM (complete mode) must equal the
    batch sketch exactly — HLL registers are max-based, so the estimate is
    order-insensitive and micro-batching cannot change it."""
    from pyspark.sql import functions as F

    from imops_spark.streaming.events import run_stream_to_memory, stream_events

    agg = lambda df: df.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("approx_users"),
        F.count(F.lit(1)).alias("n"),
    )
    got = {
        (r["event_type"], r["approx_users"], r["n"])
        for r in run_stream_to_memory(
            agg(stream_events(spark, SF)), "hll_stream", spark, mode="complete"
        ).collect()
    }
    from imops_spark.functions.events import load_events

    exp = {(r["event_type"], r["approx_users"], r["n"]) for r in agg(load_events(spark, SF)).collect()}
    assert got == exp and len(got) == 5


def test_lsh_index_param_mismatch_raises(spark, tmp_path):
    """The persisted LSH index stores its banding parameters; probing with
    different ones must raise (a silent mismatch would miss every bucket),
    while matching probes work."""
    import pytest
    from pyspark.sql import functions as F

    from imops_spark.functions.dedup import lsh_query_index, lsh_write_index

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).limit(50)
    try:
        lsh_write_index(
            docs, "lsh_idx_props", num_hashes=8, bands=4, rows_per_band=2,
            path=str(tmp_path / "idx"),
        )
        with pytest.raises(ValueError, match="cannot align"):
            lsh_query_index(spark, "lsh_idx_props", docs, num_hashes=16, bands=4, rows_per_band=4)
        ok = lsh_query_index(spark, "lsh_idx_props", docs, num_hashes=8, bands=4, rows_per_band=2)
        assert ok.columns == ["index_doc_id", "probe_doc_id"]
    finally:
        spark.sql("DROP TABLE IF EXISTS lsh_idx_props")


def test_time_partitioned_sink_with_inline_compaction(spark, tmp_path):
    """start_time_partitioned_sink: four micro-batches land in hive day
    partitions; every 2nd batch runs compaction, so after the drain each
    partition holds ONE file while every row survives; a checkpoint replay
    appends nothing; and the layout stays compatible with the batch
    maintenance ops (compact_partitions reports nothing left to do)."""
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from imops_spark.sources.parquet import compact_partitions
    from imops_spark.streaming.events import start_time_partitioned_sink

    src = tmp_path / "src"
    src.mkdir()
    for i in range(4):
        b = pd.DataFrame(
            {
                "event_id": [i * 10 + j for j in range(3)],
                "ts_sec": [j % 2 * 86400 + i for j in range(3)],
                "value": [float(i)] * 3,
            }
        )
        pq.write_table(pa.Table.from_pandas(b, preserve_index=False), src / f"b{i}.parquet")
        _time.sleep(1.1)

    sink = str(tmp_path / "sink")

    def run_once():
        stream = (
            spark.readStream.schema("event_id long, ts_sec long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = start_time_partitioned_sink(
            stream,
            sink,
            checkpoint=str(tmp_path / "ckpt"),
            compact_every=2,
            target_file_bytes=1 << 30,
        )
        q.awaitTermination(120)

    run_once()

    def n_files(day):
        d = os.path.join(sink, f"event_date={day}")
        return len([f for f in os.listdir(d) if not f.startswith((".", "_"))])

    # compaction ran after the final (4th) batch -> one file per day
    assert n_files("1970-01-01") == 1 and n_files("1970-01-02") == 1
    back = spark.read.parquet(sink)
    assert back.count() == 12
    assert {r["event_id"] for r in back.collect()} == set(
        i * 10 + j for i in range(4) for j in range(3)
    )
    # nothing left for the batch maintenance job
    assert compact_partitions(spark, sink, target_file_bytes=1 << 30) == {}

    run_once()  # checkpoint replay: committed batches skipped, no dupes
    assert spark.read.parquet(sink).count() == 12


def test_daily_rollup_maintenance_recompute_is_idempotent(spark, tmp_path):
    """start_daily_rollup_maintenance: after draining 3 micro-batches across
    2 days, the rollup table equals a batch groupBy of the raw table; a
    late batch for an existing day REPLACES that day's rollup partition;
    checkpoint replay changes nothing (recompute-from-raw idempotence)."""
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from imops_spark.streaming.events import start_daily_rollup_maintenance

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        pd.DataFrame({"event_id": [1, 2], "ts_sec": [10, 86410],
                      "event_type": ["a", "b"], "value": [1.0, 2.0]}),
        pd.DataFrame({"event_id": [3], "ts_sec": [20],
                      "event_type": ["a"], "value": [4.0]}),
        pd.DataFrame({"event_id": [4], "ts_sec": [86420],
                      "event_type": ["a"], "value": [8.0]}),
    ]
    for i, b in enumerate(batches):
        pq.write_table(pa.Table.from_pandas(b, preserve_index=False), src / f"b{i}.parquet")
        _time.sleep(1.1)

    raw, roll = str(tmp_path / "raw"), str(tmp_path / "rollup")

    def run_once():
        stream = (
            spark.readStream.schema(
                "event_id long, ts_sec long, event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = start_daily_rollup_maintenance(
            stream, raw, roll, checkpoint=str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)

    run_once()
    got = {
        (str(r["event_date"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.read.parquet(roll).collect()
    }
    assert got == {
        ("1970-01-01", "a"): (2, 5.0),
        ("1970-01-02", "a"): (1, 8.0),
        ("1970-01-02", "b"): (1, 2.0),
    }
    # rollup == batch recompute of raw (the defining invariant)
    exp = {
        (str(r["event_date"]), r["event_type"]): (r["n"], r["s"])
        for r in spark.read.parquet(raw)
        .groupBy("event_date", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == exp

    run_once()  # checkpoint replay: no raw duplication, rollup unchanged
    assert spark.read.parquet(raw).count() == 4
    again = {
        (str(r["event_date"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.read.parquet(roll).collect()
    }
    assert again == got

    # CRASH-WINDOW replay: re-running the SAME batch_id (as the engine does
    # after a crash between the raw write and the checkpoint commit) must
    # overwrite the batch's own (event_date, _batch_id) partitions, never
    # append — raw count and rollup stay identical
    from imops_spark.streaming.events import _rollup_write_batch

    replay = spark.createDataFrame(
        [(3, 86420, "a", 8.0)], "event_id long, ts_sec long, event_type string, value double"
    )
    for _ in range(2):
        _rollup_write_batch(replay, 2, raw, roll, "ts_sec", "event_type", "value")
    assert spark.read.parquet(raw).count() == 4
    assert {
        (str(r["event_date"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.read.parquet(roll).collect()
    } == got

    # NULL timestamps land in the sentinel partition instead of killing
    # the maintenance job
    nulls = spark.createDataFrame(
        [(99, None, "a", 1.0)], "event_id long, ts_sec long, event_type string, value double"
    )
    _rollup_write_batch(nulls, 7, raw, roll, "ts_sec", "event_type", "value")
    back = spark.read.parquet(raw)
    assert back.filter("event_date = '__unknown__'").count() == 1
    assert back.count() == 5


def test_lsh_selfjoin_stream_matches_batch(spark, tmp_path):
    """Stream-stream SELF-join dedup: both sides of every pair arrive on the
    stream across three micro-batches; Spark's symmetric join state must
    buffer earlier batches so cross-batch pairs still emit, and the drained
    set must equal the batch LSH pairs (after cross-band distinct)."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from imops_spark.functions.dedup import lsh_candidate_pairs_df, minhash_signatures_df
    from imops_spark.streaming.dedup import lsh_pairs_selfjoin_stream
    from imops_spark.streaming.events import run_stream_to_memory

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    pdf = docs.toPandas().sort_values("doc_id")
    d = tmp_path / "sjstream"
    d.mkdir()
    n = len(pdf)
    thirds = [pdf.iloc[: n // 3], pdf.iloc[n // 3 : 2 * n // 3], pdf.iloc[2 * n // 3 :]]
    for i, part in enumerate(thirds):
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), d / f"b{i}.parquet")
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .withColumn(
            # deterministic event time, all inside the horizon; generous
            # watermark below so no batch-order lateness drops rows
            "ts_t",
            F.timestamp_seconds(F.lit(1_000_000) + F.col("doc_id") % 100),
        )
    )
    out = lsh_pairs_selfjoin_stream(
        stream, ts_col="ts_t", watermark="1 hour", horizon_minutes=60,
        num_hashes=8, bands=4, rows_per_band=2,
    )
    got_rows = run_stream_to_memory(out, "lsh_sjoin_stream", spark).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in got_rows}
    exp = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs_df(
            minhash_signatures_df(docs, num_hashes=8), bands=4, rows_per_band=2
        ).collect()
    }
    assert got == exp
    assert len(got) > 0
    # cross-batch coverage: at least one pair spans two different thirds —
    # provable only if the join buffered earlier batches
    tiers = {}
    for i, part in enumerate(thirds):
        for doc in part["doc_id"]:
            tiers[int(doc)] = i
    assert any(tiers[a] != tiers[b] for a, b in got), "no cross-batch pair emitted"


def test_session_window_stream_matches_batch(spark):
    """Native session_window aggregation on a STREAM (complete mode, one-shot
    drain) must equal the batch session_window aggregation — the built-in
    merge-on-gap windowing is the streaming-legal sessionizer next to the
    applyInPandasWithState formulation."""
    from pyspark.sql import functions as F

    from imops_spark.streaming.events import run_stream_to_memory, stream_events

    sf_dir = "/root/testdata/sf0.001"

    def sessions(ev):
        return (
            ev.groupBy("user_id", F.session_window("ts_t", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.unix_timestamp("w.start").alias("start_sec"),
                F.unix_timestamp("w.end").alias("end_sec"),
                "n_events",
            )
        )

    from imops_spark.functions.events import load_events

    batch = load_events(spark, sf_dir).withColumn(
        "ts_t", F.timestamp_seconds("ts_sec")
    )
    exp = {tuple(r) for r in sessions(batch).collect()}
    out = sessions(stream_events(spark, sf_dir))
    got = {
        tuple(r)
        for r in run_stream_to_memory(
            out, "session_native_stream", spark, mode="complete"
        ).collect()
    }
    assert got == exp
    assert len(got) > 0


def test_unique_docs_selfjoin_stream(spark, tmp_path):
    """Streaming uniqueness: left_outer stream-stream self-join stacked with
    a windowed all-NULL aggregation (Spark >= 3.5 multi-stateful append
    mode).  A sentinel batch far in the future flushes both watermarks; the
    emitted set must be exactly the batch LSH 'no candidate pair' docs."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from imops_spark.functions.dedup import lsh_candidate_pairs_df, minhash_signatures_df
    from imops_spark.streaming.dedup import unique_docs_selfjoin_stream
    from imops_spark.streaming.events import run_stream_to_memory

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    pdf = docs.toPandas().sort_values("doc_id")
    d = tmp_path / "ustream"
    d.mkdir()
    n = len(pdf)
    halves = [pdf.iloc[: n // 2], pdf.iloc[n // 2 :]]
    for i, part in enumerate(halves):
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), d / f"b{i}.parquet")
        _time.sleep(1.1)
    # sentinel: one far-future doc to push the watermark past
    # join-horizon + window-close for everything above
    import pandas as pd

    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame({"doc_id": [10**9], "text": ["sentinel flush document"]}),
            preserve_index=False,
        ),
        d / "b9.parquet",
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .withColumn(
            "ts_t",
            F.when(
                F.col("doc_id") < 10**9,
                F.timestamp_seconds(F.lit(1_000_000) + F.col("doc_id") % 100),
            ).otherwise(F.timestamp_seconds(F.lit(10_000_000))),
        )
    )
    out = unique_docs_selfjoin_stream(
        stream, ts_col="ts_t", watermark="10 seconds", horizon_minutes=60,
        window_minutes=120, num_hashes=8, bands=4, rows_per_band=2,
    )
    got = {
        int(r["doc_id"])
        for r in run_stream_to_memory(out, "unique_stream", spark).collect()
    }
    paired = lsh_candidate_pairs_df(
        minhash_signatures_df(docs, num_hashes=8), bands=4, rows_per_band=2
    )
    dup_ids = {
        int(r[0])
        for r in paired.selectExpr("doc_a AS d").union(paired.selectExpr("doc_b AS d")).collect()
    }
    all_ids = {int(x) for x in pdf["doc_id"]}
    exp = all_ids - dup_ids  # sentinel excluded: its window never flushes
    assert got == exp
    assert len(got) > 0


def test_lsh_selfjoin_stream_rejects_bad_how(spark):
    import pytest as _pytest

    from imops_spark.streaming.dedup import lsh_pairs_selfjoin_stream

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="inner/left_outer"):
        lsh_pairs_selfjoin_stream(docs, how="full_outer")


def test_contamination_stream_matches_batch(spark, tmp_path):
    """Ingestion-time decontamination across micro-batches: the streaming
    train side (2 files, maxFilesPerTrigger=1) joined against the static
    holdout must equal the batch contamination scan exactly — complete-mode
    aggregation re-emits the full pair table as state accumulates."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from imops_spark.functions.curate import contamination_pairs_df
    from imops_spark.streaming.curate import contamination_pairs_stream
    from imops_spark.streaming.events import run_stream_to_memory

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    train = docs.filter(F.col("doc_id") % 5 != 0)
    holdout = docs.filter(F.col("doc_id") % 5 == 0)
    pdf = train.toPandas().sort_values("doc_id")
    d = tmp_path / "contamstream"
    d.mkdir()
    n = len(pdf)
    for i, part in enumerate([pdf.iloc[: n // 2], pdf.iloc[n // 2 :]]):
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), d / f"b{i}.parquet")
        _time.sleep(1.1)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = contamination_pairs_stream(stream, holdout, min_shared=5)
    got = {
        tuple(r)
        for r in run_stream_to_memory(
            out, "contam_stream", spark, mode="complete"
        ).collect()
    }
    exp = {
        tuple(r) for r in contamination_pairs_df(train, holdout, min_shared=5).collect()
    }
    assert got == exp
    assert len(got) > 0


def test_winnow_fp_set_rowlocal_equivalence(spark):
    """Both row-local (Arrow kernel) winnowing entry points ≡ the batch
    window chain: winnow_fingerprints_df matches the full (doc, pos, fp)
    rows (incl. the leftmost tie-break), winnow_fp_set_df the distinct
    (doc, fp) projection — for default and non-default (k, window) and a
    degenerate window=1."""
    from imops_spark.functions.text import (
        winnow_fingerprints_df,
        winnow_fp_set_df,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    for k, w in [(8, 4), (5, 3), (8, 1)]:
        full = {
            tuple(r)
            for r in winnow_fingerprints_df(
                docs, k=k, window=w, strategy="window"
            ).collect()
        }
        local = {tuple(r) for r in winnow_fingerprints_df(docs, k=k, window=w).collect()}
        assert local == full and len(full) > 0
        a = {tuple(r) for r in winnow_fp_set_df(docs, k=k, window=w).collect()}
        b = {(r[0], r[2]) for r in full}
        assert a == b


def test_resample_audio_linear_interp(spark):
    """16k -> 24k (3/2): output samples must match the exact integer-split
    lerp re-derivation; the bytes must be the clipped int16 of those values;
    identity rate is a pass-through of the waveform."""
    import hashlib

    from imops_spark.functions.multimodal import make_items, resample_audio_df

    rng = np.random.default_rng(17)
    sr = 16000
    pcm = (rng.standard_normal(101) * 9000).clip(-32768, 32767).astype(np.int16)
    items = [
        {"item_id": 1, "modality": "audio", "data": pcm.tobytes(),
         "sample_rate": sr, "format": "pcm16"},
    ]
    (row,) = resample_audio_df(make_items(spark, items), target_rate=24000).collect()
    n = len(pcm)
    m = (n - 1) * 24000 // sr + 1
    assert (row["n_in"], row["n_out"], row["sr_in"], row["sr_out"]) == (
        n, m, sr, 24000,
    )
    x = pcm.astype(np.float64)
    pn = np.arange(m, dtype=np.int64) * sr
    idx = pn // 24000
    frac = (pn % 24000).astype(np.float64) / 24000.0
    xp = np.append(x, x[-1])
    vals = x[idx] + (xp[idx + 1] - x[idx]) * frac
    micro = np.round(vals * 1_000_000).astype(np.int64)
    want_hash = hashlib.md5(
        ",".join(str(int(v)) for v in micro).encode()
    ).hexdigest()
    assert row["samples_hash"] == want_hash
    got = np.frombuffer(row["data"], dtype="<i2")
    assert np.array_equal(
        got, np.clip(np.round(vals), -32768, 32767).astype(np.int16)
    )
    # every 3rd output sample (frac == 0 at j = 3k) is EXACTLY input
    # sample 2k: j*16000/24000 = 2j/3
    assert np.array_equal(got[::3], pcm[::2][: len(got[::3])])

    # identity rate: the waveform round-trips byte-identically
    (same,) = resample_audio_df(make_items(spark, items), target_rate=sr).collect()
    assert np.array_equal(np.frombuffer(same["data"], dtype="<i2"), pcm)


def test_resample_audio_edges(spark):
    import pytest as _pytest

    from imops_spark.functions.multimodal import make_items, resample_audio_df

    one = [
        {"item_id": 1, "modality": "audio",
         "data": np.int16([1234]).tobytes(), "sample_rate": 8000,
         "format": "pcm16"},
    ]
    (row,) = resample_audio_df(make_items(spark, one), target_rate=16000).collect()
    assert row["n_out"] == 1  # < 2 samples: pass-through, no interpolation
    assert np.frombuffer(row["data"], dtype="<i2").tolist() == [1234]

    bad = [
        {"item_id": 2, "modality": "audio", "data": b"xx",
         "sample_rate": 8000, "format": "mp3"},
    ]
    with _pytest.raises(Exception, match="only pcm16"):
        resample_audio_df(make_items(spark, bad), target_rate=16000).collect()
    with _pytest.raises(ValueError, match="target_rate"):
        resample_audio_df(make_items(spark, one), target_rate=0)

def test_audio_energy_segments_differential(spark):
    """audio_energy_segments_df == a pure-python frame/threshold/island
    re-derivation over random PCM16 clips, exact to the int64 energy."""
    from imops_spark.functions.multimodal import (
        audio_energy_segments_df,
        make_items,
    )

    rng = np.random.default_rng(23)
    clips = {
        i: (rng.standard_normal(rng.integers(5, 300)) * rng.integers(100, 20000))
        .clip(-32768, 32767)
        .astype(np.int16)
        for i in range(6)
    }
    items = [
        {"item_id": i, "modality": "audio", "data": pcm.tobytes(),
         "sample_rate": 8000, "format": "pcm16"}
        for i, pcm in clips.items()
    ]
    frame_len, thr, min_frames = 7, 400_000_000, 2

    def ref(pcm):
        x = pcm.astype(np.int64)
        energies = [
            int((x[k : k + frame_len] ** 2).sum())
            for k in range(0, len(x), frame_len)
        ]
        segs, run = [], []
        for fi, e in enumerate(energies + [None]):
            if e is not None and e >= thr:
                run.append((fi, e))
            elif run:
                if len(run) >= min_frames:
                    segs.append(
                        (run[0][0], run[-1][0], len(run), sum(e for _, e in run))
                    )
                run = []
        return [(s, e, nf, en, idx) for idx, (s, e, nf, en) in enumerate(segs)]

    got = {}
    for r in audio_energy_segments_df(
        make_items(spark, items), frame_len=frame_len, threshold=thr,
        min_frames=min_frames,
    ).collect():
        got.setdefault(r["item_id"], []).append(
            (r["start_frame"], r["end_frame"], r["n_frames"], r["energy"], r["seg"])
        )
    for i, pcm in clips.items():
        assert sorted(got.get(i, [])) == sorted(ref(pcm)), i


def test_audio_energy_segments_edges(spark):
    """Partial last frame counts with its real (shorter) energy; an
    all-silent clip emits nothing; empty payloads emit nothing; non-pcm16
    raises; bad params raise."""
    import pytest as _pytest

    from imops_spark.functions.multimodal import (
        audio_energy_segments_df,
        make_items,
    )

    # 10 samples of amplitude 100, frame_len 4 -> frames of 4, 4, 2 samples
    # with energies 40000, 40000, 20000: threshold 30000 keeps only the two
    # full frames (the partial last frame is BELOW, proving it is not padded)
    pcm = np.full(10, 100, dtype=np.int16)
    items = [
        {"item_id": 1, "modality": "audio", "data": pcm.tobytes(),
         "sample_rate": 8000, "format": "pcm16"},
        {"item_id": 2, "modality": "audio", "data": b"",
         "sample_rate": 8000, "format": "pcm16"},
        {"item_id": 3, "modality": "audio",
         "data": np.zeros(16, dtype=np.int16).tobytes(),
         "sample_rate": 8000, "format": "pcm16"},
    ]
    rows = audio_energy_segments_df(
        make_items(spark, items), frame_len=4, threshold=30_000, min_frames=1
    ).collect()
    assert [tuple(r) for r in rows] == [(1, 0, 0, 1, 2, 80_000)]

    # the partial frame passes a lower threshold and is its own segment
    rows2 = audio_energy_segments_df(
        make_items(spark, items[:1]), frame_len=4, threshold=15_000, min_frames=1
    ).collect()
    assert [tuple(r) for r in rows2] == [(1, 0, 0, 2, 3, 100_000)]

    bad = [{"item_id": 9, "modality": "audio", "data": b"xx",
            "sample_rate": 8000, "format": "ogg"}]
    with _pytest.raises(Exception, match="only pcm16"):
        audio_energy_segments_df(make_items(spark, bad)).collect()
    with _pytest.raises(ValueError, match="frame_len"):
        audio_energy_segments_df(make_items(spark, items), frame_len=0)
    with _pytest.raises(ValueError, match="min_frames"):
        audio_energy_segments_df(make_items(spark, items), min_frames=0)

def test_tile_images_matches_numpy(spark):
    """tile_images_df == direct numpy slicing: full tiles only (partial
    edges dropped), row-major byte layout per tile, grid indices right."""
    from imops_spark.functions.multimodal import make_items, tile_images_df

    rng = np.random.default_rng(5)
    h, w, c = 7, 9, 3  # 7//3=2 rows, 9//4=2 cols -> partial edges both ways
    img = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
    items = [
        {"item_id": 1, "modality": "image", "data": img.tobytes(),
         "width": w, "height": h, "channels": c, "format": "raw_u8"},
    ]
    rows = tile_images_df(
        make_items(spark, items), tile_w=4, tile_h=3, decode="real"
    ).collect()
    got = {(r["tile_row"], r["tile_col"]): r for r in rows}
    assert set(got) == {(0, 0), (0, 1), (1, 0), (1, 1)}
    for (r, cc), row in got.items():
        want = img[r * 3 : (r + 1) * 3, cc * 4 : (cc + 1) * 4]
        assert row["data"] == want.tobytes(), (r, cc)
        m = row["meta"]
        assert (m["width"], m["height"], m["channels"]) == (4, 3, 3)
        assert m["format"] == "raw_u8"

    # image smaller than one tile -> zero rows, not an error
    tiny = [{"item_id": 2, "modality": "image",
             "data": np.zeros(6, dtype=np.uint8).tobytes(),
             "width": 2, "height": 1, "channels": 3, "format": "raw_u8"}]
    assert tile_images_df(make_items(spark, tiny), tile_w=4, tile_h=3, decode="real").count() == 0

    import pytest as _pytest
    with _pytest.raises(ValueError, match="tile dims"):
        tile_images_df(make_items(spark, items), tile_w=0, tile_h=3)
