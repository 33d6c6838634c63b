"""Streaming ingest (AvailableNow + hash-upsert) and multimodal plumbing."""

import json
import time

import pytest
from pyspark.sql import functions as F

from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import (
    attach_media_meta,
    decode_images,
    sample_frames,
)
from coronavirus_dashboard_pipeline_etl_spark.plans.main_pipeline import read_store
from coronavirus_dashboard_pipeline_etl_spark.streaming.ingest import (
    stream_release_files,
    upsert_batch,
)

SCHEMA = "hash string, partition_id string, payload string, release_id long"


def test_streaming_upsert_roundtrip(spark, tmp_path):
    inp, chk, store = tmp_path / "in", tmp_path / "chk", tmp_path / "store"
    inp.mkdir()

    (inp / "r1.json").write_text(
        "\n".join(
            json.dumps(x)
            for x in [
                {"hash": "a", "partition_id": "other", "payload": '{"value":1}', "release_id": 1},
                {"hash": "b", "partition_id": "utla", "payload": '{"value":2}', "release_id": 1},
            ]
        )
    )

    def sink(batch, batch_id):
        upsert_batch(batch, str(store))

    q = stream_release_files(
        spark, str(inp), str(chk),
        transform=lambda df: df,
        sink=sink, schema=SCHEMA,
    )
    q.awaitTermination(60)
    first = {r["hash"]: r for r in spark.read.parquet(str(store)).collect()}
    assert set(first) == {"a", "b"}

    # second file REVISES hash 'a' (same (hash, partition)) and adds 'c'
    (inp / "r2.json").write_text(
        "\n".join(
            json.dumps(x)
            for x in [
                {"hash": "a", "partition_id": "other", "payload": '{"value":9}', "release_id": 2},
                {"hash": "c", "partition_id": "other", "payload": '{"value":3}', "release_id": 2},
            ]
        )
    )
    q2 = stream_release_files(
        spark, str(inp), str(chk),
        transform=lambda df: df,
        sink=sink, schema=SCHEMA,
    )
    q2.awaitTermination(60)
    merged = read_store(spark, str(store)).collect()
    rows = {r["hash"]: r for r in merged}
    assert set(rows) == {"a", "b", "c"} and len(merged) == 3
    assert rows["a"]["payload"] == '{"value":9}'       # revised in place
    assert rows["a"]["release_id"] == 2
    assert rows["b"]["payload"] == '{"value":2}'       # untouched partition survives


def test_multimodal_decode(spark):
    rows = [
        (1, "image", b"IMG:4x3:" + bytes([10, 20, 30])),
        (2, "image", b"IMG:2x2:" + bytes([100])),
    ]
    df = spark.createDataFrame(rows, "media_id long, kind string, content binary")
    df = attach_media_meta(df)
    metas = {r["media_id"]: r["meta"] for r in df.collect()}
    assert metas[1]["n_bytes"] == len(b"IMG:4x3:") + 3

    decoded = {r["media_id"]: r for r in decode_images(df).collect()}
    assert decoded[1]["width"] == 4 and decoded[1]["height"] == 3
    assert decoded[1]["n_pixels"] == 12
    assert decoded[1]["mean_luma"] == pytest.approx(20.0)
    assert decoded[2]["mean_luma"] == pytest.approx(100.0)


def test_multimodal_decode_unknown_format(spark):
    df = spark.createDataFrame(
        [(1, "image", b"JPEGnotreally")], "media_id long, kind string, content binary"
    )
    with pytest.raises(Exception, match="NotImplementedError|image library"):
        decode_images(df).collect()


def test_frame_sampling(spark):
    frames = spark.range(100).select(
        F.lit(1).alias("media_id"), F.col("id").alias("frame_index")
    )
    kept = sample_frames(frames, every_n=10).collect()
    assert [r["frame_index"] for r in kept] == [0, 10, 20, 30, 40, 50, 60, 70, 80, 90]


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-group totals must carry across
    micro-batches through the state store (batch 2 continues batch 1's
    cumulative, not restart at zero)."""
    from coronavirus_dashboard_pipeline_etl_spark.streaming.stateful import (
        running_totals_stream,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    (in_dir / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"areaCode": "A", "date": "2021-01-01", "value": 1.0},
                {"areaCode": "A", "date": "2021-01-02", "value": 2.0},
                {"areaCode": "B", "date": "2021-01-01", "value": 10.0},
            ]
        )
    )
    (in_dir / "b2.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"areaCode": "A", "date": "2021-01-03", "value": 4.0},
                {"areaCode": "B", "date": "2021-01-02", "value": None},
            ]
        )
    )

    stream = (
        spark.readStream.format("json")
        .schema("areaCode string, date string, value double")
        .option("maxFilesPerTrigger", 1)
        .load(str(in_dir))
    )
    out = running_totals_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("running_totals")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["areaCode"], r["date"]): r["cumulative"]
        for r in spark.table("running_totals").collect()
    }
    assert rows[("A", "2021-01-01")] == 1.0
    assert rows[("A", "2021-01-02")] == 3.0
    assert rows[("A", "2021-01-03")] == 7.0   # state carried across batches
    assert rows[("B", "2021-01-01")] == 10.0
    assert rows[("B", "2021-01-02")] == 10.0  # null increment = +0


def test_windowed_counts_watermark_drops_late_data(spark, tmp_path):
    """Append mode (the mode with GUARANTEED late-data dropping — update
    mode may re-open evicted state): batch 1 advances the watermark,
    batch 2's event older than the horizon is filtered, batch 3 pushes
    the watermark past the on-time window so it finalizes WITHOUT the
    late contribution."""
    import json
    import time

    from coronavirus_dashboard_pipeline_etl_spark.streaming.windows import (
        windowed_event_counts,
    )

    in_dir, ckpt = tmp_path / "in", tmp_path / "ckpt"
    in_dir.mkdir()

    def write_file(name, rows):
        # micro-batch order follows file modification time: separate them
        (in_dir / name).write_text("\n".join(json.dumps(r) for r in rows))
        time.sleep(1.2)

    # batch 1: on-time events -> watermark advances to 10:20 - 30min
    write_file("b1.json", [
        {"ts": "2024-01-01T10:00:00", "event_type": "click"},
        {"ts": "2024-01-01T10:20:00", "event_type": "click"},
    ])
    # batch 2: on-time filler (the late-event filter uses the PREVIOUS
    # batch's committed watermark, so a late row must arrive >= 2
    # batches after the one that advanced the watermark past it)
    write_file("b2.json", [
        {"ts": "2024-01-01T10:25:00", "event_type": "click"},
    ])
    # batch 3: 08:00 is far behind the 09:50+ watermark -> dropped
    write_file("b3.json", [
        {"ts": "2024-01-01T08:00:00", "event_type": "click"},
    ])
    # batch 4: pushes the watermark to 12:30 -> finalizes 10:00-11:00
    write_file("b4.json", [
        {"ts": "2024-01-01T13:00:00", "event_type": "click"},
    ])

    stream = (
        spark.readStream.format("json")
        .schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .load(str(in_dir))
    )
    agg = windowed_event_counts(
        stream,
        group_cols=("event_type",),
        window_duration="1 hour",
        watermark="30 minutes",
        value_col=None,
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_test")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["window_start"]: r["n_events"]
        for r in spark.sql("SELECT * FROM wm_test").collect()
    }
    assert "2024-01-01 08:00:00" not in rows, "late event must be dropped"
    # the on-time window finalized with only the 3 on-time events
    assert rows.get("2024-01-01 10:00:00") == 3


def test_dedup_stream_drops_in_horizon_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate key arriving within
    the watermark horizon of its first occurrence is dropped; distinct
    keys all survive. (State eviction beyond the horizon is Spark's
    contract; this drives the engine's wiring of it.)"""
    import json
    import time

    from coronavirus_dashboard_pipeline_etl_spark.streaming import dedup_stream

    in_dir, ckpt = tmp_path / "in", tmp_path / "ckpt"
    in_dir.mkdir()

    def write_file(name, rows):
        (in_dir / name).write_text("\n".join(json.dumps(r) for r in rows))
        time.sleep(1.2)

    write_file("b1.json", [
        {"event_id": 1, "ts": "2024-01-01T10:00:00", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T10:05:00", "value": 2.0},
    ])
    # duplicate of key 1 within the horizon + one new key
    write_file("b2.json", [
        {"event_id": 1, "ts": "2024-01-01T10:10:00", "value": 99.0},
        {"event_id": 3, "ts": "2024-01-01T10:15:00", "value": 3.0},
    ])

    stream = (
        spark.readStream.format("json")
        .schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .load(str(in_dir))
    )
    q = (
        dedup_stream(stream, keys=("event_id",), watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.event_id: r.value
        for r in spark.sql("SELECT * FROM dedup_test").collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == 1.0, "first occurrence wins; the duplicate is dropped"


def test_session_window_streams_and_matches_batch(spark, tmp_path):
    """session_window on a real stream (availableNow file source,
    append mode after watermark): closed sessions emit once; the same
    function on the same rows as a batch frame produces the identical
    session set (the backfill/live swap the st3 gate licenses)."""
    import json
    import time

    from coronavirus_dashboard_pipeline_etl_spark.streaming.windows import (
        session_window_stats,
    )

    in_dir, ckpt = tmp_path / "in", tmp_path / "ckpt"
    in_dir.mkdir()

    rows = [
        {"event_id": 1, "user_id": 7, "ts": "2024-01-01T10:00:00", "value": 1.0},
        {"event_id": 2, "user_id": 7, "ts": "2024-01-01T10:10:00", "value": 2.0},
        # > 30 min later: second session
        {"event_id": 3, "user_id": 7, "ts": "2024-01-01T11:00:01", "value": 3.0},
        {"event_id": 4, "user_id": 8, "ts": "2024-01-01T10:00:00", "value": 4.0},
    ]
    (in_dir / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))
    time.sleep(0.2)
    # advance the watermark far enough to close every session
    (in_dir / "b2.json").write_text(json.dumps(
        {"event_id": 99, "user_id": 99, "ts": "2024-01-02T00:00:00", "value": 0.0}
    ))

    schema = "event_id long, user_id long, ts timestamp, value double"
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(in_dir))
    )
    q = (
        session_window_stats(stream, gap="30 minutes", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events, r.value_sum)
        for r in spark.sql("SELECT * FROM sess_test WHERE user_id <> 99").collect()
    }

    batch = spark.createDataFrame(
        [(r["event_id"], r["user_id"], r["ts"].replace("T", " "), r["value"])
         for r in rows],
        "event_id long, user_id long, ts string, value double",
    ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) ts", "value")
    expect = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events, r.value_sum)
        for r in session_window_stats(batch, gap="30 minutes").collect()
    }
    assert got == expect
    assert len(expect) == 3  # user 7 x2 sessions, user 8 x1


def test_resize_images_binary_roundtrip(spark):
    """resize: binary in -> binary out through Arrow, header rewritten,
    metadata recomputed, and the result re-decodes to the target dims."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import (
        decode_images,
        resize_images,
    )

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(b"IMG:4x3:" + bytes(range(12)))),
            (2, "image", bytearray(b"IMG:1x1:" + b"\x10")),  # upscale
        ],
        "media_id long, kind string, content binary",
    )
    resized = resize_images(media, 2, 2)
    rows = {r.media_id: r for r in resized.collect()}
    assert rows[1].width == 2 and rows[1].height == 2
    assert bytes(rows[1].content).startswith(b"IMG:2x2:")
    assert rows[1].meta.n_bytes == len(bytes(rows[1].content))
    # payload truncated to 4 pixels; upscale repeats the single byte
    assert bytes(rows[1].content)[8:] == bytes(range(4))
    assert bytes(rows[2].content)[8:] == b"\x10" * 4

    redecoded = {r.media_id: r for r in decode_images(resized).collect()}
    assert redecoded[1].n_pixels == 4
    assert redecoded[2].mean_luma == 16.0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="target dims"):
        resize_images(media, 0, 2)


def test_enrich_with_dims_on_stream(spark, tmp_path):
    """Stream-static join: every micro-batch row picks up its dimension
    attributes; unmatched keys survive a left join with NULLs."""
    import json

    from coronavirus_dashboard_pipeline_etl_spark.streaming.windows import (
        enrich_with_dims,
    )

    in_dir, ckpt = tmp_path / "in", tmp_path / "ckpt"
    in_dir.mkdir()
    (in_dir / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"event_id": 1, "area": "A1", "value": 1.0},
                {"event_id": 2, "area": "A2", "value": 2.0},
                {"event_id": 3, "area": "ZZ", "value": 3.0},  # no dim row
            ]
        )
    )
    dims = spark.createDataFrame(
        [("A1", "nation"), ("A2", "region")], "area string, area_type string"
    )
    stream = (
        spark.readStream.format("json")
        .schema("event_id long, area string, value double")
        .load(str(in_dir))
    )
    q = (
        enrich_with_dims(stream, dims, keys=["area"])
        .writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.event_id: r.area_type
        for r in spark.sql("SELECT * FROM enrich_test").collect()
    }
    assert got == {1: "nation", 2: "region", 3: None}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="inner/left"):
        enrich_with_dims(stream, dims, keys=["area"], how="full_outer")


def test_stateful_release_delta_across_batches(spark, tmp_path):
    """applyInPandasWithState release deltas: the previous release's
    value must carry across micro-batches, and null handling must be
    ROW-IDENTICAL to the batch operators.asof.release_delta it twins
    (strict previous-row lag; clamp coerces null-involved deltas to 0)."""
    from coronavirus_dashboard_pipeline_etl_spark.operators.asof import (
        release_delta,
    )
    from coronavirus_dashboard_pipeline_etl_spark.streaming.stateful import (
        release_delta_stream,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    (in_dir / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"areaCode": "A", "release_date": "2021-01-01", "value": 10.0},
                {"areaCode": "A", "release_date": "2021-01-02", "value": 13.0},
                {"areaCode": "B", "release_date": "2021-01-01", "value": 5.0},
            ]
        )
    )
    (in_dir / "b2.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"areaCode": "A", "release_date": "2021-01-03", "value": 12.0},
                {"areaCode": "A", "release_date": "2021-01-04", "value": None},
                {"areaCode": "A", "release_date": "2021-01-05", "value": 20.0},
                {"areaCode": "B", "release_date": "2021-01-02", "value": 9.0},
            ]
        )
    )
    stream = (
        spark.readStream.format("json")
        .schema("areaCode string, release_date string, value double")
        .option("maxFilesPerTrigger", 1)
        .load(str(in_dir))
    )
    q = (
        release_delta_stream(stream)
        .writeStream.format("memory")
        .queryName("release_delta")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["areaCode"], r["release_date"]): r["delta"]
        for r in spark.table("release_delta").collect()
    }
    assert rows[("A", "2021-01-01")] == 0.0   # null lag -> greatest(NULL,0)
    assert rows[("A", "2021-01-02")] == 3.0
    assert rows[("A", "2021-01-03")] == 0.0   # 12 < 13 -> clamped
    assert rows[("A", "2021-01-04")] == 0.0   # null value -> 0 under clamp
    assert rows[("A", "2021-01-05")] == 0.0   # prev ROW is null, not 12
    assert rows[("B", "2021-01-02")] == 4.0   # state across batches

    # exact parity with the batch operator on the same feed
    batch_in = spark.createDataFrame(
        [
            ("A", "2021-01-01", 10.0),
            ("A", "2021-01-02", 13.0),
            ("A", "2021-01-03", 12.0),
            ("A", "2021-01-04", None),
            ("A", "2021-01-05", 20.0),
            ("B", "2021-01-01", 5.0),
            ("B", "2021-01-02", 9.0),
        ],
        "areaCode string, release_date string, value double",
    )
    batch = {
        (r["areaCode"], r["release_date"]): r["delta"]
        for r in release_delta(
            batch_in, ["areaCode"], "release_date", "value"
        ).collect()
    }
    assert rows == batch


def test_extract_features_ann_ready(spark):
    """Feature-extract stage: byte-histogram embeddings sum to 1, have
    the declared width, and feed cosine_topk directly (the multimodal
    decode -> embed -> ANN composition)."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import (
        extract_features,
    )
    from coronavirus_dashboard_pipeline_etl_spark.functions.similarity import (
        cosine_topk,
    )

    rows = [
        (1, "image", b"IMG:2x2:" + b"aabb"),
        (2, "image", b"IMG:2x2:" + b"aabb"),   # identical payload
        (3, "image", b"IMG:2x2:" + b"zzzz"),
        (4, "image", b"IMG:1x1:"),             # empty payload -> zeros
    ]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, content binary"
    )
    feats = extract_features(df, dim=16)
    got = {r["media_id"]: r["embedding"] for r in feats.collect()}
    assert all(len(v) == 16 for v in got.values())
    assert abs(sum(got[1]) - 1.0) < 1e-12
    assert got[1] == got[2]
    assert sum(got[4]) == 0.0

    ann_in = feats.filter("media_id < 4").withColumnRenamed(
        "media_id", "vec_id"
    )
    top = cosine_topk(ann_in, ann_in.filter("vec_id = 1"), k=1)
    r = top.collect()[0]
    assert (r["query_id"], r["neighbor_id"]) == (1, 2)  # the exact dup wins


def test_transform_with_state_parity(spark, tmp_path):
    """running_totals_tws (transformWithStateInPandas / RocksDB state)
    must produce row-identical output to running_totals_stream
    (applyInPandasWithState) across micro-batches."""
    import pytest

    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState state-server protocol needs protobuf",
    )
    from coronavirus_dashboard_pipeline_etl_spark.streaming.stateful import (
        running_totals_stream,
        running_totals_tws,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"areaCode": "A", "date": "2021-01-01", "value": 1.0},
                {"areaCode": "A", "date": "2021-01-02", "value": 2.0},
                {"areaCode": "B", "date": "2021-01-01", "value": 10.0},
            ]
        )
    )
    (in_dir / "b2.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"areaCode": "A", "date": "2021-01-03", "value": 4.0},
                {"areaCode": "B", "date": "2021-01-02", "value": None},
            ]
        )
    )

    def run(op, name, extra_conf=None):
        stream = (
            spark.readStream.format("json")
            .schema("areaCode string, date string, value double")
            .option("maxFilesPerTrigger", 1)
            .load(str(in_dir))
        )
        q = (
            op(stream)
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["areaCode"], r["date"]): (r["value"], r["cumulative"])
            for r in spark.table(name).collect()
        }

    old = run(running_totals_stream, "rt_apply")
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        new = run(running_totals_tws, "rt_tws")
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    assert new == old
    assert new[("A", "2021-01-03")] == (4.0, 7.0)


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """join_streams_within on two live file streams (both watermarked)
    must emit exactly the batch join's matches."""
    from coronavirus_dashboard_pipeline_etl_spark.streaming.windows import (
        join_streams_within,
    )

    clicks_dir = tmp_path / "clicks"
    views_dir = tmp_path / "views"
    clicks_dir.mkdir()
    views_dir.mkdir()
    clicks = [
        {"user_id": 1, "click_id": 10, "ts": "2021-01-01T10:00:00.000Z"},
        {"user_id": 1, "click_id": 11, "ts": "2021-01-01T12:00:00.000Z"},
        {"user_id": 2, "click_id": 12, "ts": "2021-01-01T10:00:00.000Z"},
    ]
    views = [
        {"user_id": 1, "view_id": 20, "ts": "2021-01-01T10:05:00.000Z"},  # +5m -> match 10
        {"user_id": 1, "view_id": 21, "ts": "2021-01-01T11:00:00.000Z"},  # matches none
        {"user_id": 2, "view_id": 22, "ts": "2021-01-01T09:51:00.000Z"},  # -9m -> match 12
        {"user_id": 3, "view_id": 23, "ts": "2021-01-01T10:00:00.000Z"},  # other user
    ]
    (clicks_dir / "c.json").write_text("\n".join(json.dumps(r) for r in clicks))
    (views_dir / "v.json").write_text("\n".join(json.dumps(r) for r in views))

    schema_c = "user_id long, click_id long, ts timestamp"
    schema_v = "user_id long, view_id long, ts timestamp"
    sc = spark.readStream.format("json").schema(schema_c).load(str(clicks_dir))
    sv = spark.readStream.format("json").schema(schema_v).load(str(views_dir))
    q = (
        join_streams_within(sc, sv, keys=["user_id"])
        .writeStream.format("memory")
        .queryName("ssj")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["click_id"], r["view_id"])
        for r in spark.table("ssj").collect()
    }
    assert got == {(10, 20), (12, 22)}

    # batch closure: identical matches from the same function on static frames
    bc = spark.read.format("json").schema(schema_c).load(str(clicks_dir))
    bv = spark.read.format("json").schema(schema_v).load(str(views_dir))
    batch = {
        (r["click_id"], r["view_id"])
        for r in join_streams_within(bc, bv, keys=["user_id"]).collect()
    }
    assert batch == got


def test_join_streams_within_reserved_name_raises(spark):
    """'right_ts_out' is the reserved output name for the renamed right
    timestamp; a column literally named that on either input must raise
    loudly instead of yielding duplicate/ambiguous output columns."""
    import pytest

    from coronavirus_dashboard_pipeline_etl_spark.streaming.windows import (
        join_streams_within,
    )

    left = spark.createDataFrame(
        [(1, "2021-01-01 10:00:00", "x")],
        "user_id long, ts string, right_ts_out string",
    )
    right = spark.createDataFrame(
        [(1, "2021-01-01 10:01:00")], "user_id long, ts string"
    )
    with pytest.raises(ValueError, match="right_ts_out"):
        join_streams_within(left, right, keys=["user_id"])
    with pytest.raises(ValueError, match="right_ts_out"):
        join_streams_within(
            right, left.withColumnRenamed("ts", "ts2"),
            keys=["user_id"], right_ts="ts2",
        )


# ---------------------------------------------------------------------------
# Real byte-level codecs (PPM P6 / 24-bit BMP) — pure-Python goldens
# ---------------------------------------------------------------------------


def _ppm_golden() -> tuple[bytes, float]:
    """3x2 P6 with a header comment; BT.601 integer luma hand-computed."""
    raster = bytes(
        [10, 20, 30, 40, 50, 60, 70, 80, 90,       # top row
         0, 0, 0, 255, 255, 255, 1, 2, 3]          # bottom row
    )
    buf = b"P6\n# golden fixture\n3 2\n255\n" + raster
    # sum(299R+587G+114B) = 18150+48150+78150+0+255000+1815 = 401265
    return buf, 401265 / (1000 * 6)


def _bmp_golden(top_down: bool = False) -> tuple[bytes, float]:
    """2x2 24-bit BI_RGB with 2-byte row padding. Top-down pixel RGB:
    (255,0,0) (0,255,0) / (0,0,255) (10,20,30)."""
    import struct

    row0 = bytes([0, 0, 255, 0, 255, 0]) + b"\x00\x00"    # BGR of top row
    row1 = bytes([255, 0, 0, 30, 20, 10]) + b"\x00\x00"   # BGR of bottom row
    raster = row0 + row1 if top_down else row1 + row0
    h = -2 if top_down else 2
    info = struct.pack("<IiiHHIIiiII", 40, 2, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
    file_hdr = struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
    # sum = 76245 + 149685 + 29070 + 18150 = 273150
    return file_hdr + info + raster, 273150 / (1000 * 4)


def test_ppm_decode_golden():
    from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import (
        _decode_image_bytes,
    )

    buf, want_luma = _ppm_golden()
    w, h, luma = _decode_image_bytes(buf)
    assert (w, h) == (3, 2)
    assert luma == want_luma  # integer-exact, no approx needed

    with pytest.raises(ValueError, match="truncated"):
        _decode_image_bytes(buf[:-1])
    with pytest.raises(ValueError, match="maxval"):
        _decode_image_bytes(b"P6\n1 1\n65535\n\x00\x00\x00\x00\x00\x00")


def test_bmp_decode_golden_both_orientations():
    from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import (
        _decode_image_bytes,
        _image_pixels,
    )

    up, want_luma = _bmp_golden(top_down=False)
    down, _ = _bmp_golden(top_down=True)
    assert _decode_image_bytes(up) == (2, 2, want_luma)
    assert _decode_image_bytes(down) == (2, 2, want_luma)
    # pixel order identical after bottom-up flip: decoded rasters match
    assert _image_pixels(up)[2].tolist() == _image_pixels(down)[2].tolist()
    assert _image_pixels(up)[2].tolist()[:6] == [255, 0, 0, 0, 255, 0]

    with pytest.raises(Exception, match="24-bit"):
        bad = bytearray(up)
        bad[28] = 32  # bpp -> 32
        _decode_image_bytes(bytes(bad))


def test_codec_gated_formats_raise_named():
    from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import (
        _decode_image_bytes,
    )

    # PNG, GIF and baseline JPEG are decoded for real now — a signature
    # with garbage after it is a loud ValueError from the real parser,
    # not a codec gate; only WebP (VP8 entropy coding) still gates
    with pytest.raises(ValueError, match="IHDR"):
        _decode_image_bytes(b"\x89PNG\r\n\x1a\n....")
    with pytest.raises(ValueError, match="truncated"):
        _decode_image_bytes(b"GIF89a....")
    with pytest.raises((ValueError, IndexError)):
        _decode_image_bytes(b"\xff\xd8\xff\xe0....")
    with pytest.raises(NotImplementedError, match="WebP"):
        _decode_image_bytes(b"RIFF....WEBPVP8 ")


def test_ppm_through_spark_decode_and_resize(spark):
    """Real-format path end-to-end: P6 in -> decode gives exact luma;
    resize does a true nearest-neighbour resample and re-encodes P6."""
    from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import (
        decode_images,
        resize_images,
    )

    buf, want_luma = _ppm_golden()
    bmp, bmp_luma = _bmp_golden()
    media = spark.createDataFrame(
        [(1, "image", bytearray(buf)), (2, "image", bytearray(bmp))],
        "media_id long, kind string, content binary",
    )
    decoded = {r.media_id: r for r in decode_images(media).collect()}
    assert decoded[1].mean_luma == want_luma
    assert decoded[2].mean_luma == bmp_luma

    resized = {r.media_id: r for r in resize_images(media, 1, 1).collect()}
    # nearest-neighbour 1x1 keeps the top-left pixel; output is real P6
    assert bytes(resized[1].content) == b"P6\n1 1\n255\n" + bytes([10, 20, 30])
    assert bytes(resized[2].content) == b"P6\n1 1\n255\n" + bytes([255, 0, 0])
    re2 = {r.media_id: r for r in decode_images(resize_images(media, 1, 1)).collect()}
    assert re2[1].n_pixels == 1


def test_wav_decode_goldens_and_chunk_walk(spark):
    """Real RIFF/PCM parsing: stereo 16-bit, 8-bit recentring, unknown
    chunks skipped with word alignment, loud errors for non-PCM and
    truncated data."""
    import math
    import struct

    from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import (
        _parse_wav,
        build_wav_pcm16,
        decode_audio,
    )

    # stereo: interleaved L/R frames, n_samples counts FRAMES
    stereo = build_wav_pcm16(16000, [100, -100, 200, -200], n_channels=2)
    rate, ch, bits, s = _parse_wav(stereo)
    assert (rate, ch, bits) == (16000, 2, 16)
    assert s.tolist() == [100, -100, 200, -200]

    # 8-bit unsigned recentres to signed around 0
    pcm8 = bytes([128, 228, 28])  # -> 0, +100, -100
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    # an unknown odd-sized chunk that must be skipped with padding
    body += b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    body += b"data" + struct.pack("<I", len(pcm8)) + pcm8 + b"\x00"
    wav8 = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    rate, ch, bits, s = _parse_wav(wav8)
    assert (rate, ch, bits) == (8000, 1, 8)
    assert s.tolist() == [0, 100, -100]

    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="PCM"):
        bad = bytearray(stereo)
        bad[20] = 3  # IEEE float format tag
        _parse_wav(bytes(bad))
    with _pytest.raises(ValueError, match="truncated"):
        _parse_wav(stereo[:-1])

    # Spark path: duration counts frames, rms is integer-exact
    media = spark.createDataFrame(
        [(1, "audio", bytearray(stereo)), (2, "audio", bytearray(wav8))],
        "media_id long, kind string, content binary",
    )
    rows = {r.media_id: r for r in decode_audio(media).collect()}
    assert rows[1].n_samples == 2 and rows[1].duration_s == 2 / 16000
    assert rows[1].rms == math.sqrt((100**2 + 100**2 + 200**2 + 200**2) / 4)
    assert rows[2].n_samples == 3 and rows[2].rms == math.sqrt(20000 / 3)


def test_y4m_decode_goldens_and_frame_walk(spark):
    """Real YUV4MPEG2 parsing: mono and 420 plane sizes, per-frame
    params skipped, unknown header tags skipped, loud errors for
    truncation / odd-420 / unsupported colorspaces / compressed
    containers."""
    import numpy as np
    import pytest as _pytest

    from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import (
        _parse_y4m,
        build_y4m,
        decode_video,
        sample_video_frames,
    )

    # hand-built mono stream, 2x2, 3 frames, with an X extension tag
    # and per-frame params — both must be skipped per spec
    head = b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 Cmono XYSCSS=mono\n"
    f0, f1, f2 = bytes([0, 50, 100, 150]), bytes([10, 60, 110, 160]), bytes(
        [20, 70, 120, 170]
    )
    mono = head + b"FRAME\n" + f0 + b"FRAMEI\n" + f1 + b"FRAME\n" + f2
    w, h, num, den, cs, planes = _parse_y4m(mono)
    assert (w, h, num, den, cs) == (2, 2, 25, 1, "mono")
    assert [p.tolist() for p in planes] == [list(f0), list(f1), list(f2)]

    # 420: chroma planes must be walked exactly or frame 1's luma shifts
    y0, y1 = list(range(16)), list(range(100, 116))
    v420 = build_y4m(4, 4, [y0, y1], fps_num=30, colorspace="420jpeg")
    w, h, num, den, cs, planes = _parse_y4m(v420)
    assert (w, h, cs) == (4, 4, "420jpeg")
    assert planes[0].tolist() == y0 and planes[1].tolist() == y1

    with _pytest.raises(ValueError, match="truncated"):
        _parse_y4m(v420[:-1])
    with _pytest.raises(ValueError, match="even"):
        build_y4m(3, 4, [list(range(12))], colorspace="420jpeg")
    with _pytest.raises(ValueError, match="even"):
        _parse_y4m(b"YUV4MPEG2 W3 H4 F25:1 C420\nFRAME\n" + bytes(18))
    with _pytest.raises(NotImplementedError, match="colorspace"):
        _parse_y4m(b"YUV4MPEG2 W2 H2 F25:1 C444\nFRAME\n" + bytes(12))
    with _pytest.raises(NotImplementedError, match="Matroska"):
        _parse_y4m(b"\x1aE\xdf\xa3" + bytes(20))
    with _pytest.raises(NotImplementedError, match="MP4"):
        _parse_y4m(b"\x00\x00\x00\x18ftypisom" + bytes(20))
    with _pytest.raises(ValueError, match="YUV4MPEG2"):
        _parse_y4m(b"not a video")

    # Spark paths: summary decode + every-2nd-frame sampling
    media = spark.createDataFrame(
        [(1, "video", bytearray(mono)), (2, "video", bytearray(v420))],
        "media_id long, kind string, content binary",
    )
    summ = {r.media_id: r for r in decode_video(media).collect()}
    assert summ[1].n_frames == 3 and summ[1].duration_s == 3 / 25
    assert summ[2].width == 4 and summ[2].fps_num == 30 and summ[2].n_frames == 2

    frames = sample_video_frames(media, every_n=2).collect()
    got = {(r.media_id, r.frame_index): r.mean_luma for r in frames}
    assert set(got) == {(1, 0), (1, 2), (2, 0)}
    assert got[(1, 0)] == sum(f0) / 4
    assert got[(1, 2)] == sum(f2) / 4
    assert got[(2, 0)] == float(np.mean(y0))


def test_png_decode_roundtrip_all_filters_and_colortypes(spark):
    """Real PNG decoding: forward-filter in build_png, reconstruct in
    _parse_png — every filter type and color type round-trips exactly;
    hand-computed Sub/Paeth bytes pin the filter arithmetic; CRC,
    truncation, interlace, depth, and palette errors are loud."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import (
        _parse_png,
        _rgb_mean_luma,
        build_png,
        decode_images,
    )

    rng = np.random.RandomState(42)

    # every filter type x every color type round-trips bit-exactly
    for color, ch in [(0, 1), (2, 3), (4, 2), (6, 4)]:
        for ft in range(5):
            w, h = 7, 5  # odd width exercises non-multiple strides
            px = rng.randint(0, 256, size=h * w * ch).astype(np.uint8)
            png = build_png(w, h, px, color=color, filters=[ft] * h)
            gw, gh, rgb = _parse_png(png)
            assert (gw, gh) == (w, h)
            full = px.reshape(h, w, ch)
            if color == 2:
                want = full
            elif color == 6:
                want = full[..., :3]
            else:  # gray / gray+alpha replicate into RGB
                want = np.repeat(full[..., :1], 3, axis=2)
            assert rgb.tolist() == want.reshape(-1).tolist(), (color, ft)

    # mixed filters (default row%5) + palette color type
    pal = [(i % 256, (3 * i) % 256, (7 * i) % 256) for i in range(16)]
    idx = rng.randint(0, 16, size=6 * 4).astype(np.uint8)
    png3 = build_png(6, 4, idx, color=3, palette=np.array(pal, dtype=np.uint8))
    w, h, rgb = _parse_png(png3)
    want = np.array(pal, dtype=np.uint8)[idx.reshape(4, 6)]
    assert rgb.tolist() == want.reshape(-1).tolist()

    # hand-computed filter bytes: 2x1 RGB row, Sub filter.
    # pixels (10,20,30),(15,25,35) -> filtered second pixel = diff (5,5,5)
    png_sub = build_png(2, 1, [10, 20, 30, 15, 25, 35], color=2, filters=[1])
    idat = png_sub.split(b"IDAT")[1][: -8]
    raw = zlib.decompress(idat[: struct.unpack(">I", png_sub[png_sub.find(b"IDAT") - 4 : png_sub.find(b"IDAT")])[0]])
    assert list(raw) == [1, 10, 20, 30, 5, 5, 5]

    # hand-computed Paeth: second row of a 1x2 gray image, pixels 100 / 103.
    # For the second row's single pixel: a=0 (no left), b=100, c=0 ->
    # p=100, pb=0 minimal -> pred=b -> filtered = 103-100 = 3
    png_p = build_png(1, 2, [100, 103], color=0, filters=[0, 4])
    n = struct.unpack(">I", png_p[png_p.find(b"IDAT") - 4 : png_p.find(b"IDAT")])[0]
    raw = zlib.decompress(png_p[png_p.find(b"IDAT") + 4 :][:n])
    assert list(raw) == [0, 100, 4, 3]
    assert _parse_png(png_p)[2].tolist() == [100] * 3 + [103] * 3

    # gray replication keeps integer luma exact: luma(g,g,g) == g
    g = np.arange(16, dtype=np.uint8)
    _, _, rgb = _parse_png(build_png(4, 4, g, color=0))
    assert _rgb_mean_luma(4, 4, rgb) == float(np.mean(g))

    # loud failure paths
    good = build_png(2, 2, list(range(12)), color=2)
    with _pytest.raises(ValueError, match="CRC"):
        corrupt = bytearray(good)
        corrupt[good.find(b"IDAT") + 6] ^= 0xFF
        _parse_png(bytes(corrupt))
    with _pytest.raises(ValueError, match="truncated"):
        _parse_png(good[:-20])  # chops IEND and the tail of IDAT
    with _pytest.raises(ValueError, match="signature"):
        _parse_png(b"\x89PNX" + good[4:])
    from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import _PNG_SIG

    def mkchunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    empty_idat = mkchunk(b"IDAT", b"")
    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    with _pytest.raises(NotImplementedError, match="bit depth 16"):
        _parse_png(_PNG_SIG + mkchunk(b"IHDR", ihdr16) + empty_idat)
    ihdr_i = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    with _pytest.raises(NotImplementedError, match="interlaced"):
        _parse_png(_PNG_SIG + mkchunk(b"IHDR", ihdr_i) + empty_idat)
    with _pytest.raises(ValueError, match="palette"):
        build_png(2, 2, [0, 1, 2, 3], color=3)  # no palette supplied

    # Spark path: binary PNG flows through the decode stage
    rgbpx = rng.randint(0, 256, size=4 * 4 * 3).astype(np.uint8)
    media = spark.createDataFrame(
        [(1, "image", bytearray(build_png(4, 4, rgbpx, color=2)))],
        "media_id long, kind string, content binary",
    )
    row = decode_images(media).collect()[0]
    assert (row.width, row.height, row.n_pixels) == (4, 4, 16)
    assert row.mean_luma == _rgb_mean_luma(4, 4, rgbpx)


def test_gif_decode_lzw_roundtrip_interlace_and_errors(spark):
    """Real GIF decoding: from-scratch LZW both directions — hand-pinned
    code stream for a tiny image, round-trips over palette sizes and
    interlace, dictionary-overflow reset, GIF87a + local-color-table
    path, extension skipping, loud error paths, and the Spark decode
    stage."""
    import struct

    import numpy as np
    import pytest as _pytest

    from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import (
        _lzw_decode,
        _lzw_encode,
        _parse_gif,
        _rgb_mean_luma,
        build_gif,
        decode_images,
    )

    # hand-derived LZW bytes: mcs=2, indices [1,1,2] ->
    # codes [clear=4@3b, 1@3b, 1@3b, 2@3b, eoi=5@4b] packed LSB-first
    assert _lzw_encode(b"\x01\x01\x02", 2) == b"\x4c\x54"
    assert _lzw_decode(b"\x4c\x54", 2, 3).tolist() == [1, 1, 2]

    rng = np.random.RandomState(7)

    # round-trips: palette sizes that pad to different GCT fields,
    # interlaced and sequential, with a GCE block in the way
    for npal in (2, 3, 5, 16, 200, 256):
        pal = rng.randint(0, 256, size=(npal, 3)).astype(np.uint8)
        for interlace in (False, True):
            w, h = 9, 7
            idx = rng.randint(0, npal, size=w * h).astype(np.uint8)
            gif = build_gif(w, h, idx, pal, interlace=interlace,
                            animated_hint=True)
            gw, gh, rgb = _parse_gif(gif)
            assert (gw, gh) == (w, h)
            assert rgb.tolist() == pal[idx].reshape(-1).tolist(), (
                npal, interlace)

    # dictionary overflow: 300x300 noise needs >4096 LZW entries, so the
    # encoder emits a mid-stream clear and the decoder must reset with it
    pal = rng.randint(0, 256, size=(256, 3)).astype(np.uint8)
    idx = rng.randint(0, 256, size=300 * 300).astype(np.uint8)
    w, h, rgb = _parse_gif(build_gif(300, 300, idx, pal))
    assert rgb.tolist() == pal[idx].reshape(-1).tolist()

    # GIF87a + LOCAL color table, hand-assembled (build_gif only emits
    # GCT): screen descriptor with no GCT, descriptor with LCT flag
    lct = np.array([[9, 8, 7], [1, 2, 3], [4, 5, 6], [250, 251, 252]],
                   dtype=np.uint8)
    lzw = _lzw_encode(b"\x03\x00\x02\x01", 2)
    gif87 = (b"GIF87a" + struct.pack("<HHBBB", 2, 2, 0, 0, 0)
             + struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 2, 0x81)
             + lct.tobytes() + b"\x02"
             + bytes([len(lzw)]) + lzw + b"\x00\x3b")
    w, h, rgb = _parse_gif(gif87)
    assert (w, h) == (2, 2)
    assert rgb.tolist() == lct[[3, 0, 2, 1]].reshape(-1).tolist()

    # loud failure paths
    good = build_gif(3, 2, [0, 1, 2, 1, 0, 1], lct)
    with _pytest.raises(ValueError, match="signature"):
        _parse_gif(b"GIF00a" + good[6:])
    with _pytest.raises(ValueError, match="truncated"):
        _parse_gif(good[:10])
    with _pytest.raises(ValueError, match="sub-block truncated"):
        _parse_gif(good[:-4])
    with _pytest.raises(ValueError, match="no image"):
        _parse_gif(good[:13] + good[13:13 + 4 * 3] + b"\x3b")
    with _pytest.raises(ValueError, match="no color table"):
        _parse_gif(b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0, 0, 0)
                   + struct.pack("<BHHHHB", 0x2C, 0, 0, 1, 1, 0)
                   + b"\x02\x01\x44\x00\x3b")
    with _pytest.raises(ValueError, match="EOI"):
        _lzw_decode(b"\x4c", 2, 3)  # stream cut before the EOI code
    with _pytest.raises(ValueError, match="out of range"):
        _lzw_decode(bytes([0b10111100]), 2, 3)  # clear then code 7 (empty slot)
    with _pytest.raises(ValueError, match="index exceeds"):
        build_gif(1, 1, [4], lct)

    # Spark path: GIF flows through the decode stage with exact luma
    media = spark.createDataFrame(
        [(1, "image", bytearray(good))],
        "media_id long, kind string, content binary",
    )
    row = decode_images(media).collect()[0]
    assert (row.width, row.height, row.n_pixels) == (3, 2, 6)
    want = lct[np.array([0, 1, 2, 1, 0, 1])].reshape(-1)
    assert row.mean_luma == _rgb_mean_luma(3, 2, want)


def test_jpeg_baseline_decode_roundtrips_and_errors(spark):
    """Real baseline JPEG: constant-block images round-trip BIT-EXACTLY
    (DC-only under all-ones quant); arbitrary content decodes to
    exactly round(IDCT(round(FDCT))) — pinning Huffman coding, DC
    prediction, zigzag, stuffing and restart handling against an
    independent DCT-only reference; color 4:4:4 and 4:2:0 paths agree
    with the JFIF transform pair; progressive/arithmetic/truncated
    inputs fail loudly; the Spark decode stage sees exact luma."""
    import numpy as np
    import pytest as _pytest

    from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import (
        _dct_matrix,
        _parse_jpeg,
        _rgb_to_ycbcr,
        _ycbcr_to_rgb,
        build_jpeg,
        decode_images,
    )

    rng = np.random.RandomState(11)

    # constant-block grayscale: exact recovery
    for (w, h) in ((8, 8), (16, 8), (24, 16)):
        vals = rng.randint(0, 256, size=(h // 8, w // 8)).astype(np.uint8)
        px = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        gw, gh, rgb = _parse_jpeg(build_jpeg(w, h, px.reshape(-1)))
        assert (gw, gh) == (w, h)
        assert np.array_equal(rgb.reshape(h, w, 3)[..., 0], px)

    # arbitrary grayscale: decode == round(IDCT(round(FDCT))) computed
    # independently of the parser — Huffman/markers must be lossless
    d = _dct_matrix()
    px = rng.randint(0, 256, size=(16, 16)).astype(np.uint8)
    _, _, rgb = _parse_jpeg(build_jpeg(16, 16, px.reshape(-1)))
    got = rgb.reshape(16, 16, 3)[..., 0]
    want = np.zeros((16, 16), dtype=np.uint8)
    for by in range(2):
        for bx in range(2):
            b = px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8].astype(
                np.float64
            ) - 128.0
            coef = np.rint(d @ b @ d.T)
            rec = np.clip(np.rint(d.T @ coef @ d + 128.0), 0, 255)
            want[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = rec
    assert np.array_equal(got, want)

    # restart markers: present when asked for, and value-neutral
    px = rng.randint(0, 256, size=(16, 24)).astype(np.uint8)
    with_rst = build_jpeg(24, 16, px.reshape(-1), restart_interval=2)
    assert b"\xff\xd0" in with_rst
    assert np.array_equal(
        _parse_jpeg(with_rst)[2],
        _parse_jpeg(build_jpeg(24, 16, px.reshape(-1)))[2],
    )

    # color: exact through the encoder/decoder JFIF transform pair
    rgbv = rng.randint(0, 256, size=(2, 3, 3)).astype(np.uint8)
    px3 = np.repeat(np.repeat(rgbv, 8, axis=0), 8, axis=1)
    _, _, rgb = _parse_jpeg(build_jpeg(24, 16, px3.reshape(-1), color=True))
    assert np.array_equal(
        rgb.reshape(16, 24, 3), _ycbcr_to_rgb(_rgb_to_ycbcr(px3))
    )
    rgbv = rng.randint(0, 256, size=(1, 2, 3)).astype(np.uint8)
    px3 = np.repeat(np.repeat(rgbv, 16, axis=0), 16, axis=1)
    _, _, rgb = _parse_jpeg(
        build_jpeg(32, 16, px3.reshape(-1), color=True, subsample=True)
    )
    assert np.array_equal(
        rgb.reshape(16, 32, 3), _ycbcr_to_rgb(_rgb_to_ycbcr(px3))
    )

    # loud failure paths
    good = build_jpeg(8, 8, np.full(64, 77, dtype=np.uint8))
    with _pytest.raises(ValueError, match="SOI"):
        _parse_jpeg(b"\x00" + good)

    # T.81 B.1.1.2 fill bytes: 0xFF padding before a marker is legal in
    # third-party files — decode must skip it, not parse 0xFF as the
    # marker code (and then misread the next bytes as a length)
    dqt_at = good.find(b"\xff\xdb")
    padded = good[:dqt_at] + b"\xff\xff\xff" + good[dqt_at:]
    assert np.array_equal(_parse_jpeg(padded)[2], _parse_jpeg(good)[2])
    with _pytest.raises(ValueError, match="invalid progressive scan"):
        # a SOF2 frame whose only scan still declares the baseline
        # [0, 63] band is spec-invalid for progressive (DC scans are
        # exactly [0, 0]) — loud error, never a desynced garbage
        # decode. Real progressive files are covered by
        # test_progressive_jpeg_decode below.
        sof2 = bytearray(good)
        sof2[sof2.find(b"\xff\xc0") + 1] = 0xC2
        _parse_jpeg(bytes(sof2))
    with _pytest.raises((ValueError, IndexError)):
        _parse_jpeg(good[:-12])  # truncated inside entropy data
    with _pytest.raises(ValueError, match="MCU"):
        build_jpeg(7, 8, np.zeros(56, dtype=np.uint8))

    # Spark path: exact luma through decode_images (gray replication
    # keeps integer BT.601 luma equal to the pixel value)
    media = spark.createDataFrame(
        [(1, "image", bytearray(good))],
        "media_id long, kind string, content binary",
    )
    row = decode_images(media).collect()[0]
    assert (row.width, row.height, row.mean_luma) == (8, 8, 77.0)


def test_progressive_jpeg_decode(spark):
    """Progressive (SOF2) decode (multimodal.py _progressive_scan /
    build_jpeg_progressive): the 6-scan successive-approximation +
    spectral-selection pipeline must reconstruct EXACTLY what the
    baseline path decodes for the same pixels — the two scan orders
    carry identical quant=1 coefficients, so any divergence is a bug
    in DC shift/refine, AC band bounds, EOB-run bookkeeping, or the
    refinement correction-bit weave."""
    import numpy as np
    import pytest as _pytest

    from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import (
        _parse_jpeg,
        build_jpeg,
        build_jpeg_progressive,
        decode_images,
    )

    rng = np.random.RandomState(99)

    # per-block-constant grayscale: DC-only, bit-exact recovery
    vals = rng.randint(0, 256, size=(2, 3)).astype(np.uint8)
    px = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
    buf = build_jpeg_progressive(24, 16, px.reshape(-1))
    assert b"\xff\xc2" in buf  # really SOF2
    gw, gh, rgb = _parse_jpeg(buf)
    assert (gw, gh) == (24, 16)
    assert np.array_equal(rgb.reshape(16, 24, 3)[..., 0], px)

    # arbitrary content, grayscale + 4:4:4 color: progressive decode
    # == baseline decode of the same pixels (shared coefficients,
    # different scan structure). The flat/spiky/low-amplitude trio
    # drives EOB runs, ZRL, and dense ±1 refinement respectively.
    fixtures = [
        rng.randint(0, 256, size=(16, 32)),
        np.full((32, 24), 130),
        (128 + rng.randint(-2, 3, size=(24, 16))),
    ]
    fixtures[1][5, 7] = 255  # isolated spike in the flat image
    for f in fixtures:
        f = f.astype(np.uint8)
        h, w = f.shape
        _, _, prog = _parse_jpeg(build_jpeg_progressive(w, h, f.reshape(-1)))
        _, _, base = _parse_jpeg(build_jpeg(w, h, f.reshape(-1)))
        assert np.array_equal(prog, base), (w, h)
    px3 = rng.randint(0, 256, size=(16, 16, 3)).astype(np.uint8)
    _, _, prog = _parse_jpeg(
        build_jpeg_progressive(16, 16, px3.reshape(-1), color=True)
    )
    _, _, base = _parse_jpeg(build_jpeg(16, 16, px3.reshape(-1), color=True))
    assert np.array_equal(prog, base)

    # loud failure paths
    with _pytest.raises(ValueError, match="multiples of 8"):
        build_jpeg_progressive(7, 8, np.zeros(56, dtype=np.uint8))

    # Spark path end-to-end
    good = build_jpeg_progressive(8, 8, np.full(64, 93, dtype=np.uint8))
    media = spark.createDataFrame(
        [(1, "image", bytearray(good))],
        "media_id long, kind string, content binary",
    )
    row = decode_images(media).collect()[0]
    assert (row.width, row.height, row.mean_luma) == (8, 8, 93.0)


def test_progressive_decode_with_restart_markers():
    """Restart handling inside PROGRESSIVE scans is decoder-only code
    (the engine's own progressive encoder never emits DRI), so this
    hand-assembles a two-scan SOF2 file with DRI=2 and RSTn markers
    splitting both the DC-first and DC-refinement scans, and asserts
    the bit-exact decode — predictor and EOB-run resets at restart
    boundaries are load-bearing here."""
    import struct

    import numpy as np

    from coronavirus_dashboard_pipeline_etl_spark.functions import (
        multimodal as mm,
    )

    w, h = 32, 8
    px = np.repeat(
        np.repeat(np.array([[10, 80, 150, 220]], dtype=np.uint8), 8, axis=0),
        8,
        axis=1,
    )
    d = mm._dct_matrix()
    quant = np.ones((8, 8))
    coefs = []
    for bx in range(4):
        c = mm._fdct_quant_block(px[0:8, bx * 8 : bx * 8 + 8], d, quant)
        coefs.append([int(c[r, cc]) for r, cc in mm._ZZ])

    dc_syms = set()
    segs, ops, preds = [], [], 0
    for bx in range(4):
        if bx and bx % 2 == 0:
            segs.append(ops)
            ops, preds = [], 0  # predictor resets at the restart
        dc = coefs[bx][0] >> 1
        size, bits = mm._jpeg_category(dc - preds)
        preds = dc
        dc_syms.add(size)
        ops.append(("dc", size))
        if size:
            ops.append(("raw", bits, size))
    segs.append(ops)
    ref_segs, ops = [], []
    for bx in range(4):
        if bx and bx % 2 == 0:
            ref_segs.append(ops)
            ops = []
        ops.append(("raw", coefs[bx][0] & 1, 1))
    ref_segs.append(ops)

    n = len(dc_syms)
    ln = 2
    while (1 << ln) <= n:
        ln += 1
    bits16 = [0] * 16
    bits16[ln - 1] = n
    vals = sorted(dc_syms)
    codes = mm._canonical_codes(bits16, vals)

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xFFDB, b"\x00" + bytes(int(quant[r, c]) for r, c in mm._ZZ))
    out += seg(0xFFC2, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    out += seg(0xFFC4, b"\x00" + bytes(bits16) + bytes(vals))
    out += seg(0xFFDD, struct.pack(">H", 2))

    def render(scan_segs, ss, se, ah, al):
        o = bytearray(
            seg(0xFFDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))
        )
        for i, sops in enumerate(scan_segs):
            wr = mm._BitWriter()
            for op in sops:
                if op[0] == "dc":
                    c, length = codes[op[1]]
                    wr.put(c, length)
                else:
                    wr.put(op[1], op[2])
            o += wr.flush()
            if i < len(scan_segs) - 1:
                o += bytes([0xFF, 0xD0 + (i % 8)])
        return o

    out += render(segs, 0, 0, 0, 1)
    out += render(ref_segs, 0, 0, 1, 0)
    out += b"\xff\xd9"

    gw, gh, rgb = mm._parse_jpeg(bytes(out))
    assert (gw, gh) == (w, h)
    assert np.array_equal(rgb.reshape(h, w, 3)[..., 0], px)


def test_progressive_refinement_zrl_pattern():
    """Regression for the AC-refinement ZRL stranding bug: a band with
    a >=16-zero run followed by a HISTORY-NONZERO coefficient (|c|>=2)
    and a later new ±1 desyncs an encoder that defers pending ZRLs to
    the next new coefficient — the intervening coefficient's
    correction bit lands after the ZRL symbol but the decoder's ZRL
    walk never reaches its position. T.81/libjpeg emit pending ZRLs at
    EVERY nonzero position; this pins that. The block is found by a
    deterministic seeded search over DCT-basis pixels (pixel rounding
    makes direct coefficient placement unreliable)."""
    import numpy as np

    from coronavirus_dashboard_pipeline_etl_spark.functions.multimodal import (
        _ZZ,
        _dct_matrix,
        _parse_jpeg,
        build_jpeg,
        build_jpeg_progressive,
    )

    d = _dct_matrix()
    rng = np.random.RandomState(0)

    def pattern_ok(zz):
        band, run = zz[1:32], 0
        for i, v in enumerate(band):
            if v == 0:
                run += 1
                continue
            if run >= 16 and abs(v) >= 2 and any(
                abs(x) == 1 for x in band[i + 1 :]
            ):
                return True
            run = 0
        return False

    found = None
    for _ in range(20000):
        coefs = np.zeros((8, 8))
        hi = rng.randint(18, 26)
        lo = rng.randint(hi + 1, 32)
        r, c = _ZZ[hi]
        coefs[r, c] = rng.choice([4, 6, 8, 10])
        r, c = _ZZ[lo]
        coefs[r, c] = rng.choice([1, -1])
        px = np.clip(np.rint(d.T @ coefs @ d + 128.0), 0, 255).astype(np.uint8)
        got = np.rint(d @ (px.astype(np.float64) - 128.0) @ d.T).astype(int)
        if pattern_ok([got[rr, cc] for rr, cc in _ZZ]):
            found = px
            break
    assert found is not None, "seeded search failed to build the pattern"
    _, _, prog = _parse_jpeg(build_jpeg_progressive(8, 8, found.reshape(-1)))
    _, _, base = _parse_jpeg(build_jpeg(8, 8, found.reshape(-1)))
    assert np.array_equal(prog, base)


def test_stream_neardup_probe_live_matches_batch(spark, tmp_path):
    """probe_neardup_stream on a REAL stream (two micro-batches via
    maxFilesPerTrigger) emits exactly the pairs the batch operator
    finds for the same documents: stream-static band join + stateful
    pair dedup + verify all run under the streaming engine."""
    import json as _json

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        minhash_probe_pairs,
    )
    from coronavirus_dashboard_pipeline_etl_spark.streaming.neardup import (
        probe_neardup_stream,
    )

    corpus_rows = [
        (100, "the quick brown fox jumps over the lazy dog"),
        (101, "pack my box with five dozen liquor jugs"),
        (102, "sphinx of black quartz judge my vow"),
    ]
    batch1 = [
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy cat"},
        {"doc_id": 2, "text": "completely unrelated sentence about nothing"},
    ]
    batch2 = [
        {"doc_id": 3, "text": "pack my box with five dozen liquor jugs"},
        {"doc_id": 4, "text": "sphinx of black quartz judge my vow today"},
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "b1.json").write_text(
        "\n".join(_json.dumps(r) for r in batch1)
    )
    (in_dir / "b2.json").write_text(
        "\n".join(_json.dumps(r) for r in batch2)
    )

    stream = (
        spark.readStream.format("json")
        .schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .load(str(in_dir))
    )
    out = probe_neardup_stream(stream, corpus, k=16, bands=4, threshold=0.3)
    q = (
        out.writeStream.format("memory")
        .queryName("neardup_probe")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.new_id, r.old_id, round(r.jaccard, 12))
        for r in spark.table("neardup_probe").collect()
    }

    all_new = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in batch1 + batch2],
        "doc_id long, text string",
    )
    want = {
        (r.new_id, r.old_id, round(r.jaccard, 12))
        for r in minhash_probe_pairs(
            all_new, corpus, k=16, bands=4, threshold=0.3
        ).collect()
    }
    assert got == want
    assert got  # the exact-copy and near-copy pairs must be present
    assert any(n == 3 and o == 101 for n, o, _ in got)


def test_streaming_cdc_apply_matches_batch(spark, tmp_path):
    """Live availableNow file stream of CDC waves through
    cdc_apply_batch (foreachBatch): the final store must equal the
    one-shot batch apply_changes over the union — the composability
    property carried onto real streaming rails (two sequential
    stream runs = two micro-batches, store round-trip between them,
    checkpointed exactly-once file tracking)."""
    import json as _json

    from coronavirus_dashboard_pipeline_etl_spark.operators.asof import (
        apply_changes,
    )
    from coronavirus_dashboard_pipeline_etl_spark.streaming.ingest import (
        cdc_apply_batch,
        stream_release_files,
    )

    inp, chk, store = tmp_path / "cin", tmp_path / "cchk", tmp_path / "cstore"
    inp.mkdir()
    cdc_schema = "id long, val double, seq long, op string, src string"

    snap_rows = [(i, float(i * 10)) for i in range(20)]
    snap = spark.createDataFrame(snap_rows, "id long, val double")
    # seed the store with the snapshot
    snap.write.parquet(str(store))

    wave1 = [
        {"id": 1, "val": 11.0, "seq": 1, "op": "U", "src": "a"},
        {"id": 2, "val": 0.0, "seq": 1, "op": "D", "src": "a"},
        {"id": 50, "val": 500.0, "seq": 1, "op": "I", "src": "a"},
    ]
    wave2 = [
        {"id": 1, "val": 0.0, "seq": 2, "op": "D", "src": "a"},   # delete overrides
        {"id": 2, "val": 22.0, "seq": 2, "op": "U", "src": "a"},  # reinstate
        {"id": 3, "val": 33.0, "seq": 2, "op": "U", "src": "a"},
        {"id": 3, "val": 34.0, "seq": 2, "op": "U", "src": "b"},  # tiebreak: b wins
    ]

    def sink(batch, batch_id):
        cdc_apply_batch(
            batch, str(store), keys=("id",), tiebreak_cols=("src",)
        )

    for i, wave in enumerate((wave1, wave2)):
        (inp / f"w{i + 1}.json").write_text(
            "\n".join(_json.dumps(x) for x in wave)
        )
        q = stream_release_files(
            spark, str(inp), str(chk),
            transform=lambda df: df,
            sink=sink, schema=cdc_schema,
        )
        q.awaitTermination(60)

    got = {(r.id, r.val) for r in spark.read.parquet(str(store)).collect()}
    all_changes = spark.createDataFrame(
        [tuple(w[k] for k in ("id", "val", "seq", "op", "src"))
         for w in wave1 + wave2],
        cdc_schema,
    )
    expected = {
        (r.id, r.val)
        for r in apply_changes(
            snap, all_changes, keys=["id"], tiebreak_cols=["src"]
        ).collect()
    }
    assert got == expected
    assert (3, 34.0) in got and (1, 11.0) not in got and (2, 22.0) in got


def test_cdc_apply_batch_seq_guard(spark, tmp_path):
    """The store persists per-key __seq state and enforces in-order
    delivery (round-11 advice): a late lower-seq batch raises under
    the default guard, seq_guard='skip' drops exactly the stale rows,
    and redelivery of the SAME batch (seq equality) stays idempotent —
    foreachBatch is at-least-once."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from coronavirus_dashboard_pipeline_etl_spark.streaming.ingest import (
        CDC_SEQ_STATE,
        cdc_apply_batch,
    )

    store = str(tmp_path / "seqstore")
    schema = "id long, val double, seq long, op string"

    def apply(rows, **kw):
        cdc_apply_batch(
            spark.createDataFrame(rows, schema), store, keys=("id",), **kw
        )

    def read():
        return {
            (r.id, r.val, r[CDC_SEQ_STATE])
            for r in spark.read.parquet(store).collect()
        }

    apply([(1, 10.0, 2, "I"), (2, 20.0, 2, "I")])
    assert read() == {(1, 10.0, 2), (2, 20.0, 2)}

    # stale batch (seq 1 < stored 2) -> loud raise, store untouched
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError), match="out of order"
    ):
        apply([(1, 99.0, 1, "U")])
    assert read() == {(1, 10.0, 2), (2, 20.0, 2)}

    # skip mode: the stale row drops, the fresh row in the same batch
    # still applies
    apply([(1, 99.0, 1, "U"), (2, 22.0, 3, "U")], seq_guard="skip")
    assert read() == {(1, 10.0, 2), (2, 22.0, 3)}

    # redelivery of the last batch: seq == stored passes, result
    # idempotent (the stale row is still skipped)
    apply([(1, 99.0, 1, "U"), (2, 22.0, 3, "U")], seq_guard="skip")
    assert read() == {(1, 10.0, 2), (2, 22.0, 3)}

    # tombstone removes the key AND its seq state: a later re-insert
    # at a lower seq is the documented undetectable gap — it applies
    apply([(2, 0.0, 4, "D")])
    apply([(2, 5.0, 1, "I")])
    assert read() == {(1, 10.0, 2), (2, 5.0, 1)}

    # a pre-guard store (no __seq column) upgrades in place: NULL
    # state passes vacuously, the next write stamps real state
    legacy = str(tmp_path / "legacy")
    spark.createDataFrame([(7, 70.0)], "id long, val double").write.parquet(
        legacy
    )
    cdc_apply_batch(
        spark.createDataFrame([(8, 80.0, 1, "I")], schema),
        legacy,
        keys=("id",),
    )
    got = {
        (r.id, r.val, r[CDC_SEQ_STATE])
        for r in spark.read.parquet(legacy).collect()
    }
    assert got == {(7, 70.0, None), (8, 80.0, 1)}

    # reserved state column in the batch is rejected up front
    with pytest.raises(ValueError, match="reserved"):
        cdc_apply_batch(
            spark.createDataFrame(
                [(1, 1.0, 1, "I", 0)], schema + f", {CDC_SEQ_STATE} long"
            ),
            store,
            keys=("id",),
        )
    with pytest.raises(ValueError, match="seq_guard"):
        apply([(3, 1.0, 9, "I")], seq_guard="maybe")

    # NULL seq is rejected with its OWN message under error AND skip
    # (round-12 advice: three-valued stale logic would silently drop
    # it under 'skip' and mislabel it 'out of order' under 'error');
    # seq_guard='off' restores the unguarded pass-through
    for mode in ("error", "skip"):
        with pytest.raises(
            (SparkRuntimeException, Py4JJavaError), match="NULL seq"
        ):
            apply([(9, 1.0, None, "I")], seq_guard=mode)
    assert read() == {(1, 10.0, 2), (2, 5.0, 1)}
    apply([(9, 1.0, None, "I"), (10, 2.0, 5, "I")], seq_guard="off")
    assert (10, 2.0, 5) in read() and any(r[0] == 9 for r in read())


def test_streaming_index_upsert_matches_rebuild(spark, tmp_path):
    """Live availableNow file stream of crawl waves through
    index_upsert_batch (foreachBatch): the final band index must equal
    minhash_band_index rebuilt over each doc's LATEST crawl —
    bootstrap, replace-by-document (including a re-crawl that came
    back empty), and wave-slicing independence on real streaming
    rails."""
    import json as _json

    from coronavirus_dashboard_pipeline_etl_spark.functions.dedup import (
        band_index_read,
        minhash_band_index,
    )
    from coronavirus_dashboard_pipeline_etl_spark.store import STORE_BUCKET
    from coronavirus_dashboard_pipeline_etl_spark.streaming.ingest import (
        index_upsert_batch,
        stream_release_files,
    )

    inp, chk, store = tmp_path / "iin", tmp_path / "ichk", tmp_path / "istore"
    inp.mkdir()
    schema = "doc_id long, text string"

    wave1 = [
        {"doc_id": 1, "text": "alpha beta gamma delta epsilon zeta"},
        {"doc_id": 2, "text": "one two three four five six"},
        {"doc_id": 3, "text": "red green blue cyan magenta yellow"},
    ]
    wave2 = [
        {"doc_id": 2, "text": "one two three four five six seven"},
        {"doc_id": 3, "text": ""},  # empty re-crawl -> delete from index
        {"doc_id": 4, "text": "lorem ipsum dolor sit amet consectetur"},
    ]

    def sink(batch, batch_id):
        index_upsert_batch(batch, str(store), k=8, bands=2)

    for i, wave in enumerate((wave1, wave2)):
        (inp / f"w{i + 1}.json").write_text(
            "\n".join(_json.dumps(x) for x in wave)
        )
        q = stream_release_files(
            spark, str(inp), str(chk),
            transform=lambda df: df,
            sink=sink, schema=schema,
        )
        q.awaitTermination(60)

    # the sink persists the production PARTITIONED layout: bucket
    # directories on disk, plain (id, band, sig) via band_index_read
    raw = spark.read.parquet(str(store))
    assert STORE_BUCKET in raw.columns
    assert any(
        p.name.startswith(f"{STORE_BUCKET}=") for p in store.iterdir()
    )
    got = {
        tuple(r)
        for r in band_index_read(spark, str(store))
        .select("doc_id", "band", "sig")
        .collect()
    }
    final = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (4, "lorem ipsum dolor sit amet consectetur"),
        ],
        schema,
    )
    expected = {
        tuple(r) for r in minhash_band_index(final, k=8, bands=2).collect()
    }
    assert got == expected
    assert not any(r[0] == 3 for r in got)  # empty re-crawl deleted doc 3
