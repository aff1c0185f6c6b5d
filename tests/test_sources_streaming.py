"""Sources (replay/filedrop/kafka-serde/initializer/mirror), sinks,
streaming state, stateful nodes, multimodal plumbing."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

QUOTE = T.StructType([T.StructField("sym", T.StringType()), T.StructField("px", T.DoubleType())])


# --- replay (S4/S5) --------------------------------------------------------

def test_changelog_round_trip(spark, tmp_path):
    from csp_gateway_spark.sources.replay import replay_round_trip_check

    df = spark.createDataFrame(
        [("A", 1.0, "2024-01-01T00:00:00"), ("B", 2.0, "2024-01-01T00:00:01")],
        "sym string, px double, timestamp string",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    assert replay_round_trip_check({"quotes": df}, spark, str(tmp_path / "log"))


def test_replay_skips_pre_start_and_rewrites(spark, tmp_path):
    from csp_gateway_spark.sources.replay import read_changelog, replay_channel, write_changelog

    df = spark.createDataFrame(
        [("A", 1.0, "2024-01-01T00:00:00"), ("B", 2.0, "2024-06-01T00:00:00")],
        "sym string, px double, timestamp string",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    path = str(tmp_path / "log2")
    write_changelog({"q": df}, path, mode="overwrite")
    log = read_changelog(spark, path, start="2024-03-01")
    out = replay_channel(log, "q", df.schema, flag_updates={"replayed": True})
    rows = out.collect()
    assert len(rows) == 1 and rows[0].sym == "B" and rows[0].replayed is True


# --- filedrop (S7) ---------------------------------------------------------

def test_filedrop_batch(spark, tmp_path):
    from csp_gateway_spark.sources.filedrop import FileDropConfiguration, ReadFileDrop
    from csp_gateway_spark.catalog import ChannelCatalog

    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "a.json").write_text('{"sym": "A", "px": 1.0}\n{"sym": "B", "px": 2.0}\n')
    cat = ChannelCatalog(spark)
    ReadFileDrop(
        config=FileDropConfiguration(directory=str(drop), format="json", channel="quotes", schema_struct=QUOTE)
    ).connect(cat)
    rows = cat.get_channel("quotes").collect()
    assert {r.sym for r in rows} == {"A", "B"}
    assert all(r.id is not None and r.timestamp is not None for r in rows)


def test_filedrop_bad_format(spark):
    from csp_gateway_spark.sources.filedrop import FileDropConfiguration, read_filedrop

    with pytest.raises(ValueError):
        read_filedrop(spark, FileDropConfiguration(directory="/tmp", format="xml", channel="c"))


# --- kafka serde (S2/S3) ---------------------------------------------------

def test_kafka_serialize_deserialize(spark):
    from csp_gateway_spark.sources.kafka import deserialize, serialize, starting_offsets

    df = spark.createDataFrame([("A", 1.0)], QUOTE)
    ser = serialize(df, key_col="sym").collect()[0]
    assert ser.key == "A" and json.loads(ser.value) == {"sym": "A", "px": 1.0}
    back = (
        spark.createDataFrame([(ser.value,)], "value string")
        .select(deserialize(F.col("value"), QUOTE).alias("r"))
        .select("r.*")
        .collect()[0]
    )
    assert back.sym == "A" and back.px == 1.0
    assert starting_offsets("earliest") == "earliest"
    assert starting_offsets("2024-01-01T00:00:00+00:00") == "1704067200000"


def test_kafka_requires_broker(spark):
    from csp_gateway_spark.sources.kafka import KafkaConfiguration, read_kafka

    with pytest.raises(RuntimeError):
        read_kafka(spark, KafkaConfiguration(), "topic", QUOTE)


def test_adjust_out_of_order(spark):
    from csp_gateway_spark.sources.kafka import adjust_out_of_order
    import datetime

    df = spark.createDataFrame(
        [("A", datetime.datetime(2020, 1, 1)), ("B", datetime.datetime(2026, 1, 1))],
        "sym string, ts timestamp",
    )
    out = adjust_out_of_order(df, "ts", datetime.datetime(2024, 1, 1))
    clamped = {r.sym: r.ts for r in out.collect()}
    assert clamped["A"] == datetime.datetime(2024, 1, 1)
    assert clamped["B"] == datetime.datetime(2026, 1, 1)


# --- initializer / mirror (S10/P6) ----------------------------------------

def test_initialize_and_mirror(spark):
    from csp_gateway_spark.catalog import Gateway
    from csp_gateway_spark.sources.initializer import Initialize, Mirror

    gw = Gateway(
        modules=[
            Initialize(channel="seed", values=[{"sym": "A", "px": 1.0}], schema_struct=QUOTE),
            Mirror(source="seed", target="copy", state_keyby="sym"),
        ]
    )
    cat = gw.build(spark)
    assert cat.get_channel("copy").count() == 1
    assert cat.state("copy").collect()[0].sym == "A"


# --- sinks (S8/S9/S11) -----------------------------------------------------

def test_project_for_sink(spark):
    from csp_gateway_spark.sinks import project_for_sink

    df = spark.createDataFrame([("A", 1.0)], QUOTE)
    out = project_for_sink(df, fields=["sym"], renames={"sym": "symbol"}, constants={"env": "test"})
    row = out.collect()[0]
    assert row.symbol == "A" and row.env == "test" and "px" not in out.columns


def test_graph_output_and_monitoring(spark):
    from csp_gateway_spark.sinks import graph_output, monitoring_foreach_batch

    df = spark.createDataFrame([("EVENT", "t", "x")], "a string, b string, c string")
    out = graph_output({"ch": df})
    assert len(out["ch"]) == 1
    received = []
    hook = monitoring_foreach_batch(lambda events: received.extend(events))
    hook(df, 0)
    assert received and received[0].alert_type == "EVENT"


# --- streaming state (A3 streaming form) -----------------------------------

def test_streaming_keyed_last(spark, tmp_path):
    from csp_gateway_spark.streaming.state_stream import LastValueCache, streaming_keyed_last

    src = tmp_path / "stream_src"
    src.mkdir()
    schema = "sym string, px double, seq long"
    (src / "b1.json").write_text('{"sym":"A","px":1.0,"seq":1}\n{"sym":"B","px":2.0,"seq":2}\n')
    stream = spark.readStream.schema(schema).json(str(src))
    cache = LastValueCache()
    q = streaming_keyed_last(
        stream,
        ["sym"],
        "s_quotes",
        order_by=["seq"],
        checkpoint=str(tmp_path / "ckpt"),
        cache=cache,
        channel="quotes",
    )
    try:
        q.processAllAvailable()
        state = {r.sym: r.px for r in spark.table("global_temp.s_quotes").collect()}
        assert state == {"A": 1.0, "B": 2.0}
        # second micro-batch upserts A
        (src / "b2.json").write_text('{"sym":"A","px":9.0,"seq":3}\n')
        q.processAllAvailable()
        state = {r.sym: r.px for r in spark.table("global_temp.s_quotes").collect()}
        assert state == {"A": 9.0, "B": 2.0}
        assert cache.last("quotes")[0].px == 9.0
    finally:
        q.stop()


def test_streaming_keyed_last_plan_stays_flat(spark, tmp_path):
    """40 one-row micro-batches over 3 keys: the state reads after every
    batch, and its analyzed plan is no longer at batch 40 than at 5."""
    from csp_gateway_spark.streaming.state_stream import streaming_keyed_last

    src = tmp_path / "stream_src"
    src.mkdir()
    stream = spark.readStream.schema("sym string, px double, seq long").json(str(src))
    q = streaming_keyed_last(
        stream, ["sym"], "s_long", checkpoint=str(tmp_path / "ckpt"), order_by=["seq"], trigger_seconds=0.05
    )
    want, plan_lines = {}, {}
    try:
        for seq in range(1, 41):
            sym = "ABC"[seq % 3]
            (src / f"b{seq:02d}.json").write_text(f'{{"sym":"{sym}","px":{seq}.0,"seq":{seq}}}\n')
            q.processAllAvailable()
            want[sym] = float(seq)
            state = spark.table("global_temp.s_long")
            assert {r.sym: r.px for r in state.collect()} == want
            plan_lines[seq] = len(state._jdf.queryExecution().analyzed().toString().splitlines())
    finally:
        q.stop()
    assert plan_lines[40] == plan_lines[5]


# --- stateful nodes (U2/W10) -----------------------------------------------

def test_stateful_counter_and_ewma(spark):
    from csp_gateway_spark.streaming.stateful import ewma_batch, stateful_counter_batch

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 5.0)], "key string, t long, v double"
    )
    counted = stateful_counter_batch(df, ["key"], ts_col="t")
    assert {(r.key, r.t): r.tick_count for r in counted.collect()} == {
        ("a", 1): 1,
        ("a", 2): 2,
        ("b", 1): 1,
    }
    ew = ewma_batch(df, ["key"], "v", "t", alpha=0.5)
    vals = {(r.key, r.t): r.ewma for r in ew.collect()}
    assert vals[("a", 1)] == 10.0 and vals[("a", 2)] == 15.0


# --- multimodal (stub decode, real plumbing) -------------------------------

def test_multimodal_pipeline(spark):
    from csp_gateway_spark.operators.multimodal import (
        decode_image,
        image_features,
        sample_frames,
        with_content_meta,
    )

    rows = [(1, b"imagebytes-1"), (2, b"imagebytes-2")]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    meta = with_content_meta(df).collect()
    assert all(r.n_bytes == 12 and len(r.sha1) == 40 for r in meta)

    decoded = decode_image(df, fake=True, out_width=4, out_height=4)
    drows = decoded.collect()
    assert all(len(r.pixels) == 4 * 4 * 3 for r in drows)
    # deterministic: same content -> same pixels
    again = decode_image(df, fake=True, out_width=4, out_height=4).collect()
    assert drows[0].pixels == again[0].pixels

    feats = image_features(decoded).collect()
    assert all(0 <= r.mean_r <= 255 for r in feats)

    frames = sample_frames(df, fake=True)
    assert frames.count() >= 2

    with pytest.raises(Exception):  # real decode is stubbed
        decode_image(df, fake=False).collect()


def test_cycle_snapshot_round_trip_preserves_simultaneity(spark, tmp_path):
    """Per-cycle snapshot file (reference json_converter granularity):
    channels ticking in the SAME engine cycle share one snapshot row;
    decode reproduces the per-(channel, tick) changelog exactly."""
    import json

    from csp_gateway_spark.sources.replay import (
        read_cycle_snapshot,
        replay_channel,
        write_cycle_snapshot,
    )

    quotes = spark.createDataFrame(
        [("A", 1.0, "2024-01-01T00:00:00"), ("B", 2.0, "2024-01-01T00:00:01")],
        "sym string, px double, timestamp string",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    trades = spark.createDataFrame(
        [("A", 5, "2024-01-01T00:00:00")],  # same cycle as quote A
        "sym string, qty long, timestamp string",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))

    path = str(tmp_path / "cycles")
    write_cycle_snapshot({"quotes": quotes, "trades": trades}, path, mode="overwrite")

    # one file row per CYCLE (2 distinct engine timestamps), and the
    # 00:00:00 cycle carries both channels in a single row
    raw = [json.loads(r.value) for r in spark.read.text(path).collect()]
    assert len(raw) == 2
    per_cycle = {r["csp_timestamp"]: json.loads(r["encoding"]) for r in raw}
    chans_at_t0 = sorted(t["channel"] for t in per_cycle[min(per_cycle)])
    assert chans_at_t0 == ["quotes", "trades"]

    log = read_cycle_snapshot(spark, path)
    q = replay_channel(log, "quotes", quotes.schema).orderBy("sym").collect()
    t = replay_channel(log, "trades", trades.schema).collect()
    assert [(r.sym, r.px) for r in q] == [("A", 1.0), ("B", 2.0)]
    assert [(r.sym, r.qty) for r in t] == [("A", 5)]
