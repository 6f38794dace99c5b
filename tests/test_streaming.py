"""Structured Streaming tests: incremental CDC consumption, foreachBatch
materialization vs batch latest_state, watermarked window aggs, and
streaming dedup — all through real readStream/writeStream with
availableNow triggers (SURVEY §5.4)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysql_cdc_table_spark.cdc import cdc_read, latest_state
from mysql_cdc_table_spark.streaming.cdc_stream import (
    cdc_read_stream,
    materialize_latest_state,
    run_to_completion,
    streaming_dedup,
    windowed_op_rates,
)

TARGET = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("amt", T.DoubleType()),
    ]
)


def _env(op, before, after, gtid, pos, ts_ms, file="binlog.000001"):
    return json.dumps(
        {
            "op": op,
            "before": before,
            "after": after,
            "source": {
                "db": "d",
                "table": "t",
                "gtid": gtid,
                "file": file,
                "pos": pos,
                "ts_ms": ts_ms,
            },
        }
    )


BASE_TS = 1_700_000_000_000


@pytest.fixture()
def envelope_dir(tmp_path):
    """Three drip files: inserts, then updates, then a delete + late row."""
    d = tmp_path / "envelopes"
    d.mkdir()
    (d / "batch-000.jsonl").write_text(
        "\n".join(
            [
                _env("c", None, {"id": 1, "v": "a", "amt": 1.0}, 10, 100, BASE_TS),
                _env("c", None, {"id": 2, "v": "b", "amt": 2.0}, 11, 110, BASE_TS + 60_000),
            ]
        )
    )
    (d / "batch-001.jsonl").write_text(
        "\n".join(
            [
                _env(
                    "u",
                    {"id": 1, "v": "a", "amt": 1.0},
                    {"id": 1, "v": "a2", "amt": 1.5},
                    12,
                    120,
                    BASE_TS + 120_000,
                    file="binlog.000002",
                ),
            ]
        )
    )
    (d / "batch-002.jsonl").write_text(
        "\n".join(
            [
                _env(
                    "d",
                    {"id": 2, "v": "b", "amt": 2.0},
                    None,
                    13,
                    130,
                    BASE_TS + 180_000,
                    file="binlog.000002",
                ),
                _env("c", None, {"id": 3, "v": "c", "amt": 3.0}, 14, 140, BASE_TS + 240_000,
                     file="binlog.000002"),
            ]
        )
    )
    return str(d)


def test_stream_materialize_equals_batch(spark, tmp_path, envelope_dir):
    """foreachBatch MERGE materialization == batch latest_state over the
    same changelog (the streaming-batch equivalence the reference's
    rescan-from-zero semantics imply)."""
    store = str(tmp_path / "state.parquet")
    ckpt = str(tmp_path / "ckpt")

    stream = cdc_read_stream(spark, envelope_dir, TARGET, database="d", table="t")
    assert stream.isStreaming
    writer = materialize_latest_state(stream, ["id"], store, ckpt)
    run_to_completion(writer)

    got = {
        r["id"]: (r["v"], r["amt"])
        for r in spark.read.parquet(store).collect()
    }

    batch_cl = cdc_read(spark, envelope_dir, TARGET, database="d", table="t")
    want = {
        r["id"]: (r["v"], r["amt"])
        for r in latest_state(batch_cl, ["id"]).collect()
    }
    assert got == want == {1: ("a2", 1.5), 3: ("c", 3.0)}


def test_stream_incremental_restart(spark, tmp_path, envelope_dir):
    """Checkpointed restart: a second availableNow run over the same
    directory processes nothing new (offsets held), and a new file is
    picked up incrementally — the offset tracking the reference lacks."""
    store = str(tmp_path / "state.parquet")
    ckpt = str(tmp_path / "ckpt")
    stream = cdc_read_stream(spark, envelope_dir, TARGET, database="d", table="t")
    run_to_completion(materialize_latest_state(stream, ["id"], store, ckpt))
    first = sorted(
        (r["id"], r["v"]) for r in spark.read.parquet(store).collect()
    )

    # restart with no new data: state unchanged
    stream2 = cdc_read_stream(spark, envelope_dir, TARGET, database="d", table="t")
    run_to_completion(materialize_latest_state(stream2, ["id"], store, ckpt))
    assert sorted(
        (r["id"], r["v"]) for r in spark.read.parquet(store).collect()
    ) == first

    # drip one more file: key 3 updated incrementally
    import json as _json
    from pathlib import Path

    (Path(envelope_dir) / "batch-003.jsonl").write_text(
        _env(
            "u",
            {"id": 3, "v": "c", "amt": 3.0},
            {"id": 3, "v": "c2", "amt": 3.5},
            15,
            150,
            BASE_TS + 300_000,
            file="binlog.000003",
        )
    )
    stream3 = cdc_read_stream(spark, envelope_dir, TARGET, database="d", table="t")
    run_to_completion(materialize_latest_state(stream3, ["id"], store, ckpt))
    got = {r["id"]: r["v"] for r in spark.read.parquet(store).collect()}
    assert got == {1: "a2", 3: "c2"}


def test_windowed_op_rates_with_watermark(spark, tmp_path, envelope_dir):
    """Watermarked tumbling aggregation over the CDC stream, drained to a
    memory sink in append mode (only watermark-closed windows emit)."""
    stream = cdc_read_stream(spark, envelope_dir, TARGET, database="d", table="t")
    agg = windowed_op_rates(stream, watermark="1 minute")
    q = (
        agg.writeStream.format("memory")
        .queryName("op_rates")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM op_rates").collect()
    # all events except those within the watermark horizon of max(__tm)
    # (the last window may be held open); ops seen: 1 (x2), 2, 3, 0, 1
    got = {(r["win_start"].isoformat(), r["__op"]): r["n"] for r in rows}
    assert got, "no closed windows emitted"
    for (_, op), n in got.items():
        assert op in (0, 1, 2, 3) and n >= 1


def test_streaming_dedup_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark drops re-deliveries of the same key
    inside the horizon."""
    src = tmp_path / "dupes"
    src.mkdir()
    rows = [
        {"k": 1, "ts_ms": BASE_TS, "v": "x"},
        {"k": 1, "ts_ms": BASE_TS + 1000, "v": "x-redelivered"},
        {"k": 2, "ts_ms": BASE_TS + 2000, "v": "y"},
    ]
    (src / "f0.jsonl").write_text("\n".join(json.dumps(r) for r in rows))
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .json(str(src))
        .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    )
    deduped = streaming_dedup(stream, ["k"], "ts", "10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT k, v FROM dedup_sink").collect()
    assert sorted((r["k"], r["v"]) for r in out) == [(1, "x"), (2, "y")]


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Stream-stream inner join: impressions joined to clicks within a
    time bound, both sides watermarked (state bounded on both sides)."""
    imp_dir, clk_dir = tmp_path / "imps", tmp_path / "clks"
    imp_dir.mkdir(), clk_dir.mkdir()
    (imp_dir / "i.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"ad_id": 1, "imp_ms": BASE_TS},
                {"ad_id": 2, "imp_ms": BASE_TS + 10_000},
                {"ad_id": 3, "imp_ms": BASE_TS + 20_000},
            ]
        )
    )
    (clk_dir / "c.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"ad_id": 1, "clk_ms": BASE_TS + 30_000},      # within 2 min
                {"ad_id": 3, "clk_ms": BASE_TS + 500_000},     # too late: > 2 min
            ]
        )
    )
    imp_schema = T.StructType(
        [T.StructField("ad_id", T.LongType()), T.StructField("imp_ms", T.LongType())]
    )
    clk_schema = T.StructType(
        [T.StructField("ad_id", T.LongType()), T.StructField("clk_ms", T.LongType())]
    )
    imps = (
        spark.readStream.schema(imp_schema).json(str(imp_dir))
        .withColumn("imp_ts", F.timestamp_millis(F.col("imp_ms")))
        .withWatermark("imp_ts", "10 minutes")
    )
    clks = (
        spark.readStream.schema(clk_schema).json(str(clk_dir))
        .withColumn("clk_ts", F.timestamp_millis(F.col("clk_ms")))
        .withWatermark("clk_ts", "10 minutes")
    )
    joined = imps.join(
        clks,
        (imps.ad_id == clks.ad_id)
        & (clks.clk_ts >= imps.imp_ts)
        & (clks.clk_ts <= imps.imp_ts + F.expr("INTERVAL 2 MINUTES")),
    ).select(imps.ad_id, "imp_ts", "clk_ts")
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT ad_id FROM attrib").collect()
    # only ad 1 clicked within the attribution window
    assert sorted(r["ad_id"] for r in rows) == [1]


def test_hadoop_fs_helpers_roundtrip(spark, tmp_path):
    """sources.fs routes store maintenance through the JVM Hadoop
    FileSystem so the keyed stores work on HDFS/S3 as on local disk.
    Exercise every op the stores use — exists, listing, bucket-id
    parse, rename, recursive delete — against a real written store."""
    from mysql_cdc_table_spark.sources import fs as hfs

    p = str(tmp_path / "fsstore")
    assert not hfs.exists(spark, p)
    assert hfs.list_names(spark, p) == []
    assert hfs.bucket_ids(spark, p) == set()

    df = spark.range(100).withColumn(
        "__bucket", (F.col("id") % 4).cast("int")
    )
    df.write.partitionBy("__bucket").parquet(p)
    assert hfs.exists(spark, p)
    assert hfs.bucket_ids(spark, p) == {0, 1, 2, 3}

    hfs.delete(spark, f"{p}/__bucket=2")
    assert hfs.bucket_ids(spark, p) == {0, 1, 3}
    assert spark.read.parquet(p).count() == 75

    p2 = str(tmp_path / "fsstore2")
    hfs.rename(spark, p, p2)
    assert not hfs.exists(spark, p)
    assert hfs.bucket_ids(spark, p2) == {0, 1, 3}

    hfs.delete(spark, p2)
    assert not hfs.exists(spark, p2)
    hfs.delete(spark, p2)  # absent -> no-op, never raises


def test_partitioned_materialize_restart_and_bucket_cleanup(spark, tmp_path):
    """Bucketed keyed-upsert store across a kill/restart cycle:
    phase 1 builds state, phase 2 is a NEW query on the same checkpoint
    that consumes only the delta (update + delete + insert), and phase 3
    deletes every key — the store's bucket partitions must be dropped,
    not left stale by dynamic overwrite. After each phase the store must
    equal batch latest_state over everything seen so far."""
    from mysql_cdc_table_spark.streaming.cdc_stream import (
        materialize_latest_state_partitioned,
    )

    d = tmp_path / "env"
    d.mkdir()
    store = str(tmp_path / "bstate.parquet")
    ckpt = str(tmp_path / "bckpt")

    def run_phase():
        stream = cdc_read_stream(spark, str(d), TARGET, database="d", table="t")
        writer = materialize_latest_state_partitioned(
            stream, ["id"], store, ckpt, n_buckets=8
        )
        run_to_completion(writer)

    def store_state():
        import os

        if not any(n.startswith("__bucket=") for n in os.listdir(store)) if os.path.isdir(store) else True:
            return {}
        return {
            r["id"]: (r["v"], r["amt"])
            for r in spark.read.parquet(store).collect()
        }

    def batch_state():
        cl = cdc_read(spark, str(d), TARGET, database="d", table="t")
        return {
            r["id"]: (r["v"], r["amt"])
            for r in latest_state(cl, ["id"]).collect()
        }

    (d / "f0.jsonl").write_text(
        "\n".join(
            [
                _env("c", None, {"id": 1, "v": "a", "amt": 1.0}, 10, 100, BASE_TS),
                _env("c", None, {"id": 2, "v": "b", "amt": 2.0}, 11, 110, BASE_TS),
                _env("c", None, {"id": 3, "v": "c", "amt": 3.0}, 12, 120, BASE_TS),
                _env("u", {"id": 1, "v": "a", "amt": 1.0},
                     {"id": 1, "v": "a2", "amt": 1.5}, 13, 130, BASE_TS),
            ]
        )
    )
    run_phase()
    assert store_state() == batch_state() == {
        1: ("a2", 1.5), 2: ("b", 2.0), 3: ("c", 3.0)
    }

    # phase 2: new query object, same checkpoint — delta only
    (d / "f1.jsonl").write_text(
        "\n".join(
            [
                _env("d", {"id": 3, "v": "c", "amt": 3.0}, None, 14, 140, BASE_TS),
                _env("c", None, {"id": 4, "v": "d", "amt": 4.0}, 15, 150, BASE_TS),
                _env("u", {"id": 2, "v": "b", "amt": 2.0},
                     {"id": 2, "v": "b2", "amt": 2.5}, 16, 160, BASE_TS),
            ]
        )
    )
    run_phase()
    assert store_state() == batch_state() == {
        1: ("a2", 1.5), 2: ("b2", 2.5), 4: ("d", 4.0)
    }

    # phase 3: tombstone every key -> all bucket partitions dropped
    (d / "f2.jsonl").write_text(
        "\n".join(
            [
                _env("d", {"id": 1, "v": "a2", "amt": 1.5}, None, 17, 170, BASE_TS),
                _env("d", {"id": 2, "v": "b2", "amt": 2.5}, None, 18, 180, BASE_TS),
                _env("d", {"id": 4, "v": "d", "amt": 4.0}, None, 19, 190, BASE_TS),
            ]
        )
    )
    run_phase()
    import os

    assert not [n for n in os.listdir(store) if n.startswith("__bucket=")]


def test_kafka_value_decode_broker_less(spark):
    """decode_kafka_envelope over a static DataFrame standing in for the
    Kafka source's record shape: binary value bytes -> CAST AS STRING ->
    envelope decode, foreign db/table filtered, update unnested."""
    from mysql_cdc_table_spark.cdc.source import (
        KAFKA_RECORD_SCHEMA,
        decode_kafka_envelope,
    )

    envs = [
        _env("c", None, {"id": 1, "v": "a", "amt": 1.0}, 10, 100, BASE_TS),
        _env("u", {"id": 1, "v": "a", "amt": 1.0},
             {"id": 1, "v": "a2", "amt": 1.5}, 11, 110, BASE_TS),
        # foreign table: must be dropped by the filter
        json.dumps({"op": "c", "before": None,
                    "after": {"id": 9, "v": "x", "amt": 9.9},
                    "source": {"db": "d", "table": "other", "gtid": 12,
                               "file": "binlog.000001", "pos": 120,
                               "ts_ms": BASE_TS}}),
    ]
    records = spark.createDataFrame(
        [
            (None, e.encode("utf-8"), "t.cdc", 0, i, None, 0)
            for i, e in enumerate(envs)
        ],
        KAFKA_RECORD_SCHEMA,
    )
    cl = decode_kafka_envelope(records, TARGET, database="d", table="t")
    rows = sorted(cl.collect(), key=lambda r: (r["__gtid"], r["__image_seq"]))
    assert [r["__op"] for r in rows] == [1, 2, 3]
    assert rows[2]["v"] == "a2" and rows[2]["__image_seq"] == 1
    assert cl.filter("id = 9").count() == 0


def test_stream_stream_left_outer_interval_join(spark, tmp_path):
    """Left-outer stream-stream interval join: an impression with no
    click inside the attribution window must STILL emit (null click) —
    but only after the watermark passes the window's end, which a
    later-batch watermark-pusher row forces."""
    imp_dir, clk_dir = tmp_path / "lo_imps", tmp_path / "lo_clks"
    imp_dir.mkdir(), clk_dir.mkdir()
    (imp_dir / "i0.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"ad_id": 1, "imp_ms": BASE_TS},          # clicked in window
                {"ad_id": 2, "imp_ms": BASE_TS},          # never clicked
            ]
        )
    )
    (clk_dir / "c0.jsonl").write_text(
        json.dumps({"ad_id": 1, "clk_ms": BASE_TS + 30_000})
    )
    import time as _time

    _time.sleep(1.1)
    # watermark pushers, one hour later on BOTH sides (the join watermark
    # is the min of the sides) — landed in a second micro-batch
    (imp_dir / "i1.jsonl").write_text(
        json.dumps({"ad_id": 99, "imp_ms": BASE_TS + 3_600_000})
    )
    (clk_dir / "c1.jsonl").write_text(
        json.dumps({"ad_id": 99, "clk_ms": BASE_TS + 3_600_000})
    )

    imp_schema = T.StructType(
        [T.StructField("ad_id", T.LongType()), T.StructField("imp_ms", T.LongType())]
    )
    clk_schema = T.StructType(
        [T.StructField("ad_id", T.LongType()), T.StructField("clk_ms", T.LongType())]
    )
    imps = (
        spark.readStream.schema(imp_schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(imp_dir))
        .withColumn("imp_ts", F.timestamp_millis(F.col("imp_ms")))
        .withWatermark("imp_ts", "10 seconds")
    )
    clks = (
        spark.readStream.schema(clk_schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(clk_dir))
        .withColumn("clk_ts", F.timestamp_millis(F.col("clk_ms")))
        .withWatermark("clk_ts", "10 seconds")
    )
    joined = imps.join(
        clks,
        (imps.ad_id == clks.ad_id)
        & (clks.clk_ts >= imps.imp_ts)
        & (clks.clk_ts <= imps.imp_ts + F.expr("INTERVAL 2 MINUTES")),
        "leftOuter",
    ).select(imps.ad_id, "imp_ts", "clk_ts")
    q = (
        joined.writeStream.format("memory")
        .queryName("lo_attrib")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_lo"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["ad_id"]: r["clk_ts"] is not None
        for r in spark.sql("SELECT ad_id, clk_ts FROM lo_attrib").collect()
    }
    # ad 1 matched; ad 2 emitted with NULL click once the watermark
    # passed its window; pusher 99 matched itself
    assert got[1] is True and got[2] is False and 99 in got


def test_stateful_event_time_timeout_eviction(spark, tmp_path):
    """applyInPandasWithState + EventTimeTimeout: a key idle past the
    timeout horizon is evicted — emits a final evicted=true row and its
    state is removed (re-arrival starts from zero)."""
    from mysql_cdc_table_spark.streaming.stateful import expiring_user_totals

    src = tmp_path / "evict_src"
    src.mkdir()
    (src / "f0.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"user_id": 1, "value": 2.0, "ts_ms": BASE_TS},
                {"user_id": 1, "value": 3.0, "ts_ms": BASE_TS + 1_000},
            ]
        )
    )
    import time as _time

    _time.sleep(1.1)
    # a different key one hour later: advances the watermark far past
    # key 1's 30s idle horizon -> key 1 must time out in batch 2
    (src / "f1.jsonl").write_text(
        json.dumps({"user_id": 2, "value": 7.0, "ts_ms": BASE_TS + 3_600_000})
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts_ms", T.LongType()),
        ]
    )
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        .withWatermark("ts", "10 seconds")
    )
    q = (
        expiring_user_totals(events, idle_ms=30_000)
        .writeStream.format("memory")
        .queryName("evicted_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_evict"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql(
        "SELECT key, n, total, evicted FROM evicted_totals"
    ).collect()
    by = {(r["key"], r["evicted"]): (r["n"], r["total"]) for r in rows}
    # key 1: live row from batch 1, then the eviction row with its final
    # totals; key 2 stays live
    assert by[(1, False)] == (2, 5.0)
    assert by[(1, True)] == (2, 5.0)
    assert by[(2, False)] == (1, 7.0)


def test_scd2_store_incremental_matches_batch(spark, tmp_path):
    """Durable SCD2 store across a restart: after each phase (new query
    object, same checkpoint) the public store view must equal batch
    scd2 over everything streamed so far — intervals, current flags,
    and delete-closed chains included."""
    from mysql_cdc_table_spark.cdc.ops import scd2
    from mysql_cdc_table_spark.streaming.cdc_stream import (
        materialize_scd2_partitioned,
        read_scd2_store,
    )

    d = tmp_path / "env"
    d.mkdir()
    store = str(tmp_path / "scd2.parquet")
    ckpt = str(tmp_path / "scd2ckpt")

    def run_phase():
        stream = cdc_read_stream(spark, str(d), TARGET, database="d", table="t")
        writer = materialize_scd2_partitioned(
            stream, ["id"], store, ckpt, n_buckets=8
        )
        run_to_completion(writer)

    def store_rows():
        cols = ["id", "v", "amt", "__gtid", "valid_from", "valid_to", "is_current"]
        return sorted(
            (tuple(r[c] for c in cols) for r in read_scd2_store(spark, store).collect()),
            key=lambda t: (t[0], t[3]),
        )

    def batch_rows():
        # batch scd2 assumes an exactly-once changelog; the store adds
        # replay-dedup on top, so mirror it here before comparing
        cl = cdc_read(spark, str(d), TARGET, database="d", table="t").dropDuplicates(
            ["id", "__gtid", "__event_seq", "__image_seq"]
        )
        cols = ["id", "v", "amt", "__gtid", "valid_from", "valid_to", "is_current"]
        return sorted(
            (tuple(r[c] for c in cols) for r in scd2(cl, ["id"]).collect()),
            key=lambda t: (t[0], t[3]),
        )

    (d / "f0.jsonl").write_text(
        "\n".join(
            [
                _env("c", None, {"id": 1, "v": "a", "amt": 1.0}, 10, 100, BASE_TS),
                _env("c", None, {"id": 2, "v": "b", "amt": 2.0}, 11, 110, BASE_TS + 1000),
                _env("u", {"id": 1, "v": "a", "amt": 1.0},
                     {"id": 1, "v": "a2", "amt": 1.5}, 12, 120, BASE_TS + 2000),
            ]
        )
    )
    run_phase()
    got, want = store_rows(), batch_rows()
    assert got == want
    # id 1 has a closed + a current interval; id 2 one current interval
    assert len(got) == 3

    # phase 2: restart on same checkpoint — delta only: delete id 2
    # (closes its chain without opening), third version for id 1
    (d / "f1.jsonl").write_text(
        "\n".join(
            [
                _env("d", {"id": 2, "v": "b", "amt": 2.0}, None, 13, 130, BASE_TS + 3000),
                _env("u", {"id": 1, "v": "a2", "amt": 1.5},
                     {"id": 1, "v": "a3", "amt": 1.8}, 14, 140, BASE_TS + 4000),
            ]
        )
    )
    run_phase()
    got, want = store_rows(), batch_rows()
    assert got == want
    by_current = [r for r in got if r[-1]]
    assert len(got) == 4  # 3 versions of id 1 + 1 closed version of id 2
    assert len(by_current) == 1 and by_current[0][0] == 1 and by_current[0][1] == "a3"
    closed_id2 = [r for r in got if r[0] == 2]
    assert len(closed_id2) == 1 and closed_id2[0][-2] is not None  # valid_to set

    # phase 3: replay tolerance — re-deliver an already-seen event plus a
    # new insert for id 2 (chain reopens after the delete)
    (d / "f2.jsonl").write_text(
        "\n".join(
            [
                _env("u", {"id": 1, "v": "a2", "amt": 1.5},
                     {"id": 1, "v": "a3", "amt": 1.8}, 14, 140, BASE_TS + 4000),
                _env("c", None, {"id": 2, "v": "b9", "amt": 9.0}, 15, 150, BASE_TS + 5000),
            ]
        )
    )
    run_phase()
    got, want = store_rows(), batch_rows()
    assert got == want
    id2 = [r for r in got if r[0] == 2]
    assert len(id2) == 2
    assert [r[-1] for r in sorted(id2, key=lambda r: r[3])] == [False, True]


def test_stream_stream_join_pairs_across_micro_batches(spark):
    """stream_stream_join's cross-batch claim, asserted: the staged
    2-files-per-side feed with maxFilesPerTrigger=1 must run >= 2
    data micro-batches (a trailing no-data flush batch is
    timing-dependent), join state must actually buffer rows between
    them, and the streamed result must equal the batch join computed
    directly."""
    from mysql_cdc_table_spark.operators.round10 import stream_stream_join

    sf_dir = "/root/testdata/sf0.001"
    out: list = []
    df = stream_stream_join(spark, sf_dir, _query_out=out)
    got = {tuple(r) for r in df.collect()}

    q = out[0]
    # progress events post ASYNCHRONOUSLY — awaitTermination returning
    # does not guarantee the final batch's progress is visible yet;
    # poll briefly. batchId >= 1 means >= TWO data batches ran (the
    # trailing no-data flush batch is timing-dependent and may or may
    # not appear) — with maxFilesPerTrigger=1 each side's second file
    # joins the other side's batch-0 rows from the state store, so two
    # batches already force cross-batch pairing.
    import time

    deadline = time.time() + 30
    while time.time() < deadline:
        p = q.lastProgress
        state = (p or {}).get("stateOperators") or []
        if (
            p
            and p["batchId"] >= 1
            and state
            and state[0]["numRowsTotal"] > 0
        ):
            break
        time.sleep(0.5)
    assert q.lastProgress["batchId"] >= 1, q.lastProgress
    state = q.lastProgress.get("stateOperators") or []
    assert state and state[0]["numRowsTotal"] > 0, q.lastProgress

    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.operators._util import t

    e = (
        t(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("vm", F.floor(F.col("value") * 1000).cast("long"))
    )
    l = e.filter(F.col("event_id") % 4 == 0).alias("l")
    r = e.filter(F.col("event_id") % 4 == 1).alias("r")
    want = {
        tuple(x)
        for x in (
            l.join(
                r,
                F.expr(
                    "l.user_id = r.user_id AND r.ts >= l.ts "
                    "AND r.ts <= l.ts + INTERVAL 1 HOUR"
                ),
            )
            .groupBy(
                F.col("l.event_type").alias("type_a"),
                F.col("r.event_type").alias("type_b"),
            )
            .agg(
                F.count("*").cast("long").alias("n_pairs"),
                F.sum(F.col("l.vm") + F.col("r.vm"))
                .cast("long")
                .alias("milli_sum"),
            )
            .collect()
        )
    }
    assert got == want


def test_stream_stream_join_state_survives_restart(spark, tmp_path):
    """Stream-stream join state must survive a CHECKPOINTED RESTART:
    run 1 stages ONLY the left feed (no right file exists — zero pairs
    can form; every left row must enter the state store), the query
    drains (availableNow) and stops; run 2 starts a NEW query on the
    same checkpoint after the right file lands. EVERY pair in the
    output therefore spans the restart — it can only come from
    recovered state. Result must equal the batch join exactly; a join
    that rebuilds empty state on restart emits nothing, one that
    replays run 1 duplicates."""
    from pyspark.sql import functions as F

    from mysql_cdc_table_spark.operators._util import t

    sf_dir = "/root/testdata/sf0.001"
    e = (
        t(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("vm", F.floor(F.col("value") * 1000).cast("long"))
        .select("event_id", "user_id", "ts", "event_type", "vm")
    )
    l_all = e.filter(F.col("event_id") % 4 == 0)
    r_all = e.filter(F.col("event_id") % 4 == 1)
    l_dir, r_dir = tmp_path / "l", tmp_path / "r"
    sink, ckpt = tmp_path / "sink", tmp_path / "ckpt_restart"
    for d in (l_dir, r_dir):
        d.mkdir()

    def drop(df, d, name):
        import glob
        import shutil

        tmp = str(tmp_path / f"tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.copy(src, str(d / f"{name}.parquet"))

    def run_once():
        schema = l_all.schema
        ls = (
            spark.readStream.schema(schema)
            .parquet(str(l_dir))
            .withWatermark("ts", "3650 days")
            .alias("l")
        )
        rs = (
            spark.readStream.schema(schema)
            .parquet(str(r_dir))
            .withWatermark("ts", "3650 days")
            .alias("r")
        )
        q = (
            ls.join(
                rs,
                F.expr(
                    "l.user_id = r.user_id AND r.ts >= l.ts "
                    "AND r.ts <= l.ts + INTERVAL 1 HOUR"
                ),
            )
            .select(
                F.col("l.event_id").alias("lid"),
                F.col("r.event_id").alias("rid"),
                (F.col("l.vm") + F.col("r.vm")).alias("pm"),
            )
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: the whole LEFT feed, no right file -> zero pairs possible
    drop(l_all, l_dir, "f1")
    run_once()
    assert spark.read.parquet(str(sink)).count() == 0

    # run 2: the right feed lands; a NEW query recovers the checkpoint
    drop(r_all, r_dir, "f1")
    run_once()

    got = sorted(
        (r["lid"], r["rid"], r["pm"])
        for r in spark.read.parquet(str(sink)).collect()
    )
    l, r = l_all.alias("l"), r_all.alias("r")
    want = sorted(
        tuple(x)
        for x in l.join(
            r,
            F.expr(
                "l.user_id = r.user_id AND r.ts >= l.ts "
                "AND r.ts <= l.ts + INTERVAL 1 HOUR"
            ),
        )
        .select(
            F.col("l.event_id").alias("lid"),
            F.col("r.event_id").alias("rid"),
            (F.col("l.vm") + F.col("r.vm")).alias("pm"),
        )
        .collect()
    )
    assert len(want) > 0
    assert got == want  # exactly once per pair, all recovered-state


def test_run_to_completion_stops_and_raises_on_timeout(spark, tmp_path):
    """A query that cannot drain within the timeout is stopped and
    raises TimeoutError instead of coming back still running."""
    import time

    src = tmp_path / "src"
    spark.range(4).write.json(str(src))

    def never_drains(batches):
        time.sleep(600)
        yield from batches

    stream = (
        spark.readStream.schema("id long").json(str(src))
        .mapInPandas(never_drains, "id long")
    )
    writer = (
        stream.writeStream.queryName("never_drains")
        .format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    t0 = time.monotonic()
    try:
        with pytest.raises(TimeoutError):
            run_to_completion(writer, timeout_s=3)
        assert all(q.name != "never_drains" for q in spark.streams.active)
    finally:
        for q in spark.streams.active:
            if q.name == "never_drains":
                q.stop()
    assert time.monotonic() - t0 < 120
