"""End-to-end CDC pipeline tests (SURVEY.md §7 minimum slice + §2.3 A3).

Replays a synthetic Debezium changelog — same envelope shape as the golden
sample /root/reference/sample/cdc.orders.change-log-mysql.json — through
``CdcPipeline.run_batch`` with a ``KeyedParquetSink``, asserting the exact
acceptance scenario the reference encodes (SURVEY.md §5.3):

- inserts aggregate into daily totals,
- an ``op:"u"`` flipping status to ``closed`` *drops* the totals
  (retraction, flink-ddl.sql:213),
- an ``op:"d"`` removes the key from the sink (delete propagation),
- replaying the same batch is a no-op (idempotence → effectively-once),
- a corrupt JSON line doesn't poison the batch (ignore-parse-errors, S2).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_streaming_etl_spark.sources.cdc import CdcSource, latest_state
from flink_streaming_etl_spark.sources.debezium import parse_envelopes
from flink_streaming_etl_spark.streaming.pipeline import CdcPipeline
from flink_streaming_etl_spark.streaming.upsert_sink import KeyedParquetSink

ORDER_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("user_id", StringType()),
        StructField("amount", DoubleType()),
        StructField("status", StringType()),
        StructField("ctime", StringType()),
    ]
)


def env(op, after=None, before=None, ts=0):
    return json.dumps(
        {
            "before": before,
            "after": after,
            "source": {"db": "ec", "table": "orders", "ts_ms": ts},
            "op": op,
            "ts_ms": ts,
        }
    )


def order(oid, user, amount, status, day="2020-07-30"):
    return {
        "id": oid,
        "user_id": user,
        "amount": amount,
        "status": status,
        "ctime": f"{day} 10:00:00",
    }


def raw_df(spark, lines):
    return spark.createDataFrame([(l,) for l in lines], "value string")


def day_stats_query(states):
    o = states["orders"].filter(F.col("status") != "closed")
    return o.groupBy(
        F.col("user_id"), F.substring("ctime", 1, 10).alias("day")
    ).agg(
        F.sum("amount").alias("amount"),
        F.count(F.lit(1)).alias("cnt"),
        F.concat_ws("|", "user_id", F.substring("ctime", 1, 10)).alias("id"),
    ).select("id", "user_id", "day", "amount", "cnt")


@pytest.fixture()
def pipeline(spark, tmp_path):
    src = CdcSource("orders", ORDER_SCHEMA, "id")
    sink = KeyedParquetSink(spark, str(tmp_path / "sink"), "id")
    return CdcPipeline(spark, {"orders": src}, day_stats_query, sink), src


def parse(spark, src, lines):
    return src.parse(raw_df(spark, lines))


def sink_rows(sink):
    return {r["id"]: (r["amount"], r["cnt"]) for r in sink.read().collect()}


def test_cdc_full_scenario(spark, pipeline):
    pipe, src = pipeline

    # Batch 1: three inserts, two users.
    b1 = [
        env("c", order("o1", "u1", 100.0, "payed"), ts=1),
        env("c", order("o2", "u1", 50.0, "payed"), ts=2),
        env("c", order("o3", "u2", 30.0, "created"), ts=3),
    ]
    pipe.run_batch({"orders": parse(spark, src, b1)})
    assert sink_rows(pipe.sink) == {
        "u1|2020-07-30": (150.0, 2),
        "u2|2020-07-30": (30.0, 1),
    }

    # Batch 2: o2 flips to closed → u1's totals must DROP (retraction, A3).
    b2 = [
        env(
            "u",
            order("o2", "u1", 50.0, "closed"),
            before=order("o2", "u1", 50.0, "payed"),
            ts=4,
        )
    ]
    pipe.run_batch({"orders": parse(spark, src, b2)})
    assert sink_rows(pipe.sink) == {
        "u1|2020-07-30": (100.0, 1),
        "u2|2020-07-30": (30.0, 1),
    }

    # Batch 3: delete u2's only order → its key disappears from the sink.
    b3 = [env("d", before=order("o3", "u2", 30.0, "created"), ts=5)]
    pipe.run_batch({"orders": parse(spark, src, b3)})
    assert sink_rows(pipe.sink) == {"u1|2020-07-30": (100.0, 1)}

    # Replaying batch 3 is a no-op (idempotence / effectively-once, T6).
    pipe.run_batch({"orders": parse(spark, src, b3)})
    assert sink_rows(pipe.sink) == {"u1|2020-07-30": (100.0, 1)}


def test_corrupt_line_does_not_poison_batch(spark, pipeline):
    pipe, src = pipeline
    lines = [
        env("c", order("o1", "u1", 10.0, "payed"), ts=1),
        "{not valid json at all",
        env("c", order("o4", "u3", 7.0, "payed"), ts=2),
    ]
    pipe.run_batch({"orders": parse(spark, src, lines)})
    assert sink_rows(pipe.sink) == {
        "u1|2020-07-30": (10.0, 1),
        "u3|2020-07-30": (7.0, 1),
    }


def test_latest_state_orders_by_ts(spark):
    src = CdcSource("orders", ORDER_SCHEMA, "id")
    lines = [
        env("c", order("o1", "u1", 10.0, "created"), ts=1),
        env("u", order("o1", "u1", 10.0, "payed"), before=order("o1", "u1", 10.0, "created"), ts=2),
        env("u", order("o1", "u1", 10.0, "shipped"), before=order("o1", "u1", 10.0, "payed"), ts=3),
    ]
    state = latest_state(parse(spark, src, lines), "id").collect()
    assert len(state) == 1 and state[0]["status"] == "shipped"


def test_golden_sample_parses(spark):
    """The verbatim reference golden envelope (op:"u", closed→payed flip at
    cdc.orders.change-log-mysql.json:116-131) must parse."""
    golden = json.dumps(
        {
            "before": {
                "id": "o-gold",
                "user_id": "0001",
                "amount": 100.0,
                "status": "closed",
                "ctime": "2020-07-30 10:08:22",
            },
            "after": {
                "id": "o-gold",
                "user_id": "0001",
                "amount": 100.0,
                "status": "payed",
                "ctime": "2020-07-30 10:08:22",
            },
            "source": {"db": "ec", "table": "orders", "ts_ms": 1596067944000},
            "op": "u",
            "ts_ms": 1596068186537,
        }
    )
    parsed = parse_envelopes(raw_df(spark, [golden]), ORDER_SCHEMA).collect()
    assert len(parsed) == 1
    row = parsed[0]
    assert row["op"] == "u"
    assert row["before"]["status"] == "closed"
    assert row["after"]["status"] == "payed"


def test_snapshot_then_changelog_handover(spark):
    """S1/T6: snapshot + binlog tail ≡ full-changelog replay — the
    mysql-cdc handover expressed as state equality."""
    src = CdcSource("orders", ORDER_SCHEMA, "id")
    full_log = [
        env("c", order("o1", "u1", 10.0, "created"), ts=1),
        env("c", order("o2", "u2", 20.0, "created"), ts=2),
        env("u", order("o1", "u1", 10.0, "payed"),
            before=order("o1", "u1", 10.0, "created"), ts=3),
        env("c", order("o3", "u3", 30.0, "created"), ts=4),
        env("d", before=order("o2", "u2", 20.0, "created"), ts=5),
    ]
    # Snapshot taken after ts=2 (o1 created, o2 created), tail = ts>=3.
    snapshot = spark.createDataFrame(
        [
            ("o1", "u1", 10.0, "created", "2020-07-30 10:00:00"),
            ("o2", "u2", 20.0, "created", "2020-07-30 10:00:00"),
        ],
        ORDER_SCHEMA,
    )
    tail = parse(spark, src, full_log[2:])
    handover = src.snapshot_then_changelog(snapshot, tail)
    replay = latest_state(parse(spark, src, full_log), "id")
    got = {r["id"]: r["status"] for r in handover.collect()}
    want = {r["id"]: r["status"] for r in replay.collect()}
    assert got == want == {"o1": "payed", "o3": "created"}

    # Overlap tolerance: the tail re-delivering pre-snapshot events (an
    # at-least-once handover) must not change the result.
    overlap = src.snapshot_then_changelog(snapshot, parse(spark, src, full_log))
    got2 = {r["id"]: r["status"] for r in overlap.collect()}
    assert got2 == want


def test_stream_restart_from_checkpoint(spark, tmp_path, pipeline):
    """T6: kill the streaming query, add more changelog, restart from the
    same checkpoint — previously-processed files are not reapplied and the
    sink converges to the full-replay result."""
    pipe, src = pipeline
    changelog_dir = tmp_path / "log"
    changelog_dir.mkdir()
    ckpt = str(tmp_path / "ckpt2")
    (changelog_dir / "f1.jsonl").write_text(
        env("c", order("o1", "u1", 100.0, "payed"), ts=1)
    )
    q = pipe.run_stream("orders", src.stream_changelog(spark, str(changelog_dir)), ckpt)
    q.awaitTermination(120)
    assert sink_rows(pipe.sink) == {"u1|2020-07-30": (100.0, 1)}

    (changelog_dir / "f2.jsonl").write_text(
        "\n".join([
            env("c", order("o2", "u1", 50.0, "payed"), ts=2),
            env("d", before=order("o1", "u1", 100.0, "payed"), ts=3),
        ])
    )
    q2 = pipe.run_stream("orders", src.stream_changelog(spark, str(changelog_dir)), ckpt)
    q2.awaitTermination(120)
    assert sink_rows(pipe.sink) == {"u1|2020-07-30": (50.0, 1)}


def test_kafka_record_decoding_mocked(spark):
    """S2/S6 without a broker: a batch DataFrame shaped exactly like the
    Kafka connector's output (binary key/value) decodes through the same
    path the live connector uses; the PK-struct message key survives as a
    repartitionable column."""
    from flink_streaming_etl_spark.sources.cdc import decode_kafka_records

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    key = json.dumps({"id": "o1"})  # Kafka message key = PK struct (S6)
    value = env("c", order("o1", "u1", 10.0, "payed"), ts=1)
    records = spark.createDataFrame(
        [(key.encode(), value.encode(), "shard1.ec.orders", 0, 0)],
        "key binary, value binary, topic string, partition int, offset long",
    )
    out = decode_kafka_records(src, records).collect()
    assert len(out) == 1
    row = out[0]
    assert row["key"] == key
    assert row["op"] == "c" and row["after"]["id"] == "o1"


def test_schema_evolution_mid_stream(spark):
    """Upstream ALTER TABLE mid-stream: later envelopes carry a new column.
    The evolved source parses both generations (old envelopes → NULL for
    the added field), and apply_changelog merges old-schema state with
    new-schema chunks additively — no state rewrite."""
    from flink_streaming_etl_spark.sources.cdc import apply_changelog

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    state = apply_changelog(
        None,
        parse(spark, src, [
            env("c", order("o1", "u1", 10.0, "created"), ts=1),
            env("c", order("o2", "u2", 20.0, "created"), ts=2),
        ]),
        "id",
    )

    evolved_schema = StructType(
        ORDER_SCHEMA.fields + [StructField("channel", StringType())]
    )
    src2 = src.evolve(evolved_schema)
    assert src2.primary_key == ["id"] and src2.name == "orders"

    row = order("o3", "u3", 30.0, "created")
    row["channel"] = "web"
    upd = order("o1", "u1", 10.0, "payed")
    upd["channel"] = "app"
    state2 = apply_changelog(
        state,
        parse(spark, src2, [
            env("c", row, ts=3),
            env("u", upd, before=order("o1", "u1", 10.0, "created"), ts=4),
        ]),
        "id",
    )

    got = {r["id"]: (r["status"], r["channel"]) for r in state2.collect()}
    assert got == {
        "o1": ("payed", "app"),       # updated row carries the new column
        "o2": ("created", None),      # pre-evolution state row → NULL
        "o3": ("created", "web"),
    }

    # the evolved source still parses OLD envelopes (missing field → NULL)
    state3 = apply_changelog(
        state2, parse(spark, src2, [env("c", order("o4", "u4", 5.0, "created"), ts=5)]), "id"
    )
    assert {r["id"]: r["channel"] for r in state3.collect()}["o4"] is None


def test_emit_changelog_round_trip(spark):
    """The engine as CDC producer: emit_changelog(old, new) must be a
    changelog that apply_changelog replays old → new exactly (c/u/d all
    exercised), and unchanged rows must emit nothing."""
    from flink_streaming_etl_spark.sources.cdc import apply_changelog, emit_changelog

    old = spark.createDataFrame(
        [
            ("o1", "u1", 10.0, "created", "2020-07-30 10:00:00"),
            ("o2", "u2", 20.0, "created", "2020-07-30 10:00:00"),
            ("o3", "u3", 30.0, "payed", "2020-07-30 10:00:00"),
        ],
        ORDER_SCHEMA,
    )
    new = spark.createDataFrame(
        [
            ("o1", "u1", 10.0, "payed", "2020-07-30 10:00:00"),   # changed
            ("o3", "u3", 30.0, "payed", "2020-07-30 10:00:00"),   # unchanged
            ("o4", "u4", 40.0, "created", "2020-07-30 11:00:00"), # added
        ],                                                         # o2 deleted
        ORDER_SCHEMA,
    )

    log = emit_changelog(old, new, "id", ts_ms=99)
    ops = {r["op"]: r for r in log.collect()}
    assert set(ops) == {"c", "u", "d"}
    assert ops["c"]["after"]["id"] == "o4" and ops["c"]["before"] is None
    assert ops["d"]["before"]["id"] == "o2" and ops["d"]["after"] is None
    assert ops["u"]["before"]["status"] == "created"
    assert ops["u"]["after"]["status"] == "payed"

    replayed = apply_changelog(old, log, "id")
    got = sorted((r["id"], r["status"]) for r in replayed.collect())
    want = sorted((r["id"], r["status"]) for r in new.collect())
    assert got == want

    # bootstrap: old=None emits pure inserts, replay builds the state
    boot = emit_changelog(None, new, "id", ts_ms=1)
    assert {r["op"] for r in boot.collect()} == {"c"}
    built = apply_changelog(None, boot, "id")
    assert sorted(r["id"] for r in built.collect()) == ["o1", "o3", "o4"]


def test_emit_changelog_control_characters(spark):
    """Change detection is an exact struct comparison, immune to sentinel/
    separator collisions: a value literally equal to the old '\\x01' NULL
    sentinel vs NULL must emit an update, and embedded '\\x00' separator
    bytes must not shift field boundaries into a false 'unchanged'."""
    from flink_streaming_etl_spark.sources.cdc import apply_changelog, emit_changelog

    schema = "id string, a string, b string"
    old = spark.createDataFrame(
        [
            ("k1", None, "x"),          # a: NULL → '\x01'  (sentinel collision)
            ("k2", "p\x00", "q"),       # '\x00' boundary shift: (p\0, q) vs (p, \0q)
            ("k3", "same", "same"),     # genuinely unchanged
        ],
        schema,
    )
    new = spark.createDataFrame(
        [("k1", "\x01", "x"), ("k2", "p", "\x00q"), ("k3", "same", "same")], schema
    )
    log = emit_changelog(old, new, "id")
    got = {r["after"]["id"]: r["op"] for r in log.collect()}
    assert got == {"k1": "u", "k2": "u"}  # k3 emits nothing

    replayed = apply_changelog(old, log, "id")
    assert sorted(map(tuple, replayed.collect())) == sorted(map(tuple, new.collect()))


def test_emit_changelog_schema_evolution(spark):
    """emit_changelog across an additive schema change (new side gained a
    column): old-side images carry a typed NULL for the added column, and
    apply_changelog (allowMissingColumns) replays old → new."""
    from flink_streaming_etl_spark.sources.cdc import apply_changelog, emit_changelog

    old = spark.createDataFrame([("k1", 1), ("k2", 2)], "id string, a int")
    new = spark.createDataFrame(
        [("k1", 1, "n1"), ("k2", 3, None)], "id string, a int, note string"
    )
    log = emit_changelog(old, new, "id")
    rows = {r["after"]["id"]: r for r in log.collect()}
    # k1: only the NULL→'n1' note change; k2: a changed AND note stays NULL
    assert set(rows) == {"k1", "k2"}
    assert rows["k1"]["op"] == "u" and rows["k1"]["before"]["note"] is None
    assert rows["k2"]["after"]["a"] == 3

    replayed = apply_changelog(old, log, "id")
    got = sorted((r["id"], r["a"], r["note"]) for r in replayed.collect())
    assert got == [("k1", 1, "n1"), ("k2", 3, None)]


def test_cdc_pipeline_with_bucket_partitioned_sink(spark, tmp_path):
    """BucketPartitionedSink is a drop-in for the CDC pipeline: the golden
    insert→retract→delete scenario converges to the same sink state as the
    full-rewrite sink."""
    from flink_streaming_etl_spark.streaming.upsert_sink import BucketPartitionedSink

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    sink = BucketPartitionedSink(spark, str(tmp_path / "bsink"), "id", n_buckets=4)
    pipe = CdcPipeline(spark, {"orders": src}, day_stats_query, sink)

    pipe.run_batch({"orders": parse(spark, src, [
        env("c", order("o1", "u1", 100.0, "payed"), ts=1),
        env("c", order("o2", "u1", 50.0, "payed"), ts=2),
        env("c", order("o3", "u2", 30.0, "created"), ts=3),
    ])})
    assert sink_rows(pipe.sink) == {
        "u1|2020-07-30": (150.0, 2),
        "u2|2020-07-30": (30.0, 1),
    }

    # retraction: o2 flips to closed → u1 totals drop
    pipe.run_batch({"orders": parse(spark, src, [
        env("u", order("o2", "u1", 50.0, "closed"),
            before=order("o2", "u1", 50.0, "payed"), ts=4),
    ])})
    assert sink_rows(pipe.sink) == {
        "u1|2020-07-30": (100.0, 1),
        "u2|2020-07-30": (30.0, 1),
    }

    # delete the last u2 order → its day-stats key disappears from the sink
    pipe.run_batch({"orders": parse(spark, src, [
        env("d", before=order("o3", "u2", 30.0, "created"), ts=5),
    ])})
    assert sink_rows(pipe.sink) == {"u1|2020-07-30": (100.0, 1)}
    # the full-content commit keeps the _bucket= layout partial merges read
    assert sink.exists()


def test_single_topic_multi_table_stream(spark, tmp_path):
    """One changelog stream carrying TWO tables' envelopes (the Debezium
    single-topic layout): each CdcSource parses the shared stream and keeps
    its own rows via the envelope's source.table field; the enrichment join
    updates when EITHER side changes (users rename propagates to the order
    view). Streaming result == batch recompute."""
    from pyspark.sql.types import StructField, StructType

    USER_SCHEMA = StructType(
        [StructField("id", StringType()), StructField("name", StringType())]
    )

    def env2(op, table, after=None, before=None, ts=0):
        return json.dumps(
            {
                "before": before,
                "after": after,
                "source": {"db": "ec", "table": table, "ts_ms": ts},
                "op": op,
                "ts_ms": ts,
            }
        )

    orders_src = CdcSource("orders", ORDER_SCHEMA, "id")
    users_src = CdcSource("users", USER_SCHEMA, "id")

    def order_view(states):
        o, u = states["orders"], states["users"]
        return o.join(u, o.user_id == u.id).select(
            o.id.alias("id"),
            F.col("amount").alias("order_amount"),
            F.col("name").alias("user_name"),
        )

    sink = KeyedParquetSink(spark, str(tmp_path / "sink"), "id")
    pipe = CdcPipeline(
        spark, {"orders": orders_src, "users": users_src}, order_view, sink
    )

    log_dir = tmp_path / "topic"
    log_dir.mkdir()
    (log_dir / "f1.jsonl").write_text(
        "\n".join(
            [
                env2("c", "users", {"id": "u1", "name": "Ada"}, ts=1),
                env2("c", "orders", order("o1", "u1", 100.0, "payed"), ts=2),
            ]
        )
    )
    (log_dir / "f2.jsonl").write_text(
        "\n".join(
            [
                env2("c", "users", {"id": "u2", "name": "Bob"}, ts=3),
                env2("c", "orders", order("o2", "u2", 50.0, "payed"), ts=4),
                env2("u", "users", {"id": "u1", "name": "Grace"},
                     before={"id": "u1", "name": "Ada"}, ts=5),
            ]
        )
    )

    raw_stream = (
        spark.readStream.format("text").option("maxFilesPerTrigger", 1)
        .load(str(log_dir))
    )

    def process(batch_df, batch_id):
        chunks = {}
        for name, src in pipe.sources.items():
            chunk = src.parse(batch_df).filter(F.col("source.table") == name)
            chunks[name] = chunk
        pipe.run_batch(chunks)

    q = (
        raw_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r["id"]: (r["order_amount"], r["user_name"]) for r in sink.read().collect()}
    # u1's rename (ts=5) must have propagated into o1's enriched row
    assert got == {"o1": (100.0, "Grace"), "o2": (50.0, "Bob")}


def test_kafka_reader_options_construction():
    """S2 live path, broker-free: the Kafka source option set the live
    branch feeds to readStream.format('kafka') — bootstrap, topic
    subscribe, earliest startup, consumer group (reference
    flink-ddl.sql:12-18 / README.md:132-150)."""
    from flink_streaming_etl_spark.sources.cdc import kafka_reader_options

    opts = kafka_reader_options(
        "broker-1:9092,broker-2:9092",
        "cdc.orders",
        group_id_prefix="flink-etl-spark-orders",
        max_offsets_per_trigger=100000,
    )
    assert opts["kafka.bootstrap.servers"] == "broker-1:9092,broker-2:9092"
    assert opts["subscribe"] == "cdc.orders"
    assert opts["startingOffsets"] == "earliest"
    assert opts["groupIdPrefix"] == "flink-etl-spark-orders"
    assert opts["maxOffsetsPerTrigger"] == "100000"
    assert opts["failOnDataLoss"] == "false"


def test_stream_changelog_env_flag_routes_to_kafka(spark, monkeypatch):
    """SPARK_GRAFT_KAFKA selects the live-Kafka branch (one env var away
    from live); unset, the file-replay path is untouched. The connector
    jar/broker only enter at .load(), so routing is asserted via a stub."""
    import flink_streaming_etl_spark.sources.cdc as cdc_mod

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    seen = {}

    def fake_kafka_changelog(sp, source, bootstrap, topic, starting_offsets="earliest"):
        seen.update(bootstrap=bootstrap, topic=topic, name=source.name)
        return sp.createDataFrame([], "op string")

    monkeypatch.setattr(cdc_mod, "kafka_changelog", fake_kafka_changelog)
    monkeypatch.setenv("SPARK_GRAFT_KAFKA", "localhost:9092")
    src.stream_changelog(spark)
    assert seen == {"bootstrap": "localhost:9092", "topic": "cdc.orders", "name": "orders"}

    seen.clear()
    src.stream_changelog(spark, topic="custom.topic")
    assert seen["topic"] == "custom.topic"


def test_scd2_history_versions_and_delete(spark):
    """SCD2 from the changelog: each c/u/r opens a version at its ts_ms,
    the next event for the key closes it (half-open intervals), a delete
    closes without emitting, and only the last undeleted version is
    current."""
    from flink_streaming_etl_spark.sources.cdc import scd2_history

    src = CdcSource("orders", ORDER_SCHEMA, "id")
    lines = [
        env("c", after=order("o1", "u1", 10.0, "open"), ts=100),
        env("u", after=order("o1", "u1", 12.0, "open"),
            before=order("o1", "u1", 10.0, "open"), ts=200),
        env("u", after=order("o1", "u1", 12.0, "closed"),
            before=order("o1", "u1", 12.0, "open"), ts=300),
        env("c", after=order("o2", "u2", 5.0, "open"), ts=150),
        env("d", before=order("o2", "u2", 5.0, "open"), ts=250),
        env("r", after=order("o3", "u3", 7.0, "open"), ts=50),
    ]
    hist = scd2_history(parse(spark, src, lines), "id").collect()
    by_key = {}
    for r in hist:
        by_key.setdefault(r["id"], []).append(r)
    for versions in by_key.values():
        versions.sort(key=lambda r: r["valid_from_ms"])

    # o1: three versions, contiguous half-open intervals, last is current
    v = by_key["o1"]
    assert [(r["valid_from_ms"], r["valid_to_ms"]) for r in v] == [
        (100, 200), (200, 300), (300, None)
    ]
    assert [r["amount"] for r in v] == [10.0, 12.0, 12.0]
    assert [r["status"] for r in v] == ["open", "open", "closed"]
    assert [r["is_current"] for r in v] == [False, False, True]
    # o2: the delete closed its only version; nothing is current
    v = by_key["o2"]
    assert [(r["valid_from_ms"], r["valid_to_ms"], r["is_current"]) for r in v] == [
        (150, 250, False)
    ]
    # o3: snapshot read opens a current version
    v = by_key["o3"]
    assert [(r["valid_from_ms"], r["valid_to_ms"], r["is_current"]) for r in v] == [
        (50, None, True)
    ]
    # invariant: latest_state equals the is_current slice (minus audit cols)
    cur = {r["id"]: r["amount"] for r in hist if r["is_current"]}
    live = {r["id"]: r["amount"]
            for r in latest_state(parse(spark, src, lines), "id").collect()}
    assert cur == live
