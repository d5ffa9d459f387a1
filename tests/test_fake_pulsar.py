"""Egress semantics against the fake in-process broker: murmur3 slot
parity end-to-end, per-partition ordering, batching, event time
(reference terminal stage: DeltaLakeConnectorSource.java:97-100,
DeltaRecord.java:195-234)."""

import pyspark.sql.functions as F

from pulsar_io_delta_spark.functions.murmur3 import partition_id_for
from pulsar_io_delta_spark.operators.pipeline import to_pulsar_wire
from pulsar_io_delta_spark.streaming.fake_pulsar import FakeBroker, publish
from pulsar_io_delta_spark.tables import table

N_PART = 8


def test_wire_frame_routes_by_murmur3_end_to_end(spark, sf_dir):
    """Every message lands in the partition murmur3-seed-0 assigns its
    key — the frame's partition_id column and the producer agree."""
    d = table(spark, sf_dir, "documents")
    value = F.concat(F.lit('{"doc_id":'), F.col("doc_id").cast("string"), F.lit("}"))
    wire = to_pulsar_wire(d, "source", value, num_partitions=N_PART).orderBy("key")
    broker = FakeBroker()
    publish(wire, broker, "docs", N_PART)
    assert broker.total_messages("docs") == d.count()
    for p in range(N_PART):
        for msg in broker.partition_log("docs", p):
            assert partition_id_for(msg.key, N_PART) == p
    # the frame's own partition_id column matches the broker placement
    frame_slots = {r.key: r.partition_id for r in wire.select("key", "partition_id").collect()}
    for p in range(N_PART):
        for msg in broker.partition_log("docs", p):
            assert frame_slots[msg.key] == p


def test_per_partition_ordering_preserved(spark):
    """Rows published in frame order stay ordered within each partition
    (sequence ids strictly increasing per partition log)."""
    rows = [(f"key-{i % 20}", i) for i in range(1000)]
    df = spark.createDataFrame(rows, "key string, seq long").orderBy("seq")
    wire = df.select("key", F.col("seq").cast("string").cast("binary").alias("value"))
    broker = FakeBroker()
    publish(wire.coalesce(1), broker, "ordered", N_PART, batch_max=7)
    seen = 0
    for p in range(N_PART):
        log = broker.partition_log("ordered", p)
        seen += len(log)
        seqs = [m.sequence_id for m in log]
        assert seqs == sorted(seqs)  # broker order == producer order
        per_key: dict = {}
        for m in log:
            v = int(m.value.decode())
            assert per_key.get(m.key, -1) < v  # per-key monotone
            per_key[m.key] = v
    assert seen == 1000


def test_batching_flush_boundaries_and_event_time(spark):
    df = spark.createDataFrame(
        [(f"k{i}", f"v{i}", 1_700_000_000_000 + i) for i in range(25)],
        "key string, value string, ts long",
    )
    wire = df.select("key", F.col("value").cast("binary").alias("value"), "ts").orderBy("ts")
    broker = FakeBroker()
    producer = publish(wire, broker, "batched", 4, batch_max=10, event_time_col="ts")
    # 25 messages / batch_max 10 → 3 flushes (10, 10, 5-tail on close)
    assert producer.flushes == 3
    all_msgs = [m for p in range(4) for m in broker.partition_log("batched", p)]
    assert len(all_msgs) == 25
    by_seq = sorted(all_msgs, key=lambda m: m.sequence_id)
    assert [m.batch_id for m in by_seq] == [0] * 10 + [1] * 10 + [2] * 5
    for m in by_seq:
        assert m.event_time_ms == 1_700_000_000_000 + m.sequence_id
        assert m.properties["TS"] == str(m.event_time_ms)


def test_explicit_partition_overrides_routing():
    broker = FakeBroker()
    broker.create_topic("explicit", 4)
    from pulsar_io_delta_spark.streaming.fake_pulsar import FakePulsarProducer

    producer = FakePulsarProducer(broker, "explicit", batch_max=2)
    producer.send("any-key", b"x", partition=3)
    producer.close()
    assert len(broker.partition_log("explicit", 3)) == 1


def test_frame_partition_id_routes_each_row(spark):
    rows = [(f"k{i}", i % 4) for i in range(40)]
    wire = spark.createDataFrame(rows, "key string, partition_id int").select(
        "key", F.col("key").cast("binary").alias("value"), "partition_id"
    )
    broker = FakeBroker()
    publish(wire, broker, "by_frame", 4)
    for p in range(4):
        assert {m.key for m in broker.partition_log("by_frame", p)} == {
            k for k, slot in rows if slot == p
        }


def test_frame_without_partition_id_routes_by_key(spark):
    rows = [(f"key-{i}",) for i in range(100)]
    wire = spark.createDataFrame(rows, "key string").select(
        "key", F.col("key").cast("binary").alias("value")
    )
    broker = FakeBroker()
    publish(wire, broker, "by_key", N_PART)
    assert broker.total_messages("by_key") == 100
    for p in range(N_PART):
        for msg in broker.partition_log("by_key", p):
            assert partition_id_for(msg.key, N_PART) == p
