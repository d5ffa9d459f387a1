"""One change planner (DeltaTable.plan_changes) behind every change
reader: the pulsar_delta_cdc stream and batch source, DeltaTable.cdc()
(the connector) and table_changes() (CDF) must emit the same records,
with the same event time and partition value, for the same commits."""

import json
import os
import time
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from pulsar_io_delta_spark.connector import ConnectorConfig, DeltaCdcConnector
from pulsar_io_delta_spark.sources import delta_log
from pulsar_io_delta_spark.sources.datasource import (
    _CdcStreamReader,
    _canonical_pv,
    register_delta_cdc,
)
from pulsar_io_delta_spark.sources.delta_log import DeltaTable

T0 = 1_700_000_000_000  # a fixed epoch-ms base for hand-written file times


def _schema(*fields: tuple[str, str]) -> str:
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": n, "type": t, "nullable": True, "metadata": {}} for n, t in fields
            ],
        }
    )


def _add(path: str, rel: str, cols: dict, mtime: int, pv: dict) -> dict:
    """Write one parquet data file under the table; return its add action."""
    fp = os.path.join(path, rel)
    os.makedirs(os.path.dirname(fp), exist_ok=True)
    pq.write_table(pa.table(cols), fp)
    return {
        "path": rel,
        "partitionValues": pv,
        "size": os.path.getsize(fp),
        "modificationTime": mtime,
        "dataChange": True,
    }


def _ids(*ids: int) -> dict:
    return {"id": pa.array(ids, pa.int64())}


def _stream_rows(spark, path: str, ck: str, **opts) -> list:
    rows: list = []
    reader = spark.readStream.format("pulsar_delta_cdc").option("tablePath", path)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.foreachBatch(lambda b, _i: rows.extend(b.collect()))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    return rows


def _key(r) -> tuple:
    return (r.id, r.k, r.v, r.op, r.partition_value, r.ts, r._commit_version)


def test_canonical_pv_encodes_null_as_null():
    assert _canonical_pv({"k": None, "a": "x"}) == "a=xk=null"


def test_null_partition_value_routes_like_the_connector(spark, tmp_path):
    path = str(tmp_path / "t")
    t = DeltaTable(path)
    t.commit_external_adds(
        [
            _add(path, "k=a/f0.parquet", _ids(0), T0, {"k": "a"}),
            _add(path, "k=__HIVE_DEFAULT_PARTITION__/f1.parquet", _ids(1), T0, {"k": None}),
        ],
        operation="WRITE",
        schema_json=_schema(("id", "long"), ("k", "string")),
        partition_by=["k"],
    )
    register_delta_cdc(spark)
    ds = spark.read.format("pulsar_delta_cdc").option("tablePath", path).load()
    got = {(r.id, r.partition_value) for r in ds.collect()}
    assert got == {(0, "k=a"), (1, "k=null")}
    assert {(r.id, r.partition_value) for r in t.cdc(spark).collect()} == got


def test_stream_batch_and_cdc_emit_the_same_records(spark, tmp_path):
    """Multi-file commit with distinct file times, a delete, a
    compaction (dataChange=false), a schema evolution and a null
    partition value: all three readers agree row for row, including
    each row's event time and partition value."""
    path = str(tmp_path / "t")
    t = DeltaTable(path)
    base = _schema(("id", "long"), ("k", "string"))
    t.commit_external_adds(  # v0: three files, three file times
        [
            _add(path, "k=a/f0.parquet", _ids(0, 1), T0 + 1_000, {"k": "a"}),
            _add(path, "k=a/f1.parquet", _ids(2, 3), T0 + 5_000, {"k": "a"}),
            _add(path, "k=b/f2.parquet", _ids(4), T0 + 9_000, {"k": "b"}),
        ],
        operation="WRITE",
        schema_json=base,
        partition_by=["k"],
    )
    t.delete_where(spark, "id = 0")  # v1: remove + rewritten add
    t.compact(spark)  # v2: dataChange=false, invisible to change readers
    t.commit_external_adds(  # v3: schema evolution
        [
            _add(
                path,
                "k=b/f3.parquet",
                {**_ids(5), "v": pa.array([0.5], pa.float64())},
                T0 + 13_000,
                {"k": "b"},
            )
        ],
        operation="WRITE",
        schema_json=_schema(("id", "long"), ("k", "string"), ("v", "double")),
    )
    t.commit_external_adds(  # v4: null partition value
        [_add(path, "k=__HIVE_DEFAULT_PARTITION__/f4.parquet", _ids(6), T0 + 17_000, {"k": None})],
        operation="WRITE",
        schema_json=base,
    )
    assert any(
        not a["add"]["dataChange"] for a in t.actions(2) if "add" in a
    ), "v2 must be a compaction commit"
    register_delta_cdc(spark)

    stream = sorted(map(_key, _stream_rows(spark, path, str(tmp_path / "ck"))), key=repr)
    batch = sorted(
        map(_key, spark.read.format("pulsar_delta_cdc").option("tablePath", path).load().collect()),
        key=repr,
    )
    cdc = sorted(map(_key, t.cdc(spark).collect()), key=repr)
    assert stream == batch == cdc
    assert not [r for r in cdc if r[-1] == 2]  # compaction rows: none
    ts_v0 = {r[0]: r[5] for r in cdc if r[-1] == 0}
    assert ts_v0[1] != ts_v0[2] != ts_v0[4]  # each file keeps its own time
    assert {r[4] for r in cdc if r[-1] == 4} == {"k=null"}
    assert {r[2] for r in cdc if r[-1] == 3} == {0.5}


def test_change_feed_commit_time_agrees_on_ict_table(spark, tmp_path, monkeypatch):
    """On an in-commit-timestamp CDF table the change-file rows of the
    pulsar_delta_cdc feed carry the same commit time as table_changes'
    _commit_timestamp: the inCommitTimestamp, not the wall timestamp."""
    path = str(tmp_path / "t")
    t = DeltaTable(path)
    t.write(
        spark.range(6).select(F.col("id").alias("event_id"), (F.col("id") * 1.5).alias("value")),
        configuration={
            "delta.enableChangeDataFeed": "true",
            "delta.enableInCommitTimestamps": "true",
        },
    )
    # a writer whose wall clock is behind: its ICT is the predecessor's
    # plus one, its commitInfo.timestamp 1 s after the epoch
    monkeypatch.setattr(delta_log, "time", types.SimpleNamespace(time=lambda: 1.0, sleep=time.sleep))
    t.delete_where(spark, "event_id < 2")  # v1: _change_data files
    monkeypatch.undo()
    info = next(a["commitInfo"] for a in t.actions(1) if "commitInfo" in a)
    assert info["inCommitTimestamp"] != info["timestamp"]
    register_delta_cdc(spark)
    feed = (
        spark.read.format("pulsar_delta_cdc")
        .option("tablePath", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", 1)
        .load()
    )
    got = {(r._commit_version, r.ts) for r in feed.select("_commit_version", "ts").distinct().collect()}
    want = {
        (r._commit_version, r._commit_timestamp)
        for r in t.table_changes(spark, 1).select("_commit_version", "_commit_timestamp").distinct().collect()
    }
    assert got == want and len(got) == 1


def test_capped_stream_parses_each_admitted_commit_once(tmp_path, monkeypatch):
    """maxFilesPerTrigger=1 over a 30-commit backlog: latestOffset parses
    each admitted commit's log once, never the rest of the backlog."""
    path = str(tmp_path / "t")
    t = DeltaTable(path)
    for v in range(30):
        t.commit_external_adds(
            [_add(path, f"f{v}.parquet", _ids(v), T0 + v, {})],
            operation="WRITE",
            schema_json=_schema(("id", "long")),
        )
    parsed: list[int] = []
    real = DeltaTable.actions

    def counted(self, version):
        parsed.append(version)
        return real(self, version)

    monkeypatch.setattr(DeltaTable, "actions", counted)
    r = _CdcStreamReader(None, {"tablePath": path, "maxFilesPerTrigger": "1"})
    start = r.initialOffset()
    offsets = [r.latestOffset() for _ in range(30)]
    assert [o["version"] for o in offsets] == list(range(1, 31))
    assert len(parsed) <= 31, sorted(parsed)
    monkeypatch.undo()
    assert [s.version for s in r.partitions(start, offsets[-1])] == list(range(30))


def test_poll_never_delivers_past_its_cursor(spark, tmp_path, monkeypatch):
    """A commit landing between poll's head read and its change scan
    belongs to the next poll, not to this one as well."""
    path = str(tmp_path / "t")
    t = DeltaTable(path)
    for lo in (0, 10, 20):
        t.write(spark.range(lo, lo + 3).select(F.col("id").alias("event_id")))
    conn = DeltaCdcConnector(ConnectorConfig.load({"tablePath": path, "startingVersion": 0}))
    cursor = conn.open()
    head = t.latest_version()
    monkeypatch.setattr(conn.table, "latest_version", lambda: head - 1)
    df, cursor = conn.poll(spark, cursor)
    assert cursor.snapshot_version == head - 1
    versions = {r._commit_version for r in df.select("_commit_version").collect()}
    assert versions and max(versions) <= cursor.snapshot_version


def test_stream_sink_keeps_table_properties_and_identity(spark, tmp_path):
    """Sink commits run under the table's configuration (periodic
    checkpoints fire), and a schema evolution through the sink keeps
    the table's metaData id and configuration."""
    register_delta_cdc(spark)
    path = str(tmp_path / "t")
    t = DeltaTable(path)
    t.write(
        spark.range(2).select(F.col("id").alias("event_id")),
        configuration={"delta.checkpointInterval": "2"},
    )

    def sink(src: str, schema: str, app_id: str) -> None:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.format("pulsar_delta_cdc")
            .option("tablePath", path)
            .option("appId", app_id)
            .option("checkpointLocation", src + "_ck")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    src = str(tmp_path / "in")
    for i in range(4):
        spark.range(10 * i, 10 * i + 5).select(F.col("id").alias("event_id")).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    sink(src, "event_id long", "ingest")
    assert t.latest_version() == 4
    assert t.checkpoint_versions(), "delta.checkpointInterval=2 never fired"

    evolved = str(tmp_path / "in2")
    spark.range(100, 103).select(F.col("id").alias("event_id"), F.lit("x").alias("tag")).coalesce(
        1
    ).write.parquet(evolved)
    sink(evolved, "event_id long, tag string", "evolve")
    metas = [a["metaData"] for v in t.json_versions() for a in t.actions(v) if "metaData" in a]
    assert len(metas) == 2
    assert "tag" in metas[-1]["schemaString"]
    assert metas[-1]["id"] == metas[0]["id"]
    assert metas[-1]["configuration"] == metas[0]["configuration"]
    assert t.snapshot().configuration == {"delta.checkpointInterval": "2"}
    assert t.read(spark).count() == 2 + 20 + 3


def test_sink_commits_assign_row_ids(spark, tmp_path):
    """pulsar_delta_cdc writes to a row-tracked table get fresh row ids
    past the high-water mark, like any other append."""
    register_delta_cdc(spark)
    path = str(tmp_path / "t")
    t = DeltaTable(path)
    t.write(
        spark.range(10).select(F.col("id").alias("k")).coalesce(1),
        configuration={"delta.enableRowTracking": "true"},
    )
    spark.range(100, 105).select(F.col("id").alias("k")).coalesce(1).write.format(
        "pulsar_delta_cdc"
    ).option("tablePath", path).mode("append").save()
    ids = {r.k: r.row_id for r in t.read_with_row_ids(spark).collect()}
    assert sorted(ids.values()) == list(range(15))
