"""One rewrite-commit path (DeltaTable._rewrite_commit) under the DML,
maintenance and metadata-only verbs: each commit carries at most one
protocol and one metaData action, keeps the table id, runs under the
table configuration, and the readers downstream (connector poll, the
pulsar_delta_cdc sink and source) agree with what it wrote."""

import json
import os

import pytest
from pyspark.sql import functions as F

from pulsar_io_delta_spark.connector import (
    INCREMENTAL_COPY,
    Checkpoint,
    ConnectorConfig,
    DeltaCdcConnector,
)
from pulsar_io_delta_spark.sources.datasource import register_delta_cdc
from pulsar_io_delta_spark.sources.delta_log import DeltaProtocolError, DeltaTable

CDF = {"delta.enableChangeDataFeed": "true"}
ICT = {"delta.enableInCommitTimestamps": "true"}


def _rows(spark, ids, extra: str | None = None):
    cols = "event_id long, value double" + (f", {extra} string" if extra else "")
    return spark.createDataFrame(
        [(i, float(i)) + ((f"x{i}",) if extra else ()) for i in ids], cols
    )


def _protocols(t: DeltaTable, v: int) -> list[dict]:
    return [a["protocol"] for a in t.actions(v) if "protocol" in a]


def test_dv_delete_on_cdf_table_commits_one_protocol(spark, tmp_path):
    path = str(tmp_path / "t")
    t = DeltaTable(path)
    t.write(_rows(spark, range(10)), configuration=CDF)
    v = t.delete_where_dv(spark, "event_id < 3")
    assert len(_protocols(t, v)) == 1
    proto = t.snapshot().protocol
    assert "deletionVectors" in proto["readerFeatures"]
    assert {"deletionVectors", "changeDataFeed"} <= set(proto["writerFeatures"])
    # the version checksum records the protocol replay ends with
    with open(os.path.join(path, "_delta_log", f"{v:020d}.crc")) as f:
        assert json.load(f)["protocol"] == proto
    assert t.read(spark).count() == 7
    ch = t.table_changes(spark, v, v).collect()
    assert sorted(r.event_id for r in ch) == [0, 1, 2]
    assert {r._change_type for r in ch} == {"delete"}


def test_set_properties_gathers_features_into_one_protocol(spark, tmp_path):
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_rows(spark, range(3)))
    v = t.set_properties(
        {
            "delta.enableInCommitTimestamps": "true",
            "delta.requireCheckpointProtectionBeforeVersion": "1",
        }
    )
    assert len(_protocols(t, v)) == 1
    assert {"inCommitTimestamp", "checkpointProtection"} <= set(
        t.snapshot().protocol["writerFeatures"]
    )


def test_commit_refuses_two_protocol_or_metadata_actions(spark, tmp_path):
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_rows(spark, range(3)))
    snap = t.snapshot()
    proto = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
    md = t._metadata_update(snap, snap.schema_string)
    with pytest.raises(DeltaProtocolError, match="more than one protocol"):
        t._commit([proto, proto], "TEST", read_version=snap.version)
    with pytest.raises(DeltaProtocolError, match="more than one metaData"):
        t._commit([md, dict(md)], "TEST", read_version=snap.version)
    assert t.latest_version() == snap.version


def test_metadata_commits_keep_the_table_id(spark, tmp_path):
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_rows(spark, range(4)))
    table_id = t.snapshot().table_id
    assert table_id

    def same_id() -> bool:
        return t.snapshot().table_id == table_id

    t.set_constraint(spark, "non_negative", "event_id >= 0")
    assert same_id()
    t.set_properties({"delta.appendOnly": "false"})
    assert same_id()
    src = _rows(spark, [2, 9], extra="tag")
    t.merge_upsert(spark, src, ["event_id"], schema_evolution=True)
    assert same_id()
    t.write(_rows(spark, [20], extra="note"))  # evolving append
    assert same_id()
    t.restore(version=0)
    assert same_id()
    # identity column: the append advances its high-water mark in a
    # metaData action of its own
    snap = t.snapshot()
    s = json.loads(snap.schema_string)
    s["fields"].append(
        {"name": "sk", "type": "long", "nullable": True,
         "metadata": {"delta.identity.start": 1, "delta.identity.step": 1,
                      "delta.identity.allowExplicitInsert": False}}
    )
    t._commit(
        [t._metadata_update(snap, json.dumps(s))], "ARM IDENTITY",
        read_version=snap.version, configuration=snap.configuration,
    )
    v = t.write(_rows(spark, [30]))
    assert any("metaData" in a for a in t.actions(v))
    assert same_id()
    t.enable_column_mapping()
    assert same_id()
    metas = [a["metaData"] for v in t.versions() for a in t.actions(v) if "metaData" in a]
    assert len(metas) == 9 and {m["id"] for m in metas} == {table_id}


def test_metadata_commit_keeps_ict_provenance(spark, tmp_path):
    """On a table with in-commit timestamps since v0, a metadata-only
    commit must not look like the commit that enables them."""
    t = DeltaTable(str(tmp_path / "t"))
    t.write(_rows(spark, range(3)), configuration=ICT)
    t.write(_rows(spark, range(3, 5)))
    (ict0,) = [
        a["commitInfo"]["inCommitTimestamp"] for a in t.actions(0) if "commitInfo" in a
    ]
    v = t.enable_column_mapping()
    cfg = t.snapshot().configuration
    assert "delta.inCommitTimestampEnablementVersion" not in cfg
    assert "delta.inCommitTimestampEnablementTimestamp" not in cfg
    assert any("inCommitTimestamp" in a.get("commitInfo", {}) for a in t.actions(v))
    assert t.resolve_version(timestamp_ms=ict0) == 0
    assert t.read(spark, timestamp_ms=ict0).count() == 3


def test_poll_over_maintenance_only_commits_advances(spark, tmp_path):
    path = str(tmp_path / "t")
    t = DeltaTable(path)
    t.write(_rows(spark, range(4)))
    t.write(_rows(spark, range(4, 8)))
    conn = DeltaCdcConnector(ConnectorConfig(table_path=path))
    conn.open()
    cursor = Checkpoint(state=INCREMENTAL_COPY, snapshot_version=t.latest_version())
    v = t.compact(spark)
    plans = []
    plan_changes = t.plan_changes

    def counted(*args, **kwargs):
        plans.append(args)
        return plan_changes(*args, **kwargs)

    conn.table.plan_changes = counted
    df, cursor = conn.poll(spark, cursor)
    assert df is None
    assert cursor == Checkpoint(state=INCREMENTAL_COPY, snapshot_version=v)
    t.write(_rows(spark, [8, 9]))
    df, cursor = conn.poll(spark, cursor)
    rows = df.select("event_id", "op").collect()
    assert sorted(r.event_id for r in rows) == [8, 9]
    assert {r.op for r in rows} == {"c"}
    assert cursor.snapshot_version == v + 1
    assert len(plans) == 2  # one plan per poll
    # the change reader itself still refuses a range with no data change
    with pytest.raises(DeltaProtocolError, match="no data-changing"):
        t.cdc(spark, v, v)


def test_sink_writes_null_partition_value(spark, tmp_path):
    register_delta_cdc(spark)
    path = str(tmp_path / "t")
    src = spark.createDataFrame([(1, "a"), (2, None)], "event_id long, k string")
    (
        src.write.format("pulsar_delta_cdc")
        .option("tablePath", path)
        .option("partitionBy", "k")
        .mode("append")
        .save()
    )
    t = DeltaTable(path)
    adds = {a["add"]["partitionValues"]["k"]: a["add"]["path"]
            for a in t.actions(0) if "add" in a}
    assert set(adds) == {"a", None}
    assert adds[None].startswith("k=__HIVE_DEFAULT_PARTITION__/")
    assert {r.event_id: r.k for r in t.read(spark).collect()} == {1: "a", 2: None}
    out = spark.read.format("pulsar_delta_cdc").option("tablePath", path).load()
    got = {r.event_id: (r.k, r.partition_value) for r in out.collect()}
    assert got == {1: ("a", "k=a"), 2: (None, "k=null")}
    assert out.where(F.col("k").isNull()).count() == 1
