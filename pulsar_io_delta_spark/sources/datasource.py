"""`pulsar_delta_cdc` — a Spark Python DataSource over the Delta log.

Registers the engine's CDC layer as a first-class Spark source:

    spark.dataSource.register(DeltaCdcDataSource)
    spark.read.format("pulsar_delta_cdc")
         .option("tablePath", p).option("startingVersion", 0).load()
    spark.readStream.format("pulsar_delta_cdc").option("tablePath", p).load()

Semantics: one record per row of every added (op='c') or removed
(op='r') file from ``startingVersion`` onward, with the CDC envelope
(op, partition_value, ts, _commit_version) — i.e. the reference
connector's record stream (`DeltaReader.java:174-288`) as a native
Spark source. Streaming offsets are Delta versions, so a
checkpointLocation gives exactly-once delivery across restarts — the
durable progress the reference intended its state store to provide
(SURVEY §2.4 #8).

``option("readChangeFeed", "true")`` (round 8) switches both batch and
streaming reads to the Change Data Feed surface: commits carrying cdc
actions are served from their ``_change_data`` files (exact
``_change_type`` rows incl. MERGE update_preimage/update_postimage);
other commits derive insert/delete — the schema swaps ``op`` for
``_change_type``, matching what delta-spark CDF consumers expect.

Scale notes: planning is file-granular — each input partition is one
(file, op, version) triple read by executors as Arrow batches straight
from parquet (no driver materialization). A 10k-file commit fans out to
10k parallelizable partitions.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

ENVELOPE_FIELDS = """
    {"name": "op", "type": "string", "nullable": false, "metadata": {}},
    {"name": "partition_value", "type": "string", "nullable": false, "metadata": {}},
    {"name": "ts", "type": "timestamp", "nullable": true, "metadata": {}},
    {"name": "_commit_version", "type": "long", "nullable": false, "metadata": {}}
"""

# readChangeFeed=true swaps the op column for the CDF _change_type
# (insert / delete / update_preimage / update_postimage) — the schema
# delta-spark CDF consumers expect, minus nothing they rely on.
CHANGE_FEED_ENVELOPE_FIELDS = """
    {"name": "_change_type", "type": "string", "nullable": false, "metadata": {}},
    {"name": "partition_value", "type": "string", "nullable": false, "metadata": {}},
    {"name": "ts", "type": "timestamp", "nullable": true, "metadata": {}},
    {"name": "_commit_version", "type": "long", "nullable": false, "metadata": {}}
"""


def _is_change_feed(options) -> bool:
    return str(options.get("readChangeFeed", "")).lower() == "true"


def _iso_to_ms(value) -> int:
    from datetime import datetime, timezone

    try:
        dt = datetime.fromisoformat(str(value).replace("Z", "+00:00"))
    except ValueError as exc:
        raise ValueError(f"invalid ISO-8601 timestamp: {value!r}") from exc
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def _version_bounds(table_path: str, options) -> tuple[int, int | None]:
    """(startingVersion, endingVersion) from the options, accepting
    delta-spark's timestamp spellings too. CDF semantics, NOT time
    travel: ``startingTimestamp`` → the FIRST commit at or after T
    (changes since T), ``endingTimestamp`` → the last commit at or
    before T; both refuse loudly when no commit qualifies. Commit
    timestamps go through commit_timestamp_ms, so in-commit-timestamp
    tables resolve by the commit-carried clock."""
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    if "startingVersion" in options and "startingTimestamp" in options:
        raise ValueError("startingVersion and startingTimestamp are exclusive")
    if "endingVersion" in options and "endingTimestamp" in options:
        raise ValueError("endingVersion and endingTimestamp are exclusive")
    start = int(options.get("startingVersion", 0))
    end = int(options["endingVersion"]) if "endingVersion" in options else None
    if "startingTimestamp" in options or "endingTimestamp" in options:
        t = DeltaTable(table_path)
        versions = t.versions()
        if "startingTimestamp" in options:
            ms = _iso_to_ms(options["startingTimestamp"])
            start = next(
                (v for v in versions if t.commit_timestamp_ms(v) >= ms), None
            )
            if start is None:
                raise ValueError(
                    f"no commits at or after startingTimestamp "
                    f"{options['startingTimestamp']!r}"
                )
        if "endingTimestamp" in options:
            ms = _iso_to_ms(options["endingTimestamp"])
            eligible = [v for v in versions if t.commit_timestamp_ms(v) <= ms]
            if not eligible:
                raise ValueError(
                    f"no commits at or before endingTimestamp "
                    f"{options['endingTimestamp']!r}"
                )
            end = eligible[-1]
    return start, end


def _canonical_pv(partition_values: dict[str, str | None]) -> str:
    """TreeMap-sorted k=v concatenation, no pair separator, a null value
    as ``null`` (reference `DeltaReader.java:290-299`)."""
    return "".join(
        f"{k}={'null' if partition_values[k] is None else partition_values[k]}"
        for k in sorted(partition_values)
    )


@dataclass
class _FileSlice(InputPartition):
    table_path: str
    rel_path: str
    op: str
    version: int
    ts_ms: int
    partition_values: tuple[tuple[str, str | None], ...]
    # log-recorded file size (bytes); drives maxBytesPerTrigger
    # admission without touching the filesystem
    size: int = 0


def _plan_slices(
    table_path: str,
    start_version: int,
    end_version: int,
    change_feed: bool = False,
    filters: list[tuple[str, str, object]] | None = None,
) -> list[_FileSlice]:
    """One input partition per file `DeltaTable.plan_changes` reports for
    commits in [start, end] (``change_feed``: option ``readChangeFeed``).

    Deletion-vector guard: a derived slice over a DV-carrying file would
    emit the file's DELETED rows too (this arrow path reads whole
    files) — refuse loudly instead of silently over-reporting; CDF
    tables never hit this because their DV deletes carry cdc actions."""
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable, _stats_admit

    def _admit(c) -> bool:
        """Data-skip a slice: partition values (exact on '=') + footer
        min/max stats, conservative on anything missing — the same gate
        DeltaTable.prune_files applies to batch reads."""
        for col, op, val in filters:
            if col in c.partition_values and op == "=" and c.partition_values[col] != str(val):
                return False
        return _stats_admit(c.stats, filters)

    slices: list[_FileSlice] = []
    plan = DeltaTable(table_path).plan_changes(start_version, end_version, change_feed)
    for c in plan.changes:
        if filters and not _admit(c):
            continue
        if c.dv:
            raise ValueError(
                "pulsar_delta_cdc cannot derive changes from a "
                f"deletion-vector file ({c.path}): whole-file reads "
                "would resurrect deleted rows; use DeltaTable.cdc()/"
                "table_changes(), or enable delta.enableChangeDataFeed"
            )
        slices.append(
            _FileSlice(
                table_path=table_path,
                rel_path=c.path,
                op=c.op,
                version=c.version,
                ts_ms=c.ts_ms,
                partition_values=tuple(sorted(c.partition_values.items())),
                size=c.size,
            )
        )
    return slices


def _read_slice(slice_: _FileSlice | None, schema: StructType):
    """Yield Arrow RecordBatches for one file slice with envelope +
    partition columns attached (runs on executors; pyarrow only)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if slice_ is None:
        # zero planned partitions (everything pruned): Spark still calls
        # read() once with None — an empty iterator is the contract
        return
    fp = os.path.join(slice_.table_path, slice_.rel_path)
    pvals = dict(slice_.partition_values)
    arrow_schema = pa.schema(
        [pa.field(f.name, _to_arrow(f.dataType.simpleString())) for f in schema.fields]
    )
    for batch in pq.ParquetFile(fp).iter_batches(batch_size=8192):
        n = batch.num_rows
        cols, names = [], []
        present = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
        for idx, field in enumerate(schema.fields):
            name = field.name
            target = arrow_schema.field(idx).type
            if name in present:  # base-table column (wins over envelope names)
                col = present[name].cast(target)
            elif name == "op":
                col = pa.array([slice_.op] * n, pa.string())
            elif name == "_change_type":
                # derived slices: constant from the action kind ('cdf'
                # slices never reach here — the file column wins above)
                col = pa.array(
                    ["insert" if slice_.op == "c" else "delete"] * n, pa.string()
                )
            elif name == "partition_value":
                col = pa.array([_canonical_pv(pvals)] * n, pa.string())
            elif name == "ts":
                col = pa.array([slice_.ts_ms * 1000] * n, pa.int64()).cast(target)
            elif name == "_commit_version":
                col = pa.array([slice_.version] * n, pa.int64())
            elif name in pvals:  # partition column: constant from the action
                col = pa.array([pvals[name]] * n, pa.string()).cast(target)
            else:
                col = pa.nulls(n, target)
            cols.append(col)
            names.append(name)
        yield pa.RecordBatch.from_arrays(cols, names=names)


def _to_arrow(simple: str):
    import pyarrow as pa

    mapping = {
        "string": pa.string(),
        "long": pa.int64(),
        "bigint": pa.int64(),
        "int": pa.int32(),
        "double": pa.float64(),
        "float": pa.float32(),
        "boolean": pa.bool_(),
        "timestamp": pa.timestamp("us"),
        "date": pa.date32(),
        "binary": pa.binary(),
    }
    if simple not in mapping:
        raise ValueError(f"unsupported column type for pulsar_delta_cdc: {simple}")
    return mapping[simple]


class _CdcBatchReader(DataSourceReader):
    """Batch reader with FILTER PUSHDOWN (Spark 4.1 Python DataSource
    API): comparison filters prune whole file slices via the log's
    partitionValues + footer stats BEFORE any parquet is opened, and
    ``_commit_version`` bounds shrink the version walk itself. All
    filters are returned to Spark for exact post-scan re-evaluation
    (the parquet-PushedFilters contract) — pruning is planning-only, so
    it can never change results. At 100 TB this is the difference
    between planning one day's slices and planning the table."""

    def __init__(self, schema: StructType, options):
        self.schema_ = schema
        self.table_path = options["tablePath"]
        self.start, self.end = _version_bounds(self.table_path, options)
        self.change_feed = _is_change_feed(options)
        self._pruning: list[tuple[str, str, object]] = []

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        ops = {
            EqualTo: "=",
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
        }
        for f in filters:
            op = ops.get(type(f))
            if op is not None and len(f.attribute) == 1:
                self._pruning.append((f.attribute[0], op, f.value))
        # everything re-evaluates post-scan: pruning is advisory
        return filters

    def partitions(self):
        start, end = self.start, self.end
        if end is None:
            from pulsar_io_delta_spark.sources.delta_log import DeltaTable

            end = DeltaTable(self.table_path).latest_version()
        # _commit_version comparisons bound the LOG WALK: a feed query
        # for one commit range reads that range's log files only
        for col, op, val in self._pruning:
            if col != "_commit_version":
                continue
            v = int(val)
            if op == "=":
                start, end = max(start, v), min(end, v)
            elif op == ">":
                start = max(start, v + 1)
            elif op == ">=":
                start = max(start, v)
            elif op == "<":
                end = min(end, v - 1)
            elif op == "<=":
                end = min(end, v)
        if end < start:
            return []
        data_filters = [
            (c, op, v) for c, op, v in self._pruning if c != "_commit_version"
        ]
        return _plan_slices(
            self.table_path,
            start,
            end,
            change_feed=self.change_feed,
            filters=data_filters or None,
        )

    def read(self, partition: _FileSlice):
        yield from _read_slice(partition, self.schema_)


class _CdcStreamReader(DataSourceStreamReader):
    """Offsets are (Delta version, file index):
    ``{"version": v, "index": i}`` = commits ``< v`` fully consumed plus
    the first ``i`` file slices of commit ``v`` (``index`` 0 — the
    pre-round-8 checkpoint form — means none of ``v``).

    Admission control, composable, all soft-capped at ≥1 slice per
    trigger so the stream always progresses:

    - ``maxVersionsPerTrigger``: at most N commits per micro-batch — a
      10^4-version backfill drains as bounded batches (the cursor
      granularity of the reference, `DeltaReader.java:69-92`);
    - ``maxFilesPerTrigger``: at most N file slices per micro-batch —
      bounds task count when single commits are huge (one 10k-file
      OVERWRITE at 100 TB must not become one 10k-task batch);
    - ``maxBytesPerTrigger``: admits slices until the log-recorded
      sizes reach N bytes — bounds executor input per batch regardless
      of file-count skew. Sizes come from the log, so planning never
      stats the filesystem.

    File/byte caps split WITHIN a commit (sub-commit offsets); the
    checkpoint keeps exactly-once across restarts mid-commit.
    """

    def __init__(self, schema: StructType, options):
        self.schema_ = schema
        self.table_path = options["tablePath"]
        # delta-spark parity: ending bounds are a BATCH CDF concept; a
        # stream silently emitting past (or eagerly validating) a
        # requested end would be worse than refusing. stopAfterVersion
        # (below) is the internal epoch ceiling and remains supported.
        if "endingVersion" in options or "endingTimestamp" in options:
            raise ValueError(
                "endingVersion/endingTimestamp are not supported on "
                "streaming reads — use a batch read for a bounded range"
            )
        self.start, _ = _version_bounds(self.table_path, options)
        self.change_feed = _is_change_feed(options)
        self.max_versions = int(options.get("maxVersionsPerTrigger", 0)) or None
        self.max_files = int(options.get("maxFilesPerTrigger", 0)) or None
        self.max_bytes = int(options.get("maxBytesPerTrigger", 0)) or None
        # Inclusive ceiling: the stream never admits commits beyond this
        # version (schema-evolution epochs end here; -1 = unbounded).
        self.stop_after = int(options.get("stopAfterVersion", -1))
        # Head of the unread range, as far as this planner instance knows.
        # latestOffset can be called before initialOffset on a fresh
        # stream, so None means "not seeded yet" and the cap falls back
        # to ``start``; partitions()/commit() re-seed it from the
        # checkpointed range after a restart.
        self._next_unread: tuple[int, int] | None = None
        # the last commit the capped walk planned: a trigger that stops
        # inside (or just before) it resumes there on the next call, and
        # a committed version's slices never change
        self._planned: tuple[int, list[_FileSlice]] | None = None

    @staticmethod
    def _pos(offset: dict) -> tuple[int, int]:
        return (int(offset["version"]), int(offset.get("index", 0)))

    def _seed(self, pos: tuple[int, int]) -> None:
        self._next_unread = max(self._next_unread or (0, 0), pos)

    def _version_slices(self, version: int) -> list[_FileSlice]:
        if self._planned is None or self._planned[0] != version:
            self._planned = (
                version,
                _plan_slices(self.table_path, version, version, change_feed=self.change_feed),
            )
        return self._planned[1]

    def initialOffset(self) -> dict:
        self._seed((self.start, 0))
        return {"version": self.start, "index": 0}

    def latestOffset(self) -> dict:
        from pulsar_io_delta_spark.sources.delta_log import DeltaTable

        base_v, base_i = (
            self._next_unread if self._next_unread is not None else (self.start, 0)
        )
        latest_end = DeltaTable(self.table_path).latest_version() + 1
        if self.stop_after >= 0:
            latest_end = min(latest_end, self.stop_after + 1)
        if self.max_versions is not None:
            # a partially-consumed base commit counts as the first of
            # the N admitted versions
            latest_end = min(latest_end, base_v + self.max_versions)
        latest_end = max(latest_end, base_v)
        if self.max_files is None and self.max_bytes is None:
            end = max((latest_end, 0), (base_v, base_i))
            self._seed(end)
            return {"version": end[0], "index": end[1]}
        # file/byte-capped walk: O(admitted versions) log-file reads,
        # never a filesystem stat — sizes are log-recorded
        v, i = base_v, base_i
        files = bytes_ = 0
        while v < latest_end:
            slices = self._version_slices(v)
            while i < len(slices):
                s = slices[i]
                over_files = self.max_files is not None and files + 1 > self.max_files
                over_bytes = (
                    self.max_bytes is not None and bytes_ + s.size > self.max_bytes
                )
                if (over_files or over_bytes) and files > 0:
                    # soft cap: first slice always admitted
                    self._seed((v, i))
                    return {"version": v, "index": i}
                files += 1
                bytes_ += s.size
                i += 1
            v, i = v + 1, 0
        end = max((v, 0), (base_v, base_i))
        self._seed(end)
        return {"version": end[0], "index": end[1]}

    def partitions(self, start: dict, end: dict):
        sv, si = self._pos(start)
        ev, ei = self._pos(end)
        self._seed((ev, ei))
        if (ev, ei) <= (sv, si):
            return []
        last = ev if ei > 0 else ev - 1
        slices = _plan_slices(
            self.table_path, sv, last, change_feed=self.change_feed
        )
        # positional trim at both half-open ends (slice order within a
        # version is the log's action order — deterministic)
        seen: dict[int, int] = {}
        out: list[_FileSlice] = []
        for s in slices:
            k = seen.get(s.version, 0)
            seen[s.version] = k + 1
            if s.version == sv and k < si:
                continue
            if s.version == ev and ei and k >= ei:
                continue
            out.append(s)
        return out

    def read(self, partition: _FileSlice):
        yield from _read_slice(partition, self.schema_)

    def commit(self, end: dict) -> None:
        # Progress is durable in the stream's checkpointLocation; keep the
        # local watermark in sync so the per-trigger cap resumes correctly.
        self._seed(self._pos(end))


@dataclass
class _WroteFiles(WriterCommitMessage):
    adds: tuple  # tuple of add-action dicts


def _rows_to_adds(iterator, schema: StructType, table_path: str, partition_by: list[str]):
    """Executor-side: write this partition's rows as parquet file(s)
    under the table dir (one per partition-value combo), return add
    actions. Files become visible only when the driver commits them."""
    import time as _time
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    # a null partition value is a JSON null in the log and Hive's
    # default-partition directory on disk
    groups: dict[tuple, list] = {}
    for row in iterator:
        key = tuple(None if row[c] is None else str(row[c]) for c in partition_by)
        groups.setdefault(key, []).append(row)
    adds = []
    data_cols = [f for f in schema.fields if f.name not in partition_by]
    for key, rows in groups.items():
        arrays = {
            f.name: pa.array([r[f.name] for r in rows], _to_arrow(f.dataType.simpleString()))
            for f in data_cols
        }
        rel_dir = "/".join(
            f"{c}={'__HIVE_DEFAULT_PARTITION__' if v is None else v}"
            for c, v in zip(partition_by, key)
        )
        rel_path = (rel_dir + "/" if rel_dir else "") + f"part-{_uuid.uuid4().hex}.parquet"
        abs_path = os.path.join(table_path, rel_path)
        os.makedirs(os.path.dirname(abs_path), exist_ok=True)
        pq.write_table(pa.table(arrays), abs_path)
        adds.append(
            {
                "path": rel_path,
                "partitionValues": dict(zip(partition_by, key)),
                "size": os.path.getsize(abs_path),
                "modificationTime": int(_time.time() * 1000),
                "dataChange": True,
                # row tracking assigns ids from numRecords
                "stats": json.dumps({"numRecords": len(rows)}),
            }
        )
    return _WroteFiles(adds=tuple(adds))


class _DeltaWriterBase:
    def __init__(self, schema: StructType, options):
        self.schema_ = schema
        self.table_path = options["tablePath"]
        self.partition_by = [
            c for c in (options.get("partitionBy") or "").split(",") if c
        ]
        self.app_id = options.get("appId", "pulsar_delta_cdc_sink")

    def write(self, iterator):
        return _rows_to_adds(iterator, self.schema_, self.table_path, self.partition_by)

    def _commit_adds(self, messages, txn):
        from pulsar_io_delta_spark.sources.delta_log import DeltaTable

        adds = [a for m in messages if m is not None for a in m.adds]
        DeltaTable(self.table_path).commit_external_adds(
            adds,
            operation="STREAMING UPDATE" if txn else "WRITE",
            schema_json=self.schema_.json(),
            partition_by=self.partition_by,
            txn=txn,
        )


class _CdcBatchWriter(_DeltaWriterBase, DataSourceWriter):
    def commit(self, messages):
        self._commit_adds(messages, txn=None)

    def abort(self, messages):
        pass  # staged files are invisible until committed


class _CdcStreamWriter(_DeltaWriterBase, DataSourceStreamWriter):
    def commit(self, messages, batchId: int):
        self._commit_adds(messages, txn=(self.app_id, batchId))

    def abort(self, messages, batchId: int):
        pass  # idem: uncommitted parquet parts are not in the log


class DeltaCdcDataSource(DataSource):
    """spark.read/readStream format ``pulsar_delta_cdc``."""

    @classmethod
    def name(cls) -> str:
        return "pulsar_delta_cdc"

    def schema(self) -> str:
        from pulsar_io_delta_spark.sources.delta_log import DeltaTable

        t = DeltaTable(self.options["tablePath"])
        as_of = self.options.get("schemaAsOfVersion")
        # Epoch-pinned schema: the schema-evolution restart loop reads
        # each epoch with the schema in effect at that epoch's end, not
        # whatever the table head currently says.
        snap = t.snapshot(int(as_of)) if as_of is not None else t.snapshot()
        if snap.schema_string is None:
            raise ValueError("table has no metaData/schemaString")
        from pulsar_io_delta_spark.sources.delta_log import (
            _column_mapping,
            _guard_collations,
        )

        _guard_collations(snap.schema_string)

        if _column_mapping(snap.schema_string, snap.configuration):
            # the arrow slice reader matches FILE column names against
            # the logical schema — on a mapped table that would silently
            # null-fill every column. Loud, not wrong.
            raise ValueError(
                "pulsar_delta_cdc does not support column-mapped tables; "
                "read them through DeltaTable.read()/cdc()/table_changes()"
            )
        base = json.loads(snap.schema_string)
        taken = {f["name"] for f in base["fields"]}
        fields = (
            CHANGE_FEED_ENVELOPE_FIELDS
            if _is_change_feed(self.options)
            else ENVELOPE_FIELDS
        )
        envelope = [f for f in json.loads(f"[{fields}]") if f["name"] not in taken]
        base["fields"] = base["fields"] + envelope
        return StructType.fromJson(base)

    def reader(self, schema: StructType) -> DataSourceReader:
        return _CdcBatchReader(schema, self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _CdcStreamReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        if overwrite:
            raise ValueError("pulsar_delta_cdc writer supports append only")
        return _CdcBatchWriter(schema, self.options)

    def streamWriter(self, schema: StructType, overwrite: bool) -> DataSourceStreamWriter:
        return _CdcStreamWriter(schema, self.options)


def register_delta_cdc(spark) -> None:
    spark.dataSource.register(DeltaCdcDataSource)
    # the batch reader implements pushFilters(); Spark REFUSES to plan a
    # pushdown-capable Python source while this flag is off, so arm it
    # here — registration is the one choke point every consumer passes
    # (runtime-settable SQL conf; foreign sessions don't carry it)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
