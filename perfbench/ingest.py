"""``ingest``: parquet batches → ``pulsar_delta_cdc`` stream sink.

The target table is created with ``delta.checkpointInterval=10`` and
PRIOR small commits. A file stream (``maxFilesPerTrigger=1``) over an
input directory writes each 2,000-row file as one micro-batch through
``writeStream.format("pulsar_delta_cdc")`` (partitioned by event_type,
checkpointed). Files are released CHUNK at a time and each chunk is
drained with ``processAllAvailable()``, until the run's seconds are
used; the stream therefore stops between micro-batches. This is the
write side of ``sources.delta_log``: commit, txn idempotency lookup,
``.crc`` and checkpointing — which the sink's commit path does not
trigger, so every commit replays the log and the cost shows here.
"""

from __future__ import annotations

import json
import os
import time

import common
import gen
import pyarrow as pa
import pyarrow.parquet as pq
from spans import median

PRIOR = 300
PRIOR_ROWS = 50
FILE_ROWS = 2_000
CHUNK = 2
POOL = 48  # input files written at set-up; the digest covers these
APP_ID = "pulsar_delta_cdc_sink"  # the sink's default appId
BATCH_BASE = 1_000_000  # input file i holds versions BATCH_BASE + i


def _input_file(seed: int, i: int) -> pa.Table:
    rows = gen.commit_rows(seed, BATCH_BASE + i, FILE_ROWS)
    return pa.table(
        {
            "event_id": rows["event_id"],
            "user_id": rows["user_id"],
            "value": rows["value"],
            "event_type": [gen.EVENT_TYPES[t] for t in rows["etype"]],
        }
    )


def inputs(seed: int, digest: gen.Digest) -> tuple[dict[int, str], list[pa.Table]]:
    """Digest the prior commits and the input pool; the prior rows
    (event_id → event type) and the pool's tables."""
    expected: dict[int, str] = {}
    for v in range(PRIOR):
        rows = gen.commit_rows(seed, v, PRIOR_ROWS, one_type=True)
        digest.add(v, rows["event_id"], rows["user_id"], rows["value"], rows["etype"])
        expected.update({k: t for k, (t, _v) in gen.expected_rows(rows, v).items()})
    pool = [_input_file(seed, i) for i in range(POOL)]
    for t in pool:
        digest.add(*(t.column(c).to_numpy() for c in ("event_id", "user_id", "value")), t.column("event_type").to_pylist())
    return expected, pool


def run(ctx: common.Ctx) -> dict:
    import check
    from pyspark.sql.types import StructType

    from pulsar_io_delta_spark.sources.datasource import register_delta_cdc
    from pulsar_io_delta_spark.sources.delta_log import DeltaTable

    seed = ctx.seed
    expected, pool = inputs(seed, ctx.digest)

    def build(path: str) -> None:
        c = gen.DeltaCommitter(os.path.join(path, "table"), configuration={"delta.checkpointInterval": "10"})
        for _ in range(PRIOR):
            c.commit(gen.commit_rows(seed, c.next_version, PRIOR_ROWS, one_type=True))
        os.makedirs(os.path.join(path, "staging"))
        os.makedirs(os.path.join(path, "inbox"))
        for i, t in enumerate(pool):
            pq.write_table(t, os.path.join(path, "staging", f"part-{i:05d}.parquet"))

    base, build_s = common.timed_builds(ctx, "ingest", build)
    table, inbox, staging = (os.path.join(base, d) for d in ("table", "inbox", "staging"))
    released = 0

    def release(n: int) -> None:
        """Move the next n input files into the stream's directory."""
        nonlocal released
        for _ in range(n):
            name = f"part-{released:05d}.parquet"
            if released >= POOL:  # only a much faster program gets here
                pq.write_table(_input_file(seed, released), os.path.join(staging, name))
            t = pool[released] if released < POOL else pq.read_table(os.path.join(staging, name))
            expected.update(zip(t.column("event_id").to_pylist(), t.column("event_type").to_pylist()))
            os.rename(os.path.join(staging, name), os.path.join(inbox, name))
            released += 1

    t_setup = time.monotonic()
    register_delta_cdc(ctx.spark)
    schema = StructType.fromJson(json.loads(gen.EVENT_SCHEMA_JSON))
    query = (
        ctx.spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox)
        .writeStream.format("pulsar_delta_cdc")
        .option("tablePath", table)
        .option("partitionBy", "event_type")
        .option("checkpointLocation", os.path.join(ctx.work, "ingest-ckpt"))
        .start()
    )
    problems: list[str] = []
    release(1)  # the first micro-batch is part of set-up
    query.processAllAvailable()
    setup_s = build_s + time.monotonic() - t_setup

    stats: dict[str, dict] = {}
    for window in ctx.windows():
        traced = window == "traced"
        before = ctx.counters() if traced else (0, 0)
        seen = {p.batchId for p in query.recentProgress}
        t0, cpu0 = time.monotonic(), common.cpu_s()
        timed_files = 0
        try:
            while not timed_files or time.monotonic() - t0 < ctx.seconds:
                release(CHUNK)
                timed_files += CHUNK
                query.processAllAvailable()
        except Exception as exc:  # noqa: BLE001 — a failed stream fails its batches
            problems.append(f"stream failed: {type(exc).__name__}: {str(exc)[:300]}")
        t1, cpu = time.monotonic(), common.cpu_s() - cpu0
        after = ctx.counters() if traced else (0, 0)
        timed = [json.loads(p.json) for p in query.recentProgress if p.batchId not in seen and p.numInputRows > 0]
        rows = sum(p["numInputRows"] for p in timed)
        stats[window] = {
            "batches": timed,
            "cpu_ms_per_row": 1000.0 * cpu / max(1, rows),
            "latency_s": median([float(p["durationMs"]["triggerExecution"]) / 1000.0 for p in timed]),
            "rows_per_s": rows / (t1 - t0),
            "wall": t1 - t0,
            "jobs": (after[0] - before[0], after[1] - before[1]),
        }
        if problems:
            break
    batches = [p for p in query.recentProgress if p.numInputRows > 0]
    query.stop()

    last_batch = max((p.batchId for p in batches), default=-1)
    problems += check.check_table(table, expected, APP_ID, last_batch)
    if DeltaTable(table).last_txn_version(APP_ID) != last_batch:
        problems.append(f"DeltaTable.last_txn_version != last batch id {last_batch}")
    w = next(iter(stats.values()))  # the first window: untraced unless a phase
    metrics = {k: w[k] for k in ("latency_s", "rows_per_s", "cpu_ms_per_row")}
    metrics["setup_s"] = setup_s
    add = [float(p["durationMs"].get("addBatch", 0)) for p in w["batches"]]
    tenth = max(1, len(add) // 10)
    log_dir = os.path.join(table, "_delta_log")
    ctx.layer.update(
        {
            "ingest.batches": float(len(w["batches"])),
            "delta_log.checkpoints_written": float(sum(".checkpoint." in n for n in os.listdir(log_dir))),
            "delta_log.add_batch_growth": median(add[-tenth:]) / max(1e-9, median(add[:tenth])),
        }
    )
    if "traced" in stats:
        w = stats["traced"]
        ctx.overhead(stats)
        n = max(1, len(w["batches"]))
        layer = common.progress_layers(w["batches"], w["wall"])
        layer["spark.jobs_per_op"] = w["jobs"][0] / n
        layer["spark.sql_executions_per_op"] = w["jobs"][1] / n
        # the sink's writer and commit run in Spark's Python runner
        # processes, out of reach of driver-side spans: their time is
        # addBatch as the engine measured it
        steps = common.engine_steps_s(w["batches"])
        sink = sum(float(p["durationMs"].get("addBatch", 0)) for p in w["batches"]) / 1000.0
        layer["self.stream_s"] = steps
        layer["self.other_s"] = max(0.0, w["wall"] - steps - sink)
        layer["trace.coverage"] = min(1.0, (steps + sink) / w["wall"])
        ctx.layer.update(layer)
    # batch ids count from 0: every released file is one micro-batch
    released_batches = last_batch + 1
    return {"attempted": released, "failed": max(0, released - released_batches), "problems": problems, "metrics": metrics}
