"""``tail``: open-loop commits → CDC stream → fake Pulsar; freshness.

A table with a base snapshot and PRIOR small commits is tailed by
``readStream.format("pulsar_delta_cdc")`` with a checkpoint, from the
first version after the prior commits. A separate generator process
appends one ~250-row commit (one file per event type) every PERIOD
seconds. Freshness of a commit is its due time to the return of the
``publish`` call that delivered its last row. PERIOD leaves headroom
over the seed commit's one-commit micro-batch, so the backlog stays
flat and freshness measures per-trigger cost. Throughput is delivered
rows per second of the stream's busy time (the ``triggerExecution`` of
the window's data batches), so it measures the program, not the
generator's offered load.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from datetime import datetime

import check
import common
import gen
from generator import ROWS
from spans import median, pct

BASE_ROWS = 20_000
PRIOR = 300
WARM = 1
PERIOD = 2.5
DRAIN_TIMEOUT = 60.0
GENERATOR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "generator.py")


def _rows(seed: int, v: int):
    if v == 0:
        return gen.commit_rows(seed, v, BASE_ROWS)
    return gen.commit_rows(seed, v, ROWS, one_type=v <= PRIOR)


def inputs(seed: int, last_version: int, digest: gen.Digest) -> dict[int, tuple[str, int]]:
    """Digest every commit up to ``last_version``; the rows the stream
    must deliver (those after the prior commits)."""
    expected: dict[int, tuple[str, int]] = {}
    for v in range(last_version + 1):
        rows = _rows(seed, v)
        digest.add(v, rows["event_id"], rows["user_id"], rows["value"], rows["etype"])
        if v > PRIOR:
            expected.update(gen.expected_rows(rows, v))
    return expected


def run(ctx: common.Ctx) -> dict:
    from pulsar_io_delta_spark.sources.datasource import register_delta_cdc
    from pulsar_io_delta_spark.streaming.fake_pulsar import FakeBroker

    seed = ctx.seed
    count = max(1, int(ctx.seconds / PERIOD))
    n_windows = 3 if ctx.trace else 1
    last_version = PRIOR + WARM + n_windows * count
    expected = inputs(seed, last_version, ctx.digest)

    def build(path: str) -> None:
        c = gen.DeltaCommitter(path)
        c.commit(_rows(seed, 0), files_per_type=2)
        for _ in range(PRIOR):
            c.commit(_rows(seed, c.next_version))

    table, build_s = common.timed_builds(ctx, "tail", build)

    t_setup = time.monotonic()
    register_delta_cdc(ctx.spark)
    broker = FakeBroker()
    deliveries: list[tuple[float, list[int]]] = []

    def record(_bid, t_ret: float) -> None:
        deliveries.append((t_ret, [len(m) for m in common.partition_logs(broker)]))

    def delivered_rows() -> int:
        return sum(deliveries[-1][1]) if deliveries else 0

    query = (
        ctx.spark.readStream.format("pulsar_delta_cdc")
        .option("tablePath", table)
        .option("startingVersion", PRIOR + 1)
        .load()
        .writeStream.foreachBatch(common.make_egress(broker, record))
        .option("checkpointLocation", os.path.join(ctx.work, "tail-ckpt"))
        .start()
    )

    def drain(rows: int) -> bool:
        """Wait until ``rows`` rows are delivered and no trigger runs: the
        stream then stops or idles between micro-batches."""
        ok = common.wait_for(lambda: delivered_rows() >= rows or query.exception() is not None, DRAIN_TIMEOUT)
        common.wait_for(lambda: not query.status["isTriggerActive"], 10.0)
        return ok and query.exception() is None

    # program set-up: the first micro-batches are cold; WARM commits
    # from this process warm the stream before the generator starts
    committer = gen.DeltaCommitter(table)
    committer.next_version = PRIOR + 1
    problems: list[str] = []
    files: dict[int, int] = {}
    want_rows = 0
    for _ in range(WARM):
        rows = _rows(seed, committer.next_version)
        v, files[v] = committer.commit(rows)
        want_rows += len(rows["event_id"])
        if not drain(want_rows):
            problems.append(f"warm-up commit v{v} not delivered")
    setup_s = build_s + time.monotonic() - t_setup

    gen_log: list[dict] = []
    stats: dict[str, dict] = {}
    first = PRIOR + WARM + 1
    for window in ctx.windows():
        traced = window == "traced"
        before = ctx.counters() if traced else (0, 0)
        seen = {p.batchId for p in query.recentProgress}
        cpu0 = common.cpu_s()
        log_path = os.path.join(ctx.work, f"generator-{first}.jsonl")
        problems += _generate(table, seed, first, count, log_path)
        with open(log_path) as f:
            window_log = [json.loads(line) for line in f if line.strip()]
        gen_log += window_log
        files.update({g["version"]: g["files"] for g in window_log})
        want_rows += sum(g["rows"] for g in window_log)
        if not drain(want_rows):
            problems.append("stream did not deliver every commit before the drain timeout")
        cpu = common.cpu_s() - cpu0
        after = ctx.counters() if traced else (0, 0)
        stats[window] = {
            "cpu": cpu,
            "log": window_log,
            "end": deliveries[-1][0] if deliveries else time.monotonic(),
            "progress": [json.loads(p.json) for p in query.recentProgress if p.batchId not in seen],
            "jobs": (after[0] - before[0], after[1] - before[1]),
        }
        first += count
    exc = query.exception()
    if exc is not None:
        problems.append(f"stream failed: {str(exc)[:300]}")
    query.stop()

    logs = common.partition_logs(broker)
    found, bad = check.check_delivery(logs, expected, common.N_PART)
    problems += found
    last_delivery = _last_delivery(deliveries, logs)
    figures = {k: _freshness(w, last_delivery) for k, w in stats.items()}
    untraced = figures["timed"]
    metrics = {k: untraced[k] for k in ("latency_s", "rows_per_s", "cpu_ms_per_row")}
    metrics["setup_s"] = setup_s
    ctx.layer.update(
        {
            "tail.commits": float(len(stats["timed"]["log"])),
            "tail.freshness_p90_s": untraced["p90"],
            "tail.freshness_trend": untraced["trend"],
            "generator.late_p90_s": pct([g["done"] - g["due"] for g in stats["timed"]["log"]], 0.9),
        }
    )
    if "traced" in stats:
        w = stats["traced"]
        ctx.overhead(figures)
        t0 = w["log"][0]["due"] if w["log"] else w["end"]
        ctx.layer.update(_stream_layers(ctx, w["progress"], w["log"], files, t0, w["end"]))
        n_ops = max(1, len(w["log"]))
        ctx.layer["spark.jobs_per_op"] = w["jobs"][0] / n_ops
        ctx.layer["spark.sql_executions_per_op"] = w["jobs"][1] / n_ops
    attempted = WARM + n_windows * count
    failed = len(bad) + (n_windows * count - len(gen_log))
    result = {"attempted": attempted, "failed": min(attempted, failed), "problems": problems, "metrics": metrics}
    if ctx.trace:  # the curation operators ride on tail's traced run
        common.run_phase(ctx, "curation", ("curation.", "graph.", "text.", "dedup."), result)
    return result


def _generate(table: str, seed: int, first: int, count: int, log_path: str) -> list[str]:
    """Run the generator process to completion; problems if it failed."""
    proc = subprocess.Popen(
        [
            sys.executable, GENERATOR, "--table", table, "--seed", str(seed),
            "--first-version", str(first), "--count", str(count),
            "--period", str(PERIOD), "--log", log_path,
        ]
    )
    try:
        rc = proc.wait(timeout=count * PERIOD + 30)
    except subprocess.TimeoutExpired:
        proc.kill()
        rc = proc.wait()
    return [] if rc == 0 else [f"generator exited with {rc}"]


def _freshness(w: dict, last_delivery: dict[int, float]) -> dict[str, float]:
    """A window's end-to-end figures and freshness guards."""
    fresh = [last_delivery[g["version"]] - g["due"] for g in w["log"] if g["version"] in last_delivery]
    rows = sum(p["numInputRows"] for p in w["progress"])
    third = max(1, len(fresh) // 3)
    return {
        "latency_s": median(fresh),
        "p90": pct(fresh, 0.9),
        "trend": median(fresh[-third:]) / max(1e-9, median(fresh[:third])),
        "rows_per_s": rows / max(1e-9, common.busy_s(w["progress"])),
        "cpu_ms_per_row": 1000.0 * w["cpu"] / max(1, rows),
    }


def _last_delivery(deliveries, logs) -> dict[int, float]:
    """Commit version → return time of the publish that delivered its
    last row, from the broker's per-partition lengths after each call."""
    out: dict[int, float] = {}
    prev = [0] * common.N_PART
    for t_ret, lens in deliveries:
        for p in range(common.N_PART):
            for msg in logs[p][prev[p] : lens[p]]:
                out[json.loads(msg.value)["_commit_version"]] = t_ret
        prev = lens
    return out


def _stream_layers(ctx, progress, gen_log, files, t0, t_end) -> dict[str, float]:
    """Per-layer figures of the traced window from its progress records,
    spans and generator log."""
    wall = t_end - t0
    out = common.progress_layers(progress, wall)
    data = [(p, common.source_versions(p)) for p in progress if p.get("numInputRows", 0) > 0]
    data = [(p, r) for p, r in data if r is not None]
    out["stream.commits_per_batch_p50"] = median([e - s for _p, (s, e) in data])
    out["datasource.slices_per_batch_p50"] = median([sum(files.get(v, 0) for v in range(s, e)) for _p, (s, e) in data])
    lags = []
    for p, (s, _e) in data:
        t_wall = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        latest = max((g["version"] for g in gen_log if g["done_wall"] <= t_wall), default=s - 1)
        lags.append(latest - (s - 1))
    out["datasource.lag_commits_max"] = float(max(lags, default=0))
    tr = ctx.tracer
    publish_s, send_s = tr.total_s("fake_pulsar.publish"), tr.total_s("fake_pulsar.send")
    out.update(
        {
            "pipeline.wire_build_s": tr.total_s("pipeline.wire_build"),
            "fake_pulsar.publish_s": publish_s,
            "fake_pulsar.send_calls": float(tr.calls("fake_pulsar.send")),
            "fake_pulsar.send_s": send_s,
            "fake_pulsar.drain_s": publish_s - send_s,
        }
    )
    # Blocking path of a commit, over the stream's busy time (idle time
    # between commits is reported, not counted): the engine's own
    # steps from the progress records, then addBatch, of which the
    # egress spans are measured. ``self.spark_s`` is derived (addBatch
    # not covered by egress spans) and, with the engine's time outside
    # its named steps, is what coverage leaves out.
    layers = tr.self_by_layer([(t0, t_end)])
    egress = wall - layers.pop("other", 0.0)
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    busy = common.busy_s(data)
    add_batch = sum(float(p["durationMs"].get("addBatch", 0)) for p in data) / 1000.0
    steps = common.engine_steps_s(data)
    selfs = {f"self.{k}_s": v for k, v in layers.items()}
    selfs["self.stream_s"] = steps
    selfs["self.spark_s"] = max(0.0, add_batch - egress)
    selfs["self.idle_s"] = out["stream.idle_s"]
    selfs["self.other_s"] = max(0.0, busy - steps - add_batch)
    out.update(selfs)
    out["trace.coverage"] = min(1.0, (steps + egress) / max(1e-9, busy))
    return out
