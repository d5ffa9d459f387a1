"""``backfill``: connector restart — bootstrap a snapshot, drain a backlog.

A table holds a large base snapshot (version 0) and BACKLOG commits of
ROWS rows in one file per event type. Each repetition starts a fresh
``DeltaCdcConnector`` with ``includeHistoryData`` and
``startingVersion=0`` and calls ``run(..., max_polls=1)``: the FULL_COPY
bootstrap delivers the snapshot, then one poll delivers the backlog,
both through the same egress as ``tail``. Repetitions continue until
the run's seconds are used, at least one; every repetition's output is
checked. Volume dominates: scan, envelope, route, wire and per-message
send.
"""

from __future__ import annotations

import time

import common
import gen
from spans import median

BASE_ROWS = 20_000
BASE_FILES_PER_TYPE = 2
BACKLOG = 30
ROWS = 300
WARM = 2


def _rows(seed: int, v: int):
    return gen.commit_rows(seed, v, BASE_ROWS if v == 0 else ROWS)


def _build(seed: int):
    def build(path: str) -> None:
        c = gen.DeltaCommitter(path)
        c.commit(_rows(seed, 0), files_per_type=BASE_FILES_PER_TYPE)
        for _ in range(BACKLOG):
            c.commit(_rows(seed, c.next_version))

    return build


def inputs(seed: int, digest: gen.Digest) -> dict[int, tuple[str, int]]:
    """Digest the table's commits; every row the connector must deliver."""
    expected: dict[int, tuple[str, int]] = {}
    for v in range(BACKLOG + 1):
        rows = _rows(seed, v)
        digest.add(v, rows["event_id"], rows["user_id"], rows["value"], rows["etype"])
        expected.update(gen.expected_rows(rows, v))
    return expected


def _deliver(ctx: common.Ctx, table: str) -> tuple[object, float, float, float]:
    """One connector run into a fresh broker: (broker, start, bootstrap
    delivered, run returned)."""
    from pulsar_io_delta_spark.connector import ConnectorConfig, DeltaCdcConnector
    from pulsar_io_delta_spark.streaming.fake_pulsar import FakeBroker

    broker = FakeBroker()
    marks: list[float] = []
    sink = common.make_egress(broker, lambda _bid, t: marks.append(t))
    t0 = time.monotonic()
    conn = DeltaCdcConnector(
        ConnectorConfig.load({"tablePath": table, "startingVersion": 0, "includeHistoryData": True})
    )
    conn.run(ctx.spark, sink, max_polls=1)
    return broker, t0, marks[0], time.monotonic()


def run(ctx: common.Ctx) -> dict:
    import check

    seed = ctx.seed
    table, build_s = common.timed_builds(ctx, "backfill", _build(seed))
    expected = inputs(seed, ctx.digest)
    base_n = BASE_ROWS
    backlog_n = len(expected) - base_n

    # program set-up: WARM full deliveries warm the JVM and the Python
    # workers (the first repetitions after a cold one still speed up),
    # so every timed repetition runs warm; their output is checked
    t_setup = time.monotonic()
    problems: list[str] = []
    failed = 0
    for _ in range(WARM):
        broker, *_ = _deliver(ctx, table)
        found, bad = check.check_delivery(common.partition_logs(broker), expected, common.N_PART)
        problems += found
        failed += len(bad)
    setup_s = build_s + time.monotonic() - t_setup

    stats: dict[str, dict] = {}
    for window in ctx.windows():
        traced = window == "traced"
        before = ctx.counters() if traced else (0, 0)
        reps: list[tuple[float, float, float]] = []
        cpu = 0.0  # CPU seconds inside the repetitions, not the checks between them
        t_loop = time.monotonic()
        while not reps or time.monotonic() - t_loop < ctx.seconds:
            cpu0 = common.cpu_s()
            try:
                broker, t0, t_boot, t_done = _deliver(ctx, table)
                cpu += common.cpu_s() - cpu0
            except Exception as exc:  # noqa: BLE001 — a failed repetition fails its commits
                problems.append(f"connector run failed: {type(exc).__name__}: {str(exc)[:300]}")
                failed += BACKLOG + 1
                reps.append((float("nan"),) * 3)
                continue
            reps.append((t0, t_boot, t_done))
            found, bad = check.check_delivery(common.partition_logs(broker), expected, common.N_PART)
            problems += found
            failed += len(bad)
        after = ctx.counters() if traced else (0, 0)
        good = [r for r in reps if r[0] == r[0]]
        busy = sum(d - s for s, _b, d in good) or float("nan")
        stats[window] = {
            "reps": reps,
            "good": good,
            "latency_s": median([d - s for s, _b, d in good]) or float("nan"),
            "rows_per_s": len(good) * (base_n + backlog_n) / busy,
            "cpu_ms_per_row": 1000.0 * cpu / max(1, len(good) * (base_n + backlog_n)),
            "jobs": (after[0] - before[0], after[1] - before[1]),
        }
    w = stats["timed"]
    metrics = {k: w[k] for k in ("latency_s", "rows_per_s", "cpu_ms_per_row")}
    metrics["setup_s"] = setup_s
    if w["good"]:
        ctx.layer["connector.bootstrap_rows_per_s"] = base_n / median([b - s for s, b, _d in w["good"]])
        ctx.layer["connector.catchup_rows_per_s"] = backlog_n / median([d - b for _s, b, d in w["good"]])
    if "traced" in stats and stats["traced"]["good"]:
        ctx.overhead(stats)
        ctx.layer.update(_layers(ctx, stats["traced"]))
    attempted = (WARM + sum(len(x["reps"]) for x in stats.values())) * (BACKLOG + 1)
    result = {"attempted": attempted, "failed": min(failed, attempted), "problems": problems, "metrics": metrics}
    if ctx.trace:  # the Delta log's write side rides on backfill's traced run
        common.run_phase(ctx, "ingest", ("ingest.", "delta_log.checkpoints_written", "delta_log.add_batch_growth"), result)
    return result


def _layers(ctx, w: dict) -> dict[str, float]:
    """Per-layer figures of the traced window, per repetition."""
    tr, good = ctx.tracer, w["good"]
    n_all = len(w["reps"])
    ops = n_all * (BACKLOG + 1)
    publish_s = tr.total_s("fake_pulsar.publish") / n_all
    send_s = tr.total_s("fake_pulsar.send") / n_all
    out = {
        "connector.open_s": tr.total_s("connector.open") / n_all,
        "connector.bootstrap_build_s": tr.total_s("connector.bootstrap") / n_all,
        "connector.poll_build_s": tr.total_s("connector.poll") / n_all,
        "delta_log.snapshot_calls": tr.calls("delta_log.snapshot") / n_all,
        "delta_log.snapshot_s": tr.total_s("delta_log.snapshot") / n_all,
        "delta_log.actions_calls": tr.calls("delta_log.actions") / n_all,
        "delta_log.actions_per_commit": tr.calls("delta_log.actions") / (n_all * (BACKLOG + 1)),
        "delta_log.cdc_s": tr.total_s("delta_log.cdc") / n_all,
        "delta_log.read_s": tr.total_s("delta_log.read") / n_all,
        "murmur3.route_lowcard_calls": tr.calls("murmur3.route_lowcard") / n_all,
        "murmur3.route_lowcard_s": tr.total_s("murmur3.route_lowcard") / n_all,
        "pipeline.wire_build_s": tr.total_s("pipeline.wire_build") / n_all,
        "fake_pulsar.publish_s": publish_s,
        "fake_pulsar.send_calls": tr.calls("fake_pulsar.send") / n_all,
        "fake_pulsar.send_s": send_s,
        "fake_pulsar.drain_s": publish_s - send_s,
        "spark.jobs_per_op": w["jobs"][0] / ops,
        "spark.sql_executions_per_op": w["jobs"][1] / ops,
    }
    # self times over the repetitions themselves, not the checks
    # between them; ``run``'s own time (its loop, and any call it makes
    # that no span wraps) counts as unattributed
    selfs = tr.self_by_layer([(s, d) for s, _b, d in good], unattributed=("connector.run",))
    wall = sum(d - s for s, _b, d in good)
    out.update({f"self.{k}_s": v / len(good) for k, v in selfs.items()})
    out["trace.coverage"] = 1.0 - selfs.get("other", 0.0) / wall
    return out
