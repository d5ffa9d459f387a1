"""Pieces the workloads share: the run context, the CDC egress used by
``tail`` and ``backfill``, and per-layer figures from Spark's streaming
progress records."""

from __future__ import annotations

import importlib
import os
import shutil
import time
from dataclasses import dataclass, field, replace

from spans import Tracer, median, spark_counts

import gen

N_PART = 8
TOPIC = "events-cdc"
BUILD_REPEATS = 3


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool  # add a traced window after the untraced one
    work: str  # scratch directory of this run, inside the checkout
    root: str  # checkout root
    phase: bool = False  # one traced window only, inside another workload's run (run_phase)
    tracer: Tracer = field(default_factory=Tracer)
    digest: gen.Digest = field(default_factory=gen.Digest)
    layer: dict = field(default_factory=dict)

    def windows(self):
        """Timed windows of the run, each of the run's length, in one
        process. ``"timed"`` (untraced) gives the end-to-end metrics. A
        traced run adds ``"traced"``, which gives the per-layer
        figures, and ``"after"``, untraced again: tracing overhead is
        measured against it, because the program still speeds up from
        one window to the next and ``"timed"`` runs colder. A phase has
        the traced window alone and keeps the spans recorded before
        it."""
        if self.phase:
            self.tracer.install()
            yield "traced"
            self.tracer.enabled = False
            return
        yield "timed"
        if self.trace:
            self.tracer.install()
            self.tracer.reset()
            yield "traced"
            self.tracer.enabled = False
            yield "after"

    def counters(self) -> tuple[int, int]:
        return spark_counts(self.spark)

    def overhead(self, stats: dict) -> None:
        """Tracing overhead per end-to-end metric: the traced window's
        figure over the untraced window after it, minus one."""
        if "after" not in stats:
            return
        for k in ("latency_s", "rows_per_s", "cpu_ms_per_row"):
            if stats["after"][k]:
                self.layer[f"overhead.{k}"] = stats["traced"][k] / stats["after"][k] - 1.0


def run_phase(ctx: Ctx, workload: str, prefixes: tuple[str, ...], result: dict) -> None:
    """Run ``workload`` inside this traced run, after its own windows, as
    one traced window of half the run's length (a traced run already
    costs two extra windows). Its per-layer figures whose names start with
    ``prefixes``, and its latency and throughput as
    ``<workload>.latency_s`` and ``<workload>.rows_per_s``, join this
    run's; its operations and problems join ``result``. This is how the
    gated workloads carry the layers of ``ingest`` and ``curation``,
    whose own runs cost too much to repeat as often as the gated
    ones. An exception in the phase fails one operation."""
    sub = replace(ctx, seconds=ctx.seconds / 2, phase=True, layer={}, work=os.path.join(ctx.work, workload))
    os.makedirs(sub.work)
    try:
        res = importlib.import_module(workload).run(sub)
    except Exception as exc:  # noqa: BLE001 — the run reports, not aborts
        res = {"attempted": 1, "failed": 1, "problems": [f"{workload} phase: {type(exc).__name__}: {str(exc)[:300]}"], "metrics": {}}
    ctx.layer.update({k: v for k, v in sub.layer.items() if k.startswith(prefixes)})
    for k in ("latency_s", "rows_per_s"):
        ctx.layer[f"{workload}.{k}"] = res["metrics"].get(k, 0.0)
    for k in ("attempted", "failed", "problems"):
        result[k] += res[k]


def timed_builds(ctx: Ctx, name: str, build) -> tuple[str, float]:
    """Run ``build(dir)`` BUILD_REPEATS times into fresh directories and
    keep the last; returns (dir, median seconds). Set-up cost is then a
    median, not one sample."""
    times = []
    path = ""
    for i in range(BUILD_REPEATS):
        if path:
            shutil.rmtree(path)
        path = os.path.join(ctx.work, f"{name}{i}")
        t = time.monotonic()
        build(path)
        times.append(time.monotonic() - t)
    return path, median(times)


def make_egress(broker, record=None):
    """foreachBatch / connector sink: CDC rows → wire frame → broker,
    wired as the repo's end-to-end lifecycle test wires it. ``record``
    receives (batch id, publish return time) after each delivery."""
    from pyspark.sql import functions as F

    from pulsar_io_delta_spark.operators import pipeline
    from pulsar_io_delta_spark.streaming import fake_pulsar

    value = F.to_json(F.struct("event_id", "event_type", "op", "_commit_version"))

    def egress(batch_df, batch_id=None):
        wire = pipeline.to_pulsar_wire(
            batch_df.orderBy("_commit_version", "event_id"),
            "partition_value",
            value,
            num_partitions=N_PART,
        )
        fake_pulsar.publish(wire, broker, TOPIC, N_PART)
        if record is not None:
            record(batch_id, time.monotonic())

    return egress


def partition_logs(broker) -> list[list]:
    return [broker.partition_log(TOPIC, p) for p in range(N_PART)]


def proc_tree(root: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields, from the state on, of ``root`` and
    every process below it."""
    children: dict[int, list[int]] = {}
    stat: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stat[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    out: dict[int, list[str]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stat:
            out[pid] = stat[pid]
            todo.extend(children.get(pid, []))
    return out


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it: the Spark JVM and its Python workers. Children
    this process has already reaped (the ``tail`` generator) are left
    out; those reaped further down are counted by their parents. CPU
    time does not grow while the host takes the CPU away, so it stays
    steady where wall times swing with the host's load."""
    me = os.getpid()
    ticks = 0
    for pid, f in proc_tree(me).items():
        # utime, stime; below this process also cutime, cstime
        ticks += sum(int(x) for x in f[11 : 13 if pid == me else 15])
    return ticks / os.sysconf("SC_CLK_TCK")


def busy_s(progress: list[dict]) -> float:
    """Seconds the stream engine spent in these triggers."""
    return sum(float(p["durationMs"].get("triggerExecution", 0)) for p in progress) / 1000.0


def engine_steps_s(progress: list[dict]) -> float:
    """Seconds of the engine's own named steps (offsets, planning, WAL
    and offset commits), i.e. the triggers' time outside addBatch that
    the progress records account for."""
    skip = ("triggerExecution", "addBatch")
    return sum(float(v) for p in progress for k, v in p["durationMs"].items() if k not in skip) / 1000.0


def progress_layers(progress: list[dict], wall_s: float) -> dict[str, float]:
    """``stream.*`` figures from StreamingQueryProgress records of the
    batches that read data."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]

    def dur(key: str) -> list[float]:
        return [float(p["durationMs"].get(key, 0)) for p in data]

    trig = dur("triggerExecution")
    add = dur("addBatch")
    busy = busy_s(data)
    return {
        "stream.batches": float(len(data)),
        "stream.trigger_ms_p50": median(trig),
        "stream.add_batch_ms_p50": median(add),
        "stream.latest_offset_ms_p50": median(dur("latestOffset")),
        "stream.planning_ms_p50": median(dur("queryPlanning")),
        "stream.offset_commit_ms_p50": median(dur("commitOffsets")),
        "stream.wal_commit_ms_p50": median(dur("walCommit")),
        "stream.busy_s": busy,
        "stream.idle_s": max(0.0, wall_s - busy),
    }


def source_versions(p: dict) -> tuple[int, int] | None:
    """(first version, end version) a progress record's source read, or
    None when the offsets are not Delta versions."""
    import json

    src = (p.get("sources") or [{}])[0]
    try:
        s, e = (o if isinstance(o, dict) else json.loads(o) for o in (src["startOffset"], src["endOffset"]))
        return int(s["version"]), int(e["version"])
    except (KeyError, TypeError, ValueError):
        return None


def wait_for(cond, timeout: float, step: float = 0.02) -> bool:
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        if cond():
            return True
        time.sleep(step)
    return cond()
