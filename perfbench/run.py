"""CDC benchmark entry point.

    python3 perfbench/run.py --workload tail|backfill|ingest|curation|all \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each workload runs in its own Spark
process (worker.py), so a crash costs only that workload's numbers.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones named in BENCHMARK.json. With
``--trace 1`` the timed window is followed, in the same process, by a
traced window and an untraced one of the same length; the metrics are
then the per-layer ones, among them ``overhead.<metric>``: the traced
window's figure over the untraced one after it, minus one. The exit
code is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

from common import proc_tree

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("tail", "backfill", "ingest", "curation")
DEADLINE_S = 170.0


def metric_units(root: str) -> tuple[dict[str, str], dict[str, str]]:
    """End-to-end and per-layer metric names → units, from the checkout's
    BENCHMARK.json. Every workload prints all of them; a layer the
    workload does not exercise reads 0."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


class RssSampler(threading.Thread):
    """Peak resident set of a process tree (driver, JVM, Python
    workers): the sum over its processes of each one's kernel-kept peak
    (VmHWM), collected once a second. Tighter sampling of /proc slowed
    the program under test measurably."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid = pid
        self.hwm_kb: dict[int, int] = {}
        self._halt = threading.Event()

    def _sample(self) -> None:
        for pid in proc_tree(self.pid):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.hwm_kb[pid] = max(self.hwm_kb.get(pid, 0), int(line.split()[1]))
                            break
            except (OSError, IndexError, ValueError):
                pass

    def run(self) -> None:
        while not self._halt.wait(1.0):
            self._sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()

    @property
    def peak_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024.0


def run_worker(root: str, workload: str, seed: int, seconds: float, trace: int, timeout: float) -> dict:
    """One workload in a fresh worker process; its result plus peak RSS.
    A worker that crashes or overruns yields a failed result."""
    work = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": root,
            "PERFBENCH_T0": repr(time.monotonic()),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_DRIVER_MEM": "2g",
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "TMPDIR": os.path.join(work, "tmp"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        }
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--root", root, "--work", work, "--out", out,
    ]
    proc = subprocess.Popen(
        cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        start_new_session=True,
    )
    sampler = RssSampler(proc.pid)
    sampler.start()
    log: list[bytes] = []
    reader = threading.Thread(target=lambda: log.extend(proc.stdout), daemon=True)
    reader.start()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        pass
    finally:
        _kill_group(proc)
        sampler.stop()
        reader.join(timeout=5)
    try:
        with open(out) as f:
            res = json.load(f)
    except (OSError, ValueError):
        tail = b"".join(log)[-3000:].decode(errors="replace")
        res = {"attempted": 1, "failed": 1, "problems": [f"worker produced no result (rc={proc.returncode}):\n{tail}"],
               "metrics": {}, "layer": {}, "digest": ""}
    res["metrics"]["peak_rss_mb"] = sampler.peak_mb
    res["layer"]["spark.session_start_s"] = res.get("spark_start_s", 0.0)
    # the untraced window's wall-clock figures: per-layer, not gated,
    # because the host's speed swings from minute to minute
    res["layer"].update({f"wall.{k}": res["metrics"].get(k, 0.0) for k in ("latency_s", "rows_per_s")})
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        os.replace(spans, os.path.join(root, ".perfbench_work", f"{workload}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    return res


def _kill_group(proc: subprocess.Popen) -> None:
    """End the worker and everything it started (JVM, Python workers,
    generator): TERM, then KILL, and wait until the group is gone."""
    import signal

    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            continue
        end = time.monotonic() + 10
        while _group_alive(proc.pid) and time.monotonic() < end:
            time.sleep(0.1)
        if not _group_alive(proc.pid):
            break


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def result_line(res: dict, metrics: dict[str, tuple[float, str]]) -> dict:
    return {
        "correct": not res["problems"] and res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def one(root: str, workload: str, seed: int, seconds: float, trace: int, deadline: float) -> dict:
    res = run_worker(root, workload, seed, seconds, trace, deadline - time.monotonic())
    table = metric_units(root)[1 if trace else 0]
    source = res["layer"] if trace else res["metrics"]
    metrics = {k: (source.get(k, 0.0), u) for k, u in table.items()}
    for p in res["problems"]:
        print(f"[{workload}] problem: {p}", file=sys.stderr)
    print(f"[{workload}] input digest {res.get('digest', '')} (seed {seed})")
    return result_line(res, metrics)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "pulsar_io_delta_spark")):
        print("run from the root of a checkout: pulsar_io_delta_spark/ not found", file=sys.stderr)
        return 2
    t0 = time.monotonic()
    if a.workload != "all":
        line = one(root, a.workload, a.seed, a.seconds, a.trace, t0 + DEADLINE_S)
        print(json.dumps(line))
        return 0 if line["correct"] else 1
    lines = {}
    for w in WORKLOADS:
        lines[w] = one(root, w, a.seed, a.seconds, a.trace, time.monotonic() + DEADLINE_S)
        print(f"[{w}] " + json.dumps(lines[w]))
    summary = {
        "correct": all(x["correct"] for x in lines.values()),
        "attempted": sum(x["attempted"] for x in lines.values()),
        "failed": sum(x["failed"] for x in lines.values()),
        "metrics": {f"{w}.{k}": v for w, x in lines.items() for k, v in x["metrics"].items()},
    }
    print(json.dumps(summary))
    return 0 if summary["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
