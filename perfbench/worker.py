"""One workload in one Spark process (started by run.py).

    python3 worker.py --workload W --seed N --seconds S --trace 0|1 \
        --root CHECKOUT --work DIR --out RESULT.json

Writes the workload's result, its per-layer figures and the digest of
its inputs to RESULT.json. An exception in the workload is recorded as
one failed operation instead of ending the run without a result.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import Ctx  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    t_start = float(os.environ.get("PERFBENCH_T0") or time.monotonic())
    sys.path.insert(0, a.root)

    from pulsar_io_delta_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{a.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    spark_s = time.monotonic() - t_start
    ctx = Ctx(spark=spark, seed=a.seed, seconds=a.seconds, trace=bool(a.trace), work=a.work, root=a.root)
    try:
        res = importlib.import_module(a.workload).run(ctx)
    except Exception:  # noqa: BLE001 — the run reports, not aborts
        res = {"attempted": 1, "failed": 1, "problems": [traceback.format_exc()[-2000:]], "metrics": {}}
    if "setup_s" in res["metrics"]:
        res["metrics"]["setup_s"] += spark_s
    out = {**res, "layer": ctx.layer, "digest": ctx.digest.hexdigest(), "spark_start_s": spark_s}
    with open(a.out, "w") as f:
        json.dump(out, f)
    if ctx.trace:
        ctx.tracer.dump(os.path.join(a.work, "spans.jsonl"))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
