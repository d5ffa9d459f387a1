"""Open-loop commit generator for the ``tail`` workload.

Runs as its own process, apart from the program under test: once its
imports are done it appends one commit every ``--period`` seconds, whether or not
the consumer keeps up, and logs each commit's due time and the time
its JSON became visible, on CLOCK_MONOTONIC, which every process on
the host shares. A commit's data files are written
before its due time; at the due time only its log entry is published.
The commit's rows depend only on (seed, version), so the checker
regenerates them.

    python3 generator.py --table T --seed S --first-version V \
        --count N --period P --log L
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

ROWS = 250


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first-version", type=int, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--period", type=float, required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()
    committer = gen.DeltaCommitter(a.table)
    committer.next_version = a.first_version
    start = time.monotonic() + 0.5
    with open(a.log, "w") as log:
        for i in range(a.count):
            due = start + i * a.period
            version = committer.next_version
            rows = gen.commit_rows(a.seed, version, ROWS)
            adds = committer.stage(rows)  # data files first, off the clock
            while (wait := due - time.monotonic()) > 0:
                time.sleep(min(wait, 0.05))
            committer.publish(adds)
            log.write(
                json.dumps(
                    {
                        "version": version,
                        "due": due,
                        "done": time.monotonic(),
                        "done_wall": time.time(),
                        "rows": int(len(rows["event_id"])),
                        "files": len(adds),
                    }
                )
                + "\n"
            )
            log.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
