"""Output checks. Pure functions over what the program produced, so the
benchmark's tests can feed them broken outputs.

Routing is re-derived here with an independent murmur3 (x86 32-bit,
seed 0, Java ``hashCode``-style sign masking), so a change that breaks
the program's hash cannot also break the check.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq


def murmur3_32(data: bytes, seed: int = 0) -> int:
    c1, c2, m = 0xCC9E2D51, 0x1B873593, 0xFFFFFFFF
    h = seed
    n = len(data) // 4 * 4
    for i in range(0, n, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & m
        k = ((k << 15) | (k >> 17)) & m
        k = (k * c2) & m
        h ^= k
        h = ((h << 13) | (h >> 19)) & m
        h = (h * 5 + 0xE6546B64) & m
    k = 0
    tail = data[n:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if tail:
        k ^= tail[0]
        k = (k * c1) & m
        k = ((k << 15) | (k >> 17)) & m
        k = (k * c2) & m
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & m
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & m
    h ^= h >> 16
    return h


def route(key: str, num_partitions: int) -> int:
    return (murmur3_32(key.encode()) & 0x7FFFFFFF) % num_partitions


def check_delivery(
    partitions: list[list], expected: dict[int, tuple[str, int]], num_partitions: int
) -> tuple[list[str], set[int]]:
    """Every expected row arrives exactly once, on the partition its key
    routes to, with key ``event_type=<type>``, op ``c`` and its commit
    version; versions never decrease within a partition.

    ``partitions[p]`` lists partition p's messages in broker order (any
    object with ``key`` and ``value``). Returns (problems, bad versions):
    a commit counts as failed when any of its rows is missing,
    duplicated, misrouted or wrong."""
    problems: list[str] = []
    bad: set[int] = set()
    seen: set[int] = set()

    def fail(msg: str, version: int | None) -> None:
        if len(problems) < 20:
            problems.append(msg)
        if version is not None:
            bad.add(version)

    for p, msgs in enumerate(partitions):
        last_version = -1
        for msg in msgs:
            rec = json.loads(msg.value)
            eid = int(rec["event_id"])
            want = expected.get(eid)
            version = want[1] if want else int(rec.get("_commit_version", -1))
            if want is None:
                fail(f"unexpected event_id {eid} on partition {p}", None)
                continue
            if eid in seen:
                fail(f"event_id {eid} delivered twice", version)
            seen.add(eid)
            key = f"event_type={want[0]}"
            if msg.key != key:
                fail(f"event_id {eid}: key {msg.key!r}, want {key!r}", version)
            if route(msg.key, num_partitions) != p:
                fail(f"event_id {eid}: key {msg.key!r} on partition {p}", version)
            if rec.get("op") != "c":
                fail(f"event_id {eid}: op {rec.get('op')!r}", version)
            if rec.get("_commit_version") != version:
                fail(f"event_id {eid}: version {rec.get('_commit_version')}, want {version}", version)
            if rec["_commit_version"] < last_version:
                fail(f"partition {p}: version {rec['_commit_version']} after {last_version}", version)
            last_version = max(last_version, rec["_commit_version"])
    missing = [e for e in expected if e not in seen]
    for eid in missing:
        fail(f"event_id {eid} never delivered", expected[eid][1])
    if missing:
        problems.append(f"{len(missing)} rows missing in total")
    return problems, bad


def replay_log(table_path: str) -> tuple[list[dict], dict[str, int]]:
    """Live add actions and the latest txn version per appId, from the
    table's JSON commits (checkpoints only summarise those commits)."""
    log_dir = os.path.join(table_path, "_delta_log")
    live: dict[str, dict] = {}
    txns: dict[str, int] = {}
    for name in sorted(os.listdir(log_dir)):
        stem = name[: -len(".json")]
        if not (name.endswith(".json") and stem.isdigit()):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "add" in a:
                    live[a["add"]["path"]] = a["add"]
                elif "remove" in a:
                    live.pop(a["remove"]["path"], None)
                elif "txn" in a:
                    txns[a["txn"]["appId"]] = int(a["txn"]["version"])
    return list(live.values()), txns


def check_table(
    table_path: str, expected: dict[int, str], app_id: str, last_batch_id: int
) -> list[str]:
    """The table holds exactly the expected rows (event_id → event
    type), and the sink's txn marker names the last batch."""
    problems: list[str] = []
    adds, txns = replay_log(table_path)
    got: dict[int, str] = {}
    for add in adds:
        etype = (add.get("partitionValues") or {}).get("event_type")
        ids = pq.read_table(os.path.join(table_path, add["path"]), columns=["event_id"])
        for eid in ids.column("event_id").to_pylist():
            if eid in got:
                problems.append(f"event_id {eid} stored twice")
            got[eid] = etype
    for eid, etype in expected.items():
        if got.get(eid) != etype:
            problems.append(f"event_id {eid}: stored as {got.get(eid)!r}, want {etype!r}")
    extra = set(got) - set(expected)
    if extra:
        problems.append(f"{len(extra)} unexpected rows, e.g. {sorted(extra)[:3]}")
    if txns.get(app_id, -1) != last_batch_id:
        problems.append(f"txn version {txns.get(app_id)} for {app_id}, want {last_batch_id}")
    return problems[:20]


def compare_frames(got, want, canon_df) -> str | None:
    """Order-insensitive equality of two pandas frames under the repo's
    oracle canonicalisation; a message on mismatch."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    a, b = canon_df(got), canon_df(want)
    if not a.equals(b):
        return f"{int((a != b).any(axis=1).sum())}/{len(a)} rows differ"
    return None
