"""Tests of the benchmark's own checks and input generation.

    python3 -m pytest perfbench/test_perfbench.py -q

No Spark session is started: the checkers are fed outputs built here,
once correct and once with a single injected fault each.
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import dataclass

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import backfill  # noqa: E402
import check  # noqa: E402
import curation  # noqa: E402
import gen  # noqa: E402
import ingest  # noqa: E402
import tail  # noqa: E402

N = 8


@dataclass
class Msg:
    key: str
    value: bytes


def _expected() -> dict[int, tuple[str, int]]:
    exp: dict[int, tuple[str, int]] = {}
    for v in (3, 4, 5):
        exp.update(gen.expected_rows(gen.commit_rows(7, v, 20 + v), v))
    return exp


def _delivered(expected) -> list[list[Msg]]:
    parts: list[list[Msg]] = [[] for _ in range(N)]
    for eid, (etype, v) in sorted(expected.items(), key=lambda kv: (kv[1][1], kv[0])):
        key = f"event_type={etype}"
        value = json.dumps({"event_id": eid, "event_type": etype, "op": "c", "_commit_version": v})
        parts[check.route(key, N)].append(Msg(key, value.encode()))
    return parts


def test_route_matches_program_murmur3():
    from pulsar_io_delta_spark.functions.murmur3 import partition_id_for

    keys = [f"event_type={t}" for t in gen.EVENT_TYPES] + ["", "a", "ab", "abc", "abcd", "é"]
    for key in keys:
        assert check.route(key, N) == partition_id_for(key, N)


def test_delivery_check_accepts_correct_output():
    exp = _expected()
    problems, bad = check.check_delivery(_delivered(exp), exp, N)
    assert problems == [] and bad == set()


def test_delivery_check_catches_dropped_message():
    exp = _expected()
    parts = _delivered(exp)
    p = next(i for i, msgs in enumerate(parts) if msgs)
    dropped = parts[p].pop()
    problems, bad = check.check_delivery(parts, exp, N)
    assert problems and bad == {json.loads(dropped.value)["_commit_version"]}


def test_delivery_check_catches_duplicated_message():
    exp = _expected()
    parts = _delivered(exp)
    p = next(i for i, msgs in enumerate(parts) if msgs)
    parts[p].append(parts[p][-1])
    problems, bad = check.check_delivery(parts, exp, N)
    assert any("twice" in m for m in problems) and bad


def test_delivery_check_catches_misrouted_message():
    exp = _expected()
    parts = _delivered(exp)
    p = next(i for i, msgs in enumerate(parts) if msgs)
    parts[(p + 1) % N].insert(0, parts[p].pop(0))
    problems, bad = check.check_delivery(parts, exp, N)
    assert any("on partition" in m for m in problems) and bad


def test_delivery_check_catches_wrong_version_and_reordering():
    exp = _expected()
    parts = _delivered(exp)
    p = next(i for i, msgs in enumerate(parts) if len(msgs) > 1)
    parts[p].reverse()
    problems, _ = check.check_delivery(parts, exp, N)
    assert any("after" in m for m in problems)
    parts = _delivered(exp)
    rec = json.loads(parts[p][0].value)
    rec["_commit_version"] += 1
    parts[p][0] = Msg(parts[p][0].key, json.dumps(rec).encode())
    problems, _ = check.check_delivery(parts, exp, N)
    assert any("want" in m for m in problems)


def _table_with_txn(path: str, txn_version: int) -> dict[int, str]:
    c = gen.DeltaCommitter(path)
    expected: dict[int, str] = {}
    for v in range(3):
        rows = gen.commit_rows(5, v, 10 + v)
        c.commit(rows)
        expected.update({k: t for k, (t, _v) in gen.expected_rows(rows, v).items()})
    with open(os.path.join(path, "_delta_log", f"{3:020d}.json"), "w") as f:
        f.write(json.dumps({"txn": {"appId": "app", "version": txn_version}}) + "\n")
    return expected


def test_table_check(tmp_path):
    path = str(tmp_path / "t")
    expected = _table_with_txn(path, 4)
    assert check.check_table(path, expected, "app", 4) == []
    assert check.check_table(path, expected, "app", 5)  # wrong last batch id
    missing = dict(expected)
    missing[10**12] = "click"
    assert check.check_table(path, missing, "app", 4)
    fewer = dict(list(expected.items())[1:])
    assert check.check_table(path, fewer, "app", 4)


def test_query_check_catches_wrong_row():
    canon_df = curation._canon_df(ROOT)
    want = pd.DataFrame({"doc_id": [1, 2, 3], "same_group": [True, True, True]})
    got = want.iloc[::-1].reset_index(drop=True)
    assert check.compare_frames(got, want, canon_df) is None  # order-insensitive
    wrong = got.copy()
    wrong.loc[0, "same_group"] = False
    assert check.compare_frames(wrong, want, canon_df)
    assert check.compare_frames(got.iloc[1:], want, canon_df)


@pytest.mark.parametrize(
    "digest_of",
    [
        lambda seed, d: tail.inputs(seed, tail.PRIOR + 6, d),
        lambda seed, d: backfill.inputs(seed, d),
        lambda seed, d: ingest.inputs(seed, d),
        lambda seed, d: curation.inputs(seed, d),
    ],
    ids=["tail", "backfill", "ingest", "curation"],
)
def test_seed_determines_input_digest(digest_of):
    def digest(seed: int) -> str:
        d = gen.Digest()
        digest_of(seed, d)
        return d.hexdigest()

    assert digest(1) == digest(1)
    assert digest(1) != digest(2)
