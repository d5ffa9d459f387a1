"""Seeded input generation and a minimal Delta committer.

Everything the program under test reads is made here from the run's
seed: event rows for the CDC tables, the parquet batches the ingest
stream reads, and the documents corpus for the curation queries. The
committer writes parquet data files with pyarrow and publishes each
commit JSON with an exclusive create (temp file + hard link), so tables
are built without going through the program's own write path and the
set-up cost of a run stays with the benchmark's code.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# Spark JSON schema of the CDC source tables: event_type is the
# partition column, so data files hold the other three columns only.
EVENT_SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "event_id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "user_id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "value", "type": "double", "nullable": True, "metadata": {}},
            {"name": "event_type", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)

# Row ids are version * ID_STRIDE + row index within the commit, so the
# checker can tell every row's commit from its id alone.
ID_STRIDE = 10_000_000


class Digest:
    """Running sha256 over every generated input, printed by the run so
    two runs can show they saw the same inputs."""

    def __init__(self) -> None:
        self._h = hashlib.sha256()

    def add(self, *parts) -> None:
        for p in parts:
            if isinstance(p, np.ndarray):
                self._h.update(np.ascontiguousarray(p).tobytes())
            else:
                self._h.update(repr(p).encode())

    def hexdigest(self) -> str:
        return self._h.hexdigest()[:16]


def event_rows(rng: np.random.Generator, version: int, n: int) -> dict[str, np.ndarray]:
    """``n`` event rows for commit ``version``: ids, users, values and an
    event type index per row."""
    return {
        "event_id": version * ID_STRIDE + np.arange(n, dtype=np.int64),
        "user_id": rng.integers(0, 10_000, n, dtype=np.int64),
        "value": np.round(rng.random(n) * 100.0, 2),
        "etype": rng.integers(0, len(EVENT_TYPES), n, dtype=np.int8),
    }


def _publish_exclusive(path: str, body: str) -> None:
    """Write ``body`` to ``path`` atomically; FileExistsError if taken."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        f.write(body)
    try:
        os.link(tmp, path)
    finally:
        os.unlink(tmp)


class DeltaCommitter:
    """Appends partitioned event commits to a Delta table directory.

    Version 0 carries protocol and metaData (with ``configuration``);
    each commit writes one parquet file per event type present (or
    ``files_per_type`` files for a large commit)."""

    def __init__(self, path: str, configuration: dict | None = None) -> None:
        self.path = path
        self.log_dir = os.path.join(path, "_delta_log")
        self.configuration = dict(configuration or {})
        self.next_version = 0

    def commit(self, rows: dict[str, np.ndarray], files_per_type: int = 1) -> tuple[int, int]:
        """Write the files, then publish the commit. Returns
        (version, files written)."""
        adds = self.stage(rows, files_per_type)
        return self.publish(adds), len(adds)

    def stage(self, rows: dict[str, np.ndarray], files_per_type: int = 1) -> list[dict]:
        """Write the data files of the next commit; they stay invisible
        until ``publish`` names them in the log."""
        version = self.next_version
        adds = []
        for t, name in enumerate(EVENT_TYPES):
            idx = np.flatnonzero(rows["etype"] == t)
            if len(idx) == 0:
                continue
            for part, chunk in enumerate(np.array_split(idx, files_per_type)):
                if len(chunk) == 0:
                    continue
                rel = f"event_type={name}/part-{version:06d}-{part:03d}-{uuid.uuid4().hex[:8]}.parquet"
                full = os.path.join(self.path, rel)
                os.makedirs(os.path.dirname(full), exist_ok=True)
                pq.write_table(
                    pa.table(
                        {
                            "event_id": rows["event_id"][chunk],
                            "user_id": rows["user_id"][chunk],
                            "value": rows["value"][chunk],
                        }
                    ),
                    full,
                )
                adds.append(
                    {
                        "add": {
                            "path": rel,
                            "partitionValues": {"event_type": name},
                            "size": os.path.getsize(full),
                            "modificationTime": int(time.time() * 1000),
                            "dataChange": True,
                            "stats": json.dumps({"numRecords": int(len(chunk))}),
                        }
                    }
                )
        return adds

    def publish(self, adds: list[dict]) -> int:
        """Publish the next commit with these add actions; its version."""
        version = self.next_version
        actions: list[dict] = [{"commitInfo": {"timestamp": int(time.time() * 1000), "operation": "WRITE"}}]
        if version == 0:
            os.makedirs(self.log_dir, exist_ok=True)
            actions.append({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
            actions.append(
                {
                    "metaData": {
                        "id": str(uuid.uuid4()),
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": EVENT_SCHEMA_JSON,
                        "partitionColumns": ["event_type"],
                        "configuration": self.configuration,
                        "createdTime": int(time.time() * 1000),
                    }
                }
            )
        actions.extend(adds)
        _publish_exclusive(
            os.path.join(self.log_dir, f"{version:020d}.json"),
            "".join(json.dumps(a) + "\n" for a in actions),
        )
        self.next_version += 1
        return version


def expected_rows(rows: dict[str, np.ndarray], version: int) -> dict[int, tuple[str, int]]:
    """event_id → (event type, commit version) for one commit."""
    return {
        int(i): (EVENT_TYPES[int(t)], version)
        for i, t in zip(rows["event_id"], rows["etype"])
    }


WORDS = (
    "agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table value vector window a the"
).split()


def documents(rng: np.random.Generator, n: int, dup_share: float, near_share: float) -> pa.Table:
    """A corpus in the fixture ``documents`` schema. ``dup_share`` of the
    docs copy an earlier doc verbatim and ``near_share`` copy one with
    about a tenth of its words replaced."""
    words = np.array(WORDS)
    texts: list[str] = []
    kinds = rng.random(n)
    for i in range(n):
        if i > 0 and kinds[i] < dup_share:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 0 and kinds[i] < dup_share + near_share:
            toks = texts[int(rng.integers(0, i))].split(" ")
            flip = rng.random(len(toks)) < 0.1
            toks = [str(words[rng.integers(0, len(words))]) if f else t for t, f in zip(toks, flip)]
            texts.append(" ".join(toks))
            continue
        k = int(rng.integers(10, 90))
        texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    langs = np.array(["en", "de", "es", "fr", "zh"])[rng.integers(0, 5, n)]
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 10}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def commit_rows(seed: int, version: int, n: int, one_type: bool = False) -> dict[str, np.ndarray]:
    """``n`` rows of commit ``version``, drawn from (seed, version) alone
    so the generator process and the checker agree without talking.
    ``one_type`` gives every row the same event type, so the commit is
    one data file: cheap history that still lengthens the log."""
    rng = np.random.default_rng([seed, version])
    rows = event_rows(rng, version, n)
    if one_type:
        rows["etype"][:] = version % len(EVENT_TYPES)
    return rows
