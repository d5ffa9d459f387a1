"""Spans around the program's public calls, installed from outside.

A traced run replaces chosen functions and methods of the package with
wrappers that record a span (name, start, end, parent) per call. Spans
stay in memory and are written out when the run ends. Self time is a
span's duration minus the time its child spans cover; calls are nested
and sequential within a thread, so children never overlap and that
cover is their summed duration. An untraced run installs nothing.

``fake_pulsar.send`` runs once per message, so it is a *leaf*: it adds
its time to the enclosing span's children and to a per-name total, but
keeps no span record of its own.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "pulsar_io_delta_spark"

# (module, class or None, attribute, span name). Layer = name's prefix.
WRAPPED = [
    (f"{PKG}.sources.delta_log", "DeltaTable", "snapshot", "delta_log.snapshot"),
    (f"{PKG}.sources.delta_log", "DeltaTable", "actions", "delta_log.actions"),
    (f"{PKG}.sources.delta_log", "DeltaTable", "changes", "delta_log.changes"),
    (f"{PKG}.sources.delta_log", "DeltaTable", "cdc", "delta_log.cdc"),
    (f"{PKG}.sources.delta_log", "DeltaTable", "read", "delta_log.read"),
    (f"{PKG}.sources.delta_log", "DeltaTable", "versions", "delta_log.versions"),
    (f"{PKG}.sources.delta_log", "DeltaTable", "last_txn_version", "delta_log.last_txn_version"),
    (f"{PKG}.connector", "DeltaCdcConnector", "open", "connector.open"),
    (f"{PKG}.connector", "DeltaCdcConnector", "bootstrap", "connector.bootstrap"),
    (f"{PKG}.connector", "DeltaCdcConnector", "poll", "connector.poll"),
    (f"{PKG}.connector", "DeltaCdcConnector", "run", "connector.run"),
    (f"{PKG}.functions.murmur3", None, "with_route_lowcard", "murmur3.route_lowcard"),
    (f"{PKG}.operators.pipeline", None, "to_pulsar_wire", "pipeline.wire_build"),
    (f"{PKG}.streaming.fake_pulsar", None, "publish", "fake_pulsar.publish"),
    (f"{PKG}.operators.graph", None, "connected_components", "graph.connected_components"),
    (f"{PKG}.operators.text", None, "bpe_train", "text.bpe_train"),
    (f"{PKG}.operators.dedup", None, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
]
LEAVES = [
    (f"{PKG}.streaming.fake_pulsar", "FakePulsarProducer", "send", "fake_pulsar.send"),
]


class _Span:
    __slots__ = ("name", "start", "end", "parent", "child_s")

    def __init__(self, name: str, start: float, parent: "_Span | None") -> None:
        self.name, self.start, self.end, self.parent = name, start, 0.0, parent
        self.child_s = 0.0


class Tracer:
    """Span recorder. Until ``install()`` it is disabled: ``span()`` is a
    no-op and nothing is wrapped. Setting ``enabled`` back to False
    turns the wrappers into plain calls."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[_Span] = []
        self.leaf_calls: dict[str, int] = defaultdict(int)
        self.leaf_s: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._installed = False

    def _stack(self) -> list[_Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sp = _Span(name, time.monotonic(), stack[-1] if stack else None)
        stack.append(sp)
        try:
            yield
        finally:
            sp.end = time.monotonic()
            stack.pop()
            if sp.parent is not None:
                sp.parent.child_s += sp.end - sp.start
            with self._lock:
                self.spans.append(sp)

    def _leaf(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not self.enabled:
                return fn(*a, **kw)
            t = time.monotonic()
            try:
                return fn(*a, **kw)
            finally:
                d = time.monotonic() - t
                stack = self._stack()
                if stack:
                    stack[-1].child_s += d
                with self._lock:
                    self.leaf_calls[name] += 1
                    self.leaf_s[name] += d

        return wrapper

    def _spanned(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not self.enabled:
                return fn(*a, **kw)
            with self.span(name):
                return fn(*a, **kw)

        return wrapper

    def install(self) -> None:
        """Wrap every listed call. Module-level functions are replaced in
        every loaded module of the package that imported them by name.
        A second call only enables the wrappers again."""
        self.enabled = True
        if self._installed:
            return
        self._installed = True
        for specs, make in ((WRAPPED, self._spanned), (LEAVES, self._leaf)):
            for mod_name, cls_name, attr, name in specs:
                mod = importlib.import_module(mod_name)
                owner = getattr(mod, cls_name) if cls_name else mod
                orig = getattr(owner, attr)
                new = make(name, orig)
                setattr(owner, attr, new)
                if cls_name is None:
                    for m in list(sys.modules.values()):
                        if getattr(m, "__name__", "").startswith(PKG) and m is not mod:
                            for k, v in list(vars(m).items()):
                                if v is orig:
                                    setattr(m, k, new)

    def reset(self) -> None:
        """Drop what was recorded so far: summaries then cover only the
        timed region that starts here."""
        with self._lock:
            self.spans.clear()
            self.leaf_calls.clear()
            self.leaf_s.clear()

    # ---------- summaries ----------

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name) + self.leaf_calls.get(name, 0)

    def total_s(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name) + self.leaf_s.get(name, 0.0)

    def self_by_layer(self, windows: list[tuple[float, float]], unattributed: tuple[str, ...] = ()) -> dict[str, float]:
        """Self seconds per layer for spans inside the given windows, plus
        ``other``: window time outside every top-level span, and the
        self time of the ``unattributed`` spans (an outer call whose
        own time says nothing about where it went). Leaf time is
        credited to the leaf's own layer."""
        out: dict[str, float] = defaultdict(float)
        covered = 0.0
        for s in self.spans:
            if not any(t0 <= s.start and s.end <= t1 for t0, t1 in windows):
                continue
            own = (s.end - s.start) - s.child_s
            if s.name in unattributed:
                out["other"] += own
            else:
                out[s.name.split(".")[0]] += own
            if s.parent is None:
                covered += s.end - s.start
        for name, secs in self.leaf_s.items():
            out[name.split(".")[0]] += secs
        out["other"] += max(0.0, sum(t1 - t0 for t0, t1 in windows) - covered)
        return dict(out)

    def dump(self, path: str) -> None:
        ids = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": ids.get(id(s.parent)) if s.parent else None,
                        }
                    )
                    + "\n"
                )
            for name in self.leaf_calls:
                f.write(json.dumps({"leaf": name, "calls": self.leaf_calls[name], "s": self.leaf_s[name]}) + "\n")


def spark_counts(spark) -> tuple[int, int]:
    """(jobs, SQL executions) in Spark's status store so far; read
    outside the timed region."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList().size()
    return int(jobs), int(execs)


def pct(values, q: float) -> float:
    """Nearest-rank percentile (0 for an empty list)."""
    vals = sorted(values)
    if not vals:
        return 0.0
    k = max(0, min(len(vals) - 1, int(round(q * (len(vals) - 1)))))
    return float(vals[k])


def median(values) -> float:
    vals = sorted(values)
    if not vals:
        return 0.0
    n = len(vals)
    return float(vals[n // 2]) if n % 2 else (vals[n // 2 - 1] + vals[n // 2]) / 2.0
