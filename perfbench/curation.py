"""``curation``: the LLM-curation queries over a seeded corpus.

Runs the registry builders of four iterative queries (MinHash/LSH,
connected components, near-dedup keep list, BPE training) into Spark's
noop sink, serially, in passes until the run's seconds are used, at
least one. The first pass of a run is its timed one: a pass costs
about 15 s on a 4-core machine whatever the corpus size, mostly in
DataFrame build (eager supersteps and barriers), and a discarded warm
pass would double the run. After the timed region, the DataFrames the
first pass built are collected and compared with each query's
registered DuckDB oracle on the same corpus. No Delta or connector
layer is involved.
"""

from __future__ import annotations

import importlib.util
import os
import time

import check
import common
import gen
import numpy as np
import pyarrow.parquet as pq
from spans import median

QUERIES = ("q_dedup_minhash", "q_dedup_cc", "q_dedup_near", "q_tokenize_bpe_train")
N_DOCS = 1000
DUP_SHARE, NEAR_SHARE = 0.1, 0.1


def inputs(seed: int, digest: gen.Digest):
    """The corpus (a pyarrow table), digested."""
    corpus = gen.documents(np.random.default_rng([seed, 7]), N_DOCS, DUP_SHARE, NEAR_SHARE)
    digest.add(corpus.column("doc_id").to_numpy(), "\x00".join(corpus.column("text").to_pylist()))
    return corpus


def run(ctx: common.Ctx) -> dict:
    from pulsar_io_delta_spark.registry import all_queries

    specs = all_queries()
    inputs(ctx.seed, ctx.digest)

    def build(path: str) -> None:
        os.makedirs(path)
        pq.write_table(inputs(ctx.seed, gen.Digest()), os.path.join(path, "documents.parquet"))

    sf_dir, setup_s = common.timed_builds(ctx, "corpus", build)
    problems: list[str] = []
    failed: set[str] = set()
    built: dict[str, object] = {}  # the first pass's DataFrames, checked after timing

    stats: dict[str, dict] = {}
    for window in ctx.windows():
        traced = window == "traced"
        before = ctx.counters() if traced else (0, 0)
        passes: list[float] = []
        parts: dict[str, list[float]] = {f"{q}.{p}": [] for q in QUERIES for p in ("build", "exec")}
        t0, cpu0 = time.monotonic(), common.cpu_s()
        while not passes or time.monotonic() - t0 < ctx.seconds:
            t_pass = time.monotonic()
            for q in QUERIES:
                try:
                    tb = time.monotonic()
                    with ctx.tracer.span(f"queries.{q}"):
                        df = specs[q].fn(ctx.spark, sf_dir)
                    te = time.monotonic()
                    with ctx.tracer.span(f"spark.{q}"):
                        df.write.format("noop").mode("overwrite").save()
                    built.setdefault(q, df)
                    parts[f"{q}.build"].append(te - tb)
                    parts[f"{q}.exec"].append(time.monotonic() - te)
                except Exception as exc:  # noqa: BLE001
                    failed.add(q)
                    problems.append(f"{q}: {type(exc).__name__}: {str(exc)[:300]}")
            passes.append(time.monotonic() - t_pass)
        cpu = common.cpu_s() - cpu0
        after = ctx.counters() if traced else (0, 0)
        pass_s = median(passes)
        stats[window] = {
            "latency_s": pass_s,
            "rows_per_s": N_DOCS * len(QUERIES) / pass_s,
            "cpu_ms_per_row": 1000.0 * cpu / (N_DOCS * len(QUERIES) * len(passes)),
            "passes": passes,
            "parts": parts,
            "window": (t0, time.monotonic()),
            "jobs": (after[0] - before[0], after[1] - before[1]),
        }
    canon_df = _canon_df(ctx.root)
    con = _oracle_connection(sf_dir)
    for q, df in built.items():
        try:
            msg = check.compare_frames(df.toPandas(), con.sql(specs[q].oracle).df(), canon_df)
        except Exception as exc:  # noqa: BLE001 — a failed query is a failed op
            msg = f"{type(exc).__name__}: {str(exc)[:300]}"
        if msg:
            failed.add(q)
            problems.append(f"{q}: differs from its oracle: {msg}")
    w = next(iter(stats.values()))  # the first window: untraced unless a phase
    metrics = {k: w[k] for k in ("latency_s", "rows_per_s", "cpu_ms_per_row")}
    metrics["setup_s"] = setup_s
    if "traced" in stats:
        w = stats["traced"]
        ctx.overhead(stats)
        tr, n = ctx.tracer, len(w["passes"])
        layer = {f"curation.{k}_s": median(v) for k, v in w["parts"].items()}
        for name in ("graph.connected_components", "text.bpe_train", "dedup.minhash_lsh_pairs"):
            layer[f"{name}_s"] = tr.total_s(name) / n
        layer["spark.jobs_per_op"] = w["jobs"][0] / (n * len(QUERIES))
        layer["spark.sql_executions_per_op"] = w["jobs"][1] / (n * len(QUERIES))
        t0, t1 = w["window"]
        selfs = tr.self_by_layer([(t0, t1)])
        layer.update({f"self.{k}_s": v / n for k, v in selfs.items()})
        layer["trace.coverage"] = 1.0 - selfs.get("other", 0.0) / (t1 - t0)
        ctx.layer.update(layer)
    attempted = len(QUERIES) * sum(len(x["passes"]) for x in stats.values())
    return {"attempted": attempted, "failed": len(failed), "problems": problems, "metrics": metrics}


def _canon_df(root: str):
    """The repo's oracle canonicalisation (tools/verify_local.py)."""
    spec = importlib.util.spec_from_file_location("verify_local", os.path.join(root, "tools", "verify_local.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_df


def _oracle_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    return con
