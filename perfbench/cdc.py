"""``cdc_upsert``: one writer commits seeded upsert batches into a
``storage.SnapshotTable`` through ``merge_upsert`` (copy-on-write), then
reads the table back and aggregates it."""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.common import dir_bytes, median, quantile

BASE_ROWS = 100_000
BASE_FILES = 8
BATCH_ROWS = 2_000
#: untimed commits before the measured ones; commit time keeps falling
#: over the first few commits of a fresh JVM (a third warm-up commit did
#: not make the measured ones steadier)
WARMUP_COMMITS = 2
#: measured commits per run, however short ``--seconds`` is
MIN_COMMITS = 3
#: reads of the final table per run; pass_s is their median (the first
#: read is cold, ~2x the others, and a read takes only ~0.3 s)
READS = 9


def _commit_dirs(table_dir: str, version: int) -> list[str]:
    data = os.path.join(table_dir, "data")
    return [
        os.path.join(data, d) for d in os.listdir(data) if d.startswith(f"commit-{version:06d}-")
    ]


def _parts(d: str) -> list[str]:
    return [os.path.join(d, f) for f in os.listdir(d) if f.startswith("part-")]


def run_cdc(ctx) -> None:
    from pyspark.sql import functions as F

    from clj_kinesis_to_firehose_spark.storage import SnapshotTable

    spark, tr, res, work = ctx.spark, ctx.tracer, ctx.result, ctx.work
    n_base, batch_rows = ctx.scaled(BASE_ROWS), ctx.scaled(BATCH_ROWS)
    table_dir = os.path.join(work, "table")
    with ctx.setup_phase():
        base = gen.cdc_base(ctx.seed, n_base)
        pq.write_table(base, os.path.join(work, "base.parquet"))
        with tr.span("storage.create"):
            table = SnapshotTable(spark, table_dir, key="id")
            table.create(spark.read.parquet(os.path.join(work, "base.parquet")), n_files=BASE_FILES)
        model = {c: base.column(c).to_numpy().copy() for c in ("grp", "amount", "version")}

    def commit(batch_no: int) -> float:
        b = gen.cdc_batch(ctx.seed, n_base, batch_no, batch_rows)
        path = os.path.join(work, "once", f"b{batch_no}.parquet")
        pq.write_table(b, path)
        df = spark.read.parquet(path)
        t0 = time.perf_counter()
        with tr.span("storage.merge_upsert"):
            try:
                table.merge_upsert(df)
                ok = True
            except Exception as e:  # a failed commit is a failed operation
                ok = False
                res.op(False, f"commit {batch_no}: {type(e).__name__}: {e}")
        dt = time.perf_counter() - t0
        if ok:
            res.op(True)
            ids = b.column("id").to_numpy()
            top = int(ids.max()) + 1
            for c in model:
                if len(model[c]) < top:
                    model[c] = np.concatenate([model[c], np.zeros(top - len(model[c]), model[c].dtype)])
                model[c][ids] = b.column(c).to_numpy()
        return dt

    os.makedirs(os.path.join(work, "once"))
    with ctx.setup_phase(warmup=True):
        for batch_no in range(1, WARMUP_COMMITS + 1):
            commit(batch_no)
    v0 = table.latest_version()
    manifest_dir = os.path.join(table_dir, "_manifest")
    bytes0, manifest0 = dir_bytes(table_dir), dir_bytes(manifest_dir)
    once0 = dir_bytes(os.path.join(work, "once"))  # the batches, written once
    commits: list[float] = []
    deadline = time.perf_counter() + ctx.seconds
    batch_no = WARMUP_COMMITS + 1
    with ctx.measure():
        while len(commits) < MIN_COMMITS or time.perf_counter() < deadline:
            commits.append(commit(batch_no))
            batch_no += 1
    written = dir_bytes(table_dir) - bytes0
    manifest_written = dir_bytes(manifest_dir) - manifest0
    once = dir_bytes(os.path.join(work, "once")) - once0

    def read_agg():
        with tr.span("storage.read"):
            return (
                table.read().groupBy("grp")
                .agg(F.count("*").alias("n"), F.sum("amount").alias("s"), F.max("version").alias("v"))
                .collect()
            )

    reads = []
    for _ in range(READS):
        t0 = time.perf_counter()
        agg = read_agg()
        reads.append(time.perf_counter() - t0)

    # correctness: the final table equals the last-write-wins model
    got = table.read().toPandas().sort_values("id")
    ids = np.arange(len(model["version"]))
    res.check(len(got) == len(ids), f"table has {len(got)} rows, model {len(ids)}")
    if len(got) == len(ids):
        res.check(bool((got["id"].to_numpy() == ids).all()), "table keys differ from model")
        for c in model:
            res.check(bool((got[c].to_numpy() == model[c][ids]).all()), f"column {c} differs from model")
    n_agg = sum(r["n"] for r in agg)
    res.check(n_agg == len(ids), f"aggregate counts {n_agg} rows, model {len(ids)}")

    res.detail.update(commit_s=commits, read_s=reads)
    ctx.units = len(commits)
    res.put("throughput_rps", batch_rows / median(commits), len(commits))
    res.put("latency_p50_ms", quantile(commits, 0.5) * 1000, len(commits))
    res.put("latency_p90_ms", quantile(commits, 0.9) * 1000, len(commits))
    res.put("pass_s", median(reads), len(reads))
    if tr.enabled:
        versions = range(v0 + 1, table.latest_version() + 1)
        parts = [[p for d in _commit_dirs(table_dir, v) for p in _parts(d)] for v in versions]
        rewritten = [len(ps) for ps in parts]
        per_commit = [sum(os.path.getsize(p) for p in ps) for ps in parts]
        res.put("storage.create_s", tr.durations("storage.create")[0], 1)
        res.put("storage.commit_p50_ms", quantile(commits, 0.5) * 1000, len(commits))
        res.put("storage.files_rewritten_per_commit", median(rewritten), len(rewritten))
        res.put("storage.bytes_written_per_commit", median(per_commit), len(per_commit))
        res.put("storage.manifest_bytes", manifest_written / len(commits), len(commits))
        res.put("storage.write_amp", written / once)
        res.put("storage.read_s", median(tr.durations("storage.read")), READS)
