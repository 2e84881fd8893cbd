"""The Kinesis→Firehose bridge workload ``bridge_bulk``: a closed loop
that drains a fixed backlog again and again.

It runs the reference job of ``streaming.pipelines.stream_firehose_pipeline``
composed from the program's public functions: ``read_event_stream`` →
``prop_k`` extraction and the ``event_type != 'error'`` drop-filter →
``firehose_foreach_batch``.
"""

from __future__ import annotations

import functools
import json
import math
import os
import re
import time

import numpy as np

from clj_kinesis_to_firehose_spark.streaming.firehose_sink import (
    MAX_BATCH_BYTES,
    MAX_RECORD_BYTES,
    MAX_RECORDS_PER_BATCH,
    LocalDirFirehoseClient,
    deliver_records,
    firehose_foreach_batch,
)
from perfbench import gen
from perfbench.common import Result, Tracer, median, quantile

#: Firehose partial-failure rate of the bridge workload: every 100th
#: record of a put fails on its first attempt and is resubmitted
FAIL_EVERY = 100

_LINE = re.compile(rb'^\{"event_id":(-?\d+),.*?"value":([-0-9.Ee+]+)[,}]')


def bridge_query(spark, source_dir: str, out_dir: str, chk_dir: str, trigger: dict,
                 client_factory=None, wrap=None):
    """Start the bridge job over ``source_dir`` delivering to ``out_dir``."""
    from pyspark.sql import functions as F

    from clj_kinesis_to_firehose_spark.sources.streams import read_event_stream

    ev = read_event_stream(spark, source_dir)
    routed = ev.withColumn(
        "prop_k", F.get_json_object("props", "$.k").cast("long")
    ).filter(F.col("event_type") != "error")
    handle = firehose_foreach_batch(
        out_dir, fail_first_attempt_every=FAIL_EVERY, client_factory=client_factory
    )
    if wrap is not None:
        handle = wrap(handle)
    return (
        routed.writeStream.foreachBatch(handle)
        .option("checkpointLocation", chk_dir)
        .trigger(**trigger)
        .start()
    )


# ------------------------------------------------------------ tracing hooks


def _timing_client_factory(spark):
    """A ``client_factory`` whose clients time and count every put into
    Spark accumulators, so the counts come back from the executors."""
    sc = spark.sparkContext
    accs = {k: sc.accumulator(0) for k in ("puts", "first_puts", "records", "capped", "retried")}
    put_us = sc.accumulator(0)
    return functools.partial(TimingClient, accs=accs, put_us=put_us), accs, put_us


class TimingClient(LocalDirFirehoseClient):
    """``LocalDirFirehoseClient`` that counts and times its puts."""

    def __init__(self, out_dir, fail_first_attempt_every=0, accs=None, put_us=None):
        super().__init__(out_dir, fail_first_attempt_every=fail_first_attempt_every)
        self._accs, self._put_us = accs, put_us

    def put_record_batch(self, stream_name, batch, idempotency_key=None):
        t0 = time.perf_counter()
        failed = super().put_record_batch(stream_name, batch, idempotency_key)
        self._put_us.add(int((time.perf_counter() - t0) * 1e6))
        a = self._accs
        a["puts"].add(1)
        if idempotency_key is None or idempotency_key.endswith("-a0"):
            a["first_puts"].add(1)
            a["records"].add(len(batch))
            if (
                len(batch) < MAX_RECORDS_PER_BATCH
                and sum(map(len, batch)) > MAX_BATCH_BYTES - MAX_RECORD_BYTES
            ):
                a["capped"].add(1)
        else:
            a["retried"].add(len(batch))
        return failed


def _traced_handle(tracer: Tracer):
    def wrap(handle):
        def traced(df, epoch_id):
            with tracer.span("firehose_sink.handle"):
                handle(df, epoch_id)

        return traced

    return wrap


# ------------------------------------------------------------ verification


class Delivery:
    """What a delivery directory holds: per record id its value and the
    delivery time of its file, and every rule the files broke."""

    def __init__(self, out_dir: str) -> None:
        ids: list[int] = []
        values: list[float] = []
        mtimes: list[float] = []
        self.violations: list[str] = []
        self.files = 0
        self.dead = 0
        for d, _, files in os.walk(out_dir):
            in_errors = os.path.relpath(d, out_dir).split(os.sep)[0] == "errors"
            for name in files:
                path = os.path.join(d, name)
                with open(path, "rb") as fh:
                    blob = fh.read()
                lines = blob.split(b"\n")
                if lines and lines[-1] == b"":
                    lines.pop()
                else:
                    self.violations.append(f"{name}: last line not newline-terminated")
                if in_errors:
                    self.dead += len(lines)
                    continue
                self.files += 1
                if len(lines) > MAX_RECORDS_PER_BATCH:
                    self.violations.append(f"{name}: {len(lines)} records")
                if len(blob) > MAX_BATCH_BYTES:
                    self.violations.append(f"{name}: {len(blob)} bytes")
                mt = os.stat(path).st_mtime_ns / 1e9
                for line in lines:
                    m = _LINE.match(line)
                    if m is None:
                        self.violations.append(f"{name}: unparsable line")
                        continue
                    ids.append(int(m.group(1)))
                    values.append(float(m.group(2)))
                    mtimes.append(mt)
        self.ids = np.array(ids, dtype=np.int64)
        self.values = np.array(values)
        self.mtimes = np.array(mtimes)


def verify_delivery(res: Result, got: Delivery, ids: np.ndarray, values: np.ndarray,
                    what: str) -> None:
    """Check a delivery against the generated non-error records: same
    count, every id once, same value sum; caps held; no dead letters.
    Each expected record is one attempted operation; lost and duplicated
    records are failed ones."""
    n = len(ids)
    uniq = np.unique(got.ids)
    lost = len(np.setdiff1d(ids, uniq, assume_unique=True))
    dup = len(got.ids) - len(uniq)
    foreign = len(np.setdiff1d(uniq, ids, assume_unique=True))
    res.attempted += n
    res.failed += min(n, lost + dup + foreign)
    if lost or dup or foreign:
        res.errors.append(f"{what}: {lost} lost, {dup} duplicated, {foreign} foreign records")
    res.check(
        math.isclose(math.fsum(got.values), math.fsum(values), rel_tol=1e-12, abs_tol=1e-6),
        f"{what}: delivered value sum differs",
    )
    res.check(got.dead == 0, f"{what}: {got.dead} dead-lettered records")
    for v in got.violations[:5]:
        res.check(False, f"{what}: {v}")


def _expected(table) -> tuple[np.ndarray, np.ndarray]:
    keep = np.asarray(table.column("event_type").to_numpy(zero_copy_only=False)) != "error"
    return (
        table.column("event_id").to_numpy()[keep],
        table.column("value").to_numpy()[keep],
    )


def _progress_stats(progress: list[dict]) -> dict[str, list[float]]:
    """Per-trigger figures from ``StreamingQuery.recentProgress`` for
    triggers that read rows."""
    keys = {
        "latestOffset": "sources.latest_offset_ms",
        "getBatch": "sources.get_batch_ms",
        "triggerExecution": "streaming.trigger_ms",
        "walCommit": "streaming.wal_commit_ms",
        "commitOffsets": "streaming.commit_offsets_ms",
        "queryPlanning": "streaming.query_planning_ms",
        "addBatch": "firehose_sink.add_batch_ms",
    }
    out: dict[str, list[float]] = {v: [] for v in keys.values()}
    out["sources.rows_per_batch"] = []
    for p in progress:
        if not p.get("numInputRows"):
            continue
        dur = p.get("durationMs", {})
        for k, name in keys.items():
            out[name].append(float(dur.get(k, 0)))
        out["sources.rows_per_batch"].append(float(p["numInputRows"]))
    return out


def _put_layer_metrics(res: Result, stats: dict[str, list[float]], drains: int) -> None:
    for name, xs in stats.items():
        res.put(name, median(xs) if xs else 0.0, len(xs))
    res.put("streaming.batches", len(stats["streaming.trigger_ms"]) / drains)


def _put_client_metrics(res: Result, accs, put_us, handle_s: list[float], drains: int) -> None:
    """Put counts per drain, put time per put, fill per first-attempt put."""
    puts = accs["puts"].value
    first = accs["first_puts"].value
    res.put("firehose_sink.put_calls", puts / drains)
    res.put("firehose_sink.put_ms", put_us.value / 1000.0 / puts if puts else 0.0, puts)
    res.put("firehose_sink.records_per_put", accs["records"].value / first if first else 0.0)
    res.put("firehose_sink.byte_capped_frac", accs["capped"].value / first if first else 0.0)
    res.put("firehose_sink.retried_records", accs["retried"].value / drains)
    res.put("firehose_sink.handle_ms", median(handle_s) * 1000 if handle_s else 0.0, len(handle_s))


def _deliver_inproc(res: Result, table, work: str) -> None:
    """``deliver_records`` straight on the generated payloads, Spark
    taken out: the sink's own records per second."""
    rows = table.to_pylist()
    payloads = [
        json.dumps({**r, "ts": r["ts"].isoformat()}, separators=(",", ":")).encode()
        for r in rows
    ]
    client = LocalDirFirehoseClient(os.path.join(work, "inproc"), fail_first_attempt_every=FAIL_EVERY)
    t0 = time.perf_counter()
    deliver_records(payloads, client, "inproc", sleep=lambda s: None, idempotency_prefix="x")
    res.put("firehose_sink.deliver_rps_inproc", len(payloads) / (time.perf_counter() - t0), len(payloads))


# ------------------------------------------------------------ bridge_bulk

#: backlog of bridge_bulk: BULK_SLICES replay slices of BULK_ROWS/BULK_SLICES
#: records each (one slice per micro-batch). An odd slice count keeps the
#: latency median inside a micro-batch instead of on the step between two.
BULK_ROWS = 60_000
BULK_SLICES = 3
#: measured drains per run, however short ``--seconds`` is. Drain times
#: vary by ~20% within a run, and the first measured drain is often the
#: slowest, so the median is taken over five.
MIN_DRAINS = 5
#: untimed warm-up: a drain of a backlog a tenth the size (it pays the
#: first query's one-off start-up), then WARMUP_DRAINS full drains; after
#: the small drain alone, the first full drain ran ~20% slow
WARMUP_DRAINS = 1


def run_bulk(ctx) -> None:
    spark, tr, res, work = ctx.spark, ctx.tracer, ctx.result, ctx.work
    rows = ctx.scaled(BULK_ROWS)
    with ctx.setup_phase():
        table = gen.events_table(ctx.seed, rows, heavy_payloads=True)
        replay = os.path.join(work, "replay")
        gen.write_slices(table, replay, BULK_SLICES)
    exp_ids, exp_vals = _expected(table)

    factory = accs = put_us = None
    if tr.enabled:
        factory, accs, put_us = _timing_client_factory(spark)
    if ctx.plant == "drop_record":
        from perfbench.faults import DroppingClient

        factory = DroppingClient
    wrap = _traced_handle(tr) if tr.enabled else None

    def drain(i: int) -> tuple:
        out = os.path.join(work, f"out{i}")
        chk = os.path.join(work, f"chk{i}")
        t0 = time.time()
        with tr.span("streaming.drain"):
            q = bridge_query(spark, replay, out, chk, {"availableNow": True}, factory, wrap)
            q.awaitTermination()
        t1 = time.time()
        got = Delivery(out)
        verify_delivery(res, got, exp_ids, exp_vals, f"drain {i}")
        return t1 - t0, got.mtimes - t0, list(q.recentProgress), got

    with ctx.setup_phase(warmup=True):
        small = os.path.join(work, "warm")
        gen.write_slices(table.slice(0, rows // 10), small, BULK_SLICES)
        q = bridge_query(spark, small, os.path.join(work, "wout"), os.path.join(work, "wchk"),
                         {"availableNow": True}, factory, wrap)
        q.awaitTermination()
        for i in range(WARMUP_DRAINS):
            drain(i)
    if tr.enabled:  # count the measured drains only
        for a in list(accs.values()) + [put_us]:
            a.value = 0
    handle_before = len(tr.durations("firehose_sink.handle"))
    passes, lat, progress = [], [], []
    deadline = time.perf_counter() + ctx.seconds
    i, dead = WARMUP_DRAINS, 0
    with ctx.measure():
        while len(passes) < MIN_DRAINS or time.perf_counter() < deadline:
            secs, delays, prog, got = drain(i)
            passes.append(secs)
            lat.append(delays)
            progress.extend(prog)
            dead += got.dead
            i += 1
    res.detail["drain_s"] = passes
    ctx.units = len(passes)
    n_rec = len(exp_ids)
    res.put("throughput_rps", median([n_rec / s for s in passes]), len(passes))
    # per drain: quantiles over its records; then the median over drains
    res.put("latency_p50_ms", median([quantile(d, 0.5) * 1000 for d in lat]), len(passes))
    res.put("latency_p90_ms", median([quantile(d, 0.9) * 1000 for d in lat]), len(passes))
    res.put("pass_s", median(passes), len(passes))
    if tr.enabled:
        _put_layer_metrics(res, _progress_stats(progress), len(passes))
        _put_client_metrics(res, accs, put_us, tr.durations("firehose_sink.handle")[handle_before:],
                            len(passes))
        res.put("firehose_sink.dead_records", dead / len(passes))
        _deliver_inproc(res, table, work)
