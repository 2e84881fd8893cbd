"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The subprocess tests start a JVM each and take ~5 minutes together.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import bridge, gen  # noqa: E402
from perfbench.analytics import frames_match  # noqa: E402
from perfbench.common import Result, Tracer  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.run import WORKLOADS, stop_spark  # noqa: E402


def _run(tmp_path, *args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout.strip().splitlines()


# ------------------------------------------------------------ no Spark


def test_benchmark_json_names_every_metric_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_generators_are_pure_functions_of_the_seed():
    a = gen.events_table(5, 3000, heavy_payloads=True)
    assert a.equals(gen.events_table(5, 3000, heavy_payloads=True))
    assert not a.equals(gen.events_table(6, 3000, heavy_payloads=True))
    b = gen.cdc_batch(5, 10_000, 3, 500)
    assert b.equals(gen.cdc_batch(5, 10_000, 3, 500))
    ids = b.column("id").to_numpy()
    assert len(np.unique(ids)) == len(ids)
    assert (ids >= 10_000).sum() == 50  # ~10% inserts


def test_backlog_payloads_close_some_batches_on_the_byte_cap():
    from clj_kinesis_to_firehose_spark.streaming.firehose_sink import (
        MAX_BATCH_BYTES,
        MAX_RECORDS_PER_BATCH,
        chunk_records,
    )

    t = gen.events_table(1, 64_000, heavy_payloads=True)
    by_type: dict[str, list[bytes]] = {}
    for ty, props in zip(t.column("event_type").to_pylist(), t.column("props").to_pylist()):
        by_type.setdefault(ty, []).append(props.encode())
    batches = [b for recs in by_type.values() for b in chunk_records(recs)]
    capped = [b for b in batches if len(b) < MAX_RECORDS_PER_BATCH
              and sum(map(len, b)) > MAX_BATCH_BYTES // 2]
    assert capped, "no batch closed on the byte cap"


def _deliver(out_dir, client, records):
    from clj_kinesis_to_firehose_spark.streaming.firehose_sink import deliver_records

    deliver_records(records, client, "s", sleep=lambda s: None, idempotency_prefix="e0")


def _records(n=1200):
    t = gen.events_table(3, n)
    ids, vals = bridge._expected(t)
    recs = [json.dumps({"event_id": int(i), "ts": "x", "value": float(v)}).replace(" ", "").encode()
            for i, v in zip(ids, vals)]
    return ids, vals, recs


def test_verify_passes_a_clean_delivery(tmp_path):
    from clj_kinesis_to_firehose_spark.streaming.firehose_sink import LocalDirFirehoseClient

    ids, vals, recs = _records()
    _deliver(tmp_path, LocalDirFirehoseClient(str(tmp_path), fail_first_attempt_every=7), recs)
    res = Result()
    bridge.verify_delivery(res, bridge.Delivery(str(tmp_path)), ids, vals, "clean")
    assert res.failed == 0 and res.attempted == len(ids), res.errors


def test_verify_catches_a_lost_and_a_duplicated_record(tmp_path):
    from perfbench.faults import DroppingClient

    ids, vals, recs = _records()
    _deliver(tmp_path, DroppingClient(str(tmp_path)), recs)
    res = Result()
    bridge.verify_delivery(res, bridge.Delivery(str(tmp_path)), ids, vals, "drop")
    assert res.failed > 0

    dup = tmp_path / "dup"
    dup.mkdir()
    from clj_kinesis_to_firehose_spark.streaming.firehose_sink import LocalDirFirehoseClient

    _deliver(dup, LocalDirFirehoseClient(str(dup)), recs)
    first = sorted(os.listdir(dup))[0]
    shutil.copy(dup / first, dup / f"copy-{first}")
    res = Result()
    bridge.verify_delivery(res, bridge.Delivery(str(dup)), ids, vals, "dup")
    assert res.failed > 0


def test_self_time_counts_measured_spans_only():
    tr = Tracer("t", enabled=True)
    with tr.span("storage.create"):
        pass
    tr.measuring = True
    with tr.span("streaming.drain"):
        with tr.span("firehose_sink.handle"):
            pass
    tr.measuring = False
    drain, handle = tr.durations("streaming.drain")[0], tr.durations("firehose_sink.handle")[0]
    self_s = tr.self_seconds()
    assert self_s["storage"] == 0.0
    assert self_s["firehose_sink"] == handle
    assert abs(self_s["streaming"] - (drain - handle)) < 1e-12


def test_frames_match_sees_one_extra_row():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert frames_match(a, a[["v", "k"]].iloc[::-1]) is None
    assert frames_match(a, pd.concat([a, a.iloc[:1]])) is not None


# ------------------------------------------------------------ one command


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints_with_its_unit(tmp_path, workload):
    for trace, wanted in ((0, END_TO_END), (1, PER_LAYER)):
        code, lines = _run(tmp_path, "--workload", workload, "--seed", "3", "--seconds", "1",
                           "--trace", str(trace), "--scale", "0.1")
        assert code == 0, lines[-2:]
        out = json.loads(lines[-1])
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
        assert {k: v["unit"] for k, v in out["metrics"].items()} == wanted
        assert all(isinstance(v["value"], float) for v in out["metrics"].values())
        if not trace:
            assert all(v["value"] > 0 for v in out["metrics"].values())
        info = json.loads(lines[-2])
        assert info["cpus"] >= 1 and info["seed"] == 3 and info["pyspark"]


@pytest.mark.parametrize("workload,plant", [("bridge_bulk", "drop_record"),
                                            ("analytics_batch", "wrong_oracle")])
def test_planted_faults_fail_the_run(tmp_path, workload, plant):
    code, lines = _run(tmp_path, "--workload", workload, "--seed", "3", "--seconds", "1",
                       "--scale", "0.1", "--plant", plant)
    assert code == 1
    out = json.loads(lines[-1])
    assert not out["correct"] and out["failed"] > 0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    code, lines = _run(tmp_path, "--workload", "bridge_bulk", "--seed", "1", "--seconds", "1",
                       cwd=str(tmp_path))
    assert code != 0 and not lines


# ------------------------------------------------------------ same job as the program's


def test_composed_bridge_job_delivers_what_the_pipeline_delivers(tmp_path):
    """The benchmark's bridge job and streaming.pipelines.stream_firehose_pipeline
    deliver the same line multiset from the same sf0.001-sized events input
    (the repository fixture when PERFBENCH_SF0001 names its directory)."""
    from clj_kinesis_to_firehose_spark.session import build_spark
    from clj_kinesis_to_firehose_spark.sources.streams import write_replay_slices
    from clj_kinesis_to_firehose_spark.streaming.pipelines import stream_firehose_pipeline

    sf_dir = os.environ.get("PERFBENCH_SF0001")
    if not sf_dir:
        sf_dir = str(tmp_path / "sf")
        gen.write_analytics_tables(7, 0.001, sf_dir)
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    spark = build_spark("perfbench-selftest")
    try:
        ref, ours = tmp_path / "ref", tmp_path / "ours"
        stream_firehose_pipeline(spark, sf_dir, out_dir=str(ref)).collect()
        replay = write_replay_slices(spark, sf_dir, n_slices=4)
        q = bridge.bridge_query(spark, replay, str(ours), str(tmp_path / "chk"),
                                {"availableNow": True})
        q.awaitTermination()
    finally:
        stop_spark(spark)

    def lines(d):
        out = []
        for root, _, files in os.walk(d):
            for f in files:
                if f.endswith(".jsonl"):
                    with open(os.path.join(root, f), "rb") as fh:
                        out.extend(fh.read().splitlines())
        return sorted(out)

    a, b = lines(ref), lines(ours)
    assert a and a == b
