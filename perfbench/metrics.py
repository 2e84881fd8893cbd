"""Names and units of every metric the benchmark prints.

``END_TO_END`` is printed by an untraced run (``--trace 0``) of every
workload, ``PER_LAYER`` by a traced run (``--trace 1``). BENCHMARK.json
at the repository root lists the same names; a self-test keeps the two
in step.
"""

from __future__ import annotations

from perfbench.analytics import HEADLINE
from perfbench.common import LAYERS

END_TO_END = {
    "setup_s": "s",
    "throughput_rps": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "pass_s": "s",
    "peak_rss_mb": "MiB",
}

PER_LAYER: dict[str, str] = {
    "session.build_s": "s",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.rows_per_batch": "rows",
    "streaming.trigger_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.batches": "count",
    "firehose_sink.add_batch_ms": "ms",
    "firehose_sink.handle_ms": "ms",
    "firehose_sink.put_calls": "count",
    "firehose_sink.put_ms": "ms",
    "firehose_sink.records_per_put": "records",
    "firehose_sink.byte_capped_frac": "ratio",
    "firehose_sink.retried_records": "count",
    "firehose_sink.dead_records": "count",
    "firehose_sink.deliver_rps_inproc": "1/s",
    **{f"operators.{q}_s": "s" for q in HEADLINE},
    **{f"operators.{q}.tasks": "count" for q in HEADLINE},
    **{f"operators.{q}.shuffle_bytes": "B" for q in HEADLINE},
    "spark_exec.gc_ms": "ms",
    "spark_exec.task_skew": "ratio",
    "spark_exec.spill_bytes": "B",
    "spark_exec.tasks": "count",
    "storage.create_s": "s",
    "storage.commit_p50_ms": "ms",
    "storage.files_rewritten_per_commit": "files",
    "storage.bytes_written_per_commit": "B",
    "storage.manifest_bytes": "B",
    "storage.write_amp": "ratio",
    "storage.read_s": "s",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    **{f"trace.{name}": unit for name, unit in END_TO_END.items()},
}
