"""``analytics_batch``: passes over the 14 headline registry queries of
the legacy ``bench.py``, each written to the ``noop`` sink, with the
result memos cleared before every query so fits run cold."""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import gen
from perfbench.common import median, quantile

#: the legacy bench.py headline set (one query per operator family)
HEADLINE = [
    "join_star_multiway",
    "agg_groupby",
    "join_inner",
    "join_asof",
    "win_running_sum",
    "topk_per_group",
    "window_session",
    "agg_percentile",
    "dedup_exact",
    "dedup_near_minhash",
    "sim_topk_exact",
    "text_tfidf_topterms",
    "text_quality_score",
    "json_extract",
]

#: scale of the generated tables (TPC-H-like sf; lineitem has 6M x SF rows)
SF = 0.01
#: measured passes per run, however short ``--seconds`` is
MIN_PASSES = 3


def normalize(df):
    """Sort columns and rows and coerce dtypes so frames from Spark and
    DuckDB compare by value."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            df[c] = s.dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    df = df.sort_values(by=list(df.columns), na_position="last", kind="mergesort")
    return df.reset_index(drop=True)


def frames_match(sp, du) -> str | None:
    """None when equal: same columns, rows and string-rendered values
    (the rendering the repository's DuckDB hash-check compares)."""
    if sorted(sp.columns) != sorted(du.columns):
        return f"columns {sorted(sp.columns)} != {sorted(du.columns)}"
    if len(sp) != len(du):
        return f"{len(sp)} rows != {len(du)}"
    a, b = normalize(sp), normalize(du)
    for c in a.columns:
        sa, sb = a[c].astype(str).to_numpy(), b[c].astype(str).to_numpy()
        if not np.array_equal(sa, sb):
            i = int(np.nonzero(sa != sb)[0][0])
            return f"column {c} row {i}: {sa[i]!r} != {sb[i]!r}"
    return None


def oracle_check(res, sf_dir: str, results: dict, oracles: dict) -> None:
    """Check each query's collected result against its DuckDB oracle."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        for name, sp in results.items():
            if name not in oracles:
                res.check(False, f"{name}: no oracle")
                continue
            why = frames_match(sp, con.execute(oracles[name]).fetchdf())
            res.check(why is None, f"{name}: oracle mismatch: {why}")
    finally:
        con.close()


def run_analytics(ctx) -> None:
    from clj_kinesis_to_firehose_spark import registry

    spark, tr, res, work = ctx.spark, ctx.tracer, ctx.result, ctx.work
    sf_dir = os.path.join(work, "sf")
    with ctx.setup_phase():
        rows = gen.write_analytics_tables(ctx.seed, SF * ctx.scale, sf_dir)
        queries = registry.queries()
    # a fixed order: one query warms code the next one runs, so a seeded
    # permutation moved the pass time by up to 15% from seed to seed
    order = list(HEADLINE)

    # untimed warm-up pass: collect every result for the oracle check
    results, in_rows = {}, {}
    with ctx.setup_phase(warmup=True):
        for name in order:
            registry.clear_memos()
            try:
                df = queries[name](spark, sf_dir)
                tables = {os.path.basename(f).split(".")[0] for f in df.inputFiles()}
                in_rows[name] = sum(rows[t] for t in tables if t in rows)
                results[name] = df.toPandas()
            except Exception as e:  # a failing query is a failed operation
                res.op(False, f"{name}: {type(e).__name__}: {e}")
    oracles = registry.oracle_sql()
    if ctx.plant == "wrong_oracle":
        from perfbench.faults import wrong_oracles

        oracles = wrong_oracles(oracles)
    oracle_check(res, sf_dir, results, oracles)
    if res.failed:
        return

    per_query: dict[str, list[float]] = {q: [] for q in order}
    passes: list[float] = []
    t_end = time.perf_counter() + ctx.seconds
    with ctx.measure():
        # whole passes only, at least MIN_PASSES of them so pass_s is a median
        while len(passes) < MIN_PASSES or time.perf_counter() + median(passes) <= t_end:
            passes.append(_pass(ctx, queries, order, sf_dir, per_query))

    res.detail["pass_s"] = passes
    ctx.units = len(passes)
    all_q = [t for ts in per_query.values() for t in ts]
    total_in = sum(in_rows.values())
    res.put("throughput_rps", median([total_in / p for p in passes]), len(passes))
    res.put("latency_p50_ms", quantile(all_q, 0.5) * 1000, len(all_q))
    res.put("latency_p90_ms", quantile(all_q, 0.9) * 1000, len(all_q))
    res.put("pass_s", median(passes), len(passes))
    if tr.enabled:
        for name in HEADLINE:
            res.put(f"operators.{name}_s", median(per_query[name]), len(per_query[name]))


def _pass(ctx, queries, order, sf_dir, per_query) -> float:
    """One timed pass over the queries in ``order``; returns its seconds."""
    from clj_kinesis_to_firehose_spark import registry

    spark, tr, res = ctx.spark, ctx.tracer, ctx.result
    sc = spark.sparkContext
    t_pass = 0.0
    for name in order:
        sc.setLocalProperty("perfbench.span", f"operators.{name}")
        registry.clear_memos()
        ok = True
        t0 = time.perf_counter()
        with tr.span(f"operators.{name}"):
            try:
                queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:
                ok = False
                res.op(False, f"{name}: {type(e).__name__}: {e}")
        dt = time.perf_counter() - t0
        if ok:
            res.op(True)
        per_query[name].append(dt)
        t_pass += dt
    sc.setLocalProperty("perfbench.span", None)
    return t_pass
