"""Workload ``query_mix``: five headline queries over static parquet.

The queries cover the package's operator families: relational, event
(sessionizing window functions), dedup, retrieval and file-source
streaming. Their DuckDB oracles are evaluated once during set-up, in a
process of their own; every timed execution is hash-matched against its
oracle after the clock stops. Set-up is the Spark session plus one
untimed pass, which absorbs JVM, codegen and reader warm-up; warm passes
follow until ``--seconds`` have passed (at least one), and each query
runs under its own Spark job group.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time

import datagen
from common import Tracer, layer_self_ms, median, peak_rss_mb
from metrics import QUERY_MIX
from sparkenv import job_counts, start_spark, stop_spark

# row counts of the star schema and events relative to the sf0.1
# fixtures, whose statistics the generated tables follow (datagen.py)
SCALE = 0.1
MIN_PASSES = 1

# the tables each query reads, for rows-read-per-second
INPUTS = {
    "q01_pricing_summary": ("lineitem",),
    "q_events_sessions": ("events",),
    "q_near_dup_jaccard_df_filtered": ("documents",),
    "q_cosine_topk": ("embeddings",),
    "q_stream_tumbling_counts": ("events",),
}


def _oracles(env, data_dir: str, specs) -> dict[str, tuple[int, tuple, str]]:
    """(rows, sorted columns, value hash) of each query's DuckDB oracle."""
    sql_path, out_path = env.path("oracle-sql.json"), env.path("oracle.json")
    with open(sql_path, "w") as f:
        json.dump({name: specs[name].oracle for name in QUERY_MIX}, f)
    subprocess.run(
        [sys.executable, env.script("oracle.py"), data_dir, sql_path, out_path],
        check=True,
        env=env.child_env,
        timeout=120,
    )
    with open(out_path) as f:
        return {name: (rows, tuple(cols), h) for name, (rows, cols, h) in json.load(f).items()}


def _run_query(spark, specs, name: str, data_dir: str, group: str):
    """One execution to a collected pandas frame; returns (seconds, frame)."""
    from kcore_spark.caching import release_transients

    spark.sparkContext.setJobGroup(group, name)
    t0 = time.monotonic()
    pdf = specs[name].spark(spark, data_dir).toPandas()
    elapsed = time.monotonic() - t0
    release_transients()
    return elapsed, pdf


def run(env, seed: int, seconds: int, trace: bool) -> dict:
    from kcore_spark.queries import all_queries
    from kcore_spark.testing import value_hash

    data_dir = env.dir("data")
    rows = datagen.write_tables(seed, data_dir, SCALE)
    specs = all_queries()
    oracle = _oracles(env, data_dir, specs)
    attempted = failed = 0
    mismatches: list[str] = []

    def check(name, pdf) -> None:
        nonlocal attempted, failed
        attempted += 1
        got = (len(pdf), tuple(sorted(pdf.columns)), value_hash(pdf))
        if got != oracle[name]:
            failed += 1
            mismatches.append(name)

    t_setup = time.monotonic()
    spark = start_spark(env)
    try:
        cold = {}
        for name in QUERY_MIX:
            cold[name], pdf = _run_query(spark, specs, name, data_dir, f"cold-{name}")
            check(name, pdf)
        setup_s = time.monotonic() - t_setup

        passes: list[dict[str, float]] = []
        t_end = time.monotonic() + seconds
        while len(passes) < MIN_PASSES or time.monotonic() < t_end:
            k = len(passes)
            times = {}
            for name in QUERY_MIX:
                times[name], pdf = _run_query(spark, specs, name, data_dir, f"p{k}-{name}")
                check(name, pdf)
            passes.append(times)
        per_query = {name: median([p[name] for p in passes]) for name in QUERY_MIX}
        totals = [sum(p.values()) for p in passes]
        answer_s = median(totals)
        # a query's latency is its median over the warm passes; five
        # queries support no tail percentile, so the tail is the slowest
        per_query_ms = [v * 1000 for v in per_query.values()]
        lat = {"n": len(per_query_ms), "p50": median(per_query_ms), "tail_pct": 100.0, "tail": max(per_query_ms)}
        counts = {name: job_counts(spark, [f"p0-{name}"]) for name in QUERY_MIX}

        if trace:
            # the same pass with a span per query (the layer boundary here)
            tracer = Tracer()
            t0 = time.monotonic()
            for name in QUERY_MIX:
                with tracer.span(f"query.{name}"):
                    _, pdf = _run_query(spark, specs, name, data_dir, f"traced-{name}")
                check(name, pdf)
            traced_s = time.monotonic() - t0
            overhead = (traced_s / answer_s - 1) * 100
        rss = peak_rss_mb()
    finally:
        stop_spark(spark)

    input_rows = sum(rows[t] for name in QUERY_MIX for t in INPUTS[name])
    detail = {
        "query_mix_s": answer_s,
        "pass_totals_s": totals,
        "cold_s": cold,
        "per_query_s": per_query,
        "query_latency_ms": lat,
        "mismatches": mismatches,
        "rows": rows,
    }
    metrics = {
        "setup_s": (setup_s, "s"),
        "answer_s": (answer_s, "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    layer = {
        "client.records_per_s": (input_rows / answer_s, "records/s"),
        "client.latency_p50_ms": (lat["p50"], "ms"),
        "client.latency_tail_ms": (lat["tail"], "ms"),
    }
    for name in QUERY_MIX:
        layer[f"query.{name}_s"] = (per_query[name], "s")
        for k in ("jobs", "stages", "tasks"):
            layer[f"query.{name}.{k}"] = (counts[name][k], "count")
    total = {k: sum(c[k] for c in counts.values()) for k in ("jobs", "stages", "tasks")}
    for k, v in total.items():
        layer[f"spark.{k}"] = (v, "count")
    if trace:
        self_ms = layer_self_ms(tracer.spans)
        layer["trace.overhead_pct"] = (overhead, "%")
        layer["trace.self_coverage_pct"] = (sum(self_ms.values()) / (traced_s * 1000) * 100, "%")
        for layer_name, ms in self_ms.items():
            layer[f"self.{layer_name}_ms"] = (ms, "ms")
        slowest = max(per_query, key=per_query.get)
        detail["bottleneck"] = f"queries ({slowest})"
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "layer": layer,
        "detail": detail,
    }
