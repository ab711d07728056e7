"""Workload ``serve_queries``: one closed-loop client over the query mix.

The mix is the 33 headline queries of ``bench.py``.
Each request calls ``QUERIES[name](spark, tables_dir)`` (plan build,
including any eager barriers) and then ``collect()``s the rows, as an API
returning rows would. The client runs whole cycles of the seeded, shuffled
mix until ``--seconds`` have passed, so every run serves the same set of
queries. Each response is checked against the catalog's DuckDB oracle,
whose results are computed before the loop and outside set-up time.
"""

from __future__ import annotations

import pickle
import sys
import time

import checks
import gen
from harness import Run, median

SF = 0.01
# bench.py's HEADLINE list, fixed here so the metric names stay stable
HEADLINE = [
    "sales_summary", "product_analysis", "customer_metrics",
    "time_series_daily", "cohort_analysis", "rfm_segmentation",
    "star_join_filtered", "top3_per_nation", "sessionization",
    "purchase_velocity_24h", "cube_status", "tumbling_hourly",
    "sliding_10m_5m", "session_window_30m", "quality_score_lineitem",
    "minhash_lsh_pairs", "simhash_docs", "cosine_topk", "scd2_rebuild",
    "cdc_apply_latest", "clv_estimate", "customer_behavior",
    "basket_features", "matview_hourly_kpis", "embedding_near_dup",
    "pandas_scoring", "dedup_components", "asof_purchase_click",
    "time_series_gapfill", "range_join_purchase_errors", "hypertable_rollup",
    "grouping_sets_status_priority", "cms_event_counts",
]
# The heavy non-headline paths (item_item_cf_recs, curation_chain_e2e,
# cdc_scd2_state, weighted_shortest_path: 3-37 s each) are left out; the
# whole cycle must fit in one run
MIX = HEADLINE


def _warm(spark) -> None:
    """Session warm-up that touches no query of the mix: a join, an
    aggregate and a window on a tiny frame, and one Python worker per core
    importing the Arrow-path libraries."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(0, 1000, 1, 4).withColumn("k", F.col("id") % 7)
    (
        df.join(df.select("k").distinct(), "k")
        .groupBy("k")
        .agg(F.sum("id").alias("s"))
        .withColumn("rn", F.row_number().over(Window.orderBy(F.desc("s"), "k")))
        .collect()
    )

    def touch(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(0, n * 10, 1, n).mapInPandas(touch, "id long").collect()


def run(r: Run) -> dict:
    from pwc_challenge_dataengineer_spark.plans.catalog import ORACLES, QUERIES

    names = MIX

    def make_inputs():
        out = r.fresh("tables")
        gen.write_tables(gen.make_tables(r.seed, SF), out)
        return out

    tables, setup = r.setup(make_inputs, lambda _: _warm(r.spark))
    t0 = time.perf_counter()
    checker = checks.QueryChecker(r.root)
    checker.load_oracles(tables, {q: ORACLES[q] for q in names if q in ORACLES})
    print(f"oracle results in {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    span = r.tracer.span
    latencies, result_bytes = [], 0
    failed = attempted = cycles = 0
    t_start = time.perf_counter()
    while cycles == 0 or time.perf_counter() - t_start < r.seconds:
        for name in gen.query_order(r.seed * 1000 + cycles, names):
            attempted += 1
            request = f"c{cycles}:{name}"
            t0 = time.perf_counter()
            try:
                with span("plans.request", request):
                    with span(f"plans.{name}.build"):
                        df = QUERIES[name](r.spark, tables)
                    with span(f"plans.{name}.execute"):
                        rows = df.collect()
            except Exception as exc:  # a failed request is counted, not fatal
                failed += 1
                print(f"{name} failed: {exc!r}", flush=True)
                continue
            latencies.append(time.perf_counter() - t0)
            problems = checker.check(name, df.schema, [tuple(x) for x in rows])
            if problems:
                failed += 1
                print(f"{name} check failed: {problems}", flush=True)
            if r.trace:
                result_bytes += len(pickle.dumps(rows))
        cycles += 1

    e2e = {
        "setup_s": setup["setup_s"],
        "latency_p50_s": median(latencies),
        "ops_per_s": len(latencies) / sum(latencies),
        "peak_rss_mb": r.peak_rss_mb(),
    }
    layer = {k: v for k, v in setup.items() if k != "setup_s"}
    if r.trace:
        tr = r.tracer
        for name in names:
            for part in ("build", "execute"):
                layer[f"plans.{name}.{part}_s"] = median(
                    [s["end"] - s["start"] for s in tr.named(f"plans.{name}.{part}")]
                )
        build = sum(tr.total(f"plans.{n}.build") for n in names) / cycles
        execute = sum(tr.total(f"plans.{n}.execute") for n in names) / cycles
        layer["plans.build_s.sum"] = build
        layer["plans.execute_s.sum"] = execute
        layer["plans.build_share"] = build / (build + execute)
        layer["plans.result_mb"] = result_bytes / 2**20 / cycles
        for key in ("task_s", "input_mb", "shuffle_mb", "gc_s"):
            layer[f"plans.{key}"] = tr.total("plans.request", key) / cycles
        layer["trace.coverage"] = (build + execute) / (sum(latencies) / cycles)
        layer["trace.latency_p50_s"] = e2e["latency_p50_s"]
    return {
        "samples": latencies,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": e2e,
        "per_layer": layer,
    }
