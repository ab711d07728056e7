"""Workload ``etl_medallion``: repeated medallion passes over one raw CSV.

Each pass makes the calls ``scripts/run_etl.py`` makes — ``ingest_bronze →
process_silver → build_gold_tables → quality_report`` — with a fixed clock,
into a fresh output directory. A first pass over a small CSV of
its own (cold JIT and code generation) is the warm-up, part of set-up. Every pass's output
is checked afterwards against a DuckDB reference over the same CSV.
"""

from __future__ import annotations

import os
import time

import checks
import gen
from harness import Run, dir_bytes, median

CSV_ROWS = 6_000  # star-join lines before dirty duplicates are added
WARM_ROWS = 500  # the warm-up pass runs over a small CSV of its own
CLOCK = "2024-01-01 00:00:00"
LAYERS = ("bronze", "silver", "gold", "quality")
MIN_PASSES = 3


def _pass(run: Run, csv_path: str, out: str, request: str) -> dict:
    from pwc_challenge_dataengineer_spark.etl import (
        build_gold_tables,
        ingest_bronze,
        process_silver,
    )
    from pwc_challenge_dataengineer_spark.etl.silver import quality_report

    spark, span = run.spark, run.tracer.span
    with span("etl.bronze", request):
        bronze = ingest_bronze(spark, csv_path, f"{out}/bronze", clock=CLOCK)
    with span("etl.silver", request):
        silver = process_silver(spark, bronze, f"{out}/silver")
    with span("etl.gold", request):
        build_gold_tables(spark, silver, f"{out}/gold")
    with span("etl.quality", request):
        return quality_report(silver)


def run(r: Run) -> dict:
    inputs = r.fresh("input")
    csv_path = os.path.join(inputs, "retail.csv")
    warm_path = os.path.join(inputs, "warm", "retail.csv")

    def make_inputs():
        gen.write_retail_csv(r.seed + 1, WARM_ROWS, warm_path)
        return gen.write_retail_csv(r.seed, CSV_ROWS, csv_path)

    def warm(_):
        _pass(r, warm_path, r.fresh("warm"), "warm")

    csv_info, setup = r.setup(make_inputs, warm)
    ref = checks.etl_reference(csv_path)

    passes = []  # (out_dir, quality report, seconds)
    t_start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < r.seconds:
        out = r.fresh(f"pass{len(passes)}")
        t0 = time.perf_counter()
        with r.tracer.span("etl.pass", f"pass{len(passes)}"):
            quality = _pass(r, csv_path, out, f"pass{len(passes)}")
        passes.append((out, quality, time.perf_counter() - t0))

    failed = 0
    silver_rows = []
    for out, quality, _ in passes:
        got = checks.etl_observed(out, quality)
        problems = checks.check_etl(ref, got)
        if problems:
            failed += 1
            print(f"etl check failed for {out}: {problems}", flush=True)
        silver_rows.append(got["silver_rows"])

    secs = [p[2] for p in passes]
    e2e = {
        "setup_s": setup["setup_s"],
        "latency_p50_s": median(secs),
        "ops_per_s": len(passes) / sum(secs),
        "peak_rss_mb": r.peak_rss_mb(),
    }
    layer = {k: v for k, v in setup.items() if k != "setup_s"}
    if r.trace:
        tr = r.tracer
        measured = [s["request"] for s in tr.named("etl.pass")]

        def per_pass(name: str, key: str | None) -> float:
            vals = [
                (s["end"] - s["start"]) if key is None else s[key]
                for s in tr.named(name)
                if s["request"] in measured
            ]
            return median(vals)

        for lay in LAYERS:
            layer[f"etl.{lay}.wall_s"] = per_pass(f"etl.{lay}", None)
            for key in ("task_s", "input_mb", "shuffle_mb"):
                layer[f"etl.{lay}.{key}"] = per_pass(f"etl.{lay}", key)
        for lay in ("bronze", "silver", "gold"):
            layer[f"etl.{lay}.written_mb"] = median(
                [dir_bytes(f"{out}/{lay}") / 2**20 for out, _, _ in passes]
            )
        read_mb = per_pass("etl.pass", "input_mb")
        layer["etl.raw_read_amplification"] = read_mb * 2**20 / csv_info["bytes"]
        layer["etl.silver.rows_out"] = median(silver_rows)
        layer["etl.silver.rejected_rows"] = csv_info["rows"] - median(silver_rows)
        layer["etl.storage_ratio"] = median(
            [dir_bytes(out) / csv_info["bytes"] for out, _, _ in passes]
        )
        layer["trace.coverage"] = sum(
            s["end"] - s["start"]
            for lay in LAYERS
            for s in tr.named(f"etl.{lay}")
            if s["request"] in measured
        ) / sum(secs)
        layer["trace.latency_p50_s"] = e2e["latency_p50_s"]
    return {
        "samples": secs,
        "attempted": len(passes),
        "failed": failed,
        "end_to_end": e2e,
        "per_layer": layer,
    }
