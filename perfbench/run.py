"""Benchmark of the engine's three paths on local[<cores>].

Workloads (one per process, one closed-loop client each):

- ``etl_medallion``: repeated raw CSV → bronze → silver → gold → quality passes;
- ``serve_queries``: a shuffled cycle of the 33 headline queries, rows collected;
- ``stream_cdc``: Debezium chunks → streaming SCD2 apply → current-view read.

Usage, from the repository root:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Inputs are generated from ``--seed``. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics (from
spans around each layer call) with ``--trace 1``. Spans of a traced run are
written to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("etl_medallion", "serve_queries", "stream_cdc")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit. A workload reports 0 for the
    layers it does not exercise."""
    from serve_queries import MIX

    units = {
        "session.get_spark_s": "s",
        "setup.input_gen_s": "s",
        "setup.warm_s": "s",
    }
    for lay in ("bronze", "silver", "gold", "quality"):
        units |= {
            f"etl.{lay}.wall_s": "s",
            f"etl.{lay}.task_s": "s",
            f"etl.{lay}.input_mb": "MB",
            f"etl.{lay}.shuffle_mb": "MB",
        }
    for lay in ("bronze", "silver", "gold"):
        units[f"etl.{lay}.written_mb"] = "MB"
    units |= {
        "etl.raw_read_amplification": "ratio",
        "etl.silver.rows_out": "count",
        "etl.silver.rejected_rows": "count",
        "etl.storage_ratio": "ratio",
    }
    for q in MIX:
        units[f"plans.{q}.build_s"] = "s"
        units[f"plans.{q}.execute_s"] = "s"
    units |= {
        "plans.build_s.sum": "s",
        "plans.execute_s.sum": "s",
        "plans.build_share": "ratio",
        "plans.result_mb": "MB",
        "plans.task_s": "s",
        "plans.input_mb": "MB",
        "plans.shuffle_mb": "MB",
        "plans.gc_s": "s",
        "streaming.cdc_scd2.on_batch_s": "s",
    }
    for p in ("latest_offset", "query_planning", "add_batch", "wal_commit", "commit_offsets"):
        units[f"streaming.progress.{p}_ms"] = "ms"
    units |= {
        "streaming.cdc_scd2.task_s": "s",
        "streaming.cdc_scd2.input_mb": "MB",
        "streaming.cdc_scd2.shuffle_mb": "MB",
        "sources.versioned_store.files_per_read": "count",
        "sources.versioned_store.manifest_entries": "count",
        "sources.versioned_store.commit_kb": "KB",
        "sources.versioned_store.table_mb": "MB",
        "sources.versioned_store.read_p50_s": "s",
        "sources.versioned_store.storage_ratio": "ratio",
        "trace.coverage": "ratio",
        "trace.latency_p50_s": "s",
    }
    return units


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # the program under test; fails here, before any process starts, when
    # the benchmark is run outside a checkout of it
    importlib.import_module("pwc_challenge_dataengineer_spark")
    from harness import Run

    workload = importlib.import_module(args.workload)
    t0 = time.perf_counter()
    r = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        out = workload.run(r)
    finally:
        t1 = time.perf_counter()
        r.close()
    print(
        f"workload {t1 - t0:.1f}s, shutdown {time.perf_counter() - t1:.1f}s",
        file=sys.stderr,
    )
    print(
        f"{len(out['samples'])} latency samples: "
        + " ".join(f"{x:.3f}" for x in out["samples"]),
        file=sys.stderr,
    )
    if args.trace:
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        r.tracer.dump(
            os.path.join(ROOT, ".bench_out", f"{args.workload}-{args.seed}-spans.json")
        )
        units = layer_units()
        unknown = out["per_layer"].keys() - units.keys()
        if unknown:
            raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
        values = {k: out["per_layer"].get(k, 0.0) for k in units}
    else:
        units = END_TO_END
        values = out["end_to_end"]
    print(
        json.dumps(
            {
                "correct": out["failed"] == 0,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": {
                    k: {"value": float(values[k]), "unit": u} for k, u in units.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
