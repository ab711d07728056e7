"""Workload ``stream_cdc``: Debezium JSON chunks through a file-source
stream into a versioned SCD2 dimension.

The stream runs ``make_cdc_scd2_batch_fn`` over a ``VersionedTable`` in
``foreachBatch``. One closed-loop client repeats a step: land one chunk
(atomic rename into the watched directory), ``processAllAvailable()``,
then read the current SCD2 view. Nothing else runs at the same time.
Freshness is land → commit. Every read is checked against a
last-write-wins replay of the chunks landed so far. Set-up processes the initial
snapshot (one ``r`` op per key), as a connector's initial load would be.
"""

from __future__ import annotations

import os
import time

import checks
import gen
from harness import Run, dir_bytes, median

KEYS = 5000
CHUNK_ROWS = 500
DELETE_SHARE = 0.05
MIN_STEPS = 12
TRACKED = ["tier", "city", "balance"]
PROGRESS = {
    "latest_offset": "latestOffset",
    "query_planning": "queryPlanning",
    "add_batch": "addBatch",
    "wal_commit": "walCommit",
    "commit_offsets": "commitOffsets",
}


class Pipeline:
    """One stream, its landing directory, table and change-log replay."""

    def __init__(self, r: Run, base: str, feed: gen.CdcFeed):
        from pyspark.sql import types as T

        from pwc_challenge_dataengineer_spark.sources.versioned_store import (
            VersionedTable,
        )
        from pwc_challenge_dataengineer_spark.streaming.cdc_scd2 import (
            make_cdc_scd2_batch_fn,
        )

        self.landing = os.path.join(base, "landing")
        self.table_path = os.path.join(base, "table")
        os.makedirs(self.landing)
        self.feed = feed
        self.reference = checks.Scd2Reference("id", TRACKED)
        self.table = VersionedTable(r.spark, self.table_path)
        self.landed_bytes = 0
        self.n = 0
        batch_fn = make_cdc_scd2_batch_fn(
            self.table,
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("tier", T.StringType()),
                    T.StructField("city", T.StringType()),
                    T.StructField("balance", T.DoubleType()),
                    T.StructField("seq", T.LongType()),
                ]
            ),
            key_cols=["id"],
            tracked_cols=TRACKED,
            tiebreak_col="seq",
        )

        def on_batch(df, batch_id):
            with r.tracer.span("streaming.cdc_scd2.on_batch"):
                batch_fn(df, batch_id)

        self.query = (
            r.spark.readStream.schema("value STRING")
            .option("maxFilesPerTrigger", "1")
            .text(self.landing)
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", os.path.join(base, "checkpoint"))
            .start()
        )

    def land(self, events: list[dict]) -> None:
        self.reference.apply(events)
        tmp = os.path.join(self.landing, f".chunk-{self.n:05d}.json")
        self.landed_bytes += gen.write_chunk(events, tmp)
        os.rename(tmp, os.path.join(self.landing, f"chunk-{self.n:05d}.json"))
        self.n += 1

    def read_current(self) -> list[tuple]:
        from pyspark.sql import functions as F

        return [
            tuple(x)
            for x in self.table.read()
            .filter(F.col("is_current"))
            .select("id", *TRACKED, F.unix_millis("valid_from"))
            .collect()
        ]


def run(r: Run) -> dict:
    feed = gen.CdcFeed(r.seed, KEYS, CHUNK_ROWS, DELETE_SHARE)
    pipe = None

    def warm(snapshot):
        nonlocal pipe
        pipe = Pipeline(r, r.fresh("stream"), feed)
        pipe.land(snapshot)
        pipe.query.processAllAvailable()
        pipe.read_current()

    _, setup = r.setup(feed.snapshot, warm)
    first_batch = pipe.n

    span = r.tracer.span
    fresh, reads, walls, commit_kb, steps = [], [], [], [], 0
    failed = 0
    t_start = time.perf_counter()
    while steps < MIN_STEPS or time.perf_counter() - t_start < r.seconds:
        events = pipe.feed.next_chunk()
        request = f"step{steps}"
        size0 = dir_bytes(pipe.table_path) if r.trace else 0
        t0 = time.perf_counter()
        with span("streaming.land", request):
            pipe.land(events)
        t_land = time.perf_counter()
        with span("streaming.process", request):
            pipe.query.processAllAvailable()
        t_commit = time.perf_counter()
        if r.trace:
            commit_kb.append((dir_bytes(pipe.table_path) - size0) / 1024)
            t_commit = time.perf_counter()
        with span("sources.versioned_store.read", request):
            rows = pipe.read_current()
        t_read = time.perf_counter()
        fresh.append(t_commit - t_land)
        reads.append(t_read - t_commit)
        walls.append(t_read - t0)
        steps += 1
        problems = pipe.reference.check(rows)
        if problems:
            failed += 1
            print(f"step {steps} check failed: {problems}", flush=True)
    busy = sum(fresh) + sum(reads)

    e2e = {
        "setup_s": setup["setup_s"],
        "latency_p50_s": median(fresh),
        "ops_per_s": steps / busy,
        "peak_rss_mb": r.peak_rss_mb(),
    }
    layer = {k: v for k, v in setup.items() if k != "setup_s"}
    if r.trace:
        tr = r.tracer
        progress = [
            p
            for p in pipe.query.recentProgress
            if p.batchId >= first_batch and p.numInputRows > 0
        ]
        for name, key in PROGRESS.items():
            layer[f"streaming.progress.{name}_ms"] = median(
                [p.durationMs.get(key, 0) for p in progress]
            )
        batches = [
            s for s in tr.named("streaming.cdc_scd2.on_batch") if s["request"]
        ]
        layer["streaming.cdc_scd2.on_batch_s"] = median(
            [s["end"] - s["start"] for s in batches]
        )
        for key in ("task_s", "input_mb", "shuffle_mb"):
            layer[f"streaming.cdc_scd2.{key}"] = median([s[key] for s in batches])
        layer["sources.versioned_store.files_per_read"] = len(
            pipe.table.read().inputFiles()
        )
        layer["sources.versioned_store.manifest_entries"] = len(
            pipe.table.history().collect()
        )
        layer["sources.versioned_store.commit_kb"] = median(commit_kb)
        table_bytes = dir_bytes(pipe.table_path)
        layer["sources.versioned_store.table_mb"] = table_bytes / 2**20
        layer["sources.versioned_store.read_p50_s"] = median(reads)
        layer["sources.versioned_store.storage_ratio"] = (
            table_bytes / pipe.landed_bytes
        )
        layer["trace.coverage"] = sum(
            tr.total(n)
            for n in ("streaming.land", "streaming.process", "sources.versioned_store.read")
        ) / sum(walls)
        layer["trace.latency_p50_s"] = e2e["latency_p50_s"]
    return {
        "samples": fresh,
        "attempted": steps,
        "failed": failed,
        "end_to_end": e2e,
        "per_layer": layer,
    }
