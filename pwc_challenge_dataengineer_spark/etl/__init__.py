"""Medallion pipeline: bronze (typed ingest + metadata + quality flags) →
silver (clean/filter/dedup/quality report) → gold (analytics tables + star
schema). Reference: scripts/run_etl_spark.py lifecycle (SURVEY.md §3.1).

Each layer is computed once per pass: a layer given an output path returns
its committed parquet, so the layer above scans those files rather than
re-running the lineage below (which would re-read the CSV per gold job and,
with ``clock=None``, re-evaluate ``current_timestamp()`` so that bronze,
silver and later reads disagree on ``ingestion_timestamp``). The five gold
writes run concurrently and inherit the caller's job group."""

from .bronze import ingest_bronze  # noqa: F401
from .gold_etl import build_gold_tables  # noqa: F401
from .silver import process_silver  # noqa: F401
