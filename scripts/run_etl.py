"""Medallion ETL runner: raw CSV(s) → bronze → silver → gold.

The engine's analog of the reference's scripts/run_etl_spark.py
(run_full_etl_pipeline, :22-57) — same three stages, one SparkSession (the
reference rebuilds a session per stage; one is cheaper and AQE-consistent),
metrics printed as a single JSON line instead of count() spam between
stages.

Usage:
    python scripts/run_etl.py INPUT_CSV_OR_GLOB OUTPUT_DIR
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        raise SystemExit(2)
    src, out = sys.argv[1], sys.argv[2]

    from pwc_challenge_dataengineer_spark.etl import (
        build_gold_tables,
        ingest_bronze,
        process_silver,
    )
    from pwc_challenge_dataengineer_spark.etl.silver import quality_report
    from pwc_challenge_dataengineer_spark.session import get_spark

    spark = get_spark("medallion-etl")
    bronze = ingest_bronze(spark, src, f"{out}/bronze")
    silver = process_silver(spark, bronze, f"{out}/silver")
    gold = build_gold_tables(spark, silver, f"{out}/gold")
    report = quality_report(silver)
    print(
        json.dumps(
            {
                "bronze_rows": bronze.count(),
                "silver_rows": report["total_rows"],
                "gold_tables": sorted(gold),
                "quality": report,
            }
        )
    )


if __name__ == "__main__":
    main()
