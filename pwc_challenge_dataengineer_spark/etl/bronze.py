"""Bronze ingest: raw CSV files → typed, normalized, quality-flagged parquet.

Reference: src/etl/bronze/spark_bronze.py:274-331 (ingest_bronze_spark) with
its anti-patterns removed (SURVEY §7.3 item 8):

- one multi-path ``spark.read.csv`` instead of a per-file union loop with
  periodic .cache() (spark_bronze.py:151-171) — Spark parallelizes over
  files natively and unions are needless barriers;
- no ``count()`` probes between stages (each one was a full re-execution);
- ``input_file_name()`` metadata instead of per-file lineage bookkeeping;
- writes stay partitioned by ingestion_date, never coalesce(1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import (
    COLUMN_NORMALIZATION,
    INVOICE_TIMESTAMP_FORMAT,
    RAW_SALES_SCHEMA,
    REQUIRED_SALES_COLUMNS,
)
from ..sources.readers import read_csv
from ..sources.writers import write_parquet


def normalize_columns(df: DataFrame) -> DataFrame:
    """Raw header names → snake_case canon (spark_bronze.py:183-209)."""
    for raw, canon in COLUMN_NORMALIZATION.items():
        if raw in df.columns:
            df = df.withColumnRenamed(raw, canon)
    return df


def ensure_required_columns(df: DataFrame) -> DataFrame:
    """Null-backfill any missing required column (spark_bronze.py:238-250)."""
    for col in REQUIRED_SALES_COLUMNS:
        if col not in df.columns:
            df = df.withColumn(col, F.lit(None).cast("string"))
    return df


def add_bronze_metadata(df: DataFrame, clock: str | None = None) -> DataFrame:
    """Parse the invoice timestamp, stamp lineage metadata. ``clock`` makes
    ingestion time injectable for deterministic tests (SURVEY §7.3 item 4);
    row ids come from the business key, not monotonically_increasing_id
    (which is partition-layout-dependent and breaks reproducibility)."""
    ingest_ts = (
        F.lit(clock).cast("timestamp") if clock else F.current_timestamp()
    )
    return (
        df.withColumn(
            "invoice_timestamp",
            F.to_timestamp("invoice_timestamp", INVOICE_TIMESTAMP_FORMAT),
        )
        .withColumn(
            "row_id",
            F.xxhash64("invoice_no", "stock_code", F.coalesce("customer_id", F.lit(""))),
        )
        .withColumn("source_file", F.input_file_name())
        .withColumn("ingestion_timestamp", ingest_ts)
        .withColumn("ingestion_date", F.to_date(ingest_ts))
    )


def add_quality_flags(df: DataFrame) -> DataFrame:
    """Bronze 3-rule weighted quality score (spark_bronze.py:253-271)."""
    f_qty = (F.col("quantity").isNotNull() & (F.col("quantity") > 0)).cast("int")
    f_price = (F.col("unit_price").isNotNull() & (F.col("unit_price") >= 0)).cast("int")
    f_inv = (F.col("invoice_no").isNotNull() & (F.trim("invoice_no") != "")).cast("int")
    return (
        df.withColumn("flag_valid_quantity", f_qty.cast("boolean"))
        .withColumn("flag_valid_price", f_price.cast("boolean"))
        .withColumn("flag_valid_invoice", f_inv.cast("boolean"))
        .withColumn("bronze_quality_score", (f_qty + f_price + f_inv) / F.lit(3.0))
    )


def ingest_bronze(
    spark: SparkSession,
    input_paths: list[str] | str,
    output_path: str | None = None,
    clock: str | None = None,
) -> DataFrame:
    """Raw CSV(s) → bronze. Given ``output_path``, writes the partitioned
    parquet and returns that committed parquet, not the lineage that built
    it: silver and gold then scan these files once instead of re-reading
    the CSV per job, and with ``clock=None`` every later layer sees the
    ``ingestion_timestamp`` that was written rather than a fresh
    ``current_timestamp()`` per query. Without ``output_path`` the result
    stays lazy."""
    raw = read_csv(spark, input_paths, schema=RAW_SALES_SCHEMA)
    bronze = add_quality_flags(
        add_bronze_metadata(ensure_required_columns(normalize_columns(raw)), clock)
    )
    if output_path:
        write_parquet(bronze, output_path, partition_by=["ingestion_date"])
        return read_committed(spark, bronze, output_path)
    return bronze


def read_committed(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """``df`` as committed at ``path``: a parquet scan with ``df``'s dtypes
    and column order, so the next layer reads these files instead of
    re-running ``df``'s lineage (and re-evaluating its clock)."""
    return spark.read.schema(df.schema).parquet(path).select(df.columns)
