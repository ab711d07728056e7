"""Silver layer: cast, null-normalize, business-rule filter, dedup-latest,
completeness scoring, one-pass quality report.

Reference: src/etl/silver/spark_silver.py:256-309, with the driver-side
anti-patterns removed: the mean/stddev collect (:174-191) stays in-plan via
functions/quality.outlier_3sigma; the per-column null-count loop (:203-206)
becomes one aggregation (quality_report); no count() probes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.quality import completeness_score, outlier_3sigma
from ..operators.dedup import dedup_keep_latest
from ..sources.writers import write_parquet
from .bronze import read_committed

NULL_TOKENS = ("", "nan", "none", "null", "n/a")


def cast_and_normalize(df: DataFrame) -> DataFrame:
    """Typed casts + null-token normalization (spark_silver.py:48-72)."""
    def norm(col: str):
        trimmed = F.trim(F.col(col))
        return F.when(F.lower(trimmed).isin(*NULL_TOKENS), None).otherwise(trimmed)

    return (
        df.withColumn("invoice_no", norm("invoice_no"))
        .withColumn("stock_code", norm("stock_code"))
        .withColumn("description", norm("description"))
        .withColumn("customer_id", norm("customer_id"))
        .withColumn("country", norm("country"))
        .withColumn("quantity", F.col("quantity").cast("int"))
        .withColumn("unit_price", F.col("unit_price").cast("double"))
    )


def business_rule_filter(df: DataFrame) -> DataFrame:
    """quantity>0 AND unit_price>=0 AND invoice_no present
    (spark_silver.py:75-95)."""
    return df.filter(
        (F.col("quantity") > 0)
        & (F.col("unit_price") >= 0)
        & F.col("invoice_no").isNotNull()
        & (F.trim("invoice_no") != "")
    )


def add_derived_columns(df: DataFrame) -> DataFrame:
    """total_amount + date parts (spark_silver.py:98-123)."""
    return (
        df.withColumn("total_amount", F.col("quantity") * F.col("unit_price"))
        .withColumn("invoice_date", F.to_date("invoice_timestamp"))
        .withColumn("invoice_year", F.year("invoice_timestamp"))
        .withColumn("invoice_month", F.month("invoice_timestamp"))
        .withColumn("invoice_quarter", F.quarter("invoice_timestamp"))
        .withColumn("invoice_hour", F.hour("invoice_timestamp"))
    )


def quality_report(df: DataFrame) -> dict:
    """One-pass silver quality report (counts, null %, numeric stats) —
    replaces the reference's N-scan loop. The single collect here IS the
    report (a handful of scalars), not a transform."""
    cols = ["invoice_no", "stock_code", "customer_id", "quantity", "unit_price"]
    aggs = [F.count("*").alias("total_rows")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}"))
    aggs += [
        F.min("total_amount").alias("min_amount"),
        F.max("total_amount").alias("max_amount"),
        (F.sum(F.col("total_amount").cast("decimal(18,2)")).cast("double")
         / F.count("total_amount")).alias("mean_amount"),
    ]
    row = df.agg(*aggs).first().asDict()
    total = row["total_rows"] or 1
    return {
        "total_rows": row["total_rows"],
        "null_pct": {c: row[f"null_{c}"] / total for c in cols},
        "amount_stats": {
            "min": row["min_amount"],
            "max": row["max_amount"],
            "mean": row["mean_amount"],
        },
    }


def process_silver(
    spark: SparkSession,
    bronze: DataFrame,
    output_path: str | None = None,
) -> DataFrame:
    """Bronze → silver. Given ``output_path``, writes the partitioned
    parquet and returns that committed parquet, so the five gold tables
    and the quality report each scan it instead of re-running the dedup
    window and the 3σ stats join over bronze. Without ``output_path`` the
    result stays lazy."""
    silver = add_derived_columns(business_rule_filter(cast_and_normalize(bronze)))
    silver = dedup_keep_latest(
        silver,
        keys=["invoice_no", "stock_code", "customer_id"],
        order_col="ingestion_timestamp",
        tiebreakers=["row_id"],
    )
    silver = completeness_score(
        silver,
        ["invoice_no", "stock_code", "description", "quantity", "unit_price",
         "customer_id", "country"],
    )
    silver = outlier_3sigma(silver, "total_amount")
    if output_path:
        write_parquet(silver, output_path, partition_by=["invoice_year"])
        return read_committed(spark, silver, output_path)
    return silver
