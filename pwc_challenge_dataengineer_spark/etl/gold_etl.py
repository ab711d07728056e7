"""Gold layer: the 5 analytics tables from silver (spark_gold.py:240-278)
plus the star-schema build (plans/star_schema.py has the dim/fact builders).

The reference writes each table partitioned by country (spark_gold.py:
201-221); kept, with maxRecordsPerFile bounding skewed partitions
(country=United Kingdom is ~90% of the retail dataset).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.util import inheritable_thread_target

from ..sources.writers import write_parquet


def sales_summary(silver: DataFrame) -> DataFrame:
    """groupBy(country, year, month) — spark_gold.py:48-65."""
    return silver.groupBy("country", "invoice_year", "invoice_month").agg(
        F.count("*").alias("transaction_count"),
        F.sum(F.col("total_amount").cast("decimal(18,2)")).cast("double").alias("total_revenue"),
        F.sum("quantity").alias("total_quantity"),
        F.countDistinct("customer_id").alias("unique_customers"),
        F.countDistinct("invoice_no").alias("unique_invoices"),
    )


def product_analysis(silver: DataFrame) -> DataFrame:
    prod = silver.groupBy("stock_code", "description", "country").agg(
        F.sum(F.col("total_amount").cast("decimal(18,2)")).cast("double").alias("total_revenue"),
        F.sum("quantity").alias("total_quantity"),
    )
    w = Window.partitionBy("country").orderBy(F.col("total_revenue").desc(), "stock_code")
    return prod.withColumn("revenue_rank", F.row_number().over(w))


def customer_metrics(silver: DataFrame) -> DataFrame:
    return silver.filter(F.col("customer_id").isNotNull()).groupBy(
        "customer_id", "country"
    ).agg(
        F.sum(F.col("total_amount").cast("decimal(18,2)")).cast("double").alias("total_spent"),
        F.countDistinct("invoice_no").alias("total_orders"),
        F.min("invoice_date").alias("first_purchase"),
        F.max("invoice_date").alias("last_purchase"),
        F.datediff(F.max("invoice_date"), F.min("invoice_date")).alias("tenure_days"),
    )


def time_series_daily(silver: DataFrame) -> DataFrame:
    daily = silver.groupBy("invoice_date", "country").agg(
        F.sum(F.col("total_amount").cast("decimal(18,2)")).alias("rev_dec"),
        F.sum("quantity").alias("daily_quantity"),
        F.countDistinct("invoice_no").alias("daily_invoices"),
    )
    w = Window.partitionBy("country").orderBy("invoice_date").rowsBetween(-6, 0)
    return daily.select(
        "invoice_date",
        "country",
        F.col("rev_dec").cast("double").alias("daily_revenue"),
        "daily_quantity",
        "daily_invoices",
        (F.sum("rev_dec").over(w).cast("double") / F.count("*").over(w)).alias("revenue_ma7"),
    )


def cohort_analysis(silver: DataFrame) -> DataFrame:
    firsts = silver.filter(F.col("customer_id").isNotNull()).groupBy("customer_id").agg(
        F.to_date(F.date_trunc("month", F.min("invoice_timestamp"))).alias("cohort_month")
    )
    om = F.to_date(F.date_trunc("month", F.col("invoice_timestamp")))
    return (
        silver.join(firsts, "customer_id")
        .withColumn(
            "period_number",
            (F.year(om) - F.year("cohort_month")) * 12
            + (F.month(om) - F.month("cohort_month")),
        )
        .groupBy("cohort_month", "period_number")
        .agg(
            F.countDistinct("customer_id").alias("active_customers"),
            F.sum(F.col("total_amount").cast("decimal(18,2)")).cast("double").alias("cohort_revenue"),
        )
    )


GOLD_BUILDERS = {
    "sales_summary": sales_summary,
    "product_analysis": product_analysis,
    "customer_metrics": customer_metrics,
    "time_series_daily": time_series_daily,
    "cohort_analysis": cohort_analysis,
}


def build_gold_tables(
    spark: SparkSession,
    silver: DataFrame,
    output_dir: str | None = None,
) -> dict[str, DataFrame]:
    """The five gold tables over ``silver``. Given ``output_dir``, the five
    writes run concurrently, one thread each: at this scale AQE coalesces
    every gold job to one-task stages, so written one after another they
    leave all but one core idle. Each thread inherits the caller's local
    properties (job group, scheduler pool), so the gold jobs are
    attributed to the caller's group. Once every write has finished, the
    error of the first failed table (in ``GOLD_BUILDERS`` order) is
    re-raised."""
    out = {name: fn(silver) for name, fn in GOLD_BUILDERS.items()}
    if output_dir:

        def write(name: str, df: DataFrame) -> None:
            partition = ["country"] if "country" in df.columns else None
            write_parquet(df, f"{output_dir}/{name}", partition_by=partition)

        target = inheritable_thread_target(spark)(write)
        with ThreadPoolExecutor(len(out)) as pool:
            futures = [pool.submit(target, name, df) for name, df in out.items()]
        for f in futures:
            f.result()
    return out
