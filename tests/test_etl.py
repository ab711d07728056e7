"""End-to-end medallion pipeline test: raw CSV → bronze → silver → gold
(the SURVEY §7.1 step-2 'minimum end-to-end slice', FIXTURES.md §1 shapes)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from pwc_challenge_dataengineer_spark.etl import build_gold_tables, ingest_bronze, process_silver
from pwc_challenge_dataengineer_spark.etl import gold_etl
from pwc_challenge_dataengineer_spark.etl.silver import quality_report

RAW_CSV = """InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country
536365,85123A,WHITE HANGING HEART,6,12/1/2010 8:26,2.55,17850,United Kingdom
536365,71053,WHITE METAL LANTERN,6,12/1/2010 8:26,3.39,17850,United Kingdom
536366,22633,HAND WARMER,6,12/1/2010 8:28,1.85,17850,United Kingdom
C536367,84879,RETURN CREDIT,-2,12/1/2010 8:34,1.69,13047,United Kingdom
536368,22960,JAM MAKING SET,3,12/2/2010 9:01,4.25,13047,France
536368,22960,JAM MAKING SET,3,12/2/2010 9:01,4.25,13047,France
536369,21756,BATH BUILDING BLOCK,,12/2/2010 10:00,5.95,,Germany
536370,10002,INFLATABLE STARS,48,12/3/2010 11:45,0.85,12583,France
bad_inv,,null,0,12/3/2010 12:00,-1.0,nan,UK
"""


@pytest.fixture(scope="module")
def medallion(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("medallion")
    csv_path = root / "raw.csv"
    csv_path.write_text(RAW_CSV)
    bronze = ingest_bronze(
        spark, str(csv_path), output_path=str(root / "bronze"), clock="2024-01-15 12:00:00"
    )
    silver = process_silver(spark, bronze, output_path=str(root / "silver"))
    gold = build_gold_tables(spark, silver, output_dir=str(root / "gold"))
    return root, bronze, silver, gold


def test_bronze_typed_and_flagged(medallion):
    _, bronze, _, _ = medallion
    rows = bronze.collect()
    assert len(rows) == 9  # all raw rows land in bronze
    assert dict(bronze.dtypes)["invoice_timestamp"] == "timestamp"
    bad = [r for r in rows if r.invoice_no == "bad_inv"][0]
    assert bad.bronze_quality_score < 0.5
    good = [r for r in rows if r.invoice_no == "536365"][0]
    assert good.bronze_quality_score == 1.0
    assert good.ingestion_date is not None


def test_silver_filters_and_dedups(medallion):
    _, _, silver, _ = medallion
    rows = silver.collect()
    invs = [r.invoice_no for r in rows]
    assert "bad_inv" not in invs  # negative price rejected
    assert "536369" not in invs  # null quantity rejected
    assert invs.count("536368") == 1  # exact dup deduplicated
    jam = [r for r in rows if r.invoice_no == "536368"][0]
    assert jam.total_amount == pytest.approx(12.75)
    assert jam.invoice_year == 2010 and jam.invoice_quarter == 4
    assert all(r.completeness_score > 0 for r in rows)


def test_silver_quality_report(spark, medallion):
    _, _, silver, _ = medallion
    rep = quality_report(silver)
    assert rep["total_rows"] == 5  # C536367 (qty<0) also rejected
    assert rep["null_pct"]["invoice_no"] == 0.0
    assert rep["amount_stats"]["max"] >= 40.0  # 48 * 0.85


def test_gold_tables(medallion):
    _, _, _, gold = medallion
    summary = {
        (r.country, r.invoice_month): r for r in gold["sales_summary"].collect()
    }
    uk = summary[("United Kingdom", 12)]
    assert uk.unique_invoices == 2  # 536365, 536366 (C536367 qty<0 rejected)
    fr = summary[("France", 12)]
    assert fr.total_quantity == 51  # 3 (deduped) + 48
    top_fr = [
        r for r in gold["product_analysis"].collect()
        if r.country == "France" and r.revenue_rank == 1
    ][0]
    assert top_fr.stock_code == "10002"  # 40.80 beats 12.75
    cm = {r.customer_id: r for r in gold["customer_metrics"].collect()}
    assert cm["17850"].total_orders == 2
    assert len(gold["cohort_analysis"].collect()) > 0
    assert len(gold["time_series_daily"].collect()) > 0


def test_partitioned_outputs(spark, medallion):
    root, _, _, _ = medallion
    silver_back = spark.read.parquet(str(root / "silver"))
    assert silver_back.count() == 5
    assert "invoice_year" in silver_back.columns  # partition column round-trips
    gold_back = spark.read.parquet(str(root / "gold" / "sales_summary"))
    assert gold_back.filter(F.col("country") == "France").count() == 1


def _reads_only_parquet(df) -> bool:
    files = df.inputFiles()
    return bool(files) and all(f.endswith(".parquet") for f in files)


def test_layers_read_committed_parquet(medallion):
    """Plan-shape guard: a layer given an output path hands the next layer
    its committed parquet, never the lineage back to the raw CSV."""
    _, bronze, silver, gold = medallion
    assert _reads_only_parquet(bronze)
    assert _reads_only_parquet(silver)
    for name, df in gold.items():
        assert _reads_only_parquet(df), name


def test_ingestion_timestamp_agrees_across_layers_without_clock(spark, tmp_path):
    """With clock=None the bronze parquet, the silver parquet and a later
    read of the returned silver all carry the one ingestion time bronze
    wrote, not a fresh current_timestamp() per query."""
    csv_path = tmp_path / "raw.csv"
    csv_path.write_text(RAW_CSV)
    bronze = ingest_bronze(spark, str(csv_path), output_path=str(tmp_path / "bronze"))
    silver = process_silver(spark, bronze, output_path=str(tmp_path / "silver"))

    def stamps(df):
        return {
            (r.ingestion_timestamp, r.ingestion_date)
            for r in df.select("ingestion_timestamp", "ingestion_date").distinct().collect()
        }

    written_bronze = stamps(spark.read.parquet(str(tmp_path / "bronze")))
    written_silver = stamps(spark.read.parquet(str(tmp_path / "silver")))
    assert len(written_bronze) == 1
    assert written_silver == written_bronze
    assert stamps(silver) == written_bronze


def test_gold_writes_carry_the_callers_job_group(spark, medallion, tmp_path):
    _, _, silver, _ = medallion
    sc = spark.sparkContext
    sc.setJobGroup("etl-gold-test", "concurrent gold writes")
    try:
        build_gold_tables(spark, silver, output_dir=str(tmp_path / "gold"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the asynchronous listener bus
    deadline = time.monotonic() + 10
    while True:
        jobs = sc.statusTracker().getJobIdsForGroup("etl-gold-test")
        if len(jobs) >= 5 or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    assert len(jobs) >= 5, jobs


def test_gold_write_failure_is_raised(spark, medallion, tmp_path, monkeypatch):
    _, _, silver, _ = medallion
    real = gold_etl.write_parquet

    def failing(df, path, **kw):
        if path.endswith("/customer_metrics"):
            raise RuntimeError("disk full: customer_metrics")
        real(df, path, **kw)

    monkeypatch.setattr(gold_etl, "write_parquet", failing)
    with pytest.raises(RuntimeError, match="customer_metrics"):
        build_gold_tables(spark, silver, output_dir=str(tmp_path / "gold"))


def test_orc_roundtrip_matches_parquet(spark, sf_dir, tmp_path):
    """ORC sink/scan parity: writing the nation dim to ORC and reading it
    back yields the identical rowset the parquet scan gives."""
    from pwc_challenge_dataengineer_spark.sources.readers import read_orc

    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    path = str(tmp_path / "nation_orc")
    src.write.mode("overwrite").orc(path)
    back = read_orc(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    assert back.schema == src.schema


def test_text_reader_lines(spark, tmp_path):
    from pwc_challenge_dataengineer_spark.sources.readers import read_text

    p = tmp_path / "docs.txt"
    p.write_text("alpha beta\ngamma\n")
    out = read_text(spark, str(p))
    assert sorted(r.value for r in out.collect()) == ["alpha beta", "gamma"]
