"""Output checks. Each returns a list of problems; empty means correct.

- ETL: layer and gold-table row counts plus total revenue, against a DuckDB
  reference computed once over the same raw CSV;
- serving: each response against the catalog's DuckDB oracle result, with
  the repository's own comparison (``scripts/verify_local.compare``);
- streaming: the current SCD2 view against a last-write-wins replay of
  the generated change log in plain Python.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

GOLD_TABLES = (
    "sales_summary",
    "product_analysis",
    "customer_metrics",
    "time_series_daily",
    "cohort_analysis",
)

_NT = """
CREATE OR REPLACE MACRO nt(x) AS
    CASE WHEN x IS NULL OR lower(trim(x)) IN ('', 'nan', 'none', 'null', 'n/a')
         THEN NULL ELSE trim(x) END
"""


def etl_reference(csv_path: str) -> dict:
    """What one medallion pass must produce from ``csv_path``: silver
    normalizes null tokens, keeps quantity > 0, unit price >= 0 and a
    present invoice, and keeps one row per (invoice, stock code,
    customer); gold groups silver as the five gold builders do."""
    con = duckdb.connect()
    con.execute(_NT)
    con.execute(
        f"""
        CREATE TABLE raw AS
        SELECT * FROM read_csv('{csv_path}', header = true, all_varchar = true)
        """
    )
    con.execute(
        """
        CREATE TABLE silver AS
        WITH norm AS (
            SELECT nt(InvoiceNo) AS inv, nt(StockCode) AS sc,
                   nt(Description) AS descr, nt(CustomerID) AS cid,
                   nt(Country) AS ctry,
                   TRY_CAST(trim(Quantity) AS INTEGER) AS q,
                   TRY_CAST(trim(UnitPrice) AS DOUBLE) AS p,
                   strptime(trim(InvoiceDate), '%-m/%-d/%Y %-H:%M') AS ts
            FROM raw
        )
        SELECT * FROM norm
        WHERE q > 0 AND p >= 0 AND inv IS NOT NULL
        QUALIFY row_number() OVER (PARTITION BY inv, sc, cid) = 1
        """
    )

    def one(sql: str):
        return con.execute(sql).fetchone()[0]

    gold = {
        "sales_summary": "SELECT ctry, year(ts), month(ts) FROM silver GROUP BY ALL",
        "product_analysis": "SELECT sc, descr, ctry FROM silver GROUP BY ALL",
        "customer_metrics": (
            "SELECT cid, ctry FROM silver WHERE cid IS NOT NULL GROUP BY ALL"
        ),
        "time_series_daily": "SELECT CAST(ts AS DATE), ctry FROM silver GROUP BY ALL",
        "cohort_analysis": """
            WITH firsts AS (
                SELECT cid, date_trunc('month', min(ts)) AS cm
                FROM silver WHERE cid IS NOT NULL GROUP BY cid
            )
            SELECT cm, (year(ts) - year(cm)) * 12 + (month(ts) - month(cm))
            FROM silver JOIN firsts USING (cid) GROUP BY ALL
        """,
    }
    ref = {
        "bronze_rows": one("SELECT count(*) FROM raw"),
        "silver_rows": one("SELECT count(*) FROM silver"),
        "revenue": float(
            one("SELECT sum(CAST(q * p AS DECIMAL(18, 2))) FROM silver")
        ),
    }
    for name, sql in gold.items():
        ref[f"gold.{name}"] = one(f"SELECT count(*) FROM ({sql})")
    con.close()
    return ref


def etl_observed(out_dir: str, quality: dict) -> dict:
    """The same figures, read back from one pass's parquet output."""
    con = duckdb.connect()

    def rows(path: str) -> int:
        return con.execute(
            f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet')"
        ).fetchone()[0]

    got = {
        "bronze_rows": rows(f"{out_dir}/bronze"),
        "silver_rows": rows(f"{out_dir}/silver"),
        "quality_rows": quality["total_rows"],
        "revenue": con.execute(
            "SELECT sum(total_revenue) FROM "
            f"read_parquet('{out_dir}/gold/sales_summary/**/*.parquet')"
        ).fetchone()[0],
    }
    for name in GOLD_TABLES:
        got[f"gold.{name}"] = rows(f"{out_dir}/gold/{name}")
    con.close()
    return got


def check_etl(ref: dict, got: dict) -> list[str]:
    problems = [
        f"{k}: got {got.get(k)}, expected {v}"
        for k, v in ref.items()
        if k != "revenue" and got.get(k) != v
    ]
    if got.get("quality_rows") != ref["silver_rows"]:
        problems.append(
            f"quality_report total_rows {got.get('quality_rows')}, "
            f"expected {ref['silver_rows']}"
        )
    revenue = got.get("revenue")
    if revenue is None or abs(revenue - ref["revenue"]) > 0.01:
        problems.append(f"revenue: got {revenue}, expected {ref['revenue']:.2f}")
    return problems


def _verify_local(root: str):
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(root, "scripts", "verify_local.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryChecker:
    """Oracle results for the serving mix, computed once, and the
    repository's Spark-vs-DuckDB comparison."""

    def __init__(self, root: str):
        self.compare = _verify_local(root).compare
        self.expected: dict = {}

    def load_oracles(self, tables_dir: str, oracles: dict[str, str]) -> None:
        con = duckdb.connect()
        for name in sorted(os.listdir(tables_dir)):
            table = name.removesuffix(".parquet")
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM '{tables_dir}/{name}'"
            )
        self.expected = {q: con.execute(sql).arrow() for q, sql in oracles.items()}
        con.close()

    def check(self, name: str, schema, rows: list[tuple]) -> list[str]:
        if name not in self.expected:
            return [f"{name}: no oracle result"]
        return self.compare(schema, schema.names, rows, self.expected[name])


class Scd2Reference:
    """Current state of the SCD2 dimension, replayed from the change log.

    Per batch, the change with the highest (ts, seq) per key survives. A
    surviving delete closes the key; a surviving upsert whose tracked
    values equal the open version is a no-op; any other upsert opens a new
    version valid from its own timestamp."""

    def __init__(self, key: str, tracked: list[str]):
        self.key = key
        self.tracked = tracked
        self.current: dict = {}

    def apply(self, events: list[dict]) -> None:
        last: dict = {}
        for e in events:
            row = e["before"] if e["op"] == "d" else e["after"]
            k = row[self.key]
            if k not in last or (e["ts_ms"], row["seq"]) > last[k][0]:
                last[k] = ((e["ts_ms"], row["seq"]), e["op"], row)
        for k, ((ts, _), op, row) in last.items():
            vals = tuple(row[c] for c in self.tracked)
            open_ = self.current.get(k)
            if op == "d":
                self.current.pop(k, None)
            elif open_ is None or open_[0] != vals:
                self.current[k] = (vals, ts)

    def check(self, rows: list[tuple]) -> list[str]:
        """``rows``: (key, *tracked, valid_from_ms) of the current view."""
        got = {r[0]: (tuple(r[1:-1]), r[-1]) for r in rows}
        problems = []
        if len(got) != len(rows):
            problems.append(f"{len(rows) - len(got)} keys have two current rows")
        missing = self.current.keys() - got.keys()
        extra = got.keys() - self.current.keys()
        if missing:
            problems.append(f"{len(missing)} current keys missing, e.g. {min(missing)}")
        if extra:
            problems.append(f"{len(extra)} keys current but deleted, e.g. {min(extra)}")
        wrong = [k for k in got.keys() & self.current.keys() if got[k] != self.current[k]]
        if wrong:
            k = min(wrong)
            problems.append(
                f"{len(wrong)} keys differ, e.g. {k}: {got[k]} != {self.current[k]}"
            )
        return problems
