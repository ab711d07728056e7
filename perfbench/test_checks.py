"""Each output check passes on a correct result and fails on a corrupted one.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)

HEADER = "InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country\n"


def test_etl_reference_applies_silver_rules(tmp_path):
    path = tmp_path / "raw.csv"
    path.write_text(
        HEADER
        + "1,A,red bolt,2,1/5/2020 9:05,1.50,100,NATION_1\n"
        + "1,A,red bolt,2,1/5/2020 9:05,1.50,100,NATION_1\n"  # exact duplicate
        + "1,B,old rod,1,1/5/2020 9:05,2.00,100,NATION_1\n"
        + "C2,A,red bolt,-3,2/6/2020 10:00,1.50,101,NATION_2\n"  # return
        + "NULL,A,red bolt,1,2/6/2020 10:00,1.50,101,NATION_2\n"  # no invoice
        + "3,A,n/a,4,3/7/2021 11:30,0.25,nan,NATION_3\n"  # no customer
    )
    ref = checks.etl_reference(str(path))
    assert ref["bronze_rows"] == 6
    assert ref["silver_rows"] == 3
    assert ref["revenue"] == pytest.approx(3.0 + 2.0 + 1.0)
    assert ref["gold.customer_metrics"] == 1
    assert ref["gold.sales_summary"] == 2
    assert ref["gold.cohort_analysis"] == 1


def test_etl_check_fails_on_corruption(tmp_path):
    path = tmp_path / "raw.csv"
    info = gen.write_retail_csv(3, 400, str(path))
    ref = checks.etl_reference(str(path))
    assert ref["bronze_rows"] == info["rows"]
    good = dict(ref, quality_rows=ref["silver_rows"])
    assert checks.check_etl(ref, good) == []
    for key, delta in [
        ("bronze_rows", 1),
        ("silver_rows", -1),
        ("gold.product_analysis", 1),
        ("gold.cohort_analysis", -1),
        ("quality_rows", 1),
        ("revenue", 0.5),
    ]:
        bad = dict(good, **{key: good[key] + delta})
        assert checks.check_etl(ref, bad), key


def test_query_check_fails_on_corruption(tmp_path):
    from pyspark.sql import types as T

    pq.write_table(
        pa.table({"k": [1, 2, 2], "v": [1.5, 2.0, 3.0]}), str(tmp_path / "t.parquet")
    )
    checker = checks.QueryChecker(ROOT)
    checker.load_oracles(
        str(tmp_path),
        {"q": "SELECT k, round(sum(v), 2) AS total FROM t GROUP BY k"},
    )
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("total", T.DoubleType())]
    )
    assert checker.check("q", schema, [(2, 5.0), (1, 1.5)]) == []
    assert checker.check("q", schema, [(1, 1.5)])  # row missing
    assert checker.check("q", schema, [(1, 1.5), (2, 5.01)])  # value off
    assert checker.check("q", schema, [(1, 1.5), (2, 5.0), (3, 0.0)])  # extra row
    wrong_type = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("total", T.DoubleType())]
    )
    assert checker.check("q", wrong_type, [("1", 1.5), ("2", 5.0)])
    assert checker.check("other", schema, [])


def _change(op, key, ts, seq, tier="gold"):
    row = {"id": key, "tier": tier, "city": "c", "balance": 1.0, "seq": seq}
    return {
        "op": op,
        "before": row if op == "d" else None,
        "after": None if op == "d" else row,
        "ts_ms": ts,
    }


def test_scd2_reference_semantics():
    ref = checks.Scd2Reference("id", ["tier", "city", "balance"])
    ref.apply([_change("r", 1, 10, 1), _change("r", 2, 11, 2), _change("r", 3, 12, 3)])
    # last write wins within a batch; a no-op upsert keeps valid_from
    ref.apply([
        _change("u", 1, 20, 4, "silver"),
        _change("u", 1, 21, 5, "gold"),
        _change("u", 2, 22, 6, "silver"),
        _change("d", 3, 23, 7),
    ])
    assert ref.current == {
        1: (("gold", "c", 1.0), 10),
        2: (("silver", "c", 1.0), 22),
    }


def test_scd2_check_fails_on_corruption():
    ref = checks.Scd2Reference("id", ["tier", "city", "balance"])
    ref.apply([_change("r", 1, 10, 1), _change("r", 2, 11, 2), _change("r", 3, 12, 3)])
    ref.apply([_change("d", 3, 20, 4), _change("u", 2, 21, 5, "silver")])
    good = [(1, "gold", "c", 1.0, 10), (2, "silver", "c", 1.0, 21)]
    assert ref.check(good) == []
    assert ref.check(good[:1])  # key missing
    assert ref.check(good + [(3, "gold", "c", 1.0, 12)])  # deleted key current
    assert ref.check([good[0], (2, "gold", "c", 1.0, 21)])  # stale value
    assert ref.check([good[0], (2, "silver", "c", 1.0, 11)])  # wrong valid_from
    assert ref.check(good + [(2, "gold", "c", 1.0, 11)])  # two current rows


def test_generators_are_seeded(tmp_path):
    a, b, c = (tmp_path / n for n in ("a.csv", "b.csv", "c.csv"))
    gen.write_retail_csv(5, 300, str(a))
    gen.write_retail_csv(5, 300, str(b))
    gen.write_retail_csv(6, 300, str(c))
    assert a.read_bytes() == b.read_bytes() != c.read_bytes()
    feeds = [gen.CdcFeed(s, 50, 20) for s in (5, 5, 6)]
    chunks = [[f.snapshot(), f.next_chunk(), f.next_chunk()] for f in feeds]
    assert chunks[0] == chunks[1] != chunks[2]
    assert gen.query_order(5, list("abcdef")) == gen.query_order(5, list("abcdef"))
    t1, t2 = gen.make_tables(5, 0.001), gen.make_tables(5, 0.001)
    assert all(t1[n].equals(t2[n]) for n in t1)


def test_benchmark_json_declares_every_metric():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.layer_units()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
