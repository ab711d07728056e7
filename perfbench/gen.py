"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from one seed: the
same seed gives byte-identical inputs. Three generators:

- ``write_tables``: the TPC-H-shaped star tables plus ``events``,
  ``documents`` and ``embeddings`` (the schema of the package's test data),
  as one parquet file per table;
- ``write_retail_csv``: the raw retail CSV the medallion ETL ingests, built
  from ``lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ part`` with dirty rows
  injected (null tokens, missing customer ids, returns, exact duplicates);
- ``CdcFeed``: a Debezium-envelope change feed over a keyed dimension.

``query_order`` shuffles the serving mix.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJECTIVES = ["red", "blue", "old", "new", "hot", "cold", "small", "large"]
NOUNS = ["bolt", "anvil", "plate", "widget", "ring", "gear", "rod", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "de", "fr", "es", "zh"]
WORDS = (
    "a the data spark query table row column key value join group order "
    "sort filter window stream batch scan hash merge agg part line customer "
    "small big fast slow vector"
).split()
NULL_TOKENS = ["", "nan", "None", "NULL", "n/a"]


def _ts(days_since_epoch: np.ndarray) -> pa.Array:
    us = (days_since_epoch * 86_400_000_000).astype("int64")
    return pa.array(us, type=pa.timestamp("us"))


def _day(s: str) -> int:
    return (dt.date.fromisoformat(s) - dt.date(1970, 1, 1)).days


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (lineitem ≈ 6M × sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{ADJECTIVES[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": retail,
        }
    )
    o_date = rng.integers(_day("1995-01-01"), _day("2001-08-02"), n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(ORDER_STATUS)[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": _ts(o_date),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    l_part = rng.integers(0, n_part, n_line)
    l_qty = rng.integers(1, 51, n_line).astype("float64")
    # line numbers restart per order
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    run_id = np.repeat(np.arange(len(starts)), np.diff(np.r_[starts, n_line]))
    l_linenumber = np.arange(n_line) - starts[run_id] + 1
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(l_part, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(l_linenumber, pa.int32()),
            "l_quantity": l_qty,
            "l_extendedprice": np.round(l_qty * retail[l_part], 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(o_date[l_order] + rng.integers(1, 122, n_line)),
        }
    )
    ev_us = np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_events)
    ) + (_day("2024-01-01") * 86_400_000_000)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ev_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(40.0, n_events) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n_words)]))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[
                rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
            ],
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, 64))
    vecs = 0.3 * centers[labels] + rng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """One ``<name>.parquet`` per table; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total


def write_retail_csv(seed: int, n_rows: int, path: str) -> dict:
    """Raw retail CSV (the reference Online Retail layout) with dirty rows.

    Base rows come from the star join, one per distinct (invoice, stock
    code), so silver's dedup key is unique except for the injected exact
    duplicates. Injected by seed: null tokens in description / country /
    invoice number, ~25% of invoices without a customer id, returns with a
    negative quantity and a ``C`` invoice prefix, and ~3% exact duplicate
    rows. Returns row and byte counts."""
    rng = np.random.default_rng(seed)
    t = make_tables(seed, sf=n_rows / 6_000_000)
    li, od, cu, pa_ = t["lineitem"], t["orders"], t["customer"], t["part"]
    l_order = li["l_orderkey"].to_numpy()
    l_part = li["l_partkey"].to_numpy()
    keep = np.unique(l_order * 10_000_000 + l_part, return_index=True)[1]
    l_order, l_part = l_order[keep], l_part[keep]
    qty = li["l_quantity"].to_numpy()[keep].astype(int)
    line = li["l_linenumber"].to_numpy()[keep]
    cust = od["o_custkey"].to_numpy()[l_order]
    nation = cu["c_nationkey"].to_numpy()[cust]
    days = od["o_orderdate"].cast(pa.int64()).to_numpy()[l_order] // 86_400_000_000
    names = np.array(pa_["p_name"].to_pylist())
    price = np.round(pa_["p_retailprice"].to_numpy()[l_part] / 100.0, 2)
    n = len(l_order)

    invoice = np.array([str(536_000 + o) for o in l_order], dtype=object)
    stock = np.array([f"P{p:05d}" for p in l_part], dtype=object)
    desc = names[l_part].astype(object)
    country = np.array([f"NATION_{c}" for c in nation], dtype=object)
    cust_id = np.array([str(12_000 + c) for c in cust], dtype=object)
    base = dt.datetime(1970, 1, 1)
    stamp = [
        base + dt.timedelta(days=int(d), hours=int(8 + ln), minutes=int(7 * ln % 60))
        for d, ln in zip(days, line)
    ]
    when = np.array(
        [f"{s.month}/{s.day}/{s.year} {s.hour}:{s.minute:02d}" for s in stamp],
        dtype=object,
    )
    quantity = qty.astype(object)

    def tokens(mask: np.ndarray) -> np.ndarray:
        return np.array(NULL_TOKENS, dtype=object)[rng.integers(0, len(NULL_TOKENS), mask.sum())]

    no_cust = rng.random(len(od)) < 0.25  # whole invoices lose the customer
    m = no_cust[l_order]
    cust_id[m] = tokens(m)
    m = rng.random(n) < 0.03
    desc[m] = tokens(m)
    m = rng.random(n) < 0.01
    country[m] = tokens(m)
    ret = rng.random(n) < 0.02
    quantity[ret] = -qty[ret]
    invoice[ret] = np.array(["C" + s for s in invoice[ret]], dtype=object)
    m = (rng.random(n) < 0.005) & ~ret
    invoice[m] = tokens(m)

    rows = list(zip(invoice, stock, desc, quantity, when, price, cust_id, country))
    dups = [rows[i] for i in np.flatnonzero(rng.random(n) < 0.03)]
    rows += dups
    order = rng.permutation(len(rows))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(
            ["InvoiceNo", "StockCode", "Description", "Quantity",
             "InvoiceDate", "UnitPrice", "CustomerID", "Country"]
        )
        for i in order:
            w.writerow(rows[i])
    return {"rows": len(rows), "bytes": os.path.getsize(path), "duplicates": len(dups)}


TIERS = ["bronze", "silver", "gold", "platinum"]
CITIES = [f"city_{i}" for i in range(12)]


class CdcFeed:
    """Seeded Debezium change feed over ``n_keys`` keys.

    ``snapshot()`` is the connector's initial read (one ``r`` op per key);
    ``next_chunk()`` yields ``rows`` changes: updates to live keys (small
    value domains, so some are no-op repeats of the current state),
    creates for deleted keys, and ``delete_share`` deletes. Event time
    (``ts_ms``) and ``seq`` increase strictly across the whole feed, so
    within-batch last-write-wins and cross-batch order agree."""

    def __init__(self, seed: int, n_keys: int, rows: int, delete_share: float = 0.05):
        self.rng = np.random.default_rng(seed)
        self.n_keys = n_keys
        self.rows = rows
        self.delete_share = delete_share
        self.state: dict[int, dict | None] = {}
        self.seq = 0
        self.ts_ms = 1_704_067_200_000  # 2024-01-01

    def _row(self, key: int) -> dict:
        r = self.rng
        return {
            "id": key,
            "tier": TIERS[int(r.integers(0, len(TIERS)))],
            "city": CITIES[int(r.integers(0, len(CITIES)))],
            "balance": float(r.integers(0, 20)) * 50.0,
        }

    def _event(self, op: str, key: int) -> dict:
        self.seq += 1
        self.ts_ms += int(self.rng.integers(1, 20))
        if op == "d":
            before, after = dict(self.state[key], seq=self.seq), None
            self.state[key] = None
        else:
            after = dict(self._row(key), seq=self.seq)
            before = None if op in ("c", "r") else dict(self.state[key], seq=self.seq)
            self.state[key] = {k: after[k] for k in ("id", "tier", "city", "balance")}
        return {
            "op": op,
            "before": before,
            "after": after,
            "ts_ms": self.ts_ms,
            "source": {"table": "customers", "lsn": self.seq},
        }

    def snapshot(self) -> list[dict]:
        return [self._event("r", k) for k in range(self.n_keys)]

    def next_chunk(self) -> list[dict]:
        out = []
        keys = self.rng.integers(0, self.n_keys, self.rows)
        dels = self.rng.random(self.rows) < self.delete_share
        for key, delete in zip(keys.tolist(), dels.tolist()):
            live = self.state.get(key) is not None
            if not live:
                out.append(self._event("c", key))
            elif delete:
                out.append(self._event("d", key))
            else:
                out.append(self._event("u", key))
        return out


def write_chunk(events: list[dict], path: str) -> int:
    """One JSON-lines file; returns its size in bytes."""
    data = "".join(json.dumps(e, separators=(",", ":")) + "\n" for e in events)
    with open(path, "w") as fh:
        fh.write(data)
    return len(data)


def query_order(seed: int, names: list[str]) -> list[str]:
    """The serving mix for one cycle: every name once, seeded shuffle."""
    rng = np.random.default_rng(seed)
    return [names[i] for i in rng.permutation(len(names))]
