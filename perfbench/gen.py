"""Seeded input generators for the workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical files (pyarrow writes no timestamps into parquet, and
CSV/JSON are formatted here). The engine only ever sees the files.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- query_mix: the TPC-H-shaped tables the query library reads -----------

#: rows per table at sf0.01, the shape of the engine's conformance data
SF001_ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_EPOCH = dt.datetime(1970, 1, 1)


def _rng(seed: int) -> np.random.Generator:
    """The generator for a seed; any integer, negative ones included."""
    return np.random.default_rng(seed % (1 << 64))


def _days(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days


def _ts_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(seed: int) -> dict[str, pa.Table]:
    """The ten tables of the engine's conformance data at sf0.01, drawn
    from ``seed`` (independent uniform columns, like the original)."""
    rng = _rng(seed)
    n = SF001_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n["customer"]).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    adjectives = ["small", "red", "blue", "hot", "green", "large", "cold", "old"]
    nouns = ["ring", "widget", "bolt", "gear", "nut", "spring", "valve", "pipe"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
            n["part"]).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) / 10, 2),
    })
    d0, d1 = _days(dt.date(1995, 1, 1)), _days(dt.date(2001, 8, 1))
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _ts_us(rng.integers(d0, d1 + 1, n["orders"])),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n["orders"]).tolist(),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _ts_us(rng.integers(d0 + 1, _days(dt.date(2001, 11, 4)) + 1, nl)),
    })
    ne = n["events"]
    ev_start = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1e6)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, ne)) + ev_start
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne).tolist(),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    texts = _documents(rng, n["documents"])
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], len(texts)).tolist(),
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng, n: int) -> list[str]:
    """Random word documents; every 20th is a one-word edit of an
    earlier one and every 50th an exact copy, so the dedup operators
    have pairs to find."""
    out: list[str] = []
    for i in range(n):
        if i >= 50 and i % 50 == 0:
            out.append(out[int(rng.integers(0, i))])
        elif i >= 20 and i % 20 == 0:
            words = out[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            out.append(" ".join(words))
        else:
            k = int(rng.integers(10, 100))
            out.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return out


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    vec = centers[label] + rng.normal(scale=1.5, size=(n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# -- lake_daily: company deliveries, one per day ---------------------------

DETAIL_COLS = ("company_name", "industry", "sector", "country", "exchange", "market_cap")
TRACKED = ("industry", "sector", "exchange", "market_cap")
INDUSTRIES = ["Banks", "Software", "Retail", "Mining", "Utilities", "Biotech",
              "Insurance", "Media", "Airlines", "Chemicals"]
SECTORS = ["Financials", "Technology", "Consumer", "Materials", "Energy", "Health"]
EXCHANGES = ["LSE", "NYSE", "NASDAQ", "XETRA", "EURONEXT"]
ROLES = ["director", "secretary", "chair", "officer"]


class CompanyWorld:
    """Ground truth of the daily pipeline: ``n`` companies whose
    tracked details drift on a seeded share of keys each day, and one
    new fundamentals quarter per day. ``deliver(day, dir)`` writes that
    day's bronze files; the attributes record what the pipeline must
    end up holding."""

    def __init__(self, seed: int, n: int, change_share: float):
        self.rng = _rng(seed)
        self.n = n
        self.change_share = change_share
        r = self.rng
        self.numbers = [f"C{i:07d}" for i in range(n)]
        self.details = {
            "company_name": [f"Company {i} Ltd" for i in range(n)],
            "industry": r.choice(INDUSTRIES, n).tolist(),
            "sector": r.choice(SECTORS, n).tolist(),
            "country": r.choice(["GB", "US", "DE", "FR"], n).tolist(),
            "exchange": r.choice(EXCHANGES, n).tolist(),
            "market_cap": r.integers(10**6, 10**11, n).tolist(),
        }
        self.revenue = r.uniform(1e5, 1e8, n)
        # (company_number, as_of day) of every expired SCD2 version
        self.expired: list[tuple[str, int]] = []
        self.days = 0

    def _change(self) -> list[int]:
        k = max(1, int(self.n * self.change_share))
        idx = sorted(self.rng.choice(self.n, k, replace=False).tolist())
        for i in idx:
            self.details["market_cap"][i] = int(self.rng.integers(10**6, 10**11))
            if self.rng.random() < 0.3:
                self.details["industry"][i] = str(self.rng.choice(INDUSTRIES))
        return idx

    @staticmethod
    def quarter_end(day: int) -> dt.date:
        y, q = divmod(day, 4)
        return [dt.date(2000 + y, 3, 31), dt.date(2000 + y, 6, 30),
                dt.date(2000 + y, 9, 30), dt.date(2000 + y, 12, 31)][q]

    def deliver(self, day: int, out: str) -> int:
        """Write day ``day``'s bronze files under ``out``; return their
        byte count. Day 0 is the initial load; later days change a
        share of companies first."""
        assert day == self.days, "deliveries are sequential"
        if day > 0:
            self.expired += [(self.numbers[i], day) for i in self._change()]
        self.days += 1
        r = self.rng
        ingest = (dt.date(2026, 1, 1) + dt.timedelta(days=day)).isoformat()
        os.makedirs(out, exist_ok=True)
        d = self.details
        overview = [
            {"company_number": c, "company_name": f"  {d['company_name'][i]} ",
             "company_status": ["active", "ACTIVE", "dissolved"][i % 3],
             "date_of_creation": None if i % 97 == 0 else f"{1950 + i % 70}-0{1 + i % 9}-15",
             "jurisdiction": d["country"][i].lower()}
            for i, c in enumerate(self.numbers)
        ]
        officers = [
            {"company_number": c, "items": [
                {"name": f"Officer {i}-{j}", "officer_role": ROLES[(i + j) % 4],
                 "appointed_on": f"{2000 + j}-01-01"} for j in range(i % 4)]}
            for i, c in enumerate(self.numbers)
        ]
        lines = ["company_number," + ",".join(DETAIL_COLS) + ",ingestion_date"]
        lines += [
            ",".join([c] + [str(d[k][i]) for k in DETAIL_COLS] + [ingest])
            for i, c in enumerate(self.numbers)
        ]
        self.revenue *= r.uniform(0.9, 1.15, self.n)
        q = self.quarter_end(day).isoformat()
        fund = ["company_number,quarter_end_date,total_revenue,net_income,ingestion_date"]
        fund += [
            f"{c},{q},{self.revenue[i]:.2f},{self.revenue[i] * 0.1:.2f},{ingest}"
            for i, c in enumerate(self.numbers)
        ]
        files = {
            "overview/part.json": json.dumps(overview),
            "officers/part.json": json.dumps(officers),
            "details/part.csv": "\n".join(lines) + "\n",
            "fundamentals/part.csv": "\n".join(fund) + "\n",
        }
        total = 0
        for rel, text in files.items():
            p = os.path.join(out, rel)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "w") as f:
                f.write(text)
            total += len(text.encode())
        return total


# -- lake_daily: rows of the appended serving table ------------------------

class ServingRows:
    """Generator and ground-truth copy of the serving table: rows
    ``(id, amount, region, note)`` with unique ids, appended in batches."""

    def __init__(self, seed: int):
        self.rng = _rng(seed)
        self.next_id = 0
        self.ids: list[int] = []
        self.amounts: list[float] = []

    def batch(self, n: int) -> list[tuple]:
        r = self.rng
        ids = list(range(self.next_id, self.next_id + n))
        self.next_id += n
        amounts = np.round(r.uniform(0.0, 10000.0, n), 2).tolist()
        regions = r.choice(["north", "south", "east", "west"], n).tolist()
        rows = [(i, a, g, f"note-{i % 997}") for i, a, g in zip(ids, amounts, regions)]
        self.ids += ids
        self.amounts += amounts
        return rows

    def point(self, value: int) -> list[tuple]:
        """Expected (id, amount) rows of a point lookup."""
        if 0 <= value < self.next_id:
            return [(value, self.amounts[value])]
        return []

    def range_count_cents(self, lo: float, hi: float) -> tuple[int, int]:
        """Expected row count and amount total, in cents, of a range read."""
        a = np.asarray(self.amounts)
        sel = a[(a >= lo) & (a <= hi)]
        return int(sel.size), int(np.round(sel * 100).astype("int64").sum())

    def write_batch(self, n: int, path: str) -> None:
        """Write a batch as one parquet file, for bulk loads."""
        ids, amounts, regions, notes = zip(*self.batch(n))
        pq.write_table(pa.table({
            "id": pa.array(ids, pa.int64()), "amount": pa.array(amounts, pa.float64()),
            "region": list(regions), "note": list(notes),
        }), path)
