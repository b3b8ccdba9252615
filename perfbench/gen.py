"""Seeded input generators and plain-Python expected-result models.

Everything here is pure Python/NumPy/pyarrow: no Spark, no program code.
The same seed always yields the same inputs, and each generator returns
the model the benchmark checks the program's outputs against.
"""

from __future__ import annotations

import calendar
import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# backfill_rest: a QBO-style customer entity set served by the REST stub
# --------------------------------------------------------------------------

QBO_YEAR = 2024


def monthly_windows(year: int = QBO_YEAR) -> list[tuple[str, str]]:
    """Inclusive ISO [start, end] windows, one per calendar month."""
    out = []
    for m in range(1, 13):
        last = calendar.monthrange(year, m)[1]
        out.append((f"{year}-{m:02d}-01", f"{year}-{m:02d}-{last:02d}"))
    return out


class BackfillInputs:
    """Customer records with ~``dup_frac`` duplicate Ids, written as the
    ``customer`` parquet ``StubQboServer`` serves. The stub has no date
    field, so each record's ISO last-updated date rides in the column
    it serves as ``Segment``; the pipeline windows on that field."""

    def __init__(self, seed: int, n_records: int = 10_000, dup_frac: float = 0.05):
        rng = random.Random(seed)
        n_dup = int(n_records * dup_frac)
        n_base = n_records - n_dup
        start = dt.date(QBO_YEAR, 1, 1).toordinal()
        n_days = 366 if calendar.isleap(QBO_YEAR) else 365
        keys = rng.sample(range(1, 10 * n_records), n_base)
        recs = [
            (
                k,
                f"Customer#{k:09d}",
                rng.randrange(25),
                dt.date.fromordinal(start + rng.randrange(n_days)).isoformat(),
                round(rng.uniform(-999.99, 9999.99), 2),
            )
            for k in keys
        ]
        # A duplicate re-sends an existing Id: half keep the original
        # date (an in-window duplicate the per-window dedup drops), half
        # carry a new date (the Id lands again in that other window).
        for _ in range(n_dup):
            k, name, nation, day, _bal = recs[rng.randrange(n_base)]
            if rng.random() >= 0.5:
                day = dt.date.fromordinal(start + rng.randrange(n_days)).isoformat()
            recs.append((k, name, nation, day, round(rng.uniform(-999.99, 9999.99), 2)))
        self.records = recs
        self.windows = monthly_windows()
        rng.shuffle(self.windows)

    def write_parquet(self, path: str) -> None:
        cols = list(zip(*self.records))
        table = pa.table(
            {
                "c_custkey": pa.array(cols[0], pa.int64()),
                "c_name": pa.array(cols[1], pa.string()),
                "c_nationkey": pa.array(cols[2], pa.int32()),
                "c_mktsegment": pa.array(cols[3], pa.string()),
                "c_acctbal": pa.array(cols[4], pa.float64()),
            }
        )
        pq.write_table(table, path)

    def expected(self, window: tuple[str, str]) -> dict[str, int]:
        """``run_backfill``'s metrics for a first load of ``window``:
        every record is extracted, the window keeps its dated records,
        and the per-window dedup inserts one row per distinct Id."""
        lo, hi = window
        inside = [r[0] for r in self.records if lo <= r[3] <= hi]
        return {
            "extracted": len(self.records),
            "after_filter": len(inside),
            "inserted": len(set(inside)),
        }


# --------------------------------------------------------------------------
# lake_cdc: seeded change batches against a keyed transactional table
# --------------------------------------------------------------------------

LAKE_SCHEMA = "id string, v bigint, amount double, op string"


def _key(i: int) -> str:
    return f"k{i:07d}"


class LakeModel:
    """Key -> row state of the txn table, plus the seeded schedule of
    change batches and reads. Each ``next_*`` call returns the batch to
    commit and advances the model to the state the commit must produce.
    """

    WRITE_CYCLE = ("append", "merge", "delete_mor")

    def __init__(self, seed: int, n_initial: int = 4000):
        self.rng = random.Random(seed)
        self.rows: dict[str, tuple] = {}
        self.next_id = 0
        self.n_writes = 0
        self.deleted: list[str] = []
        self.initial = [self._new_row("I") for _ in range(n_initial)]
        for r in self.initial:
            self.rows[r[0]] = r

    def _new_row(self, op: str) -> tuple:
        k = _key(self.next_id)
        self.next_id += 1
        return (k, 0, round(self.rng.uniform(0, 1000), 2), op)

    def _live_sample(self, n: int) -> list[str]:
        return self.rng.sample(sorted(self.rows), min(n, len(self.rows)))

    def next_write(self) -> tuple[str, list]:
        kind = self.WRITE_CYCLE[self.n_writes % len(self.WRITE_CYCLE)]
        self.n_writes += 1
        return kind, getattr(self, f"_{kind}")()

    def _append(self, n_new: int = 200, n_replayed: int = 20) -> list[tuple]:
        """Keyed append: new keys plus already-live keys (a replayed
        extract) that the keyed append must skip."""
        new = [self._new_row("I") for _ in range(n_new)]
        replayed = [self.rows[k] for k in self._live_sample(n_replayed)]
        for r in new:
            self.rows[r[0]] = r
        batch = new + replayed
        self.rng.shuffle(batch)
        return batch

    def _merge(
        self, n_upd: int = 140, n_del: int = 30, n_ins: int = 20, n_absent_del: int = 10
    ) -> list[tuple]:
        """CDC batch: updates and tombstones of live keys, inserts of new
        keys, and tombstones of absent keys (no-ops)."""
        touched = self._live_sample(n_upd + n_del)
        batch = []
        for k in touched[:n_upd]:
            old = self.rows[k]
            row = (k, old[1] + 1, round(self.rng.uniform(0, 1000), 2), "U")
            self.rows[k] = row
            batch.append(row)
        for k in touched[n_upd:]:
            batch.append((k, self.rows[k][1] + 1, 0.0, "D"))
            del self.rows[k]
            self.deleted.append(k)
        for _ in range(n_ins):
            row = self._new_row("I")
            self.rows[row[0]] = row
            batch.append(row)
        for _ in range(n_absent_del):
            batch.append((_key(self.next_id), 0, 0.0, "D"))
            self.next_id += 1
        self.rng.shuffle(batch)
        return batch

    def _delete_mor(self, n: int = 50) -> list[str]:
        keys = self._live_sample(n)
        for k in keys:
            del self.rows[k]
        self.deleted.extend(keys)
        return keys

    def lookup_keys(self, n: int) -> list[tuple[str, tuple | None]]:
        """Point-lookup keys with their expected row: mostly live keys,
        some deleted ones and some never written."""
        out = []
        for _ in range(n):
            u = self.rng.random()
            if u < 0.8 or not self.deleted:
                k = self.rng.choice(sorted(self.rows))
            elif u < 0.9:
                k = self.rng.choice(self.deleted)
            else:
                k = _key(self.next_id + self.rng.randrange(1, 10**6))
            out.append((k, self.rows.get(k)))
        return out

    def count_range(self) -> tuple[str, str, int]:
        """A key range covering ~5% of the key space, with its expected
        live-row count."""
        width = max(self.next_id // 20, 1)
        lo_i = self.rng.randrange(max(self.next_id - width, 1))
        lo, hi = _key(lo_i), _key(lo_i + width)
        return lo, hi, sum(1 for k in self.rows if lo <= k <= hi)

    def live_bytes(self) -> int:
        """Plain-encoded size of the live rows: string bytes plus 8 bytes
        per bigint/double field."""
        return sum(len(r[0]) + len(r[3]) + 16 for r in self.rows.values())


# --------------------------------------------------------------------------
# verify_queries: the star-schema + events tables the plans read
# --------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window sort join small big line customer query order group "
    "filter column data stream"
).split()


def _days(rng: np.random.Generator, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_verify_tables(seed: int, out_dir: str, sf: float = 0.01) -> dict[str, int]:
    """Write the ten tables ``tables.TABLE_NAMES`` names, with the column
    names, types and value domains of the repository's synthetic TPC-H-ish
    set, at scale ``sf``. Returns each table's row count."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_events = int(1_000_000 * sf)
    n_docs = int(50_000 * sf)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    colors = ["red", "blue", "green", "small", "large", "steel"]
    things = ["widget", "ring", "bolt", "gear", "valve"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{colors[a]} {things[b]}"
                for a, b in zip(rng.integers(0, 6, n_part), rng.integers(0, 5, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE"])[
                rng.integers(0, 4, n_part)
            ],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": _money(rng, 900.0, 2000.0, n_part),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 400_000.0, n_ord),
            "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    lines_per_order = rng.integers(1, 8, n_ord)
    n_line = int(lines_per_order.sum())
    orderkey = np.repeat(np.arange(n_ord), lines_per_order)
    first = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    linenumber = np.arange(n_line) - first + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(orderkey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, 900.0, 2000.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", "2001-11-04")),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_events)) + np.datetime64(
        "2024-01-01T00:00:00", "us"
    ).astype(np.int64)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, max(n_events // 66, 1), n_events), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": _money(rng, 0.0, 50.0, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts = [
        " ".join(np.array(WORDS)[rng.integers(0, len(WORDS), int(n))])
        for n in rng.integers(10, 80, n_docs)
    ]
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(["en", "es", "fr"])[rng.integers(0, 3, n_docs)],
            "source": [f"src{i % 7}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    emb = rng.standard_normal((n_docs, 8)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_docs), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_docs), pa.int32()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
