"""Seeded input generators: everything a workload reads is made here.

The same seed gives byte-identical files; nothing is read from outside the
work directory.  Table shapes mirror the TPC-H-ish catalog tables the
engine's queries expect (``__spark_entry__``): same column names and
types, same value domains, sizes set by a row-count scale.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_EPOCH_1992 = np.datetime64("1992-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _write(table: pa.Table, path: Path) -> None:
    # one row group, no statistics-dependent writer defaults: stable bytes
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def orders_table(n: int, rng: np.random.Generator) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    days = rng.integers(0, 3650, n)
    return pa.table(
        {
            "o_orderkey": keys,
            "o_custkey": rng.integers(0, max(1, n // 10), n).astype(np.int64),
            "o_orderstatus": pa.array(
                np.array(STATUSES)[rng.integers(0, 3, n)]
            ),
            "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, n), 2),
            "o_orderdate": pa.array(
                _EPOCH_1992 + days * _DAY_US, type=pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(
                np.array(PRIORITIES)[rng.integers(0, 5, n)]
            ),
        }
    )


def write_orders(path: Path, n: int, seed: int) -> None:
    _write(orders_table(n, np.random.default_rng([seed, 1])), path)


def write_catalog_tables(out: Path, seed: int, n_orders: int) -> None:
    """The seven tables the catalog mix reads, sized off ``n_orders``
    (150 000 is sf0.1: 600k lineitem, 15k customer, 5k documents, 2k
    embeddings, 100k events over 1.5k users)."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    frac = n_orders / 150_000
    _write(orders_table(n_orders, rng), out / "orders.parquet")

    n_li = 4 * n_orders
    n_part = max(100, int(20_000 * frac))
    _write(
        pa.table(
            {
                "l_orderkey": rng.integers(0, n_orders, n_li).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
                "l_suppkey": rng.integers(0, 1000, n_li).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": pa.array(
                    np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]
                ),
                "l_linestatus": pa.array(
                    np.array(["F", "O"])[rng.integers(0, 2, n_li)]
                ),
                "l_shipdate": pa.array(
                    _EPOCH_1992 + rng.integers(0, 3650, n_li) * _DAY_US,
                    type=pa.timestamp("us"),
                ),
            }
        ),
        out / "lineitem.parquet",
    )

    n_cust = max(100, n_orders // 10)
    _write(
        pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": pa.array(
                    np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]
                ),
            }
        ),
        out / "customer.parquet",
    )
    _write(
        pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        out / "nation.parquet",
    )

    n_docs = max(200, int(5_000 * frac))
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.004:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.03:  # near duplicate: one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(
                " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n_words)])
            )
    _write(
        pa.table(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": pa.array(
                    np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)]
                ),
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        out / "documents.parquet",
    )

    n_vec = max(100, int(2_000 * frac))
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        pa.table(
            {
                "vec_id": np.arange(n_vec, dtype=np.int64),
                "embedding": pa.array(
                    list(vecs), type=pa.list_(pa.float32())
                ),
                "label": rng.integers(0, 10, n_vec).astype(np.int32),
            }
        ),
        out / "embeddings.parquet",
    )

    n_ev = max(1_000, int(100_000 * frac))
    n_users = max(64, int(1_500 * frac))
    ts = np.sort(rng.integers(0, 180 * _DAY_US, n_ev))
    _write(
        pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": pa.array(_EPOCH_2024 + ts, type=pa.timestamp("us")),
                "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
                "event_type": pa.array(
                    np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]
                ),
                "value": np.round(rng.uniform(0, 200, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        out / "events.parquet",
    )


# -- the alert DAG's staged pages --------------------------------------------

CHURN_STATUSES = ["Open", "In Progress", "Issue Resolved", "Closed"]


@dataclass
class Page:
    """One staged SharePoint page: the records and what they should do."""

    records: list[dict]
    updated: dict[int, str]  # Id -> new status
    new_ids: list[int]


class Churn:
    """Deterministic micro-batch pages over a seeded alert population.

    ``bronze`` is every bronze record (seed state first, then the reserve
    that later pages draw their new Ids from).  Each page updates the
    status of ``n_updates`` distinct live Ids and adds ``n_new`` reserve
    Ids; ``_ingest_seq`` only grows, so last-wins picks the page's row.
    """

    def __init__(
        self,
        bronze: list[dict],
        n_state: int,
        seed: int,
        n_updates: int = 15,
        n_new: int = 5,
    ):
        self._rng = np.random.default_rng([seed, 3])
        self._state = bronze[:n_state]
        self._reserve = bronze[n_state:]
        self._by_id = {r["Id"]: r for r in self._state}
        self._ids = [r["Id"] for r in self._state]
        self.status = {r["Id"]: r["Status12"] for r in self._state}
        self._seq = max(r["_ingest_seq"] for r in bronze) + 1
        self.n_updates, self.n_new = n_updates, n_new

    def seed_records(self) -> list[dict]:
        return list(self._state)

    def next_page(self) -> Page:
        picks = self._rng.choice(len(self._ids), self.n_updates, replace=False)
        records, updated = [], {}
        for i in sorted(picks):
            rid = self._ids[i]
            old = self.status[rid]
            choices = [s for s in CHURN_STATUSES if s != old]
            new = choices[int(self._rng.integers(0, len(choices)))]
            records.append(self._stamp(self._by_id[rid], Status12=new))
            updated[rid] = new
        new_ids = []
        for _ in range(self.n_new):
            if not self._reserve:
                raise RuntimeError("reserve of new alert Ids exhausted")
            rec = self._reserve.pop(0)
            records.append(self._stamp(rec))
            self._by_id[rec["Id"]] = rec
            self._ids.append(rec["Id"])
            new_ids.append(rec["Id"])
        for rec in records:
            self.status[rec["Id"]] = rec["Status12"]
        return Page(records, updated, new_ids)

    def _stamp(self, rec: dict, **changes) -> dict:
        out = dict(rec, **changes, _ingest_seq=self._seq)
        self._seq += 1
        return out


def write_page(path: Path, records: list[dict]) -> None:
    with open(path, "w") as f:
        for rec in records:
            f.write(json.dumps(rec, sort_keys=True) + "\n")
