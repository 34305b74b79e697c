"""Seeded input generators for the three benchmark workloads.

Everything the program under test sees is built here from ``--seed``:

- :func:`write_tables` writes the ten TPC-H-ish parquet tables the query
  registry reads (``catalog.TABLES``), with the column domains the
  registry's filters and oracles expect;
- :class:`CdcScenario` synthesizes a Debezium-JSON changelog: an ``r``-op
  snapshot of the four CDC tables, then fixed-size micro-batches of inserts,
  updates and deletes over Zipf-skewed order keys, while keeping the
  expected latest state as plain Python rows;
- :class:`DedupScenario` synthesizes a document corpus and batches with a
  set share of cross-batch and in-batch prefix duplicates.

Same seed, same bytes: every random draw comes from one seeded
``numpy.random.Generator`` per generator object, consumed in a fixed order.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "the a data spark stream join key value row batch window merge scan sort "
    "filter group hash table query order part line customer column vector agg "
    "small big fast slow"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "blue", "hot", "cold", "old", "new", "small", "large"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]

#: Row counts per table at scale 1.0 (the repo's sf0.001 test corpus).
TABLE_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def _days(start: dt.datetime, offsets: np.ndarray) -> list[dt.datetime]:
    return [start + dt.timedelta(days=int(d)) for d in offsets]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; ~5% exact and ~10% near copies of earlier
    documents so the dedup and similarity operators find pairs."""
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and u < 0.15:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_words(rng, int(rng.integers(8, 80))))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors clustered around ten label centroids."""
    centroids = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + 0.6 * rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def make_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The ten registry tables as Arrow tables; ``scale`` multiplies the
    row counts of :data:`TABLE_ROWS`."""
    rng = np.random.default_rng([seed, 1])
    n = {t: max(5, int(r * scale)) for t, r in TABLE_ROWS.items()}
    out: dict[str, pa.Table] = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(range(npart), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(npart) % 200) * 0.1, 2),
        }
    )
    start = dt.datetime(1995, 1, 1)
    order_days = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
            "o_orderdate": pa.array(_days(start, order_days), pa.timestamp("us")),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    l_order = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": pa.array(
                _days(start, order_days[l_order] + rng.integers(1, 122, nl)),
                pa.timestamp("us"),
            ),
        }
    )
    ne = n["events"]
    n_users = max(5, ne // 60)
    t0 = dt.datetime(2024, 1, 1)
    secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": pa.array(
                [t0 + dt.timedelta(microseconds=int(s * 1e6)) for s in secs],
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, n_users, ne), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# CDC changelog

#: Skew of the order keys that updates and deletes pick (rank r ∝ 1/r^s).
ZIPF_S = 1.1


def envelope(op: str, ts_ms: int, table: str, after=None, before=None) -> str:
    """One Debezium-JSON change event (MySQL connector envelope shape)."""
    return json.dumps(
        {
            "before": before,
            "after": after,
            "source": {"db": "ec", "table": table, "ts_ms": ts_ms},
            "op": op,
            "ts_ms": ts_ms,
        },
        separators=(",", ":"),
    )


class CdcScenario:
    """Snapshot plus replay batches for the reference pipeline's four CDC
    tables, with the expected latest state kept alongside.

    ``state[table]`` maps primary key → row dict and always equals the
    latest state after every envelope handed out so far.
    """

    TABLES = ("users", "products", "orders", "order_items")
    STATUSES = ("created", "payed", "closed")
    PREFIX = {"users": "u", "products": "p", "orders": "o", "order_items": "i"}

    def __init__(self, seed: int, orders: int):
        self.rng = np.random.default_rng([seed, 2])
        self.n_orders = orders
        self.n_items = orders * 4
        self.n_users = max(10, orders // 10)
        self.n_products = max(10, orders * 2 // 15)
        self.ts = 1_600_000_000_000
        self.state: dict[str, dict[str, dict]] = {t: {} for t in self.TABLES}
        self.order_keys: list[str] = []  # every order id ever created
        self.next_id = {t: 0 for t in self.TABLES}
        self._zipf_cdf: np.ndarray | None = None
        #: (table, key) pairs changed by the latest snapshot or batch
        self.changed: set[tuple[str, str]] = set()

    # -- row factories ---------------------------------------------------

    def _tick(self) -> int:
        self.ts += 1
        return self.ts

    def _stamp(self) -> str:
        base = dt.datetime(2020, 7, 1) + dt.timedelta(seconds=(self.ts // 1000) % (40 * 86400))
        return base.strftime("%Y-%m-%d %H:%M:%S")

    def _new_id(self, table: str) -> str:
        i = self.next_id[table]
        self.next_id[table] = i + 1
        return f"{self.PREFIX[table]}{i:07d}"

    def _user(self) -> dict:
        t = self._stamp()
        return {"id": self._new_id("users"), "name": _words(self.rng, 2),
                "age": int(self.rng.integers(18, 80)), "ctime": t, "utime": t}

    def _product(self) -> dict:
        t = self._stamp()
        return {"id": self._new_id("products"), "name": _words(self.rng, 2),
                "price": float(self.rng.integers(1, 500)), "ctime": t, "utime": t}

    def _order(self) -> dict:
        # ctime spread over 30 days so the daily rollups have many groups
        day = dt.datetime(2020, 7, 1) + dt.timedelta(days=int(self.rng.integers(0, 30)))
        t = day.strftime("%Y-%m-%d") + " 10:00:00"
        user = f"u{int(self.rng.integers(0, self.n_users)):07d}"
        return {"id": self._new_id("orders"), "user_id": user,
                "amount": float(self.rng.integers(1, 1000)),
                "status": self.STATUSES[int(self.rng.integers(0, 3))],
                "channel": ["web", "app", "wechat"][int(self.rng.integers(0, 3))],
                "ctime": t, "utime": t}

    def _item(self, order_id: str) -> dict:
        price = float(self.rng.integers(1, 200))
        qty = int(self.rng.integers(1, 5))
        product = f"p{int(self.rng.integers(0, self.n_products)):07d}"
        return {"id": self._new_id("order_items"), "order_id": order_id,
                "product_id": product, "price": price, "quantity": qty,
                "amount": price * qty}

    # -- changelog -------------------------------------------------------

    def _emit(self, out: dict[str, list[str]], table: str, op: str, row: dict | None,
              before: dict | None = None) -> None:
        out[table].append(envelope(op, self._tick(), table, after=row, before=before))
        key = (row or before)["id"]
        self.changed.add((table, key))
        if op == "d":
            del self.state[table][key]
        else:
            self.state[table][key] = row

    def snapshot(self) -> dict[str, list[str]]:
        """The ``r``-op bootstrap of all four tables."""
        out: dict[str, list[str]] = {t: [] for t in self.TABLES}
        self.changed = set()
        for _ in range(self.n_users):
            self._emit(out, "users", "r", self._user())
        for _ in range(self.n_products):
            self._emit(out, "products", "r", self._product())
        for _ in range(self.n_orders):
            row = self._order()
            self.order_keys.append(row["id"])
            self._emit(out, "orders", "r", row)
        order_ids = list(self.state["orders"])
        for _ in range(self.n_items):
            oid = order_ids[int(self.rng.integers(0, len(order_ids)))]
            self._emit(out, "order_items", "r", self._item(oid))
        return out

    def _hot_order(self) -> str:
        """A Zipf-skewed pick over every order key ever created (rank 1 is
        the hottest)."""
        n = len(self.order_keys)
        if self._zipf_cdf is None or len(self._zipf_cdf) != n:
            w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
            self._zipf_cdf = np.cumsum(w) / w.sum()
        rank = int(np.searchsorted(self._zipf_cdf, self.rng.random()))
        return self.order_keys[min(rank, n - 1)]

    def batch(self, size: int) -> dict[str, list[str]]:
        """One micro-batch of ``size`` change events (``size + 1`` when the
        last pick is a new order, which comes with its item). Mix: 45%
        order updates (status flips to and from ``closed``, amount
        changes), 20% new orders, 10% order deletes, 15% item updates, 10%
        user/product updates. A pick that lands on a deleted order becomes
        a new order."""
        out: dict[str, list[str]] = {t: [] for t in self.TABLES}
        self.changed = set()
        orders = self.state["orders"]
        emitted = 0
        while emitted < size:
            u = self.rng.random()
            key = self._hot_order()
            if u < 0.20 or key not in orders:
                row = self._order()
                self.order_keys.append(row["id"])
                self._emit(out, "orders", "c", row)
                self._emit(out, "order_items", "c", self._item(row["id"]))
                emitted += 2
            elif u < 0.65:
                old = orders[key]
                new = dict(old)
                if self.rng.random() < 0.7:
                    # to and from 'closed' both happen: retraction both ways
                    new["status"] = "payed" if old["status"] == "closed" else "closed"
                else:
                    new["amount"] = float(self.rng.integers(1, 1000))
                new["utime"] = self._stamp()
                self._emit(out, "orders", "u", new, before=old)
                emitted += 1
            elif u < 0.75:
                self._emit(out, "orders", "d", None, before=orders[key])
                emitted += 1
            elif u < 0.90:
                items = self.state["order_items"]
                old = items[f"i{int(self.rng.integers(0, self.next_id['order_items'])):07d}"]
                new = dict(old)
                new["quantity"] = int(self.rng.integers(1, 5))
                new["amount"] = new["price"] * new["quantity"]
                self._emit(out, "order_items", "u", new, before=old)
                emitted += 1
            else:
                table = "users" if self.rng.random() < 0.5 else "products"
                old = self.state[table][
                    f"{self.PREFIX[table]}{int(self.rng.integers(0, self.next_id[table])):07d}"
                ]
                new = dict(old)
                new["name"] = _words(self.rng, 2)
                new["utime"] = self._stamp()
                self._emit(out, table, "u", new, before=old)
                emitted += 1
        return out


# ---------------------------------------------------------------------------
# Streaming dedup corpus

#: Fingerprint length in tokens, as ``operators.dedup.PREFIX_TOKENS``.
PREFIX_TOKENS = 8
#: Shares of a batch that copy the prefix of an earlier document and of a
#: document of the same batch.
CROSS_DUP = 0.2
IN_DUP = 0.1


class DedupScenario:
    """Seed corpus and fixed-size batches for the streaming text dedup.

    A document's fingerprint is its first :data:`PREFIX_TOKENS` tokens.
    Each batch draws :data:`CROSS_DUP` of its documents as prefix copies of
    a document from an earlier batch (or the seed corpus) and
    :data:`IN_DUP` as prefix copies of another document of the same batch;
    the rest are fresh. Doc ids are unique and increase across batches but are shuffled
    within a batch, so the in-batch lowest-id rule is exercised.
    """

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 3])
        self.next_id = 0
        self.seen: list[str] = []  # texts of every earlier document

    def _fresh(self) -> str:
        return _words(self.rng, int(self.rng.integers(PREFIX_TOKENS + 2, 60)))

    def _copy_prefix(self, text: str) -> str:
        head = text.split(" ")[:PREFIX_TOKENS]
        tail = _words(self.rng, int(self.rng.integers(1, 30)))
        return " ".join(head) + " " + tail

    def batch(self, size: int) -> list[tuple[int, str]]:
        texts: list[str] = []
        for _ in range(size):
            u = self.rng.random()
            if self.seen and u < CROSS_DUP:
                texts.append(self._copy_prefix(self.seen[int(self.rng.integers(0, len(self.seen)))]))
            elif texts and u < CROSS_DUP + IN_DUP:
                texts.append(self._copy_prefix(texts[int(self.rng.integers(0, len(texts)))]))
            else:
                texts.append(self._fresh())
        ids = list(range(self.next_id, self.next_id + size))
        self.next_id += size
        order = self.rng.permutation(size)
        self.seen.extend(texts)
        return [(ids[int(j)], texts[i]) for i, j in enumerate(order)]


def fingerprint(text: str) -> str:
    """The prefix fingerprint of ``operators.dedup._prefix_fp`` for
    single-space separated text."""
    return " ".join(text.strip(" ").split(" ")[:PREFIX_TOKENS])


def first_owner_decisions(batches: list[list[tuple[int, str]]]) -> dict[int, bool]:
    """Plain-Python reference of the first-owner rule: per fingerprint the
    first batch that carries it owns it, and within that batch the lowest
    doc id; every other document is dropped."""
    owner: dict[str, int] = {}
    kept: dict[int, bool] = {}
    for docs in batches:
        first_in_batch: dict[str, int] = {}
        for doc_id, text in docs:
            fp = fingerprint(text)
            if fp not in first_in_batch or doc_id < first_in_batch[fp]:
                first_in_batch[fp] = doc_id
        for fp, doc_id in first_in_batch.items():
            owner.setdefault(fp, doc_id)
        for doc_id, text in docs:
            kept[doc_id] = owner[fingerprint(text)] == doc_id
    return kept
