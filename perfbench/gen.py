"""Seeded input generation for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same rows. Nothing here reads outside the output directory it is given.

- `relational_tables`: the eight TPC-H-style tables the relational
  headline queries read (same schemas and value domains as the test
  corpus described in TESTDATA.md), at `scale` times the sf1 row counts.
- `corpus`: documents and embeddings through `tools/gen_scale_corpus.py`
  (10k-word Zipf vocabulary with ~2% planted near-duplicates).
- `CdcChangelog`: a lineitem changelog, a backfill followed by
  fixed-size epochs of inserts, updates (a share move the group key),
  deletes and order-priority changes that fan out to the order's lines.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "green", "old", "new", "hot"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
RETURN_FLAGS = ["A", "N", "R"]


def _ts(days: np.ndarray, base: dt.datetime) -> pa.Array:
    us = (np.asarray(days, dtype=np.float64) * 86_400e6).astype(np.int64)
    base_us = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    return pa.array(us + base_us, pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> int:
    tbl = pa.table(cols)
    pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=20_000)
    return tbl.num_rows


def relational_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write region, nation, customer, supplier, part, orders, lineitem
    and events. Returns table -> row count."""
    rng = np.random.RandomState(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 50)
    n_ord = max(int(1_500_000 * scale), 100)
    n_users = max(int(15_000 * scale), 20)
    n_events = max(int(1_000_000 * scale), 200)
    rows = {
        "region": _write(out_dir, "region", {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": _write(out_dir, "nation", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": _write(out_dir, "customer", {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.randint(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.randint(0, 5, n_cust)],
        }),
        "supplier": _write(out_dir, "supplier", {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.randint(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
    }
    adj = rng.randint(0, len(PART_ADJ), n_part)
    noun = rng.randint(0, len(PART_NOUN), n_part)
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.randint(1, 26, n_part)],
        "p_type": [PART_TYPES[t] for t in rng.randint(0, 6, n_part)],
        "p_size": pa.array(rng.randint(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    o_days = rng.randint(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][s] for s in rng.randint(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(o_days, dt.datetime(1995, 1, 1)),
        "o_orderpriority": [PRIORITIES[p] for p in rng.randint(0, 5, n_ord)],
    })
    # as in the test corpus (sf0.01: 60,000 lines for 15,000 orders): four
    # lines per order on average, each line's order, line number (1-7) and
    # ship date drawn independently, so lines per order are ~Poisson(4)
    # (1.7% of orders have none) and (order, line number) repeats
    n_li = 4 * n_ord
    qty = rng.randint(1, 51, n_li).astype(np.float64)
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.randint(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.randint(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.randint(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.randint(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.randint(0, 9, n_li) * 0.01, 2),
        "l_returnflag": [RETURN_FLAGS[f] for f in rng.randint(0, 3, n_li)],
        "l_linestatus": [["F", "O"][s] for s in rng.randint(0, 2, n_li)],
        "l_shipdate": _ts(rng.randint(0, 2404, n_li) + rng.randint(1, 122, n_li),
                          dt.datetime(1995, 1, 1)),
    })
    # distinct microsecond timestamps over 30 days
    span = 30 * 86_400_000_000
    ev_us = np.sort(rng.randint(0, span - n_events, n_events)) + np.arange(n_events)
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": _ts(ev_us / 86_400e6, dt.datetime(2024, 1, 1)),
        "user_id": pa.array(rng.randint(0, n_users, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[e] for e in rng.randint(0, 5, n_events)],
        "value": np.round(rng.uniform(0.01, 500.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_events)],
    })
    return rows


def corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict[str, int]:
    """documents + embeddings through tools/gen_scale_corpus.py. Its
    vocabulary seeds from a documents file; the one written here holds
    no words, so the vocabulary is its 10k synthetic Zipf words only."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import gen_scale_corpus as gsc

    os.makedirs(out_dir, exist_ok=True)
    vocab_dir = os.path.join(out_dir, "_vocab")
    os.makedirs(vocab_dir, exist_ok=True)
    _write(vocab_dir, "documents", {"text": pa.array([""], pa.string())})
    gsc.SRC = vocab_dir
    rng = np.random.RandomState(seed)
    return {
        "documents": gsc.gen_documents(out_dir, n_docs, rng),
        "embeddings": gsc.gen_embeddings(out_dir, n_vecs, rng),
    }


LINE_COLS = [("l_orderkey", "long"), ("l_linenumber", "long"),
             ("o_orderpriority", "string"), ("l_quantity", "long"),
             ("l_price", "long"), ("l_returnflag", "string")]


class CdcChangelog:
    """Seeded lineitem changelog with the order priority carried on each
    line (as a CDC source emitting the lineitem-orders join would).
    `backfill()` returns the initial inserts; each `epoch(txid)` returns
    about `epoch_rows` operations: line inserts, updates (`move_share` of
    them move the line's return flag, a group key), deletes, and
    `epoch_rows // 40` order-priority changes that fan out to an update
    of every live line of the order. Rows are tuples
    (__op, __txid, __seq, *LINE_COLS); amounts are whole numbers so
    aggregates compare exactly. At most one operation per line per epoch."""

    def __init__(self, seed: int, n_orders: int, epoch_rows: int,
                 move_share: float = 0.3):
        self.rng = np.random.RandomState(seed)
        self.n_orders = n_orders
        self.epoch_rows = epoch_rows
        self.move_share = move_share
        rng = self.rng
        self.priority = [PRIORITIES[p] for p in rng.randint(0, 5, n_orders)]
        # (orderkey, linenumber) -> [qty, price, flag]
        self.lines: dict[tuple[int, int], list] = {}
        # lines per order ~Poisson(4), as in the test corpus
        for k in range(n_orders):
            for ln in range(1, int(rng.poisson(4)) + 1):
                self.lines[(k, ln)] = self._line_values()
        self._next_line = 100

    def _line_values(self) -> list:
        r = self.rng
        return [int(r.randint(1, 51)), int(r.randint(1_000, 100_000)),
                RETURN_FLAGS[r.randint(3)]]

    def _row(self, op: str, txid: int, seq: int, k: tuple, v: list) -> tuple:
        return (op, txid, seq, k[0], k[1], self.priority[k[0]], *v)

    def backfill(self) -> list:
        return [self._row("I", 0, i, k, v) for i, (k, v) in enumerate(self.lines.items())]

    def epoch(self, txid: int) -> list:
        r = self.rng
        rows: dict[tuple, tuple] = {}  # one operation per line per epoch
        keys = list(self.lines)
        for _ in range(self.epoch_rows):
            u = r.rand()
            if u < 0.4:
                k = (int(r.randint(self.n_orders)), self._next_line)
                self._next_line += 1
                self.lines[k] = v = self._line_values()
                rows[k] = ("I", v)
                continue
            k = keys[r.randint(len(keys))]
            if k in rows or k not in self.lines:
                continue
            if u < 0.8:
                v = self.lines[k]
                v[0] = int(r.randint(1, 51))
                if r.rand() < self.move_share:
                    v[2] = RETURN_FLAGS[(RETURN_FLAGS.index(v[2]) + 1) % 3]
                rows[k] = ("U", v)
            else:
                rows[k] = ("D", self.lines.pop(k))
        by_order: dict[int, list] = {}
        for k in self.lines:
            by_order.setdefault(k[0], []).append(k)
        for ok in sorted(set(int(x) for x in
                             r.randint(0, self.n_orders, max(self.epoch_rows // 40, 1)))):
            self.priority[ok] = PRIORITIES[(PRIORITIES.index(self.priority[ok]) + 1) % 5]
            for k in by_order.get(ok, []):
                rows[k] = ("I", self.lines[k]) if rows.get(k, ("U",))[0] == "I" \
                    else ("U", self.lines[k])
        return [self._row(op, txid, seq, k, list(v))
                for seq, (k, (op, v)) in enumerate(rows.items())]

    def expected_groups(self) -> dict[tuple[str, str], tuple[int, int, int]]:
        """(o_orderpriority, l_returnflag) -> (sum price, sum qty, lines)
        over the current lines, replayed in plain Python."""
        out: dict = {}
        for (ok, _), (qty, price, flag) in self.lines.items():
            key = (self.priority[ok], flag)
            s = out.get(key, (0, 0, 0))
            out[key] = (s[0] + price, s[1] + qty, s[2] + 1)
        return out
