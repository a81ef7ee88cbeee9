"""Seeded, vectorised generator of reference-shaped raw CSVs.

Writes the three raw feeds the reference ingests (products snapshot,
daily orders, daily order_items at ~1 : 5.4) and returns the exact row
accounting a correct pipeline must reproduce.  Every batch carries
seeded counts of each dirty kind:

- orders: null PK, malformed timestamp, non-positive amount, duplicate
  PK, unparseable line;
- order_items: null PK, malformed timestamp, dangling ``order_id``,
  dangling ``product_id``, duplicate PK, unparseable line;

plus late corrections: clean re-sends of keys already curated, dated
in earlier partitions, so a MERGE has to rewrite those partitions.

Each dirty row carries exactly one defect, so the expected outcome of
every row is known when it is written.  Columns are built with numpy
and written through Arrow's CSV writer; only the unparseable lines are
appended as raw text.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

START_DAY = np.datetime64("2024-01-01")
N_PRODUCTS = 1000
DEPARTMENTS = [
    "alcohol", "babies", "bakery", "beverages", "breakfast", "bulk",
    "canned goods", "dairy eggs", "deli", "dry goods pasta", "frozen",
    "household", "international", "meat seafood", "missing", "other",
    "pantry", "personal care", "pets", "produce", "snacks",
]
ITEMS_PER_ORDER = 5.4
# Key ranges that never collide with generated keys: FK probes into
# them must fail.
DANGLING_ORDER_BASE = 2_000_000_000
DANGLING_PRODUCT_BASE = 100_000

COLUMNS = {
    "products": ["product_id", "department_id", "department", "product_name"],
    "orders": [
        "order_num", "order_id", "user_id", "order_timestamp",
        "total_amount", "date",
    ],
    "order_items": [
        "id", "order_id", "user_id", "days_since_prior_order", "product_id",
        "add_to_cart_order", "reordered", "order_timestamp", "date",
    ],
}
PK = {"products": "product_id", "orders": "order_id", "order_items": "id"}

# Per 10k raw rows of a table: (low, high) bounds of each dirty kind's
# seeded count.  Kinds map to the outcome a correct pipeline gives them.
DIRTY = {
    "orders": {
        "null_pk": (30, 60),
        "bad_ts": (20, 40),
        "non_positive": (30, 60),
        "dup_pk": (40, 80),
        "unparseable": (10, 30),
    },
    "order_items": {
        "null_pk": (8, 16),
        "bad_ts": (5, 10),
        "dangling_order": (8, 16),
        "dangling_product": (8, 16),
        "dup_pk": (10, 20),
        "unparseable": (3, 6),
    },
}
REJECT_MESSAGE = {
    ("orders", "null_pk"): "Null order_id",
    ("orders", "non_positive"): "Non-positive total_amount",
    ("order_items", "null_pk"): "Null id",
    ("order_items", "dangling_order"): "Invalid order_id reference",
    ("order_items", "dangling_product"): "Invalid product_id reference",
}
CORRUPT_KINDS = ("bad_ts", "unparseable")


@dataclass
class TableAccount:
    """Expected fate of one table's raw rows in one batch."""

    raw: int = 0
    corrupt: int = 0
    rejected: dict[str, int] = field(default_factory=dict)
    dropped: int = 0  # duplicate PKs removed by dedup
    new_keys: int = 0  # clean rows whose key was not curated before
    corrections: int = 0  # clean rows replacing a curated key

    @property
    def rejected_total(self) -> int:
        return sum(self.rejected.values())

    @property
    def clean(self) -> int:
        return self.raw - self.corrupt - self.rejected_total - self.dropped


@dataclass
class Batch:
    name: str
    raw_dir: str
    account: dict[str, TableAccount]

    @property
    def raw_paths(self) -> dict[str, str]:
        return {t: os.path.join(self.raw_dir, t, "*.csv") for t in COLUMNS}

    @property
    def raw_rows(self) -> int:
        return sum(a.raw for a in self.account.values())


def _day_str(day: int) -> str:
    return str(START_DAY + day)


def _write_csv(path: str, table: str, cols: dict, extra_lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write((",".join(COLUMNS[table]) + "\n").encode())
        pacsv.write_csv(
            pa.table({c: cols[c] for c in COLUMNS[table]}),
            fh,
            pacsv.WriteOptions(include_header=False, quoting_style="none"),
        )
        if extra_lines:
            fh.write(("\n".join(extra_lines) + "\n").encode())


def _concat(parts: list[dict]) -> dict:
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}


def _take(cols: dict, idx: np.ndarray) -> dict:
    return {k: v[idx] for k, v in cols.items()}


class Generator:
    """Stateful seeded source of batches.

    State is the set of keys already handed out and, per day, the clean
    rows curated so far (the pool late corrections are drawn from).
    The same seed and the same sequence of ``batch`` calls give
    byte-identical files and identical accounting.
    """

    def __init__(self, seed: int, out_dir: str):
        self.rng = np.random.default_rng(seed)
        self.out_dir = out_dir
        self.next_order = 1
        self.next_item = 1
        self.n_batches = 0
        self.clean_by_day: dict[int, dict[str, dict]] = {}
        rng = self.rng
        dept = rng.integers(1, len(DEPARTMENTS) + 1, N_PRODUCTS)
        self.products = {
            "product_id": np.arange(1, N_PRODUCTS + 1, dtype=np.int32),
            "department_id": dept.astype(np.int32),
            "department": np.asarray(DEPARTMENTS, dtype=object)[dept - 1],
            "product_name": np.asarray(
                [f"product {i} size {s}" for i, s in
                 zip(range(1, N_PRODUCTS + 1), rng.integers(1, 9, N_PRODUCTS))],
                dtype=object,
            ),
        }

    # -- one day's fresh rows -------------------------------------------
    def _fresh_day(self, day: int, n_orders: int) -> tuple[dict, dict]:
        rng = self.rng
        oid = np.arange(self.next_order, self.next_order + n_orders, dtype=np.int64)
        self.next_order += n_orders
        secs = np.sort(rng.integers(0, 86_400, n_orders))
        ts = (START_DAY + day).astype("datetime64[s]") + secs
        user = rng.integers(1, 50_001, n_orders)
        orders = {
            "order_num": rng.integers(1, 101, n_orders).astype(np.int64),
            "order_id": oid,
            "user_id": user,
            "order_timestamp": np.datetime_as_string(ts, unit="s"),
            "total_amount": np.round(rng.uniform(5.0, 500.0, n_orders), 2),
            "date": np.full(n_orders, _day_str(day), dtype=object),
        }
        per = 1 + rng.poisson(ITEMS_PER_ORDER - 1, n_orders)
        owner = np.repeat(np.arange(n_orders), per)
        n_items = owner.size
        starts = np.repeat(np.cumsum(per) - per, per)
        items = {
            "id": np.arange(self.next_item, self.next_item + n_items, dtype=np.int64),
            "order_id": oid[owner],
            "user_id": user[owner],
            "days_since_prior_order": rng.integers(0, 31, n_items).astype(float),
            "product_id": rng.integers(1, N_PRODUCTS + 1, n_items),
            "add_to_cart_order": np.arange(n_items) - starts + 1,
            "reordered": rng.integers(0, 2, n_items),
            "order_timestamp": orders["order_timestamp"][owner],
            "date": orders["date"][owner],
        }
        self.next_item += n_items
        # a nullable column with real nulls (dedup orders nulls last)
        items["days_since_prior_order"][rng.random(n_items) < 0.06] = np.nan
        return orders, items

    def _counts(self, table: str, n_rows: int) -> dict[str, int]:
        scale = n_rows / 10_000
        return {
            kind: int(self.rng.integers(round(lo * scale), round(hi * scale) + 1))
            for kind, (lo, hi) in DIRTY[table].items()
        }

    def _corrections(self, table: str, days: list[int], per_day: int) -> dict | None:
        parts = []
        for d in days:
            pool = self.clean_by_day[d][table]
            n = min(per_day, len(pool[PK[table]]))
            idx = self.rng.choice(len(pool[PK[table]]), n, replace=False)
            rows = _take(pool, np.sort(idx))
            if table == "orders":
                rows["total_amount"] = np.round(rows["total_amount"] + 1.25, 2)
            else:
                rows["reordered"] = 1 - rows["reordered"]
            parts.append(rows)
        return _concat(parts) if parts else None

    # -- a batch --------------------------------------------------------
    def batch(
        self,
        days: list[int],
        orders_per_day: int,
        correction_days: list[int] = (),
        corrections_per_day: int = 0,
    ) -> Batch:
        """Write one ingest batch: ``days`` of fresh traffic plus late
        corrections of ``corrections_per_day`` orders (and 5.4x as many
        items) into each of ``correction_days`` (days already curated)."""
        rng = self.rng
        name = f"batch{self.n_batches:03d}"
        self.n_batches += 1
        raw_dir = os.path.join(self.out_dir, name)
        account = {t: TableAccount() for t in COLUMNS}

        _write_csv(os.path.join(raw_dir, "products", "products.csv"),
                   "products", self.products, [])
        account["products"].raw = N_PRODUCTS
        account["products"].new_keys = N_PRODUCTS if self.n_batches == 1 else 0
        account["products"].corrections = N_PRODUCTS - account["products"].new_keys

        corr = {
            t: self._corrections(t, list(correction_days), n)
            for t, n in (
                ("orders", corrections_per_day),
                ("order_items", round(corrections_per_day * ITEMS_PER_ORDER)),
            )
        }
        for i, day in enumerate(days):
            orders, items = self._fresh_day(day, orders_per_day)
            self.clean_by_day[day] = {"orders": orders, "order_items": items}
            fresh = {"orders": orders, "order_items": items}
            for table, rows in fresh.items():
                n_fresh = len(rows[PK[table]])
                kinds = self._counts(table, n_fresh)
                acc = account[table]
                dirty, lines = self._dirty(table, rows, kinds)
                parts = [rows] + dirty
                if i == 0 and corr[table] is not None:
                    parts.append(corr[table])
                    acc.corrections += len(corr[table][PK[table]])
                out = _concat(parts)
                acc.raw += len(out[PK[table]]) + len(lines)
                acc.new_keys += n_fresh
                acc.dropped += kinds["dup_pk"]
                for kind in CORRUPT_KINDS:
                    acc.corrupt += kinds[kind]
                for kind, n in kinds.items():
                    msg = REJECT_MESSAGE.get((table, kind))
                    if msg and n:
                        acc.rejected[msg] = acc.rejected.get(msg, 0) + n
                perm = rng.permutation(len(out[PK[table]]))
                _write_csv(
                    os.path.join(raw_dir, table, f"{table}_{_day_str(day)}.csv"),
                    table, self._arrow(_take(out, perm)), lines,
                )
        return Batch(name=name, raw_dir=raw_dir, account=account)

    def _dirty(self, table: str, rows: dict, kinds: dict) -> tuple[list, list]:
        """Dirty rows derived from this day's fresh rows, one defect each."""
        rng = self.rng
        n = len(rows[PK[table]])
        parts = []

        def sample(k: int) -> dict:
            return _take(rows, rng.choice(n, k, replace=False))

        dup = sample(kinds["dup_pk"])
        if table == "orders":
            dup["total_amount"] = np.round(dup["total_amount"] + 7.5, 2)
        else:
            dup["add_to_cart_order"] = dup["add_to_cart_order"] + 50
        parts.append(dup)
        # Defects below sit on copies given fresh keys, so they never
        # collide with a clean row's key.
        for kind in kinds:
            if kind in ("dup_pk", "unparseable"):
                continue
            k = kinds[kind]
            rows_k = sample(k)
            if table == "orders":
                rows_k["order_id"] = np.arange(self.next_order, self.next_order + k)
                self.next_order += k
            else:
                rows_k["id"] = np.arange(self.next_item, self.next_item + k)
                self.next_item += k
            if kind == "null_pk":
                rows_k[PK[table]] = rows_k[PK[table]].astype(float)
                rows_k[PK[table]][:] = np.nan
            elif kind == "bad_ts":
                rows_k["order_timestamp"] = np.full(k, "2024-02-30T25:61:00")
            elif kind == "non_positive":
                rows_k["total_amount"] = -np.round(rng.uniform(0.0, 50.0, k), 2)
            elif kind == "dangling_order":
                rows_k["order_id"] = DANGLING_ORDER_BASE + rng.integers(0, 10**8, k)
            elif kind == "dangling_product":
                rows_k["product_id"] = DANGLING_PRODUCT_BASE + rng.integers(0, 10**5, k)
            parts.append(rows_k)
        lines = [
            f"unparseable {table} record {v}"
            for v in rng.integers(0, 10**9, kinds["unparseable"])
        ]
        return parts, lines

    @staticmethod
    def _arrow(cols: dict) -> dict:
        """numpy columns -> Arrow arrays; NaN in numeric key/int columns
        is a missing value (written as an empty field)."""
        out = {}
        for k, v in cols.items():
            if v.dtype.kind == "f" and k != "total_amount":
                out[k] = pa.array(v, mask=np.isnan(v)).cast(pa.int64())
            elif v.dtype.kind in "iu":
                out[k] = pa.array(v.astype(np.int64))
            elif v.dtype.kind == "f":
                out[k] = pa.array(v)
            else:
                out[k] = pa.array(v.astype(str) if v.dtype.kind == "U" else v)
        return out
