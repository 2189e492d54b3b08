"""Seeded Superstore-shaped CSV batches for the warehouse ETL workload.

Each batch mirrors the reference's ``Sample - Superstore.csv`` (FIXTURES.md
A1): latin1 bytes, raw mixed-case headers, ``M/d/yyyy`` dates, about two
rows per order and a ``category`` column that is blank in about 90% of
rows. Batch 0 is the initial load; every later batch brings some new
customers and products, moves a share of the customers it contains to
another segment and renames a share of the products it contains.

Within one batch every natural key has one attribute tuple, so each batch
has an exact SCD2 outcome. ``expected`` carries it: the row counts the
published dimension, fact and audit tables must hold after the batch is
loaded. The same arguments give byte-identical files.
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Iterator
from dataclasses import dataclass
from datetime import date, timedelta

import numpy as np

HEADER = (
    "Row ID,Order ID,Order Date,Ship Date,Ship Mode,Customer ID,Customer Name,"
    "Segment,Country,City,State,Postal Code,Region,Product ID,category,"
    "Sub-Category,Product Name,Sales,Quantity,Discount,Profit"
)
FIRST = ["José", "Zoë", "Renée", "Björn", "Ana", "François", "Mía", "Søren",
         "Chloé", "Jürgen", "Inés", "Noël", "Maria", "John", "Åsa", "Raúl"]
LAST = ["Müller", "Añez", "García", "Østby", "Lefèvre", "Smith", "Núñez",
        "Brontë", "Sánchez", "Weiß", "Olsen", "Peña", "Hoffmann"]
SEGMENTS = ["Consumer", "Corporate", "Home Office"]
SEGMENT_P = [0.52, 0.30, 0.18]
SHIP_MODES = ["Standard Class", "Second Class", "First Class", "Same Day"]
SHIP_P = [0.61, 0.19, 0.15, 0.05]
# (city, state, postal code, region); a customer's index picks its place
PLACES = [("Los Angeles", "California", 90036, "West"),
          ("New York City", "New York", 10035, "East"),
          ("Seattle", "Washington", 98103, "West"),
          ("Houston", "Texas", 77095, "Central"),
          ("Chicago", "Illinois", 60610, "Central"),
          ("Philadelphia", "Pennsylvania", 19140, "East"),
          ("Columbus", "Ohio", 43229, "East"),
          ("Jacksonville", "Florida", 32216, "South")]
CATEGORIES = ["Clothing", "Electronics", "Beauty"]
SUB_CATEGORIES = ["Binders", "Paper", "Phones", "Storage", "Art", "Chairs",
                  "Furnishings", "Labels", "Accessories", "Appliances",
                  "Tables", "Envelopes", "Bookcases", "Fasteners", "Supplies",
                  "Machines", "Copiers"]
ADJ = ["Premium", "Basic", "Deluxe", "Compact", "Ergonomic", "Heavy Duty",
       "Recycled", "Wireless"]
DISCOUNTS = [0.0, 0.0, 0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.7, 0.8]
NEW_MEMBER_SHARE = 0.05  # new customers and products per later batch
FIRST_ORDER_DAY = date(2014, 1, 3)
ORDER_SPAN_DAYS = 1457  # .. 2017-12-30


@dataclass(frozen=True)
class Expected:
    """Table row counts after a batch is loaded, cumulative over batches."""

    rows: int  # CSV data rows in this batch
    dim_customer_rows: int
    dim_customer_current: int
    dim_product_rows: int
    dim_product_current: int
    dim_store_rows: int
    dim_date_rows: int  # calendar of the initial batch (rebuilt only then)
    fact_rows: int
    audit_rows: int


@dataclass(frozen=True)
class Batch:
    index: int
    path: str
    expected: Expected


def _mdy(d: date) -> str:
    return f"{d.month}/{d.day}/{d.year}"


class _Catalog:
    """Customer and product masters with their current attribute tuples."""

    def __init__(self, rng: np.random.Generator) -> None:
        self.rng = rng
        self.customers: list[str] = []
        self.cust_attrs: dict[str, tuple[str, str, str]] = {}
        self.products: list[str] = []
        self.prod_attrs: dict[str, tuple[str, str, str]] = {}

    def add_customers(self, n: int) -> None:
        rng = self.rng
        for _ in range(n):
            i = len(self.customers)
            first, last = FIRST[rng.integers(len(FIRST))], LAST[rng.integers(len(LAST))]
            cid = f"{first[0]}{last[0]}-{10000 + i * 7:05d}".upper()
            self.customers.append(cid)
            self.cust_attrs[cid] = (
                f"{first} {last}",
                str(rng.choice(SEGMENTS, p=SEGMENT_P)),
                PLACES[i % len(PLACES)][3],
            )

    def add_products(self, n: int) -> None:
        rng = self.rng
        for _ in range(n):
            i = len(self.products)
            sub = SUB_CATEGORIES[rng.integers(len(SUB_CATEGORIES))]
            pid = f"OFF-{sub[:2].upper()}-{10000000 + i * 13:08d}"
            category = CATEGORIES[rng.integers(3)] if rng.random() < 0.1 else ""
            name = f"{ADJ[rng.integers(len(ADJ))]} {sub} {100 + i}"
            self.products.append(pid)
            self.prod_attrs[pid] = (name, category, sub)


def _scd2_step(
    current: dict[str, tuple], batch: dict[str, tuple], rows: int
) -> tuple[int, int]:
    """Apply one batch's distinct members to ``current`` (natural key ->
    current tuple); returns (dimension rows after, current rows after)
    given the dimension had ``rows`` rows before."""
    for key, attrs in batch.items():
        if current.get(key) != attrs:
            rows += 1  # a new member, or a new version of a changed one
            current[key] = attrs
    return rows, len(current)


def iter_batches(
    out_dir: str,
    seed: int,
    rows_per_batch: int = 1000,
    changed_customer_share: float = 0.05,
    renamed_product_share: float = 0.03,
) -> Iterator[Batch]:
    """Write ``batch_000.csv``, ``batch_001.csv`` .. into ``out_dir`` one
    at a time, as they are asked for, and yield each batch with its
    expected post-load counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    cat = _Catalog(rng)
    n_cust0 = max(10, rows_per_batch // 4)
    n_prod0 = max(10, rows_per_batch // 2)
    cat.add_customers(n_cust0)
    cat.add_products(n_prod0)

    cur_cust: dict[str, tuple] = {}
    cur_prod: dict[str, tuple] = {}
    cust_rows = prod_rows = store_rows = fact_rows = audit_rows = 0
    dim_date_rows = 0
    row_id = 1
    order_no = 100000
    for k in itertools.count():
        if k > 0:
            cat.add_customers(max(1, int(n_cust0 * NEW_MEMBER_SHARE)))
            cat.add_products(max(1, int(n_prod0 * NEW_MEMBER_SHARE)))
        n_orders = (rows_per_batch + 1) // 2
        order_cust = rng.integers(0, len(cat.customers), n_orders)
        rows_cust = [cat.customers[order_cust[i // 2]] for i in range(rows_per_batch)]
        rows_prod = [cat.products[j] for j in rng.integers(0, len(cat.products), rows_per_batch)]
        if k > 0:
            for cid in sorted(set(rows_cust)):
                if cid in cur_cust and rng.random() < changed_customer_share:
                    name, seg, region = cat.cust_attrs[cid]
                    others = [s for s in SEGMENTS if s != seg]
                    cat.cust_attrs[cid] = (name, others[rng.integers(2)], region)
            for pid in sorted(set(rows_prod)):
                if pid in cur_prod and rng.random() < renamed_product_share:
                    name, category, sub = cat.prod_attrs[pid]
                    cat.prod_attrs[pid] = (f"{name} r{k}", category, sub)

        order_days = rng.integers(0, ORDER_SPAN_DAYS + 1, n_orders)
        lines = [HEADER]
        dates = []
        for i in range(rows_per_batch):
            o = i // 2
            od = FIRST_ORDER_DAY + timedelta(days=int(order_days[o]))
            dates.append(od)
            sd = od + timedelta(days=int(rng.integers(0, 8)))
            cid, pid = rows_cust[i], rows_prod[i]
            cname, seg, region = cat.cust_attrs[cid]
            pname, category, sub = cat.prod_attrs[pid]
            city, state, postal, _ = PLACES[int(order_cust[o]) % len(PLACES)]
            sales = round(float(rng.lognormal(4.0, 1.2)) + 0.5, 2)
            qty = int(rng.integers(1, 15))
            disc = DISCOUNTS[rng.integers(len(DISCOUNTS))]
            profit = round(sales * float(rng.uniform(-0.4, 0.5)), 4)
            lines.append(
                f"{row_id},CA-{od.year}-{order_no + o},{_mdy(od)},{_mdy(sd)},"
                f"{str(rng.choice(SHIP_MODES, p=SHIP_P))},{cid},{cname},{seg},"
                f"United States,{city},{state},{postal},{region},{pid},{category},"
                f"{sub},{pname},{sales},{qty},{disc},{profit}"
            )
            row_id += 1
        order_no += n_orders

        path = os.path.join(out_dir, f"batch_{k:03d}.csv")
        with open(path, "wb") as f:
            f.write(("\n".join(lines) + "\n").encode("latin1"))

        batch_cust = {c: cat.cust_attrs[c] for c in rows_cust}
        batch_prod = {p: cat.prod_attrs[p] for p in rows_prod}
        cust_rows, cust_cur = _scd2_step(cur_cust, batch_cust, cust_rows)
        prod_rows, prod_cur = _scd2_step(cur_prod, batch_prod, prod_rows)
        if k == 0:
            # the store dimension (natural key city) is loaded once; a
            # city's region never changes, so later batches leave it be
            store_rows = len({PLACES[int(c) % len(PLACES)][0] for c in order_cust})
            dim_date_rows = (max(dates) - min(dates)).days + 1
        fact_rows += rows_per_batch
        # one audit row per published table: all five on the initial
        # load, then the customer and product dims and the fact
        audit_rows += 5 if k == 0 else 3
        yield Batch(
            k,
            path,
            Expected(
                rows_per_batch,
                cust_rows,
                cust_cur,
                prod_rows,
                prod_cur,
                store_rows,
                dim_date_rows,
                fact_rows,
                audit_rows,
            ),
        )
