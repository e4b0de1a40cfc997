"""Seeded input generation for the ingest workload.

``write_event_backlog`` writes the streaming backlog in the reference
producer's wire format, with a seeded ~1% of the lines corrupted;
``expected_landing`` recomputes, from the files alone, what the two
materialized views must land.
"""

from __future__ import annotations

import json
import os
from decimal import Decimal

import numpy as np

#: Share of backlog lines corrupted, per stream. Sales lines are split
#: between malformed JSON and a dropped ``price`` key (both must be
#: filtered by the sales view); stock lines are only ever malformed.
BAD_SHARE = 0.01
CATEGORIES = ("Электроника", "Одежда", "Продукты", "Книги", "Бытовая техника")
WAREHOUSES = ("Москва", "Санкт-Петербург", "Новосибирск", "Екатеринбург", "Казань", "Челябинск")
MOVEMENTS = ("supply", "relocation", "write_off")


def _event_lines(n_events: int, seed: int) -> tuple[list[str], list[str]]:
    """The two topics' JSON lines in the reference producer's wire
    format (FIXTURES.md A1/A2): a 50-product catalog with fixed prices,
    a 70/30 sales/stock mix, event times within January 2024."""
    rng = np.random.default_rng(seed)
    price = np.round(rng.uniform(100, 10_000, 50), 2)
    category = rng.integers(0, len(CATEGORIES), 50)
    is_sale = rng.random(n_events) < 0.7
    product = rng.integers(1, 51, n_events)
    second = rng.integers(0, 30 * 86_400, n_events)
    u = rng.random((n_events, 4))
    bad = rng.random(n_events)
    epoch = np.datetime64("2024-01-01T00:00:00", "s")
    sales, stock = [], []
    for i in range(n_events):
        p = int(product[i])
        common = {
            "event_id": f"{'sale' if is_sale[i] else 'stock'}-{i}",
            "event_type": "sale" if is_sale[i] else "stock_movement",
            "event_time": str(epoch + second[i]).replace("T", " "),
            "product_id": p,
            "product_name": f"product {p}",
            "category": CATEGORIES[category[p - 1]],
        }
        if is_sale[i]:
            rec = dict(common, quantity=int(u[i, 0] * 5) + 1, price=float(price[p - 1]),
                       discount=round(float(u[i, 1]) * 0.3, 2),
                       total=round(float(price[p - 1]) * (1 - float(u[i, 2]) * 0.3), 2),
                       store_id=int(u[i, 3] * 10) + 1, cashier_id=i % 20 + 1,
                       customer_id=f"cust-{i * 7919 % 100_003}")
            if bad[i] < BAD_SHARE / 2:
                line = json.dumps(rec, ensure_ascii=False)[:40]
            elif bad[i] < BAD_SHARE:
                del rec["price"]
                line = json.dumps(rec, ensure_ascii=False)
            else:
                line = json.dumps(rec, ensure_ascii=False)
            sales.append(line)
        else:
            rec = dict(common, warehouse=WAREHOUSES[int(u[i, 0] * 6)], quantity=int(u[i, 1] * 100) + 1,
                       movement_type=MOVEMENTS[int(u[i, 2] * 3)], source=f"company-{i % 100}",
                       responsible=f"person-{i % 1000}")
            line = json.dumps(rec, ensure_ascii=False)
            if bad[i] < BAD_SHARE / 2:
                line = line[:40]
            elif bad[i] < BAD_SHARE:
                line = "#" + line
            stock.append(line)
    return sales, stock


def write_event_backlog(out_dir: str, n_events: int, seed: int,
                        sales_files: int, stock_files: int) -> tuple[str, str]:
    """Two directories of JSON-lines files, the file stand-in for the
    two Kafka topics, with a seeded ~1% of lines made unparseable or
    stripped of ``price``. Lines are dealt round-robin over the files,
    so every file holds the same number of lines."""
    paths = []
    for kind, lines, n_files in zip(("sales", "stock"), _event_lines(n_events, seed),
                                    (sales_files, stock_files)):
        path = os.path.join(out_dir, kind)
        os.makedirs(path, exist_ok=True)
        for f in range(n_files):
            with open(os.path.join(path, f"part-{f:05d}.json"), "w", encoding="utf-8") as fh:
                fh.write("\n".join(lines[f::n_files]) + "\n")
        paths.append(path)
    return paths[0], paths[1]


def expected_landing(sales_dir: str, stock_dir: str) -> dict:
    """What the two views must land, recomputed line by line with
    Python's ``json`` and ``Decimal``: valid sales rows (parseable and
    carrying a price), their exact ``total`` sum, valid stock rows, and
    the number of lines that must be dropped."""
    out = {"sales_rows": 0, "sales_total": Decimal(0), "stock_rows": 0, "dropped": 0}
    for kind, d in (("sales", sales_dir), ("stock", stock_dir)):
        for name in sorted(os.listdir(d)):
            if not name.startswith("part-"):
                continue
            with open(os.path.join(d, name), encoding="utf-8") as fh:
                for line in fh:
                    try:
                        rec = json.loads(line, parse_float=Decimal)
                    except json.JSONDecodeError:
                        out["dropped"] += 1
                        continue
                    if kind == "stock":
                        out["stock_rows"] += 1
                    elif rec.get("price") is None:
                        out["dropped"] += 1
                    else:
                        out["sales_rows"] += 1
                        out["sales_total"] += rec["total"]
    return out
