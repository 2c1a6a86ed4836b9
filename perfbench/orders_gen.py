"""Seeded hourly Shopify order batches and their expected final state.

Batch ``b`` holds orders whose ``updated_at`` falls in hour ``b`` after
``START``.  On top of the new orders of that hour it carries:

* re-deliveries (~15%): orders first delivered in hour ``b - 1``, sent
  again with a newer ``updated_at`` inside hour ``b`` and edited values.
  The pipeline re-reads from ``watermark - 1 h``, so these are exactly
  the rows its overlap window exists for;
* intra-batch duplicates (~5%): a second copy of an order of the same
  batch, later ``updated_at`` and different values.  Normalization keeps
  the first arrival, so these copies must never reach a final table.

Customer and shipping structs are sometimes null, line-item and
discount arrays are sometimes empty or absent, and some line items lack
a product or variant id.

``expected_state`` replays the batches in plain Python with the
semantics documented in ``normalize`` and ``operators.upsert``: keep the
first row per key within a batch by (``updated_at``, ``id``), then the
latest batch wins per key.
"""

from __future__ import annotations

import copy
import datetime as dt
import json
import random

UTC = dt.timezone.utc
START = dt.datetime(2025, 3, 1, tzinfo=UTC)
HOUR = dt.timedelta(hours=1)

UNIQUE_KEYS = {
    "orders": ("order_id",),
    "line_items": ("order_id", "product_id", "variant_id"),
    "customers": ("customer_id",),
    "shipping_addresses": ("order_id", "first_name", "last_name"),
    "discount_codes": ("order_id", "discount_code"),
    "marketing_consent": ("customer_id",),
}

CITIES = ["Berlin", "Paris", "Austin", "Lima", "Osaka", "Accra"]
COUNTRIES = ["US", "DE", "FR", "PE", "JP", "GH"]
CODES = ["SAVE10", "VIP", "SPRING", "WELCOME", "BFCM"]


def _iso(ts: dt.datetime) -> str:
    return ts.isoformat()


def _money(rng: random.Random, lo: float, hi: float) -> str:
    return f"{rng.uniform(lo, hi):.2f}"


class OrderStream:
    """Deterministic generator of hourly batches for one seed."""

    def __init__(self, seed: int, orders_per_batch: int, n_customers: int = 5000):
        self.rng = random.Random(seed)
        self.orders_per_batch = orders_per_batch
        self.n_customers = n_customers
        self.next_id = 10_000_000 + self.rng.randrange(1000) * 100_000
        self.batches: list[list[dict]] = []

    def _customer(self, cid: int, i: int) -> dict | None:
        rng = self.rng
        c = {
            "id": cid,
            "email": f"c{cid}@example.com" if rng.random() < 0.95 else None,
            "created_at": _iso(START - dt.timedelta(days=cid % 400)),
            # first_name varies per order, so keep-first decides it.
            "first_name": f"F{i % 13}",
            "last_name": f"L{cid % 17}" if rng.random() < 0.9 else None,
            "phone": None if rng.random() < 0.3 else f"+1-555-{cid}",
            "verified_email": rng.random() < 0.8 if rng.random() < 0.95 else None,
            "accepts_marketing": rng.random() < 0.5 if rng.random() < 0.95 else None,
            "extra_key": 7,
        }
        return c

    def _order(self, oid: int, upd: dt.datetime) -> dict:
        rng = self.rng
        o: dict = {
            "id": oid,
            "created_at": _iso(upd - dt.timedelta(minutes=rng.randint(0, 600))),
            "updated_at": _iso(upd),
            "processed_at": _iso(upd - dt.timedelta(minutes=rng.randint(0, 30))),
            "subtotal_price": _money(rng, 5, 900),
            "total_price": _money(rng, 5, 1000),
            "total_tax": _money(rng, 0, 90) if rng.random() < 0.95 else None,
            "currency": rng.choice(["USD", "EUR", "GBP"]),
            "unknown_top_level": {"ignore": True},
        }
        if rng.random() < 0.9:
            o["financial_status"] = rng.choice(["paid", "pending", "refunded"])
        if rng.random() < 0.8:
            o["fulfillment_status"] = rng.choice(["fulfilled", "partial", None])
        if rng.random() < 0.7:
            o["source_name"] = rng.choice(["web", "pos", "api"])
        if rng.random() < 0.88:
            # Skewed toward a hot set of repeat customers.
            if rng.random() < 0.5:
                cid = 500_000 + rng.randrange(self.n_customers // 20)
            else:
                cid = 500_000 + rng.randrange(self.n_customers)
            o["customer"] = self._customer(cid, oid)
        else:
            o["customer"] = None
        if rng.random() < 0.9:
            o["shipping_address"] = {
                "first_name": f"F{oid % 13}" if rng.random() < 0.95 else None,
                "last_name": f"L{oid % 17}",
                "address1": f"{oid % 9000} Main St",
                "city": rng.choice(CITIES),
                "province": rng.choice(["TX", "BE", "", None]),
                "country": rng.choice(COUNTRIES),
                "zip": f"{10000 + oid % 90000}",
                "unknown_addr_key": "x",
            }
        else:
            o["shipping_address"] = None
        r = rng.random()
        if r < 0.1:
            pass  # absent key
        elif r < 0.2:
            o["line_items"] = []
        else:
            # Distinct product ids per order (one may be missing), so the
            # composite key never ties inside an order.
            pids = rng.sample(range(2000), rng.randint(1, 5))
            items = []
            for j, p in enumerate(pids):
                item = {
                    "product_id": None if (j == 0 and rng.random() < 0.08) else 70_000 + p,
                    "variant_id": None if rng.random() < 0.08 else 900_000 + p * 10 + rng.randrange(3),
                    "name": f"Product {p}" if rng.random() < 0.97 else None,
                    "price": _money(rng, 1, 300) if rng.random() < 0.97 else None,
                    "quantity": rng.randint(1, 6) if rng.random() < 0.97 else None,
                }
                if rng.random() < 0.7:
                    item["vendor"] = rng.choice(["acme", "globex", "initech"])
                items.append(item)
            o["line_items"] = items
        r = rng.random()
        if r < 0.3:
            pass
        elif r < 0.6:
            o["discount_codes"] = []
        else:
            o["discount_codes"] = [
                {"code": c, "amount": _money(rng, 1, 40) if rng.random() < 0.95 else None}
                for c in rng.sample(CODES, rng.randint(1, 2))
            ]
        return o

    def _edit(self, o: dict, upd: dt.datetime) -> dict:
        """A later version of ``o``: newer updated_at, edited values."""
        rng = self.rng
        e = copy.deepcopy(o)
        e["updated_at"] = _iso(upd)
        e["total_price"] = _money(rng, 5, 1000)
        e["financial_status"] = rng.choice(["paid", "refunded", "voided"])
        if e.get("shipping_address") and rng.random() < 0.3:
            e["shipping_address"]["city"] = rng.choice(CITIES)
        if e.get("customer") and rng.random() < 0.5:
            e["customer"]["first_name"] = f"E{rng.randrange(100)}"
        if e.get("line_items") and rng.random() < 0.5:
            e["line_items"][0]["quantity"] = rng.randint(1, 9)
        return e

    def next_batch(self) -> list[dict]:
        rng = self.rng
        b = len(self.batches)
        hour0 = START + b * HOUR
        n = self.orders_per_batch

        def ts_in_hour() -> dt.datetime:
            # whole milliseconds, strictly inside the hour
            return hour0 + dt.timedelta(milliseconds=rng.randrange(1, 3_590_000))

        rows = []
        for _ in range(n):
            rows.append(self._order(self.next_id, ts_in_hour()))
            self.next_id += 1
        if self.batches:
            prev = [r for r in self.batches[-1] if r.get("_orig", True)]
            for o in rng.sample(prev, int(0.15 * n)):
                e = self._edit(o, ts_in_hour())
                e["_orig"] = False
                rows.append(e)
        # Intra-batch duplicates: later copy of an order of this batch.
        for o in rng.sample(rows, int(0.05 * n)):
            first = dt.datetime.fromisoformat(o["updated_at"])
            later = first + dt.timedelta(milliseconds=rng.randrange(1, 3_000))
            if later >= hour0 + HOUR:
                continue
            d = self._edit(o, later)
            d["_orig"] = False
            rows.append(d)
        rng.shuffle(rows)
        self.batches.append(rows)
        return rows


def write_ndjson(rows: list[dict], path: str) -> None:
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps({k: v for k, v in r.items() if k != "_orig"}))
            fh.write("\n")


def _ts(s: str | None) -> dt.datetime | None:
    return None if s is None else dt.datetime.fromisoformat(s)


def _f(s) -> float | None:
    return None if s is None else float(s)


def _str(v) -> str:
    return "" if v is None else v


def normalize_batch(rows: list[dict]) -> dict[str, dict[tuple, dict]]:
    """The six tables one batch stages, keyed by unique key."""
    first: dict[int, dict] = {}
    for o in sorted(rows, key=lambda r: (_ts(r["updated_at"]), r["id"])):
        first.setdefault(o["id"], o)
    out: dict[str, dict[tuple, dict]] = {t: {} for t in UNIQUE_KEYS}

    def put(table: str, row: dict) -> None:
        key = tuple(row[k] for k in UNIQUE_KEYS[table])
        out[table].setdefault(key, row)  # iteration is arrival order

    for o in first.values():  # insertion order == arrival order
        oid = str(o["id"])
        cust = o.get("customer")
        put("orders", {
            "order_id": oid,
            "created_at": _ts(o["created_at"]),
            "updated_at": _ts(o["updated_at"]),
            "processed_at": _ts(o["processed_at"]),
            "subtotal_price": _f(o.get("subtotal_price")) or 0.0,
            "total_tax": _f(o.get("total_tax")) if o.get("total_tax") is not None else 0.0,
            "total_price": _f(o.get("total_price")) if o.get("total_price") is not None else 0.0,
            "financial_status": _str(o.get("financial_status")),
            "fulfillment_status": _str(o.get("fulfillment_status")),
            "currency": _str(o.get("currency")),
            "source_name": _str(o.get("source_name")),
            "customer_id": str(cust["id"]) if cust is not None else None,
        })
        for li in o.get("line_items") or []:
            put("line_items", {
                "order_id": oid,
                "product_id": str(li["product_id"]),  # None -> "None" quirk
                "variant_id": str(li["variant_id"]),
                "product_name": li.get("name"),
                "price": _f(li.get("price")),
                "quantity": li.get("quantity") if li.get("quantity") is not None else 0,
                "vendor": _str(li.get("vendor")),
            })
        if cust is not None:
            put("customers", {
                "customer_id": str(cust["id"]),
                "email": _str(cust.get("email")),
                "created_at": _ts(cust.get("created_at")),
                "first_name": _str(cust.get("first_name")),
                "last_name": _str(cust.get("last_name")),
                "phone": cust.get("phone"),
                "verified_email": bool(cust.get("verified_email") or False),
            })
            put("marketing_consent", {
                "customer_id": str(cust["id"]),
                "email_consent": "yes" if cust.get("accepts_marketing") else "no",
                "sms_consent": "",
            })
        sa = o.get("shipping_address")
        if sa is not None:
            put("shipping_addresses", {
                "order_id": oid,
                **{k: _str(sa.get(k)) for k in
                   ("first_name", "last_name", "address1", "city", "province", "country", "zip")},
            })
        for dc in o.get("discount_codes") or []:
            put("discount_codes", {
                "order_id": oid,
                "discount_code": dc["code"],
                "discount_value": _f(dc.get("amount")) if dc.get("amount") is not None else 0.0,
            })
    return out


def expected_state(batches: list[list[dict]]) -> dict[str, dict[tuple, dict]]:
    """Final tables after every batch was merged: latest batch wins."""
    state: dict[str, dict[tuple, dict]] = {t: {} for t in UNIQUE_KEYS}
    for rows in batches:
        for table, keyed in normalize_batch(rows).items():
            state[table].update(keyed)
    return state


def max_updated_at(rows: list[dict]) -> dt.datetime:
    return max(_ts(r["updated_at"]) for r in rows)
