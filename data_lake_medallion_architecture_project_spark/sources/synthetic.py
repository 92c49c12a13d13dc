"""Seeded synthetic sources (S1-S3) reproducing the reference's dirty-data
profile — the fixtures every Silver validation rule is tested against.

Mirrors the *behavior* of ``/root/reference/generator/*_generator.py`` (sales
65-92, customer_events 47-68, inventory 51-75): batch sizes, corruption rates
(~5% bad totals, ~3% null quantity/customer, ~4% invalid enums, ~5% per-batch
duplicate row), nullable foreign keys. Values (names, catalogues) are our own;
determinism comes from an explicit ``random.Random(seed)`` — unlike the
reference, whose per-process ``PRODUCT_ID_MAP`` is unstable across runs
(sales_generator.py:52-58), product→id mapping here is a fixed table.

Two surfaces:

* ``gen_*_batch(seed, n)`` — driver-side row dicts (the reference's scale:
  tens of rows per tick), landed by ``writers.write_staging_rows``;
* ``distributed_sales(spark, n, seed)`` — ``spark.range`` + column exprs for
  volume testing: generation happens on executors, no driver materialization.
"""

from __future__ import annotations

import random
import uuid
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CATEGORIES = {
    "Electronics": ["Noise-cancel Headset", "4K Monitor", "Mech Keyboard", "USB-C Dock", "Webcam Pro"],
    "Clothing": ["Rain Jacket", "Wool Sweater", "Trail Shoes", "Canvas Belt", "Knit Cap"],
    "Food & Beverage": ["Espresso Beans", "Green Tea Tin", "Dark Chocolate", "Olive Oil", "Honey Jar"],
    "Home & Kitchen": ["Cast Iron Pan", "Stand Mixer", "Chef Knife", "Cutting Board", "Kettle"],
    "Sports": ["Yoga Mat", "Dumbbell Set", "Climbing Rope", "Bike Pump", "Swim Goggles"],
    "Books": ["Atlas of Rivers", "Systems Primer", "Poems 1990", "Field Guide", "Cook Anthology"],
}
# Stable product→id mapping (fixes the reference's per-process instability).
PRODUCT_IDS = {
    name: f"PROD-{100 + i}"
    for i, name in enumerate(p for names in CATEGORIES.values() for p in names)
}
PAYMENT_METHODS = ["credit_card", "debit_card", "paypal", "bank_transfer", "crypto"]
STATUSES = ["completed", "completed", "completed", "pending", "refunded"]
PAGE_URLS = [
    "/", "/products", "/products/detail", "/cart", "/checkout",
    "/account", "/search", "/deals", "/support",
]
DEVICE_TYPES = ["desktop", "mobile", "tablet"]
WAREHOUSES = ["WH-NORTH-01", "WH-SOUTH-02", "WH-EAST-03", "WH-WEST-04"]
INV_CATALOGUE = [(f"PROD-{200 + i}", f"Bulk Item {i}") for i in range(10)]


def _ts(rng: random.Random, now: datetime, max_age_s: int) -> str:
    return (now - timedelta(seconds=rng.uniform(0, max_age_s))).isoformat()


def gen_sales_batch(seed: int, n: int = 10, now: datetime | None = None) -> list[dict]:
    """Sales rows with ~5% corrupted totals, ~3% null quantity, ~5% chance of
    an appended duplicate of row 0 (sales_generator.py:65-92,109-113)."""
    rng = random.Random(seed)
    now = now or datetime.now(timezone.utc)
    rows = []
    for _ in range(n):
        category = rng.choice(sorted(CATEGORIES))
        product = rng.choice(CATEGORIES[category])
        quantity: int | None = rng.randint(1, 10)
        unit_price = round(rng.uniform(5.0, 500.0), 2)
        total = round(quantity * unit_price, 2)
        if rng.random() < 0.05:  # corrupt total
            total = round(total * rng.uniform(0.7, 1.3), 2)
        if rng.random() < 0.03:  # null quantity
            quantity = None
        rows.append(
            {
                "sale_id": str(uuid.UUID(int=rng.getrandbits(128))),
                "timestamp": _ts(rng, now, 30),
                "customer_id": f"CUST-{rng.randint(1000, 9999)}",
                "product_id": PRODUCT_IDS[product],
                "product_name": product,
                "category": category,
                "quantity": quantity,
                "unit_price": unit_price,
                "total_amount": total,
                "payment_method": rng.choice(PAYMENT_METHODS),
                "status": rng.choice(STATUSES),
            }
        )
    if rows and rng.random() < 0.05:
        rows.append(dict(rows[0]))
    return rows


def gen_customer_events_batch(seed: int, n: int = 15, now: datetime | None = None) -> list[dict]:
    """Event rows with ~4% UNKNOWN event_type, ~3% null customer_id, ~5%
    per-batch duplicate (customer_events_generator.py:47-68,86-91)."""
    rng = random.Random(seed)
    now = now or datetime.now(timezone.utc)
    sessions = [str(uuid.UUID(int=rng.getrandbits(128))) for _ in range(3)]
    rows = []
    for _ in range(n):
        event_type = rng.choice(["login", "browse", "add_to_cart", "checkout", "logout"])
        if rng.random() < 0.04:
            event_type = "UNKNOWN"
        customer: str | None = f"CUST-{rng.randint(1000, 9999)}"
        if rng.random() < 0.03:
            customer = None
        rows.append(
            {
                "event_id": str(uuid.UUID(int=rng.getrandbits(128))),
                "timestamp": _ts(rng, now, 60),
                "customer_id": customer,
                "session_id": rng.choice(sessions),
                "event_type": event_type,
                "product_id": (
                    f"PROD-{rng.randint(100, 199)}"
                    if event_type in ("browse", "add_to_cart", "checkout")
                    else None
                ),
                "page_url": rng.choice(PAGE_URLS),
                "device_type": rng.choice(DEVICE_TYPES),
            }
        )
    if rows and rng.random() < 0.05:
        rows.append(dict(rows[0]))
    return rows


def gen_inventory_batch(seed: int, n: int = 8, now: datetime | None = None) -> list[dict]:
    """Inventory rows with ~4% TRANSFER movement_type, ~3% null-or-zero
    quantity, ~5% per-batch duplicate (inventory_generator.py:51-75,92-96)."""
    rng = random.Random(seed)
    now = now or datetime.now(timezone.utc)
    rows = []
    for _ in range(n):
        movement = rng.choice(["inbound", "outbound", "adjustment"])
        if rng.random() < 0.04:
            movement = "TRANSFER"
        quantity: int | None = rng.randint(1, 200)
        if rng.random() < 0.03:
            quantity = None if rng.random() < 0.5 else 0
        product_id, product_name = rng.choice(INV_CATALOGUE)
        rows.append(
            {
                "movement_id": str(uuid.UUID(int=rng.getrandbits(128))),
                "timestamp": _ts(rng, now, 120),
                "product_id": product_id,
                "product_name": product_name,
                "warehouse_id": rng.choice(WAREHOUSES),
                "movement_type": movement,
                "quantity": quantity,
                "unit_cost": round(rng.uniform(1.0, 300.0), 2),
                "supplier_id": (
                    f"SUP-{rng.randint(1, 10):03d}" if movement == "inbound" else None
                ),
            }
        )
    if rows and rng.random() < 0.05:
        rows.append(dict(rows[0]))
    return rows


GENERATORS = {
    "sales": gen_sales_batch,
    "customer_events": gen_customer_events_batch,
    "inventory": gen_inventory_batch,
}


def distributed_sales(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Executor-side volume generator: spark.range + deterministic column
    exprs (hash-derived pseudo-randomness keyed on id+seed, reproducible
    regardless of partitioning). For scale tests — no driver materialization."""
    h = lambda salt: F.abs(F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt)))  # noqa: E731
    u = lambda salt: (h(salt) % 1_000_000) / 1_000_000.0  # uniform [0,1)  # noqa: E731
    qty = (h("q") % 10 + 1).cast("int")
    price = F.bround(F.lit(5.0) + u("p") * 495.0, 2)
    return spark.range(n).select(
        F.concat(F.lit("sale-"), F.col("id")).alias("sale_id"),
        F.date_format(
            F.timestamp_seconds(F.lit(1735689600) + (h("t") % 2592000)),
            "yyyy-MM-dd'T'HH:mm:ss+00:00",
        ).alias("timestamp"),
        F.concat(F.lit("CUST-"), (h("c") % 9000 + 1000)).alias("customer_id"),
        F.concat(F.lit("PROD-"), (h("pr") % 900 + 100)).alias("product_id"),
        F.lit("Volume Item").alias("product_name"),
        F.lit("Electronics").alias("category"),
        F.when(u("nq") < 0.03, F.lit(None).cast("int")).otherwise(qty).alias("quantity"),
        price.alias("unit_price"),
        F.when(
            u("bt") < 0.05, F.bround(qty * price * (F.lit(0.7) + u("s") * 0.6), 2)
        )
        .otherwise(F.bround(qty * price, 2))
        .alias("total_amount"),
        F.lit("credit_card").alias("payment_method"),
        F.lit("completed").alias("status"),
    )
