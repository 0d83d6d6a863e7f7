"""Seeded candy-store input generator (shapes of the reference dataset_5).

Writes into one directory:
  - transactions_<yyyyMMdd>.json: one JSON array per business day; every
    record has transaction_id, customer_id, an ISO-8601 timestamp with
    microseconds on the file's day, and a nested `items` array of
    {product_id, product_name, qty} with ~7.5% null qty;
  - products.csv: 36 products, DECIMAL(10,2) prices, stock sized against
    the generated demand so that some lines cancel;
  - customers.csv: 30 customers, quoted addresses that contain commas.

Every day also carries one transaction that repeats a product_id and one
whose lines are all null-qty. The same (seed, days, tx_per_day) always
gives the same bytes.

Usage: python3 gen_candy.py <out_dir> <seed> <days> <tx_per_day>
"""
import datetime
import json
import os
import random
import sys

START = datetime.date(2024, 2, 1)
N_CUSTOMERS = 30
NULL_QTY = 0.075

_FLAVOURS = [("Powdered Sugar", "Sugar-Free Coat"), ("Sour Sugar", "Opaque"),
             ("Pastel Dust", "Graham")]
_CATEGORIES = [("Tape", "Hard Candy", ("Balls", "Ribbons"), ("Tape", "Bubble", "Sticks")),
               ("Gummy", "Gummies", ("Standard", "Giant"), ("Rings", "Bears", "Worms")),
               ("Chocolate", "Dipped", ("Sticks", "Cones"), ("Fruit", "Gourmet", "Dipped"))]
_FIRST = ["Ada", "Ben", "Cleo", "Dev", "Eli", "Fay", "Gus", "Hana", "Ivo", "Jun"]
_LAST = ["Park", "Quinn", "Reyes", "Sato", "Tran", "Usman"]


def products(rng):
    """36 (id, name, category, subcategory, shape, price_cents, cost_cents)."""
    out = []
    for (f0, f1), (cat, sub, shapes, kinds) in zip(_FLAVOURS, _CATEGORIES):
        for kind in kinds:
            for shape in shapes:
                for flavour in (f0, f1):
                    price = rng.randint(99, 999)
                    cost = rng.randint(price * 3 // 10, price * 7 // 10)
                    out.append((len(out) + 1, f"{flavour} {kind} {shape}", cat, sub,
                                shape, price, cost))
    return out


def cents(c):
    return f"{c // 100}.{c % 100:02d}"


def generate(out_dir, seed, days, tx_per_day):
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    prods = products(rng)
    # Some products are far more popular, so they run out of stock.
    weights = [rng.choice((1, 1, 2, 4)) for _ in prods]
    demand = [0] * len(prods)
    ids = list(range(1, days * tx_per_day + 1))
    rng.shuffle(ids)
    next_id = iter(ids)

    for d in range(days):
        day = START + datetime.timedelta(days=d)
        secs = sorted(rng.randrange(86400 * 1_000_000) for _ in range(tx_per_day))
        # positions of the two edge-case transactions of the day
        dup_at, null_at = rng.sample(range(tx_per_day), 2)
        txs = []
        for i, us in enumerate(secs):
            n = rng.randint(1, 5)
            picks = rng.choices(range(len(prods)), weights=weights, k=n)
            if i == dup_at:
                picks = picks[:1] * 2 + picks[1:]
            items = []
            for p in picks:
                qty = None if (i == null_at or rng.random() < NULL_QTY) else rng.randint(1, 10)
                if qty is not None:
                    demand[p] += qty
                items.append({"product_id": prods[p][0], "product_name": prods[p][1],
                              "qty": qty})
            s, micro = divmod(us, 1_000_000)
            ts = (f"{day.isoformat()}T{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}"
                  f".{micro:06d}")
            txs.append({"transaction_id": next(next_id),
                        "customer_id": rng.randint(1, N_CUSTOMERS),
                        "timestamp": ts, "items": items})
        with open(os.path.join(out_dir, f"transactions_{day:%Y%m%d}.json"), "w") as fh:
            fh.write("[\n")
            fh.write(",\n".join(json.dumps(t, separators=(",", ":")) for t in txs))
            fh.write("\n]\n")

    with open(os.path.join(out_dir, "products.csv"), "w") as fh:
        fh.write("product_id,product_name,product_category,product_subcategory,"
                 "product_shape,sales_price,cost_to_make,stock\n")
        for (pid, name, cat, sub, shape, price, cost), dem in zip(prods, demand):
            # between 80% and 150% of the generated demand: the short ones
            # cancel late lines, and release-after-cancel follows
            stock = dem * rng.randint(80, 150) // 100
            fh.write(f"{pid},{name},{cat},{sub},{shape},{cents(price)},{cents(cost)},{stock}\n")

    with open(os.path.join(out_dir, "customers.csv"), "w") as fh:
        fh.write("customer_id,first_name,last_name,email,address,phone\n")
        for c in range(1, N_CUSTOMERS + 1):
            first, last = rng.choice(_FIRST), rng.choice(_LAST)
            fh.write(f'{c},{first},{last},{first.lower()}.{last.lower()}{c}@example.com,'
                     f'"{rng.randint(1, 999)} Main St, Springfield, ST {rng.randint(10000, 99999)}",'
                     f"555-{rng.randint(0, 9999):04d}\n")
    return START, START + datetime.timedelta(days=days - 1)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
