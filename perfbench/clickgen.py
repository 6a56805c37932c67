"""Seeded generator for the reference clickstream CSV.

Columns follow the reference schema (event_time, event_type, product_id,
category_id, category_code, brand, price, user_id, user_session). The event
mix targets the reference's 96.1 % view / 2.2 % cart / 1.7 % purchase, a
session holds 5 events on average, a share of products has no brand or
category_code (so the pipeline's `na.fill` has work), and event_time is
written in the reference's `yyyy-MM-dd HH:mm:ss UTC` string form.

The generator stamps event time itself, from a fixed origin, rather than
leaving time to the replayer: the streaming replayer stamps every row with
one `current_timestamp()`, so only event time can drive the watermark.
Rows are written in event-time order; the same seed gives the same bytes.
"""
import hashlib
import random
import time

ORIGIN = 1569888000  # 2019-10-01 00:00:00 UTC, the reference dataset's first day
SPAN_S = 6 * 3600  # session starts spread over six hours of event time
MIX = (("view", 0.961), ("cart", 0.022), ("purchase", 0.017))
HEADER = "event_time,event_type,product_id,category_id,category_code,brand,price,user_id,user_session"
CATEGORIES = ("electronics.smartphone", "electronics.audio.headphone", "appliances.kitchen.kettle",
              "computers.notebook", "apparel.shoes", "furniture.living_room.sofa")
BRANDS = ("samsung", "apple", "xiaomi", "huawei", "lucente", "bosch", "sony")


def _fmt_time(t):
    return time.strftime("%Y-%m-%d %H:%M:%S UTC", time.gmtime(t))


def generate(seed, n_events, path):
    """Write `n_events` rows to `path`; return a summary with the digest."""
    rng = random.Random(seed)
    n_products = max(50, n_events // 40)
    products = []
    for pid in range(n_products):
        cat = rng.randrange(len(CATEGORIES))
        code = CATEGORIES[cat] if rng.random() >= 0.3 else None
        brand = rng.choice(BRANDS) if rng.random() >= 0.15 else None
        products.append((1000000 + pid, 2053013550000000000 + cat, code, brand,
                         round(rng.uniform(1.0, 900.0), 2)))
    n_users = max(10, n_events // 10)
    cut_view = MIX[0][1]
    cut_cart = cut_view + MIX[1][1]
    events = []
    sessions = 0
    while len(events) < n_events:
        sid = "%08x-%04x-%04x-%04x-%012x" % (rng.getrandbits(32), rng.getrandbits(16),
                                           rng.getrandbits(16), rng.getrandbits(16),
                                           rng.getrandbits(48))
        user = 500000000 + rng.randrange(n_users)
        t = ORIGIN + rng.randrange(SPAN_S)
        sessions += 1
        for _ in range(min(rng.randint(1, 9), n_events - len(events))):
            r = rng.random()
            kind = "view" if r < cut_view else "cart" if r < cut_cart else "purchase"
            events.append((t, kind, rng.choice(products), user, sid))
            t += rng.randint(2, 90)
    events.sort(key=lambda e: (e[0], e[4]))
    lines = [HEADER]
    counts = {k: 0 for k, _ in MIX}
    for t, kind, (pid, cid, code, brand, price), user, sid in events:
        counts[kind] += 1
        lines.append("%s,%s,%d,%d,%s,%s,%.2f,%d,%s" % (
            _fmt_time(t), kind, pid, cid, code or "", brand or "", price, user, sid))
    data = ("\n".join(lines) + "\n").encode("ascii")
    with open(path, "wb") as f:
        f.write(data)
    return {
        "events": n_events,
        "sessions": sessions,
        "mix": {k: v / n_events for k, v in counts.items()},
        "sha256": hashlib.sha256(data).hexdigest(),
    }
