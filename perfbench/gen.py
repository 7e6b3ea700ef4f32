"""Seeded input generators for the benchmark workloads.

Both generators are pure functions of the seed: the same seed writes the
same bytes.

* ``write_raw_days`` writes reference-shaped raw retail days
  (``Schemas.rawEvent``, FIXTURES.md A1): one ``event.csv`` per
  ``<date>`` directory, 16,000 events a day (the reference's 500,031 rows
  over 31 days), a 96 / 2.2 / 1.7 % view / cart / purchase mix, ~31 % null
  ``category_code`` and ~13 % null ``brand``, ``yyyy-MM-dd HH:mm:ssXXX``
  timestamps, UUIDv4 sessions, some zero prices and products whose price
  varies between events (the keep-first dedup path).
* ``write_documents`` writes a documents table with the distribution of
  ``graft.tools.GenData`` (31-word vocabulary, 8..103 words a document,
  40/15/15/15/15 % en/fr/es/de/zh labels, sources src0..19) plus planted
  4-member near-duplicate families, each with its own 40-word vocabulary
  (1 % of the corpus in families, as GenData plants them), and 1 % exact
  plus 1 % one-word-edited copies of organic documents.
"""
import datetime
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "cart", "purchase"])
EVENT_MIX = [0.961, 0.022, 0.017]
FIRST_DAY = datetime.date(2019, 10, 1)

_CATEGORY_WORDS = [
    ("electronics", ["smartphone", "video", "audio", "clocks", "tablet",
                     "camera", "telephone"]),
    ("appliances", ["kitchen", "environment", "personal", "iron", "sewing_machine"]),
    ("computers", ["notebook", "desktop", "peripherals", "components"]),
    ("apparel", ["shoes", "costume", "jeans", "shirt", "dress"]),
    ("furniture", ["living_room", "bedroom", "kitchen", "bathroom"]),
    ("construction", ["tools", "components"]),
    ("auto", ["accessories", "parts"]),
    ("kids", ["toys", "carriage", "skates"]),
    ("sport", ["bicycle", "tennis", "snowboard"]),
    ("accessories", ["bag", "wallet", "umbrella"]),
]
_LEAVES = ["light", "player", "heater", "refrigerators", "washer", "drill",
           "headphone", "mouse", "keyboard", "sofa"]


def _category_codes(rng, n=120):
    codes = set()
    while len(codes) < n:
        top, subs = _CATEGORY_WORDS[rng.integers(len(_CATEGORY_WORDS))]
        depth = rng.integers(1, 4)
        parts = [top]
        if depth >= 2:
            parts.append(subs[rng.integers(len(subs))])
        if depth == 3:
            parts.append(_LEAVES[rng.integers(len(_LEAVES))])
        codes.add(".".join(parts))
    return sorted(codes)


def _uuid4(rng, n):
    b = rng.integers(0, 256, size=(n, 16), dtype=np.uint8)
    b[:, 6] = (b[:, 6] & 0x0F) | 0x40
    b[:, 8] = (b[:, 8] & 0x3F) | 0x80
    h = [x.tobytes().hex() for x in b]
    return [f"{s[:8]}-{s[8:12]}-{s[12:16]}-{s[16:20]}-{s[20:]}" for s in h]


def write_raw_days(root, seed, n_days, events_per_day=16000):
    """Write ``root/<date>/event.csv`` for ``n_days`` consecutive dates from
    2019-10-01; return ``[(date, rows)]`` in date order."""
    rng = np.random.default_rng([seed, 1])
    n_products, n_users = 30000, 400000
    codes = np.array(_category_codes(rng), dtype=object)
    n_cat = len(codes)
    cat_ids = 2053013552226107603 + rng.choice(10**15, n_cat, replace=False)
    brands = np.array([f"brand{i:03d}" for i in range(975)], dtype=object)
    p_cat = rng.integers(0, n_cat, n_products)
    p_code = codes[p_cat].copy()
    p_code[rng.random(n_products) < 0.31] = None
    p_brand = brands[rng.integers(0, len(brands), n_products)].copy()
    p_brand[rng.random(n_products) < 0.13] = None
    p_price = np.minimum(np.round(np.exp(rng.normal(4.2, 1.2, n_products)), 2), 2574.07)
    p_price[rng.random(n_products) < 0.005] = 0.0
    p_weight = 1.0 / (np.arange(n_products) + 50.0)
    p_weight /= p_weight.sum()
    product_ids = 1000000 + rng.choice(60000000, n_products, replace=False)
    user_ids = 500000000 + rng.choice(100000000, n_users, replace=False)

    out = []
    for d in range(n_days):
        day = FIRST_DAY + datetime.timedelta(days=d)
        drng = np.random.default_rng([seed, 2, d])
        n = events_per_day
        secs = np.sort(drng.integers(0, 86400, n))
        prod = drng.choice(n_products, n, p=p_weight)
        price = p_price[prod].copy()
        vary = drng.random(n) < 0.1
        price[vary] = np.round(price[vary] * drng.uniform(0.9, 1.1, vary.sum()), 2)
        day_users = drng.choice(n_users, 40000, replace=False)
        user = day_users[drng.integers(0, len(day_users), n)]
        sessions = dict(zip(np.unique(user).tolist(), _uuid4(drng, len(np.unique(user)))))
        base = datetime.datetime(day.year, day.month, day.day)
        stamps = [(base + datetime.timedelta(seconds=int(s))).strftime("%Y-%m-%d %H:%M:%S")
                  + "+00:00" for s in secs]
        df = pd.DataFrame({
            "event_time": stamps,
            "event_type": EVENT_TYPES[drng.choice(3, n, p=EVENT_MIX)],
            "product_id": product_ids[prod],
            "category_id": cat_ids[p_cat[prod]],
            "category_code": p_code[prod],
            "brand": p_brand[prod],
            "price": [f"{p:.2f}" for p in price],
            "user_id": user_ids[user],
            "user_session": [sessions[u] for u in user.tolist()],
            "event_date": day.isoformat(),
        })
        path = os.path.join(root, day.isoformat())
        os.makedirs(path, exist_ok=True)
        df.to_csv(os.path.join(path, "event.csv"), index=False)
        out.append((day.isoformat(), n))
    return out


VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]


def write_documents(path, seed, n_docs=10000):
    """Write the documents parquet (``Document`` schema); return its row count."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(VOCAB, dtype=object)
    lengths = rng.integers(8, 104, n_docs)
    words = vocab[rng.integers(0, len(vocab), lengths.sum())]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lengths)]
    u = rng.random(n_docs)
    langs = np.select([u < 0.4, u < 0.55, u < 0.7, u < 0.85],
                      ["en", "fr", "es", "de"], "zh")
    sources = [f"src{i}" for i in rng.integers(0, 20, n_docs)]

    fam_size, fam_words = 4, 40
    n_fams = max(1, n_docs // 100 // fam_size)
    fam_texts, fam_sources = [], []
    for fam in range(n_fams):
        slots = rng.integers(0, fam_words, fam_words)
        for member in range(fam_size):
            toks = [f"f{fam}w{k}" for k in slots]
            if member > 0:
                toks[(member * 7) % fam_words] = f"member{member}"
            fam_texts.append(" ".join(toks))
            fam_sources.append(f"src{rng.integers(0, 20)}")

    # Copies of organic documents, which pass the quality gate (the
    # families' private vocabulary does not): 1 % exact copies for the
    # exact-dedup stage and 1 % one-word edits for the near-dup stages.
    n_copies = n_docs // 100
    exact = rng.choice(n_docs, n_copies, replace=False)
    near = rng.choice(n_docs, n_copies, replace=False)
    near_texts = []
    for i in near:
        toks = texts[i].split(" ")
        toks[rng.integers(len(toks))] = VOCAB[rng.integers(len(VOCAB))]
        near_texts.append(" ".join(toks))
    copies = np.concatenate([exact, near])

    text = texts + fam_texts + [texts[i] for i in exact] + near_texts
    n = len(text)
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(list(langs) + ["en"] * len(fam_texts)
                         + [langs[i] for i in copies], pa.string()),
        "source": pa.array(sources + fam_sources + [sources[i] for i in copies],
                           pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })
    pq.write_table(table, path)
    return n
