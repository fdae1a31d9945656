"""Seeded input generator for the benchmark.

Writes the registry fixture tables (TPC-H-shaped star schema, `events`,
`documents`, `embeddings`: one single-row-group parquet file each, in the
shape FIXTURES.md documents) and a Kaggle-shaped wine-review JSON array,
plus the counts the wine pipeline must reproduce on that array. The same
seed always gives byte-identical inputs.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]

# The pipeline's country allowlist (WinePipeline.checks); the generator
# also emits countries outside it, as the real Kaggle file does.
WINE_ALLOWED = ["US", "France", "Italy", "Spain", "Argentina", "Chile",
                "Australia", "Germany"]
WINE_OTHER = ["Portugal", "Austria", "New Zealand", "South Africa",
              "Israel", "Greece", "Canada", "Hungary"]
WINE_VARIETIES = ["Pinot Noir", "Chardonnay", "Cabernet Sauvignon",
                  "Red Blend", "Riesling", "Sauvignon Blanc", "Syrah",
                  "Merlot", "Malbec", "Rosé", "Nebbiolo", "Zinfandel"]
WINE_WORDS = ["aromas", "of", "black", "cherry", "oak", "tannins", "bright",
              "acidity", "finish", "notes", "spice", "plum", "ripe", "fruit",
              "crisp", "mineral", "smooth", "velvety", "pepper", "vanilla",
              "citrus", "apple", "pear", "earthy", "structured", "lush"]
TASTERS = ["Roger Voss", "Michael Schachner", "Kerin O’Keefe",
           "Virginie Boone", "Paul Gregutt", "Matt Kettmann", "Joe Czerwinski"]
# The pipeline's right-closed price bins: `price <= 0` has no category.
MALFORMED_POINTS = ["N/A", "ninety", "", "eighty-seven", "-"]

EPOCH = dt.datetime(1970, 1, 1)


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def _micros(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _days(rng, n, start, end):
    """Uniform midnight timestamps in [start, end], as µs since the epoch."""
    span = (end - start).days
    return _micros(start) + rng.integers(0, span + 1, n) * 86_400_000_000


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _ts(values):
    return pa.array(values, pa.timestamp("us"))


def tables(out, seed, sf):
    """Write the ten registry fixture tables for scale factor `sf`."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, 1)
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)]})

    r = _rng(seed, 2)
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99)})

    r = _rng(seed, 3)
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})

    r = _rng(seed, 4)
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, n_ord, 1000, 500_000),
        "o_orderdate": _ts(_days(r, n_ord, dt.datetime(1995, 1, 1),
                                 dt.datetime(2001, 8, 1))),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)]})

    r = _rng(seed, 5)
    _write(out, "lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": r.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, n_line, 900, 105_000),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days(r, n_line, dt.datetime(1995, 1, 2),
                                dt.datetime(2001, 11, 4)))})

    r = _rng(seed, 6)
    start = _micros(dt.datetime(2024, 1, 1))
    _write(out, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(np.sort(start + r.integers(0, 30 * 86_400_000_000, n_evt))),
        "user_id": r.integers(0, max(15, int(15_000 * sf)), n_evt,
                              dtype=np.int64),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_evt)],
        "value": np.maximum(np.round(r.exponential(50.0, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)]})

    # one document in twenty is an earlier one with " dup" appended or
    # removed: the near-duplicates the dedup queries exist to find
    r = _rng(seed, 7)
    texts = []
    for i in range(n_doc):
        if i > 20 and r.random() < 0.05:
            src = texts[int(r.integers(0, i))]
            texts.append(src[:-4] if src.endswith(" dup") else src + " dup")
        else:
            words = r.integers(0, len(VOCAB), int(r.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # unit vectors weakly pulled toward one of ten label centres
    r = _rng(seed, 8)
    centres = r.standard_normal((10, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = r.integers(0, 10, n_emb, dtype=np.int32)
    vecs = r.standard_normal((n_emb, 64)) / 8.0 + 0.146 * centres[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(vecs.astype(np.float32).tolist(),
                              pa.list_(pa.float32())),
        "label": labels})


def _words(r, lo, hi):
    return " ".join(WINE_WORDS[i] for i in
                    r.integers(0, len(WINE_WORDS), int(r.integers(lo, hi))))


def wine(path, seed, n):
    """Write `n` Kaggle-shaped reviews as one JSON array; return the
    row count and per-check violation counts the pipeline must report."""
    r = _rng(seed, 9)
    rows = []
    for i in range(n):
        u = r.random()
        if u < 0.01:
            points = None
        elif u < 0.02:
            points = MALFORMED_POINTS[int(r.integers(0, len(MALFORMED_POINTS)))]
        elif u < 0.025:
            points = str(int(r.integers(30, 50)))  # below the 50..100 range
        else:
            points = str(int(r.integers(80, 101)))
        u = r.random()
        if u < 0.07:
            price = None
        elif u < 0.075:
            price = float([0, 20, 20.01, 500, 501, -5.0][int(r.integers(0, 6))])
        else:
            price = float(round(r.lognormal(3.3, 0.6), 2))
        u = r.random()
        country = (None if u < 0.005 else
                   WINE_OTHER[int(r.integers(0, len(WINE_OTHER)))] if u < 0.15
                   else WINE_ALLOWED[int(r.integers(0, len(WINE_ALLOWED)))])
        variety = WINE_VARIETIES[int(r.integers(0, len(WINE_VARIETIES)))]
        u = r.random()
        title = (None if u < 0.005 else "Ab" if u < 0.01 else
                 f"Winery {i} {_words(r, 40, 60)}"[:int(r.integers(201, 256))]
                 if u < 0.015 else
                 f"Winery {i} {r.integers(2000, 2020)} {variety}")
        u = r.random()
        description = (None if u < 0.005 else "Thin." if u < 0.01 else
                       _words(r, 20, 60))
        handle = (None if r.random() < 0.25 else
                  f"@taster{int(r.integers(0, 20))}")
        rows.append({
            "points": points, "title": title, "description": description,
            "taster_name": (None if r.random() < 0.2 else
                            TASTERS[int(r.integers(0, len(TASTERS)))]),
            "taster_twitter_handle": handle, "price": price,
            "designation": None if r.random() < 0.3 else "Reserve",
            "variety": variety,
            "region_1": None if r.random() < 0.16 else f"Region {i % 300}",
            "region_2": None if r.random() < 0.6 else f"Subregion {i % 20}",
            "province": f"Province {i % 50}", "country": country,
            "winery": f"Winery {i % 2000}"})
    with open(path, "w", encoding="utf-8") as f:
        json.dump(rows, f, ensure_ascii=False)
    return expected_wine(rows)


def _as_int(s):
    """Spark's try_cast(string AS INT) on the generator's point strings."""
    try:
        return int(s)
    except (TypeError, ValueError):
        return None


def expected_wine(rows):
    kept = [row for row in rows if _as_int(row["points"]) is not None]
    prices = sorted(row["price"] for row in kept if row["price"] is not None)
    m = len(prices)
    median = (prices[m // 2] if m % 2 else
              (prices[m // 2 - 1] + prices[m // 2]) / 2)
    price = [median if row["price"] is None else row["price"] for row in kept]
    fails = {
        "points_in_range": sum(not 50 <= _as_int(row["points"]) <= 100
                               for row in kept),
        "title_str_length": sum(row["title"] is not None and
                                not 3 <= len(row["title"]) <= 200
                                for row in kept),
        "description_str_length": sum(row["description"] is not None and
                                      len(row["description"]) < 10
                                      for row in kept),
        "price_ge": sum(p < 0 for p in price),
        "country_isin": sum(row["country"] not in WINE_ALLOWED for row in kept),
        "title_length_ge": 0,
        "description_length_ge": 0,
        "price_category_not_null": sum(p <= 0 for p in price),
        "region_not_null": 0,
        "country_code_not_null": 0,
    }
    return {"rows": len(kept), "violations": fails}
