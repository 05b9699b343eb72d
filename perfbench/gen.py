"""Seeded input generators for the benchmark.

`tables` writes the ten parquet fixtures the registry queries read
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), with the column set, physical types and value
distributions of the repository's fixture description (FIXTURES.md), at
a scale factor `sf` (lineitem has 6,000,000 * sf rows).

`wine` writes a Kaggle-shaped wine-review JSON array (the column set of
`WinePipeline.ingestSchema`) carrying the hazards of the test sample:
malformed or missing points, null prices, the boundary prices
{0, 20, 20.01, 500, 501}, @-handles, null regions and countries outside
the validation allowlist.

The same (sf, seed) or (rows, seed) always yields the same bytes.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the join hash row batch scan column customer filter small slow "
         "merge order vector line table data agg value key stream window "
         "spark part group big sort query fast").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.145, 0.42, 0.145, 0.145, 0.145]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000


def _epoch_us(iso):
    return int(np.datetime64(iso, "us").astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def tables(out_dir, sf, seed):
    """Write the ten fixture tables for scale factor `sf` into `out_dir`;
    return {table: rows}."""
    rng = np.random.default_rng([seed, 7919])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_evt = max(1, round(1_000_000 * sf))
    n_users = max(1, n_cust // 10)
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))
    counts = {}

    def put(name, cols):
        t = pa.table(cols)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": REGIONS})
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -1000, 10000, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    put("part", {
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2)})
    d0 = _epoch_us("1995-01-01")
    ord_days = (_epoch_us("2001-08-01") - d0) // DAY_US + 1
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(d0 + rng.integers(0, ord_days, n_ord) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    s0 = _epoch_us("1995-01-02")
    ship_days = (_epoch_us("2001-11-04") - s0) // DAY_US + 1
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.10, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(s0 + rng.integers(0, ship_days, n_line) * DAY_US)})
    e0 = _epoch_us("2024-01-01")
    put("events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(np.sort(e0 + rng.integers(0, 30 * DAY_US, n_evt))),
        "user_id": rng.integers(0, n_users, n_evt, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    # one document in twenty is a near-duplicate: an earlier document's
    # text with " dup" appended, the pattern the dedup queries look for
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, 30, k)]))
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs, dtype=np.int32)})
    return counts


ALLOWED = ["US", "France", "Italy", "Spain", "Argentina", "Chile",
           "Australia", "Germany"]
OTHER_COUNTRIES = ["Portugal", "Austria", "New Zealand", "South Africa",
                   "Israel", "Greece", "Canada", "Hungary"]
TASTERS = [("Roger Voss", "@vossroger"), ("Kerin O'Keefe", "@kerinokeefe"),
           ("Michael Schachner", "@wineschach"), ("Paul Gregutt", "@paulgwine"),
           ("Virginie Boone", "@vboone"), ("Matt Kettmann", "@mattkettmann"),
           ("Joe Czerwinski", "@JoeCz"), ("Sean P. Sullivan", "@wawinereport"),
           ("Anna Lee C. Iijima", None), ("Jim Gordon", "@gordone_cellars")]
VARIETIES = ["Pinot Noir", "Chardonnay", "Cabernet Sauvignon", "Red Blend",
             "Riesling", "Sauvignon Blanc", "Syrah", "Merlot", "Malbec",
             "Tempranillo", "Sangiovese", "Zinfandel", "Nebbiolo", "Grenache"]
PROVINCES = ["California", "Washington", "Oregon", "Bordeaux", "Burgundy",
             "Tuscany", "Piedmont", "Mendoza Province", "Northern Spain",
             "Mosel", "Douro", "South Australia", "Maule Valley", "Sicily"]
REGION_1 = ["Napa Valley", "Columbia Valley", "Willamette Valley", "Etna",
            "Rioja", "Barolo", "Mendoza", "Margaux", "Chianti Classico"]
REGION_2 = ["Central Coast", "Napa", "Sonoma", "Columbia Valley",
            "Willamette Valley", "North Coast"]
WORDS = ("ripe fruity smooth structured tannins acidity aromas cherry plum "
         "oak vanilla spice citrus mineral finish palate bright dense supple "
         "berry herb earthy floral crisp rich juicy toast pepper lively").split()
BOUNDARY_PRICES = [0.0, 20.0, 20.01, 500.0, 501.0]
BAD_POINTS = ["ninety", "", "N/A", "eighty-seven", "12abc"]


def _phrase(rng, lo, hi):
    return " ".join(WORDS[j] for j in rng.integers(0, len(WORDS),
                                                   int(rng.integers(lo, hi))))


def wine(path, rows, seed):
    """Write `rows` wine reviews as one JSON array to `path`; return
    (rows, bytes)."""
    rng = np.random.default_rng([seed, 104729])
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="ascii") as f:
        f.write("[\n")
        for i in range(rows):
            u = rng.random(12)
            if u[0] < 0.01:
                points = None
            elif u[0] < 0.02:
                points = BAD_POINTS[int(rng.integers(0, len(BAD_POINTS)))]
            elif u[0] < 0.025:
                points = str(int(rng.integers(30, 50)))
            else:
                points = str(int(rng.integers(80, 101)))
            if u[1] < 0.07:
                price = None
            elif u[1] < 0.08:
                price = BOUNDARY_PRICES[int(rng.integers(0, 5))]
            else:
                price = float(np.round(rng.lognormal(3.4, 0.6), 2))
            taster = TASTERS[int(rng.integers(0, len(TASTERS)))]
            name, handle = taster if u[2] > 0.2 else (None, None)
            country = (None if u[3] < 0.001 else
                       OTHER_COUNTRIES[int(rng.integers(0, 8))] if u[3] < 0.1
                       else ALLOWED[int(rng.integers(0, 8))])
            winery = f"Winery {int(rng.integers(0, 5000))}"
            year = int(rng.integers(1990, 2018))
            variety = VARIETIES[int(rng.integers(0, len(VARIETIES)))]
            title = ("Hi" if u[4] < 0.003 else
                     f"{winery} {year} {_phrase(rng, 1, 4)} ({variety})")
            rec = {
                "points": points,
                "title": title,
                "description": ("Thin." if u[5] < 0.003 else
                                _phrase(rng, 8, 60).capitalize() + "."),
                "taster_name": name,
                "taster_twitter_handle": handle,
                "price": price,
                "designation": None if u[6] < 0.3 else _phrase(rng, 1, 3).title(),
                "variety": variety,
                "region_1": (None if u[7] < 0.16 else
                             REGION_1[int(rng.integers(0, len(REGION_1)))]),
                "region_2": (None if u[8] < 0.6 else
                             REGION_2[int(rng.integers(0, len(REGION_2)))]),
                "province": PROVINCES[int(rng.integers(0, len(PROVINCES)))],
                "country": country,
                "winery": None if u[9] < 0.01 else winery,
            }
            f.write(json.dumps(rec))
            f.write(",\n" if i + 1 < rows else "\n")
        f.write("]\n")
    return rows, os.path.getsize(path)
