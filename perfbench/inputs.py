"""Seeded input generators for the three benchmark workloads.

Each generator writes its inputs under a per-(kind, size, seed) directory
and returns the facts it planted, so the result checks know the right
answer without trusting the engine. A finished directory holds
`facts.json`, written last; a directory without it is regenerated.

- `etl_inputs`: domclick / yandex / avito / cian CSV snapshots in the
  column shapes of `tests/fixtures_etl.py`, with duplicate offer keys,
  rows that fail each platform's dropna gate, and uint8-overflow values.
- `query_tables`: TPC-H-shaped parquet tables plus `events`, in the
  schemas and value domains of the sf* test tables.
- `corpus`: a `documents` table (doc_id, text, lang, source, n_chars)
  with exact duplicates and near-duplicate clusters of known Jaccard.

The same seed always gives byte-identical inputs; sizes are fixed per
size class, contents vary with the seed.
"""

from __future__ import annotations

import csv
import json
import os
import random
import shutil
from datetime import datetime, timedelta

import numpy as np

# Per size class: rows of the latest snapshots of the three ETL platforms
# together (split evenly: the default is the 3 x 50,000-row shape that
# bench.py's ETL fixture and the head-to-head with the reference use),
# TPC-H scale (1.0 = the sf0.01 test tables' sizes), and corpus documents.
SIZES = {
    "tiny": {"etl_rows": 600, "tpch_scale": 0.05, "docs": 120},
    "default": {"etl_rows": 150_000, "tpch_scale": 1.0, "docs": 1000},
}

ETL_DATES = {
    "domclick": ["20241214"],
    "yandex": ["20241201", "20241208"],  # two snapshots: `latest` must pick one
    "avito": ["20250319"],
    "cian": ["20241107"],
}
PLATFORM_IDS = {"domclick": 1, "avito": 2, "yandex": 4}
JACCARD_THRESHOLD = 0.5  # the dedup queries' threshold (queries/llm.py)


# Part of every cache directory name: bump it when a generator's output
# changes, so inputs cached by an older version are not reused.
GENERATOR_VERSION = 3


def _rng(seed: int) -> np.random.Generator:
    """NumPy generator for any integer seed (NumPy rejects negative ones;
    non-negative seeds below 2**64 map to themselves)."""
    return np.random.default_rng(seed % 2**64)


# Input sets kept per kind, most recently used first: one seed's ETL
# snapshots take about 50 MB, and runs over many seeds would fill the disk.
CACHED_SEEDS = 3


def _prepare(root: str, kind: str, size: str, seed: int) -> tuple[str, dict | None]:
    path = os.path.join(root, f"{kind}-{size}-{seed}-v{GENERATOR_VERSION}")
    facts_path = os.path.join(path, "facts.json")
    if os.path.exists(facts_path):
        os.utime(path)
        with open(facts_path, encoding="utf-8") as fh:
            return path, json.load(fh)
    shutil.rmtree(path, ignore_errors=True)
    if os.path.isdir(root):
        older = sorted((e for e in os.scandir(root) if e.is_dir() and e.name.startswith(kind + "-")),
                       key=lambda e: e.stat().st_mtime)
        for e in older[:max(0, len(older) - CACHED_SEEDS + 1)]:
            shutil.rmtree(e.path, ignore_errors=True)
    os.makedirs(path)
    return path, None


def _finish(path: str, facts: dict) -> dict:
    tmp = os.path.join(path, "facts.json.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(facts, fh)
    os.replace(tmp, os.path.join(path, "facts.json"))
    return facts


# ---------------------------------------------------------------------------
# ETL snapshots
# ---------------------------------------------------------------------------
STREETS = ["Ленина", "Мира", "Гагарина", "Невский пр.", "Арбат", "Тверская",
           "Баумана", "Садовая", "Лесная", "Школьная"]
CITIES = ["Москва", "Санкт-Петербург", "Казань", "Уфа", "Пермь", "Самара"]
METROS = ["Тверская", "Пушкинская", "Маяковская", "Арбатская", "Кремлёвская",
          "Площадь Восстания", "Чкаловская"]
WORDS = ["nice", "flat", "quiet", "sunny", "renovated", "metro", "park",
         "school", "new", "balcony", "view", "cozy", "big", "kitchen"]


class _EtlRng:
    """Scalar value helpers over one seeded `random.Random` (per-row
    numpy scalar draws are ~10x slower for the same stream). Integers and
    picks scale one `random()` draw, which is several times faster than
    `randrange` / `choice`; the ranges here are far below 2**53."""

    def __init__(self, seed: int):
        self.r = random.Random(seed)

    def int(self, lo: int, hi: int) -> int:
        """Uniform in [lo, hi)."""
        return lo + int(self.r.random() * (hi - lo))

    def pick(self, seq):
        return seq[int(self.r.random() * len(seq))]

    def sample(self, lo: int, hi: int, k: int) -> list[int]:
        return self.r.sample(range(lo, hi), k)

    def money(self, lo: float, hi: float) -> str:
        return f"{round(self.r.uniform(lo, hi), -3):.1f}"

    def num(self, lo: float, hi: float, nd: int = 1) -> str:
        return f"{round(self.r.uniform(lo, hi), nd)}"

    def ts(self) -> str:
        base = datetime(2024, 6, 1) + timedelta(seconds=self.int(0, 200 * 86400))
        return base.strftime("%Y-%m-%dT%H:%M:%S") + self.pick(["+03:00", "Z"])

    def address(self) -> str:
        return f"{self.pick(CITIES)}, ул. {self.pick(STREETS)}, {self.int(1, 200)}"

    def text(self) -> str:
        return " ".join(self.pick(WORDS) for _ in range(self.int(0, 8)))

    def str_list(self, items: list[str]) -> str:
        return "[" + ", ".join(f"'{x}'" for x in items) + "]"


def _write_csv(path: str, header: list[str], rows: list[list[str]]) -> int:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)
    return os.path.getsize(path)


DOMCLICK_COLS = [
    "Object ID", "Price", "Price per sqm", "Mortgage Rate", "Address", "Address ID",
    "Area", "Rooms", "Floor", "Description", "Published Date", "Updated Date",
    "Seller ID", "Seller Name Hash", "Company Name", "Company ID", "Property Type",
    "Category", "House Floors", "Deal Type", "Discount Status", "Discount Value",
    "Placement Paid", "Big Card", "Pin Color", "Longitude", "Latitude",
    "Subway Distances", "Subway Names", "Photos URLs", "Monthly Payment",
    "Advance Payment", "Auction Status",
]
YANDEX_COLS = [
    "url_offer_yand", "price_offer", "square_total_offer", "address_offer",
    "rooms_offer", "floor_offer", "description_offer", "date_offer", "type_offer",
    "floors_house", "longitude", "latitude", "metro_name", "metro_transp",
    "time_to_metro", "photo_list_offer", "seller", "height_offer",
    "square_rooms_offer", "previous_price_offer",
]
AVITO_COLS = [
    "url_offer", "id_offer", "price_offer", "square_total_offer", "address_offer",
    "rooms_offer", "floor_offer", "description_offer", "date_offer", "type_offer",
    "floors_house", "sdelka_offer", "latitude", "longitude", "metro_name1",
    "metro_name2", "metro_name3", "distance_to_metro1", "distance_to_metro2",
    "distance_to_metro3", "photo_list_offer", "seller", "developer_offer",
    "height_offer", "square_rooms_offer", "renovation_offer", "built_year_offer",
    "type_house_offer",
]


def _domclick_row(r: _EtlRng, object_id: int, fail_gate: bool, overflow: bool):
    area = r.r.uniform(18, 160)
    price = round(area * r.r.uniform(80_000, 400_000), -3)
    floor = r.int(256, 1000) if overflow else r.int(1, 30)
    house = r.int(256, 1000) if overflow else r.int(floor, 41)
    row = [
        f"{object_id}.0", f"{price:.1f}", f"{price / area:.1f}",
        r.pick(["", r.num(5, 20)]), r.address(), str(r.int(1, 10**6)),
        f"{area:.1f}", str(r.int(1, 6)), f"{floor}.0", r.text(),
        r.pick([r.ts(), "not-a-date"]), r.ts(), str(r.int(1, 10**6)),
        f"{r.int(0, 2**32):08x}", r.pick(["ООО Дом", "Компания X", "Фирма"]),
        r.pick(["", str(r.int(1, 10**5))]),
        r.pick(["flat", "house", "room", "layout", ""]), r.pick(["living", ""]),
        str(house), r.pick(["sale", "rent", ""]), r.pick(["Active", "Expired", ""]),
        r.pick(["", r.num(0, 10)]), r.pick(["True", "False"]), r.pick(["True", "False", "1"]),
        str(r.int(0, 6)), r.num(30, 60, 4), r.num(44, 60, 4),
        r.pick(["[350.0, 1200.5]", "[10.5]", "not a list", "[]"]),
        r.str_list([r.pick(METROS) for _ in range(r.int(0, 3))]),
        r.str_list([f"s/{r.int(1, 10**6)}.jpg" for _ in range(r.int(0, 4))]),
        r.pick(["", str(r.int(10_000, 200_000))]),
        r.pick(["", str(r.int(100_000, 5_000_000))]), r.pick(["0", "1", ""]),
    ]
    if fail_gate:
        row[DOMCLICK_COLS.index(r.pick(["Price", "Area", "Rooms"]))] = ""
    return row, floor, house


def _yandex_row(r: _EtlRng, offer_id: int, fail_gate: bool, overflow: bool):
    floor = r.int(256, 1000) if overflow else r.int(1, 30)
    house = r.int(256, 1000) if overflow else 40
    row = [
        f"//realty.yandex.ru/offer/{offer_id}", r.money(2e6, 4e7), r.num(18, 160),
        r.address(), str(r.int(1, 6)), str(floor), r.text(), r.ts(),
        r.pick(["SECONDARY", "NEW_FLAT"]), str(house), r.num(30, 60, 4), r.num(44, 60, 4),
        r.pick(METROS + [""]), r.pick(["ON_FOOT", "ON_TRANSPORT", ""]),
        str(r.int(1, 40)),
        r.str_list([f"//avatars.mds.yandex.net/{r.int(1, 10**6)}.jpg"
                    for _ in range(r.int(0, 4))]),
        r.pick(["AGENT", "OWNER", "DEVELOPER"]), r.pick(["", r.num(2.4, 3.4)]),
        r.pick(["", r.num(8, 60)]), r.pick(["", r.money(2e6, 4e7)]),
    ]
    if fail_gate:
        row[YANDEX_COLS.index(r.pick(["price_offer", "square_total_offer", "rooms_offer"]))] = ""
    return row, floor, house


def _avito_row(r: _EtlRng, url_id: int, offer_id: int, fail_gate: bool, overflow: bool):
    floor = r.int(256, 1000) if overflow else r.int(1, 30)
    built = r.int(1950, 2025)  # every year overflows uint8
    row = [
        f"https://avito.ru/{('moskva', 'kazan', 'ufa')[url_id % 3]}/kvartiry/{url_id}",
        str(offer_id), r.money(2e6, 4e7), r.pick([r.num(18, 160), "0"]), r.address(),
        str(r.int(1, 6)), str(floor), r.text(), r.ts(),
        r.pick(["Flat", "Room", "House"]), str(r.int(2, 30)),
        r.pick(["Sale", "Rent", ""]), r.num(44, 60, 4), r.num(30, 60, 4),
        r.pick(METROS + [""]), r.pick(METROS + [""]), "", r.pick(["", r.num(100, 3000)]),
        "", "", r.str_list([f"https://img.avito.ru/{r.int(1, 10**6)}.jpg"]),
        r.pick(["Агентство", "агент", "Собственник"]), r.pick(["", "ПИК", "Самолёт"]),
        r.pick(["", r.num(2.4, 3.4)]), r.pick(["", r.num(8, 60)]),
        r.pick(["евроремонт", "косметический", ""]), str(built),
        r.pick(["панельный", "кирпичный", ""]),
    ]
    if fail_gate:
        row[AVITO_COLS.index(r.pick(["price_offer", "square_total_offer", "rooms_offer"]))] = ""
    return row, floor, built


def _keyed_platform(r: _EtlRng, n: int, make_row, key_ids: np.ndarray):
    """Rows for a keep-first-deduped platform. ~6% of rows repeat an
    earlier key (dropped by keep-first whatever their content); ~4% of
    first occurrences fail the gate, which drops the key even when a later
    duplicate of it would pass. Returns rows, planted facts and overflow
    samples (first occurrences that pass the gate)."""
    n_dup = n * 6 // 100
    n_keys = n - n_dup
    fail = set(r.sample(0, n_keys, n_keys * 4 // 100))
    overflow = set(r.sample(0, n_keys, max(1, n_keys // 100)))
    overflow -= fail
    # positions of duplicate rows in the output; each repeats a key whose
    # first occurrence is earlier in the file
    dup_pos = set(r.sample(n // 10, n, n_dup))
    rows, planted, next_key = [], [], 0
    for pos in range(n):
        if pos in dup_pos and next_key > 0:
            k = r.int(0, next_key)
            row, _, _ = make_row(key_ids[k], r.int(0, 2) == 1, False)
            rows.append(row)
            continue
        k = next_key
        next_key += 1
        row, floor, extra = make_row(key_ids[k], k in fail, k in overflow)
        rows.append(row)
        if k in overflow:
            planted.append((k, floor, extra))
    distinct = next_key
    failures = len([k for k in fail if k < distinct])
    return rows, distinct, failures, len(rows) - distinct, planted


def _domclick(path: str, n: int, seed: int) -> tuple[dict, list[dict]]:
    """No dedup, so Object IDs are unique; the dropna gate alone filters."""
    r = _EtlRng(f"{seed}/domclick")
    ids = r.sample(2_000_000_000, 2_100_000_000, n)
    fail = set(r.sample(0, n, n * 4 // 100))
    overflow = set(r.sample(0, n, max(1, n // 100))) - fail
    rows, planted = [], []
    for i in range(n):
        row, floor, house = _domclick_row(r, int(ids[i]), i in fail, i in overflow)
        rows.append(row)
        if i in overflow:
            planted.append({"platform_id": PLATFORM_IDS["domclick"], "listing_id": int(ids[i]),
                            "floor": floor % 256, "house_floors": house % 256})
    size_b = _write_csv(os.path.join(path, f"domclick_{ETL_DATES['domclick'][0]}.csv"),
                        DOMCLICK_COLS, rows)
    return {"rows": n, "distinct_keys": n, "gate_failures": len(fail), "duplicates": 0,
            "expected_out": n - len(fail), "csv_bytes": size_b}, planted


def _yandex(path: str, n: int, seed: int) -> tuple[dict, list[dict]]:
    """Two snapshots; `latest` must ignore the older one."""
    r = _EtlRng(f"{seed}/yandex")
    old = [_yandex_row(r, int(x), False, False)[0]
           for x in r.sample(10**17, 10**18, max(10, n // 10))]
    _write_csv(os.path.join(path, f"yandex_{ETL_DATES['yandex'][0]}.csv"), YANDEX_COLS, old)
    yids = r.sample(6 * 10**17, 7 * 10**17, n)
    rows, distinct, failures, dups, planted = _keyed_platform(
        r, n, lambda k, f, o: _yandex_row(r, int(k), f, o), yids)
    size_b = _write_csv(os.path.join(path, f"yandex_{ETL_DATES['yandex'][1]}.csv"),
                        YANDEX_COLS, rows)
    return {"rows": n, "distinct_keys": distinct, "gate_failures": failures,
            "duplicates": dups, "expected_out": distinct - failures, "csv_bytes": size_b}, [
        {"platform_id": PLATFORM_IDS["yandex"], "listing_id": int(yids[k]),
         "floor": floor % 256, "house_floors": house % 256} for k, floor, house in planted]


def _avito(path: str, n: int, seed: int) -> tuple[dict, list[dict]]:
    """The dedup key is the url; the listing id is a separate unique column."""
    r = _EtlRng(f"{seed}/avito")
    aurl = r.sample(10**6, 10**9, n)
    oid_of = dict(zip(aurl, r.sample(10**9, 10**10, n)))
    rows, distinct, failures, dups, planted = _keyed_platform(
        r, n, lambda k, f, o: _avito_row(r, int(k), oid_of[int(k)], f, o), aurl)
    size_b = _write_csv(os.path.join(path, f"avito_{ETL_DATES['avito'][0]}.csv"),
                        AVITO_COLS, rows)
    return {"rows": n, "distinct_keys": distinct, "gate_failures": failures,
            "duplicates": dups, "expected_out": distinct - failures, "csv_bytes": size_b}, [
        {"platform_id": PLATFORM_IDS["avito"], "listing_id": int(oid_of[int(aurl[k])]),
         "floor": floor % 256, "built_year_offer": built % 256} for k, floor, built in planted]


def etl_inputs(root: str, size: str, seed: int) -> tuple[str, dict]:
    """Write the platform snapshot folder; return (folder, facts). Each
    platform draws from its own seeded stream, so the three are written
    by three worker processes at once."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    path, facts = _prepare(root, "etl", size, seed)
    if facts is not None:
        return path, facts
    n = SIZES[size]["etl_rows"]
    sizes = {"domclick": n // 3, "yandex": n // 3, "avito": n - 2 * (n // 3)}
    makers = {"domclick": _domclick, "yandex": _yandex, "avito": _avito}
    with ProcessPoolExecutor(max_workers=3, mp_context=multiprocessing.get_context("fork")) as pool:
        futures = {p: pool.submit(makers[p], path, sizes[p], seed) for p in makers}
        done = {p: f.result() for p, f in futures.items()}
    facts = {"platforms": {p: done[p][0] for p in makers},
             "planted_uint8": [x for p in makers for x in done[p][1]]}

    # cian has no transformer: the request must skip it
    _write_csv(os.path.join(path, f"cian_{ETL_DATES['cian'][0]}.csv"),
               ["anything", "other"], [["x", "1"]])

    plats = facts["platforms"].values()
    facts["expected_rows"] = sum(p["expected_out"] for p in plats)
    facts["csv_bytes"] = sum(p["csv_bytes"] for p in plats)
    facts["input_rows"] = sum(p["rows"] for p in plats)
    return path, _finish(path, facts)


# ---------------------------------------------------------------------------
# TPC-H-shaped tables + events
# ---------------------------------------------------------------------------
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")


def _write_table(path: str, name: str, cols: dict) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(cols)
    out = os.path.join(path, f"{name}.parquet")
    pq.write_table(table, out)
    return table.num_rows


def _money(g: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(g.uniform(lo, hi, n), 2)


def query_tables(root: str, size: str, seed: int) -> tuple[str, dict]:
    """Write region/nation/supplier/customer/part/orders/lineitem/events
    parquet files; return (folder, facts with row counts)."""
    import pyarrow as pa

    path, facts = _prepare(root, "tables", size, seed)
    if facts is not None:
        return path, facts
    s = SIZES[size]["tpch_scale"]
    g = _rng(seed)
    n_supp, n_cust, n_part = max(10, int(100 * s)), max(50, int(1500 * s)), max(50, int(2000 * s))
    n_ord, n_users = max(200, int(15000 * s)), max(20, int(150 * s))
    n_events = max(500, int(10000 * s))
    rows = {}
    rows["region"] = _write_table(path, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    rows["nation"] = _write_table(path, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    rows["supplier"] = _write_table(path, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(g, -999, 9999, n_supp)})
    rows["customer"] = _write_table(path, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(g, -999, 9999, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in g.integers(0, 5, n_cust)]})
    adjectives = ["small", "red", "large", "blue", "green", "shiny"]
    nouns = ["ring", "widget", "bolt", "gear", "valve", "panel"]
    rows["part"] = _write_table(path, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(g.integers(0, 6, n_part), g.integers(0, 6, n_part))],
        "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
        "p_type": [["ECONOMY", "STANDARD", "PROMO", "LARGE"][i] for i in g.integers(0, 4, n_part)],
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1 + g.integers(0, 100, n_part), 2)})
    odays = g.integers(0, 2400, n_ord)  # 1995-01-01 .. mid 2001
    odate = EPOCH_1995 + odays.astype("timedelta64[D]")
    rows["orders"] = _write_table(path, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in g.integers(0, 3, n_ord)],
        "o_totalprice": _money(g, 1000, 500000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in g.integers(0, 5, n_ord)]})
    lines = g.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    ship = odate[l_order] + g.integers(1, 122, n_li).astype("timedelta64[D]")
    rows["lineitem"] = _write_table(path, "lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": g.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(g, 900, 100000, n_li),
        "l_discount": np.round(g.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(g.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [["A", "N", "R"][i] for i in g.integers(0, 3, n_li)],
        "l_linestatus": [["F", "O"][i] for i in g.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    # events: unique whole-second timestamps over 30 days, ids in ts order.
    # Whole seconds because events_sessionize compares gaps with
    # unix_timestamp (floored to seconds) and its oracle with epoch()
    # (fractional): a gap within a second of the 30-minute limit would
    # split sessions differently on the two sides.
    ts = np.sort(g.choice(30 * 86400, size=n_events, replace=False))
    rows["events"] = _write_table(path, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "s") + ts.astype("timedelta64[s]"),
                       pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, n_users, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in g.integers(0, 5, n_events)],
        "value": _money(g, 0, 100, n_events),
        "props": [f'{{"k": {i}}}' for i in g.integers(0, 100, n_events)]})
    return path, _finish(path, {"rows": rows})


# ---------------------------------------------------------------------------
# Document corpus
# ---------------------------------------------------------------------------
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "po", "si", "de", "fu",
             "ga", "hi", "jo", "ze", "vu", "be", "ny", "qa", "wo", "xe"]
LANGS = ["en", "de", "fr", "es", "zh"]


def shingle_set(text: str, n: int = 3) -> set[str]:
    """The engine's shingling (functions/text.py): whitespace tokens with
    empties dropped, distinct n-word shingles joined by one space."""
    toks = [t for t in text.split(" ") if t != ""]
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter) if (sa or sb) else 0.0


def corpus(root: str, size: str, seed: int) -> tuple[str, dict]:
    """Write documents.parquet; return (folder, facts). Planted: exact
    duplicate groups (3% of docs are copies) and near-duplicate clusters
    (a base doc plus 1-3 variants with a replaced token run), every
    within-cluster pair listed with its exact shingle Jaccard."""
    import pyarrow as pa

    path, facts = _prepare(root, "corpus", size, seed)
    if facts is not None:
        return path, facts
    n_docs = SIZES[size]["docs"]
    g = _rng(seed)
    vocab = [a + b + c for a in SYLLABLES for b in SYLLABLES for c in SYLLABLES[:8]]

    def fresh(k: int) -> list[str]:
        return [vocab[i] for i in g.integers(0, len(vocab), k)]

    n_exact = n_docs * 3 // 100
    n_clusters = n_docs // 25
    texts: list[str] = []
    groups: list[list[int]] = []  # exact-dup groups, by index into texts
    clusters: list[list[int]] = []
    # background first, sized so the planted docs (at most 4 per cluster,
    # n_exact copies) never push the corpus past n_docs
    while len(texts) < n_docs - n_exact - 4 * n_clusters:
        texts.append(" ".join(fresh(int(g.integers(25, 90)))))
    # near-dup clusters: variants replace a run of r tokens of the base
    for _ in range(n_clusters):
        base = fresh(int(g.integers(40, 90)))
        members = [len(texts)]
        texts.append(" ".join(base))
        for _ in range(int(g.integers(1, 4))):
            run = max(1, int(len(base) * float(g.uniform(0.02, 0.3))))
            at = int(g.integers(0, len(base) - run))
            members.append(len(texts))
            texts.append(" ".join(base[:at] + fresh(run) + base[at + run:]))
        clusters.append(members)
    # exact duplicates of background docs
    for src in g.choice(len(texts) - sum(map(len, clusters)), size=n_exact // 2, replace=False):
        grp = [int(src)]
        for _ in range(int(g.integers(1, 3))):
            grp.append(len(texts))
            texts.append(texts[int(src)])
        groups.append(grp)
    while len(texts) < n_docs:
        texts.append(" ".join(fresh(int(g.integers(25, 90)))))
    # shuffle so doc_id order carries no structure
    perm = g.permutation(len(texts))
    doc_id = np.empty(len(texts), dtype=np.int64)
    doc_id[perm] = np.arange(len(texts))
    order = np.argsort(doc_id)
    final_texts = [texts[i] for i in order]

    planted_pairs = []
    for members in clusters + groups:
        ids = members
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = sorted((int(doc_id[ids[x]]), int(doc_id[ids[y]])))
                planted_pairs.append([a, b, jaccard(texts[ids[x]], texts[ids[y]])])
    exact_groups = [sorted(int(doc_id[i]) for i in grp) for grp in groups]
    lang = [LANGS[i] for i in g.integers(0, len(LANGS), len(texts))]
    source = [f"src{i}" for i in g.integers(0, 20, len(texts))]
    _write_table(path, "documents", {
        "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
        "text": final_texts, "lang": lang, "source": source,
        "n_chars": pa.array([len(t) for t in final_texts], pa.int64())})
    above = [p for p in planted_pairs if p[2] >= JACCARD_THRESHOLD]
    return path, _finish(path, {
        "docs": len(texts), "exact_groups": exact_groups,
        "planted_pairs": planted_pairs, "planted_pairs_above": len(above),
        "threshold": JACCARD_THRESHOLD})
