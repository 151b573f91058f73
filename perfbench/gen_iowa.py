"""Seeded generator of Iowa-shaped CSV pages plus the truth record that
``etl_pipeline`` checks the pipeline's outputs against.

The pages follow the 24-column ``IOWA_RAW_SCHEMA`` order, one header line
per page and ``PAGE_ROWS`` rows per page (the reference's ``CHUNK_ROWS``).
The data carries the pathologies the pipeline exists to handle:

- skewed store and item popularity over realistic dimension sizes;
- about 2% of numeric cells unparseable (they become 0 in silver);
- some invoice lines sent twice, as exact copies (fact PK dedup);
- some dimension attributes spelled two ways (first-wins dim dedup);
- a few NULL dimension keys and NULL dates (the ``IS NOT NULL`` filters).

Every valid numeric cell is positive, so the zero cells of silver's eight
coerced columns are exactly the unparseable cells.

The shape constants below are assumptions set by hand, not counts taken
from the published data set, except ``N_COUNTIES`` (Iowa has 99 counties).
They give dimension sizes of the order a statewide retail feed has and
keep every page's first-wins dedup, NULL-key filter and coercion busy.
"""

from __future__ import annotations

import csv
import json
import os
from datetime import date, timedelta

import numpy as np

PAGE_ROWS = 50_000
COLUMNS = [
    "invoice_line_no", "date", "store", "name", "address", "city", "zipcode",
    "store_location", "county_number", "county", "category", "category_name",
    "vendor_no", "vendor_name", "itemno", "im_desc", "pack",
    "bottle_volume_ml", "sale_bottles", "state_bottle_cost",
    "state_bottle_retail", "sale_dollars", "sale_liters", "sale_gallons",
]
NUMERIC_COLUMNS = COLUMNS[16:]
NULL = "\\N"
BAD_NUMERICS = ["n/a", "twelve", "#VALUE!", "--", "1.2.3", ""]

N_STORES = 1_800
N_ITEMS = 4_000
N_VENDORS = 220
N_CATEGORIES = 65
N_COUNTIES = 99
DUP_SHARE = 0.005
BAD_SHARE = 0.02
ALT_SHARE = 0.01
NULL_KEY_SHARE = 0.002
FIRST_DAY = date(2012, 1, 2)
N_DAYS = 12 * 365
CITIES = [
    "DES MOINES", "CEDAR RAPIDS", "DAVENPORT", "SIOUX CITY", "IOWA CITY",
    "WATERLOO", "AMES", "WEST DES MOINES", "COUNCIL BLUFFS", "ANKENY",
    "DUBUQUE", "URBANDALE", "CEDAR FALLS", "MARION", "BETTENDORF",
    "MASON CITY", "MARSHALLTOWN", "CLINTON", "BURLINGTON", "OTTUMWA",
]
SPIRITS = ["VODKA", "WHISKEY", "RUM", "GIN", "TEQUILA", "BRANDY", "SCHNAPPS",
           "LIQUEUR", "BOURBON", "SCOTCH"]
PACKS = np.array([6, 12, 24, 48])
VOLUMES = np.array([50, 200, 375, 750, 1000, 1750])


def _zipf_choice(rng, n: int, size: int, a: float = 0.8) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** a
    return rng.choice(n, size=size, p=w / w.sum())


def _dims(rng) -> dict:
    """Dimension attribute tables; index i is key i."""
    county = rng.integers(0, N_COUNTIES, N_STORES)
    return {
        "store_city": rng.integers(0, len(CITIES), N_STORES),
        "store_county": county,
        "store_zip": rng.integers(50001, 52810, N_STORES),
        "store_lon": rng.uniform(-96.5, -90.2, N_STORES),
        "store_lat": rng.uniform(40.4, 43.5, N_STORES),
        "store_no_loc": rng.random(N_STORES) < 0.05,
        "item_vendor": rng.integers(0, N_VENDORS, N_ITEMS),
        "item_category": rng.integers(0, N_CATEGORIES, N_ITEMS),
        "item_pack": PACKS[rng.integers(0, len(PACKS), N_ITEMS)],
        "item_volume": VOLUMES[rng.integers(0, len(VOLUMES), N_ITEMS)],
        "item_cost_cents": rng.integers(150, 6000, N_ITEMS),
    }


def _cents(c: np.ndarray) -> np.ndarray:
    return np.array([f"{x // 100}.{x % 100:02d}" for x in c.tolist()], dtype=object)


def _text(values) -> np.ndarray:
    return np.array([str(x) for x in np.asarray(values).tolist()], dtype=object)


def generate(out_dir: str, seed: int, rows: int) -> dict:
    """Write the CSV pages into ``out_dir/pages`` and the truth record
    beside them as ``out_dir/truth.json``; return the truth record."""
    rng = np.random.default_rng(seed)
    d = _dims(rng)
    n_base = rows - int(rows * DUP_SHARE)
    store = _zipf_choice(rng, N_STORES, n_base)
    item = _zipf_choice(rng, N_ITEMS, n_base)
    day = rng.integers(0, N_DAYS, n_base)
    bottles = rng.integers(1, 49, n_base)
    alt = rng.random((4, n_base)) < ALT_SHARE
    null_key = rng.random((5, n_base)) < NULL_KEY_SHARE
    bad = rng.random((len(NUMERIC_COLUMNS), n_base)) < BAD_SHARE
    bad_pick = rng.integers(0, len(BAD_NUMERICS), (len(NUMERIC_COLUMNS), n_base))
    # Re-sent invoice lines: exact copies of random base rows, each placed
    # before a random base row, so first-wins PK dedup sees identical
    # candidates and the fact total is the total over distinct lines.
    dups = rng.integers(0, n_base, rows - n_base)
    at = rng.integers(0, n_base, rows - n_base)

    vendor = d["item_vendor"][item]
    category = d["item_category"][item]
    cost = d["item_cost_cents"][item]
    retail = cost * 3 // 2
    vol = d["item_volume"][item]
    ml = bottles * vol
    city = np.array(CITIES, dtype=object)[d["store_city"]]
    county = d["store_county"] + 1
    spirit = np.array(SPIRITS, dtype=object)
    key_cols = {
        "store": _text(2000 + store),
        "itemno": _text(10000 + item * 7),
        "vendor_no": _text(100 + vendor),
        "category": _text(1010000 + category * 100),
        "date": np.array(
            [(FIRST_DAY + timedelta(days=x)).isoformat() for x in day.tolist()],
            dtype=object,
        ),
    }
    keys = {k: np.where(null_key[j], None, v) for j, (k, v) in enumerate(key_cols.items())}
    numerics = [
        _text(d["item_pack"][item]), _text(vol), _text(bottles), _cents(cost),
        _cents(retail), _cents(bottles * retail), _cents((ml + 5) // 10),
        _cents((ml * 264172 + 5_000_000) // 10_000_000),
    ]
    bad_text = np.array(BAD_NUMERICS, dtype=object)
    numerics = [np.where(bad[j], bad_text[bad_pick[j]], col) for j, col in enumerate(numerics)]

    s_ids = np.arange(N_STORES)
    store_name = _text(s_ids)
    store_names = (
        "HY-VEE #" + store_name + " / " + city,
        "Hy-Vee #" + store_name + " / " + np.array([c.title() for c in city], dtype=object),
    )
    s_loc = np.array(
        [f"POINT ({lo:.5f} {la:.5f})" for lo, la in zip(d["store_lon"], d["store_lat"])],
        dtype=object,
    )
    s_loc[d["store_no_loc"]] = NULL
    cat_spirit = spirit[category % len(SPIRITS)]
    item_spirit = spirit[item % len(SPIRITS)]
    title = np.vectorize(str.title, otypes=[object])
    columns = [
        "INV-" + _text([f"{seed % 100000:05d}{i:09d}" for i in range(n_base)]),
        np.where(null_key[4], NULL, key_cols["date"] + "T00:00:00.000"),
        np.where(null_key[0], NULL, key_cols["store"]),
        np.where(alt[0], store_names[1][store], store_names[0][store]),
        (_text(100 + s_ids % 900) + " MAIN ST, STE " + _text(s_ids % 7))[store],
        city[store],
        _text(d["store_zip"])[store],
        s_loc[store],
        _text(county)[store],
        ("COUNTY " + _text(county))[store],
        np.where(null_key[3], NULL, key_cols["category"]),
        np.where(alt[1], title(cat_spirit), cat_spirit) + " " + _text(category),
        np.where(null_key[2], NULL, key_cols["vendor_no"]),
        np.where(alt[2], "Vendor ", "VENDOR ") + _text(vendor)
        + np.where(alt[2], " Spirits", " SPIRITS"),
        np.where(null_key[1], NULL, key_cols["itemno"]),
        np.where(alt[3], title(item_spirit), item_spirit)
        + np.where(alt[3], " No ", " NO ") + _text(item) + " " + _text(vol)
        + np.where(alt[3], "ml", "ML"),
        *numerics,
    ]
    order = np.concatenate([np.arange(n_base), dups])
    position = np.concatenate([np.arange(n_base) * 2 + 1, at * 2])
    order = order[np.argsort(position, kind="stable")]

    pages = os.path.join(out_dir, "pages")
    os.makedirs(pages, exist_ok=True)
    csv_bytes = 0
    for p in range(0, rows, PAGE_ROWS):
        path = os.path.join(pages, f"page_{p // PAGE_ROWS:05d}.csv")
        page = order[p : p + PAGE_ROWS]
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh, lineterminator="\n")
            w.writerow(COLUMNS)
            w.writerows(zip(*(col[page] for col in columns)))
        csv_bytes += os.path.getsize(path)

    truth = {
        "seed": seed,
        "rows": rows,
        "pages": (rows + PAGE_ROWS - 1) // PAGE_ROWS,
        "fact_rows": n_base,
        "dim_rows": {
            f"dim_{'item' if k == 'itemno' else k.removesuffix('_no')}": len(
                set(v[v != None].tolist())  # noqa: E711
            )
            for k, v in keys.items()
        },
        "sale_dollars_total": _cents(
            np.array([int((bottles * retail)[~bad[5]].sum())])
        )[0],
        "unparseable_cells": int(bad[:, order].sum()),
        "csv_bytes": csv_bytes,
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)
    return truth
