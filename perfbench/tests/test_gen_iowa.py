"""The Iowa CSV generator: deterministic per seed, and its truth record
agrees with an independent parse of the pages it wrote."""

import csv
import filecmp
import glob
import json
import os
from decimal import Decimal, InvalidOperation

import gen_iowa

ROWS = 60_000  # two pages


def _pages(d):
    return sorted(glob.glob(os.path.join(d, "pages", "*.csv")))


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen_iowa.generate(a, 11, ROWS)
    gen_iowa.generate(b, 11, ROWS)
    gen_iowa.generate(c, 12, ROWS)
    names = [os.path.basename(p) for p in _pages(a)]
    assert names == ["page_00000.csv", "page_00001.csv"]
    match, mismatch, errors = filecmp.cmpfiles(
        os.path.join(a, "pages"), os.path.join(b, "pages"), names, shallow=False
    )
    assert match == names and not mismatch and not errors
    assert filecmp.cmp(os.path.join(a, "truth.json"), os.path.join(b, "truth.json"), shallow=False)
    assert not filecmp.cmp(_pages(a)[0], _pages(c)[0], shallow=False)


def test_truth_matches_pages(tmp_path):
    out = str(tmp_path / "g")
    truth = gen_iowa.generate(out, 5, ROWS)
    with open(os.path.join(out, "truth.json")) as fh:
        assert json.load(fh) == truth

    rows = []
    for page in _pages(out):
        with open(page, newline="") as fh:
            r = csv.reader(fh)
            assert next(r) == gen_iowa.COLUMNS
            rows.extend(r)
    assert len(rows) == truth["rows"] and all(len(x) == 24 for x in rows)
    assert truth["pages"] == 2

    col = {c: i for i, c in enumerate(gen_iowa.COLUMNS)}
    by_invoice = {}
    for x in rows:
        assert by_invoice.setdefault(x[0], x) == x  # duplicates are exact copies
    assert len(by_invoice) == truth["fact_rows"] < truth["rows"]

    def distinct(c, f=lambda v: v):
        return len({f(x[col[c]]) for x in rows if x[col[c]] != gen_iowa.NULL})

    assert truth["dim_rows"] == {
        "dim_store": distinct("store"),
        "dim_item": distinct("itemno"),
        "dim_vendor": distinct("vendor_no"),
        "dim_category": distinct("category"),
        "dim_date": distinct("date", lambda v: v[:10]),
    }

    def parse(v):
        try:
            d = Decimal(v)
        except InvalidOperation:
            return None
        assert d > 0  # valid cells are positive, so silver's zeros are the bad cells
        return d

    bad = sum(parse(x[i]) is None for x in rows for i in range(16, 24))
    assert bad == truth["unparseable_cells"]
    assert 0.01 < bad / (8 * len(rows)) < 0.03
    dollars = sum(
        (parse(x[col["sale_dollars"]]) or Decimal(0)) for x in by_invoice.values()
    )
    assert str(dollars) == truth["sale_dollars_total"]
    # first-wins dedup has conflicting attributes to choose between
    names = {}
    for x in rows:
        names.setdefault(x[col["store"]], set()).add(x[col["name"]])
    assert any(len(v) > 1 for v in names.values())
