"""Seeded input generators.

Every input the engine reads is generated here from the workload seed, and
the same (seed, rows) always gives byte-identical files.  Each generator
writes its files under ``out_dir`` and returns the rows it wrote as Python
values, already typed the way the engine's scan types them; oracle.py
replays the pipelines over those rows.

Inputs are split into ``PARTS`` files so that Spark's file splitting gives
every core a task even at benchmark sizes of a few MB.
"""

from __future__ import annotations

import csv
import os

import numpy as np

PARTS = 8


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _parts(n: int):
    """Row ranges of the PARTS part files."""
    bounds = np.linspace(0, n, PARTS + 1).astype(int)
    return [(int(a), int(b)) for a, b in zip(bounds[:-1], bounds[1:])]


def _write_csv(out_dir: str, header: list[str], cells: list[list[str]]):
    os.makedirs(out_dir, exist_ok=True)
    for k, (a, b) in enumerate(_parts(len(cells))):
        path = os.path.join(out_dir, f"part-{k:02d}.csv")
        with open(path, "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(header)
            w.writerows(cells[a:b])


def _write_parquet(out_dir: str, columns: list[str], rows: list[tuple],
                   types: dict):
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema([(c, types[c]) for c in columns])
    for k, (a, b) in enumerate(_parts(len(rows))):
        chunk = rows[a:b]
        table = pa.table({c: [r[i] for r in chunk]
                          for i, c in enumerate(columns)}, schema=schema)
        pq.write_table(table, os.path.join(out_dir, f"part-{k:02d}.parquet"),
                       compression="snappy")


# ----------------------------------------------------------------- zillow

_TITLES = ["Condo for sale", "House for sale", "Apartment for rent",
           "Condo recently sold", "Condo for rent", "Townhouse for sale",
           "condo foreclosed", "Apartment for sale", "Luxury condo for sale"]
_TITLE_P = [0.30, 0.15, 0.10, 0.10, 0.08, 0.07, 0.05, 0.10, 0.05]
_CITIES = ["boston", "cambridge", "somerville", "brookline", "newton",
           "quincy", "medford", "waltham"]
_STREETS = ["Main St", "Beacon St", "Elm St", "Harvard Ave", "Oak Rd",
            "Summer St", "Washington St", "Park Dr"]
_BATHS = ["1", "1.5", "2", "2.5", "3", "3.5", "4", "4.5"]


def _mixed_case(word: str, mask: int) -> str:
    return "".join(ch.upper() if (mask >> (i % 16)) & 1 else ch
                   for i, ch in enumerate(word))


def zillow(seed: int, n: int, out_dir: str):
    """Listings CSV; about 1% of rows carry one dirty cell (a facts,
    price or postal code that no UDF can parse).  Returns the typed rows:
    ``postal_code`` is an int (the scan infers it), and a row whose postal
    code does not parse is None (the scan quarantines it)."""
    g = _rng(seed, 1)
    title = g.choice(len(_TITLES), n, p=_TITLE_P)
    bds = g.integers(1, 13, n)
    bath = g.integers(0, len(_BATHS), n)
    sqft = g.integers(400, 6000, n)
    pps = g.integers(150, 900, n)
    sale = g.integers(40, 4000, n) * 1000
    rent = g.integers(9, 80, n) * 100
    city = g.integers(0, len(_CITIES), n)
    case = g.integers(0, 1 << 16, n)
    zipc = g.integers(2101, 2200, n)
    street = g.integers(0, len(_STREETS), n)
    num = g.integers(1, 400, n)
    apt = g.random(n) < 0.1
    dirty = g.random(n) < 0.01
    dirty_col = g.integers(0, 3, n)
    cells, typed = [], []
    for i in range(n):
        t = _TITLES[title[i]]
        facts = f"{bds[i]} bds , {_BATHS[bath[i]]} ba , {sqft[i]:,} sqft"
        low = t.lower()
        if "sold" in low:
            facts += f" , Price/sqft: ${pps[i]} , more"
            price = "$0"
        elif "rent" in low:
            price = f"${rent[i]:,}/mo"
        else:
            price = f"${sale[i]:,}"
        postal = f"{zipc[i]:05d}"
        if dirty[i]:
            if dirty_col[i] == 0:
                facts = "N/A"
            elif dirty_col[i] == 1:
                price = "$--"
            else:
                postal = "N/A"
        addr = f"{num[i]} {_STREETS[street[i]]}"
        if apt[i]:
            addr += f", Apt {num[i] % 17 + 1}"
        row = [t, addr, _mixed_case(_CITIES[city[i]], int(case[i])), "MA",
               postal, price, facts, f"provider {i % 23}",
               f"http://www.example.com/listing/{seed}/{i}"]
        cells.append(row)
        typed.append(None if not postal.isdigit() else
                     tuple(row[:4]) + (int(postal),) + tuple(row[5:]))
    from .udfs import ZILLOW_COLUMNS
    _write_csv(out_dir, ZILLOW_COLUMNS, cells)
    return typed


# ------------------------------------------------------------- service311

_BOROUGHS = ["MANHATTAN", "BROOKLYN", "QUEENS", "BRONX", "STATEN ISLAND"]
_BOROUGH_CITIES = {
    "MANHATTAN": ["New York"],
    "BROOKLYN": ["Brooklyn"],
    "QUEENS": ["Astoria", "Flushing", "Jamaica", "Long Island City"],
    "BRONX": ["Bronx"],
    "STATEN ISLAND": ["Staten Island"],
}
_BOROUGH_ZIP = {"MANHATTAN": 10001, "BROOKLYN": 11201, "QUEENS": 11101,
                "BRONX": 10451, "STATEN ISLAND": 10301}
_AGENCIES = ["NYPD", "DOT", "DSNY", "HPD", "DEP"]
_COMPLAINTS = ["Noise - Street/Sidewalk", "HEAT/HOT WATER",
               "Blocked Driveway", "Illegal Parking", "Street Condition",
               "Noise, Residential"]
# Incident Zip kinds: plain, ZIP+4, N/A, missing, zero, five zeros
_ZIP_KIND_P = [0.72, 0.09, 0.07, 0.05, 0.04, 0.03]


AGENCY_NAMES = [("NYPD", "Police Department"),
                ("DOT", "Department of Transportation"),
                ("DSNY", "Department of Sanitation"),
                ("HPD", "Housing Preservation and Development")]
# "DEP" is missing from the agency table: its requests find no row


def service311(seed: int, n: int, out_dir: str):
    """311 requests CSV plus a small agency table (parquet).  About 28% of
    requests are exceptional (ZIP+4, N/A, missing or zero ZIPs, missing
    cities) and 5% carry their creation time in a second format.  Returns
    (typed requests with None for empty cells, agency rows)."""
    import datetime
    import pyarrow as pa
    from .udfs import ALT_CREATED_FORMAT, CREATED_FORMAT, S311_COLUMNS
    g = _rng(seed, 2)
    borough = g.integers(0, len(_BOROUGHS), n)
    city_pick = g.integers(0, 4, n)
    zip_kind = g.choice(len(_ZIP_KIND_P), n, p=_ZIP_KIND_P)
    zip_off = g.integers(0, 60, n)
    plus4 = g.integers(0, 10000, n)
    no_city = g.random(n) < 0.04
    agency = g.integers(0, len(_AGENCIES), n)
    complaint = g.integers(0, len(_COMPLAINTS), n)
    secs = g.integers(0, 28 * 86400, n)
    alt = g.random(n) < 0.05
    base = datetime.datetime(2023, 1, 1)
    cells, typed = [], []
    for i in range(n):
        b = _BOROUGHS[borough[i]]
        cities = _BOROUGH_CITIES[b]
        city = "" if no_city[i] else cities[city_pick[i] % len(cities)]
        z5 = f"{_BOROUGH_ZIP[b] + zip_off[i]:05d}"
        z = [z5, f"{z5}-{plus4[i]:04d}", "N/A", "", "0", "00000"][
            zip_kind[i]]
        created = (base + datetime.timedelta(seconds=int(secs[i]))).strftime(
            ALT_CREATED_FORMAT if alt[i] else CREATED_FORMAT)
        row = [str(10_000_000 + seed % 1000 * 1_000_000 + i), created,
               _AGENCIES[agency[i]], _COMPLAINTS[complaint[i]], z, city, b]
        cells.append(row)
        typed.append((int(row[0]), created, row[2], row[3], z or None,
                      city or None, b))
    _write_csv(os.path.join(out_dir, "requests"), S311_COLUMNS, cells)
    _write_parquet(os.path.join(out_dir, "agencies"),
                   ["Agency", "AgencyName"], AGENCY_NAMES,
                   {"Agency": pa.string(), "AgencyName": pa.string()})
    return typed, list(AGENCY_NAMES)
