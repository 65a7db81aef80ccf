"""Seeded JHU-shaped feed generator and the pure-Python record contract.

``write_feed`` writes the four CSVs the reference's daily job consumes:
the confirmed, deaths and recovered time series (one row per location,
one ``m/d/yy`` column per day) and the UID/ISO/FIPS lookup. It keeps the
quirks the ETL contract depends on:

- blank ``Province/State`` on country-level rows;
- names with commas and doubled quotes, which the CSV writer quotes;
- lookup decoy rows: several rows share a ``Country_Region`` and only
  the first in file order may enrich a record;
- lookup misses: some countries have no lookup row at all;
- locations absent from the deaths and recovered feeds;
- a recovered feed that is missing its last date column.

``category_records`` and ``combined_records`` rebuild, with
``csv.DictReader`` and plain loops as the reference ``parser.py`` and
``parser2.py`` did, the records the engine's ``etl.category_pipeline``
and ``etl.combined_pipeline`` must write. ``read_lake`` reads what was
written back. Nothing here imports Spark.
"""

from __future__ import annotations

import csv
import datetime as dt
import glob
import json
import os
import random
import re

CATEGORIES = ("confirmed", "deaths", "recovered")
_HEADER = ["Province/State", "Country/Region", "Lat", "Long"]
# The reference's date-column rule (parser.py): date-shaped header names.
_DATE_RE = re.compile(r"^\d{1,2}/\d{1,2}/\d{2}$")
_LOOKUP_HEADER = [
    "UID", "iso2", "iso3", "Province_State", "Country_Region",
    "Lat", "Long_", "Combined_Key", "Population",
]


def _country_name(i: int) -> str:
    if i % 10 == 0:
        return f'Land "{i}" of the Isles'
    if i % 10 == 5:
        return f"Republic {i}, The"
    return f"Country {i}"


def _coord(rng: random.Random, lim: float) -> str:
    return repr(round(rng.uniform(-lim, lim), rng.choice((2, 4, 5))))


def write_feed(out_dir: str, seed: int, n_locations: int = 3300, n_dates: int = 400) -> dict[str, str]:
    """Write the feed into ``out_dir`` and return ``{name: path}`` for
    ``confirmed``, ``deaths``, ``recovered`` and ``lookup``."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    day0 = dt.date(2020, 1, 22)
    dates = []
    for k in range(n_dates):
        d = day0 + dt.timedelta(days=k)
        dates.append(f"{d.month}/{d.day}/{d.strftime('%y')}")

    n_countries = max(2, n_locations // 16)
    countries = [_country_name(i) for i in range(n_countries)]
    locations: list[tuple[str, str]] = []
    for c in countries:
        if rng.random() < 0.6:
            locations.append(("", c))
    while len(locations) < n_locations:
        c = countries[rng.randrange(n_countries)]
        p = rng.choice(("Province", "State", 'Region "North"', "Oblast, Upper"))
        locations.append((f"{p} {len(locations)}", c))
    locations = locations[:n_locations]
    rng.shuffle(locations)
    coords = {loc: (_coord(rng, 80.0), _coord(rng, 179.0)) for loc in locations}

    # every 33rd location is missing from deaths, every 15th from recovered
    absent = {"confirmed": 0, "deaths": 33, "recovered": 15}
    paths = {name: os.path.join(out_dir, f"time_series_{name}.csv") for name in CATEGORIES}
    for name in CATEGORIES:
        cols = dates[:-1] if name == "recovered" else dates
        with open(paths[name], "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(_HEADER + cols)
            for k, loc in enumerate(locations):
                if absent[name] and k % absent[name] == 7:
                    continue
                total, series = 0, []
                rate = rng.choice((0, 1, 3, 20, 200))
                for _ in cols:
                    total += rng.randrange(rate + 1)
                    series.append(total)
                w.writerow([loc[0], loc[1], *coords[loc], *series])

    lookup_rows = []
    uid = 1
    for i, c in enumerate(countries):
        if i % 16 == 1:
            continue  # lookup miss: this country never enriches
        iso2 = f"{chr(65 + rng.randrange(26))}{chr(65 + rng.randrange(26))}"
        for j in range(1 + i % 4):  # j > 0: decoy rows behind the first match
            province = "" if j == 0 and rng.random() < 0.8 else f"Decoy {j}"
            lookup_rows.append([
                uid, iso2 if j == 0 else f"{iso2[0]}{j}", f"{iso2}X", province, c,
                _coord(rng, 80.0), _coord(rng, 179.0),
                f"{province}, {c}" if province else c, rng.randrange(10**8),
            ])
            uid += 1
    while len(lookup_rows) < int(n_locations * 1.2):
        lookup_rows.append([
            uid, "ZZ", "ZZZ", "", f"Elsewhere {uid}",
            _coord(rng, 80.0), _coord(rng, 179.0), f"Elsewhere {uid}", 0,
        ])
        uid += 1
    rng.shuffle(lookup_rows)
    paths["lookup"] = os.path.join(out_dir, "UID_ISO_FIPS_LookUp_Table.csv")
    with open(paths["lookup"], "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(_LOOKUP_HEADER)
        w.writerows(lookup_rows)
    return paths


def _date_str(name: str) -> str:
    return str(dt.datetime.strptime(name, "%m/%d/%y"))


def _read(path: str) -> list[dict]:
    with open(path, newline="") as fh:
        return list(csv.DictReader(fh))


def _date_fields(row: dict) -> list[str]:
    return [k for k in row if _DATE_RE.match(k)]


def _first_lookup(lookup: list[dict]) -> dict[str, dict]:
    first: dict[str, dict] = {}
    for row in lookup:
        first.setdefault(row["Country_Region"], row)
    return first


def category_records(paths: dict[str, str]) -> dict[str, list[dict]]:
    """``type -> records`` as ``parser.py`` builds them: one record per
    CSV row, lookup fields from the first matching row, absent on miss."""
    first = _first_lookup(_read(paths["lookup"]))
    out: dict[str, list[dict]] = {}
    for cat in CATEGORIES:
        records = []
        for row in _read(paths[cat]):
            rec = {
                "time_series": [
                    {"date": _date_str(d), "value": int(row[d])} for d in _date_fields(row)
                ],
                "province/state": row["Province/State"],
                "country/region": row["Country/Region"],
                "lat": float(row["Lat"]),
                "long": float(row["Long"]),
            }
            hit = first.get(row["Country/Region"])
            if hit is not None:
                rec["country-iso2"] = hit["iso2"]
                rec["country-lat"] = float(hit["Lat"])
                rec["country-long"] = float(hit["Long_"])
            records.append(rec)
        out[cat] = records
    return out


def combined_records(paths: dict[str, str]) -> list[dict]:
    """The ``parser2.py`` records: each confirmed row zipped with its
    deaths and recovered rows (0 where a row or a date is missing)."""
    first = _first_lookup(_read(paths["lookup"]))
    deaths = {(r["Country/Region"], r["Province/State"]): r for r in _read(paths["deaths"])}
    recovered = {(r["Country/Region"], r["Province/State"]): r for r in _read(paths["recovered"])}
    records = []
    for row in _read(paths["confirmed"]):
        key = (row["Country/Region"], row["Province/State"])
        d_row, r_row = deaths.get(key, {}), recovered.get(key, {})
        rec = {
            "time_series": [
                {
                    "date": _date_str(d),
                    "confirmed": int(row[d]),
                    "deaths": int(d_row.get(d, 0)),
                    "recovered": int(r_row.get(d, 0)),
                }
                for d in _date_fields(row)
            ],
            "province/state": row["Province/State"],
            "country/region": row["Country/Region"],
            "lat": float(row["Lat"]),
            "long": float(row["Long"]),
        }
        hit = first.get(row["Country/Region"])
        if hit is not None:
            rec["iso2"] = hit["iso2"]
        records.append(rec)
    return records


def read_lake(lake_dir: str) -> list[dict]:
    """Every JSON record in the part files directly under ``lake_dir``."""
    records = []
    for path in glob.glob(os.path.join(lake_dir, "part-*")):
        with open(path) as fh:
            records.extend(json.loads(line) for line in fh if line.strip())
    return records


def same_records(written: list[dict], expected: list[dict]) -> bool:
    """Order-insensitive record equality (files and row order are not
    part of the contract)."""
    if len(written) != len(expected):
        return False
    canon = lambda recs: sorted(json.dumps(r, sort_keys=True) for r in recs)  # noqa: E731
    return canon(written) == canon(expected)


def deaths_by_country(records: dict[str, list[dict]]) -> dict[str, tuple[int, int]]:
    """The lake SQL aggregate's expected answer: per country, the number
    of deaths rows and the sum of their last values."""
    out: dict[str, tuple[int, int]] = {}
    for rec in records["deaths"]:
        n, s = out.get(rec["country/region"], (0, 0))
        out[rec["country/region"]] = (n + 1, s + rec["time_series"][-1]["value"])
    return out
