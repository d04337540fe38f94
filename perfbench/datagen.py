"""Seeded raw inputs for the ``elt_curation`` ingestion pipelines.

``write_elt_inputs`` writes reference-shaped raw files (FIXTURES.md §1-3):
a stations CSV, a dict-root weather JSON and weekly journey CSVs in monthly
folders with both header variants, ~2% NULL station numbers and station ids
unknown to the stations CSV. It returns the counts the pipelines' outputs
are checked against. ``tests/fixtures.py`` writes the same shapes for the
tests, but from a fixed module seed; the benchmark's inputs must come from
its ``--seed``. The star-schema tables are not generated: the benchmark
reads the repository's sf0.01 testdata, copied under ``data/``.

The same seed always gives byte-identical files.
"""

from __future__ import annotations

import csv
import json
import os
from datetime import datetime, timedelta

import numpy as np

JOURNEY_HEADER = [
    "Number", "Bike number", "{start}", "{end}", "Start station number", "Start station",
    "End station number", "End station", "Bike model", "Total duration", "Total duration (ms)",
]


def write_elt_inputs(root: str, seed: int, weeks: int, rides_per_week: int,
                     n_stations: int) -> dict:
    """Write stations CSV, weather JSON and ``weeks`` weekly journey CSVs
    under ``root``; return their paths and the expected pipeline counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    stations_csv = os.path.join(root, "stations.csv")
    with open(stations_csv, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["Station.Id", "StationName", "easting", "northing", "longitude", "latitude"])
        for sid in range(1, n_stations + 1):
            w.writerow([
                sid, f"Station {sid}",
                round(float(rng.uniform(525000, 535000)), 1),
                round(float(rng.uniform(175000, 185000)), 1),
                round(float(rng.uniform(-0.2, 0.0)), 6) if rng.random() > 0.1 else "",
                round(float(rng.uniform(51.4, 51.6)), 6) if rng.random() > 0.1 else "",
            ])

    first = datetime(2021, 1, 4) + timedelta(days=7 * int(rng.integers(0, 26)))
    days = []
    for d in range(7 * weeks + 1):
        day = first + timedelta(days=d)
        days.append({
            "datetime": day.strftime("%Y-%m-%d"),
            "datetimeEpoch": int(day.timestamp()),
            "tempmax": round(float(rng.uniform(5, 20)), 1),
            "tempmin": round(float(rng.uniform(-2, 10)), 1),
            "temp": round(float(rng.uniform(2, 15)), 1),
            "feelslike": round(float(rng.uniform(0, 15)), 1),
            "humidity": round(float(rng.uniform(40, 95)), 1),
            "precip": round(float(rng.uniform(0, 12)), 2),
            "windspeed": round(float(rng.uniform(0, 40)), 1),
            "conditions": ["Rain", "Clear", "Overcast"][int(rng.integers(0, 3))],
            "description": "synthetic day",
            "icon": "cloudy",
            "stations": ["S1", "S2"],
            "preciptype": ["rain"] if rng.random() > 0.5 else None,
            "source": "obs",
            "precipprob": round(float(rng.uniform(0, 100)), 1) if rng.random() > 0.8 else None,
            "snow": round(float(rng.uniform(0, 5)), 1) if rng.random() > 0.9 else None,
            "snowdepth": None,
            "severerisk": round(float(rng.uniform(0, 100)), 1) if rng.random() > 0.85 else None,
        })
    weather_json = os.path.join(root, "weather.json")
    with open(weather_json, "w") as f:
        json.dump({"days": days}, f)

    # Station ids beyond the stations CSV, 10% more of them each week: the
    # discovery anti-join must add exactly the unknown ids seen so far, also
    # against a dim that earlier weeks already augmented.
    week_files, rows_so_far, stations_so_far, unknown = [], [], [], set()
    number = 0
    for wk in range(weeks):
        start_day = first + timedelta(days=7 * wk)
        month_dir = os.path.join(root, "raw", "cycling-journey", start_day.strftime("%b%Y"))
        os.makedirs(month_dir, exist_ok=True)
        path = os.path.join(month_dir, f"{300 + wk}JourneyDataExtract{start_day:%d%b%Y}.csv")
        variant = wk % 2 == 0
        header = [h.format(start="Start Date" if variant else "Start date",
                           end="End Date" if variant else "End date") for h in JOURNEY_HEADER]
        starts = rng.integers(0, 7 * 24 * 60, rides_per_week)
        durs = rng.integers(4, 91, rides_per_week)
        max_id = n_stations + (wk + 1) * max(n_stations // 10, 1)
        sids = rng.integers(1, max_id + 1, (rides_per_week, 2))
        nulls = rng.random((rides_per_week, 2)) < 0.02
        ebike = rng.random(rides_per_week) >= 0.82
        bikes = rng.integers(10000, 20000, rides_per_week)
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            for r in range(rides_per_week):
                t0 = start_day + timedelta(minutes=int(starts[r]))
                t1 = t0 + timedelta(minutes=int(durs[r]))
                ids = ["" if nulls[r, k] else int(sids[r, k]) for k in range(2)]
                unknown.update(i for i in ids if i != "" and i > n_stations)
                w.writerow([
                    number, int(bikes[r]), t0.strftime("%d/%m/%Y %H:%M"), t1.strftime("%d/%m/%Y %H:%M"),
                    ids[0], f"Station {ids[0]}" if ids[0] != "" else "",
                    ids[1], f"Station {ids[1]}" if ids[1] != "" else "",
                    "PBSC_EBIKE" if ebike[r] else "CLASSIC",
                    f"{int(durs[r])}m 0s", int(durs[r]) * 60000,
                ])
                number += 1
        week_files.append(path)
        rows_so_far.append(number)
        stations_so_far.append(n_stations + len(unknown))
    return {
        "stations_csv": stations_csv,
        "weather_json": weather_json,
        "week_files": week_files,
        "fact_rows_after_week": rows_so_far,
        "station_ids_after_week": stations_so_far,
    }
