"""Seeded Bronze corpus shaped like the ZTM vehicle-position feed.

Each snapshot is one ``{"result": [...]}`` JSON file holding every
vehicle's latest ping, landed under ``WAW/year=/month=/day=`` exactly like
the reference's ingestor.  The corpus carries the dirt the Silver cleanse
removes, each at a fixed rate (``DIRT`` below):

- ``stale``: the vehicle did not report since the last snapshot, so the
  feed repeats its previous ping -> duplicate ``(VehicleNumber, Time)``;
- ``dup_moved``: a second ping with the same key but a moved position
  (the dedup survivor must be deterministic);
- ``out_of_box``: a point outside the Warsaw bounding box;
- ``other_day``: a ping stamped with the previous day;
- ``blank_line``: ``Lines`` is blank or whitespace;
- ``null_field``: one of the five fields is JSON ``null``;
- ``bad_time``: ``Time`` is not ``yyyy-MM-dd HH:mm:ss``;
- ``glitch``: a GPS jump that implies more than 70 km/h.

The rates, the 5-minute snapshot step and the per-snapshot shape are
assumed values, not measured ones: no sample of the real feed is in the
repository to derive them from.  They make every cleanse rule fire on
every date; replace them with measured ones once reference feed data is
available.

Strings may carry padding the cleanse trims, and every record carries the
raw ``Brigade`` field the declared read schema drops.  The same seed
writes byte-identical files: one ``random.Random(seed)`` drives every
choice and JSON is written with fixed separators and key order.
"""

from __future__ import annotations

import json
import os
import random
from datetime import date, datetime, timedelta

#: per-record probabilities of each kind of dirt (see module docstring);
#: assumed, not measured
DIRT = {
    "stale": 0.04,
    "dup_moved": 0.005,
    "out_of_box": 0.01,
    "other_day": 0.01,
    "blank_line": 0.01,
    "null_field": 0.01,
    "bad_time": 0.005,
    "glitch": 0.003,
}

#: points outside the Warsaw box the cleanse keeps (geo.WARSAW_BOX); clean
#: pings walk inside a margin of it
OUTSIDE = [(50.0614, 19.9366), (52.2297, 22.1), (51.9, 21.0), (0.0, 0.0)]
BAD_TIMES = ["N/A", "", "2026-02-23T13:21:35Z", "13:21:35"]
FIELDS = ("Lines", "VehicleNumber", "Lat", "Lon", "Time")


def _lines(rng: random.Random, n: int) -> list[str]:
    pool = [str(x) for x in range(100, 530)] + [f"L-{x}" for x in range(1, 40)]
    pool += [f"N{x:02d}" for x in range(1, 90)] + [str(x) for x in range(1, 80)]
    rng.shuffle(pool)
    return pool[:n]


def snapshot_plan(day: date, snapshots: int, first_hour: int = 6, step_min: int = 5):
    """Snapshot wall-clock times of one day: every ``step_min`` minutes
    from ``first_hour``."""
    t0 = datetime(day.year, day.month, day.day, first_hour)
    return [t0 + timedelta(minutes=step_min * k) for k in range(snapshots)]


def generate(
    out_dir: str,
    seed: int,
    days: list[date],
    snapshots_per_day: int,
    vehicles: int,
    n_lines: int = 300,
) -> dict:
    """Write the corpus under ``out_dir/WAW`` and return its counts.

    Returns ``{"files", "records", "bytes", "dirt": {kind: count}}``.
    """
    rng = random.Random(seed)
    lines = _lines(rng, n_lines)
    fleet = []
    for v in range(vehicles):
        number = str(1000 + v) if v < 9000 else str(10000 + v)
        fleet.append(
            {
                "VehicleNumber": number,
                "Lines": rng.choice(lines),
                "Brigade": str(rng.randint(1, 520)),
            }
        )
    counts = {"files": 0, "records": 0, "bytes": 0, "dirt": dict.fromkeys(DIRT, 0)}
    for day in days:
        # every vehicle starts the day at a fresh point inside the box
        state = {}
        for veh in fleet:
            state[veh["VehicleNumber"]] = {
                "lat": rng.uniform(52.05, 52.35),
                "lon": rng.uniform(20.6, 21.4),
                "last": None,
            }
        for snap in snapshot_plan(day, snapshots_per_day):
            records = []
            for veh in fleet:
                st = state[veh["VehicleNumber"]]
                if st["last"] is not None and rng.random() < DIRT["stale"]:
                    records.append(dict(st["last"]))
                    counts["dirt"]["stale"] += 1
                    continue
                # ~ up to 25 km/h between 5-minute snapshots
                st["lat"] = min(max(st["lat"] + rng.uniform(-0.012, 0.012), 52.01), 52.39)
                st["lon"] = min(max(st["lon"] + rng.uniform(-0.018, 0.018), 20.51), 21.49)
                ts = snap - timedelta(seconds=rng.randint(0, 29))
                rec = {
                    "Lines": veh["Lines"],
                    "Lon": round(st["lon"], 6),
                    "VehicleNumber": veh["VehicleNumber"],
                    "Time": ts.strftime("%Y-%m-%d %H:%M:%S"),
                    "Lat": round(st["lat"], 6),
                    "Brigade": veh["Brigade"],
                }
                st["last"] = dict(rec)
                rec = _dirty(rng, rec, counts["dirt"])
                records.append(rec)
                if rng.random() < DIRT["dup_moved"]:
                    dup = dict(rec)
                    if isinstance(dup["Lat"], float):
                        dup["Lat"] = round(dup["Lat"] + 0.0004, 6)
                    records.append(dup)
                    counts["dirt"]["dup_moved"] += 1
            path = os.path.join(
                out_dir,
                "WAW",
                f"year={day.year}",
                f"month={day.month:02d}",
                f"day={day.day:02d}",
                f"WAW_{snap:%Y%m%d_%H%M%S}.json",
            )
            os.makedirs(os.path.dirname(path), exist_ok=True)
            body = json.dumps({"result": records}, separators=(",", ":"))
            with open(path, "w", encoding="utf-8") as f:
                f.write(body)
            counts["files"] += 1
            counts["records"] += len(records)
            counts["bytes"] += len(body.encode("utf-8"))
    return counts


def _dirty(rng: random.Random, rec: dict, tally: dict) -> dict:
    """Apply at most one kind of per-record dirt to a clean ping."""
    u = rng.random()
    edge = 0.0
    for kind in ("out_of_box", "other_day", "blank_line", "null_field", "bad_time", "glitch"):
        edge += DIRT[kind]
        if u < edge:
            break
    else:
        if rng.random() < 0.02:  # trim targets, not dirt: the cleanse keeps them
            rec["Lines"] = f" {rec['Lines']}  "
        return rec
    tally[kind] += 1
    if kind == "out_of_box":
        rec["Lat"], rec["Lon"] = rng.choice(OUTSIDE)
    elif kind == "other_day":
        t = datetime.strptime(rec["Time"], "%Y-%m-%d %H:%M:%S") - timedelta(days=1)
        rec["Time"] = t.strftime("%Y-%m-%d %H:%M:%S")
    elif kind == "blank_line":
        rec["Lines"] = rng.choice(["", "   "])
    elif kind == "null_field":
        rec[rng.choice(FIELDS)] = None
    elif kind == "bad_time":
        rec["Time"] = rng.choice(BAD_TIMES)
    else:  # glitch: a ~9 km jump inside the box within one snapshot step
        jump = 0.08 if rec["Lat"] < 52.3 else -0.08
        rec["Lat"] = round(rec["Lat"] + jump, 6)
    return rec

