"""Seeded Bronze generator: API snapshots in the reference envelope.

Each snapshot is one ``{"result": [record, ...]}`` document, one record
per vehicle, with the raw API's fields ``Lines``, ``VehicleNumber``,
``Lat``, ``Lon``, ``Time`` and the ``Brigade`` field the declared read
schema drops.  Snapshots are landed through
``landing.LandingClient.save_raw`` into the Hive
``year=/month=/day=`` layout, named by their poll time.

Vehicles drive a random walk inside the Warsaw box, polled every 15 s.
Each record is, at the rates in :data:`RATES`:

- ``duplicate``: the vehicle's previous record again, byte for byte
  (a re-poll before the vehicle reported anew);
- ``out_of_bbox``: a position outside the Warsaw box;
- ``empty_lines``: a blank ``Lines`` value;
- ``malformed_time``: a ``Time`` that does not parse;
- ``wrong_date``: a ``Time`` one day before the snapshot's date;
- ``glitch``: a position jump that implies more than 70 km/h.

Strings are sometimes padded with blanks, so trimming matters.  The
same arguments give byte-identical files.
"""

from __future__ import annotations

import random
import time
from datetime import datetime, timedelta, timezone

RATES = {
    "duplicate": 0.05,
    "out_of_bbox": 0.01,
    "empty_lines": 0.01,
    "malformed_time": 0.005,
    "wrong_date": 0.01,
    "glitch": 0.005,
}
POLL_S = 15
FIRST_POLL = "06:00:00"


def _fleet(rng: random.Random, n: int) -> list[dict]:
    lines = [str(n) for n in range(100, 260)] + [f"L-{i}" for i in range(1, 20)]
    lines += [f"N{i}" for i in range(1, 20)]
    return [
        {
            "VehicleNumber": str(1000 + i) if i < 9000 else str(10000 + i),
            "Lines": rng.choice(lines),
            "Brigade": str(rng.randint(1, 40)).zfill(rng.choice((1, 2))),
            "lat": rng.uniform(52.05, 52.35),
            "lon": rng.uniform(20.6, 21.4),
        }
        for i in range(n)
    ]


def snapshots(seed: int, day: str, n_snapshots: int, n_vehicles: int):
    """Yield ``(poll_time, envelope)`` for one date's snapshots."""
    rng = random.Random(f"{seed}/{day}")
    fleet = _fleet(rng, n_vehicles)
    last: dict[str, dict] = {}
    t0 = datetime.fromisoformat(f"{day}T{FIRST_POLL}").replace(
        tzinfo=timezone.utc
    )
    for k in range(n_snapshots):
        poll = t0 + timedelta(seconds=POLL_S * k)
        out = []
        for v in fleet:
            prev = last.get(v["VehicleNumber"])
            if prev is not None and rng.random() < RATES["duplicate"]:
                out.append(prev)
                continue
            v["lat"] = min(max(v["lat"] + rng.gauss(0, 0.0006), 52.01), 52.39)
            v["lon"] = min(max(v["lon"] + rng.gauss(0, 0.0009), 20.51), 21.49)
            lat, lon = v["lat"], v["lon"]
            when = poll - timedelta(seconds=rng.randint(0, 10))
            time_s = when.strftime("%Y-%m-%d %H:%M:%S")
            lines = v["Lines"]
            u = rng.random()
            edge = 0.0
            for kind in (
                "out_of_bbox", "empty_lines", "malformed_time",
                "wrong_date", "glitch",
            ):
                edge += RATES[kind]
                if u < edge:
                    break
            else:
                kind = None
            if kind == "out_of_bbox":
                lat, lon = 50.06 + rng.uniform(0, 0.01), 19.94
            elif kind == "empty_lines":
                lines = rng.choice(("", "  "))
            elif kind == "malformed_time":
                time_s = rng.choice(("n/a", f"{day}T??:??", "0000-00-00"))
            elif kind == "wrong_date":
                time_s = (when - timedelta(days=1)).strftime(
                    "%Y-%m-%d %H:%M:%S"
                )
            elif kind == "glitch":
                lat = min(lat + 0.05, 52.39)
            if rng.random() < 0.02:
                lines = f" {lines} "
            rec = {
                "Lines": lines,
                "Lon": round(lon, 6),
                "VehicleNumber": v["VehicleNumber"],
                "Time": time_s,
                "Lat": round(lat, 6),
                "Brigade": v["Brigade"],
            }
            last[v["VehicleNumber"]] = rec
            out.append(rec)
        yield poll, {"result": out}


def land(client, seed: int, plan: list[tuple[str, int]], n_vehicles: int):
    """Land every snapshot of ``plan`` (``[(date, n_snapshots), ...]``)
    through ``client.save_raw``.  Returns the landed paths, the records
    per date, and the seconds spent inside ``save_raw``."""
    paths, records, save_s = [], {}, 0.0
    for day, n in plan:
        records[day] = 0
        for poll, envelope in snapshots(seed, day, n, n_vehicles):
            records[day] += len(envelope["result"])
            t = time.perf_counter()
            paths.append(client.save_raw(envelope, now=poll))
            save_s += time.perf_counter() - t
    return paths, records, save_s
