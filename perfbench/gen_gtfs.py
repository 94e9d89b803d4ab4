"""Seeded GTFS input for the gtfs-poll workload, cached on disk by seed.

The static bundle has the NMBS shape that ``scripts/bench_gtfs_scale.py``
synthesizes (stop/route/trip/stop_time tables, one all-week service,
8-20 stops per trip at 3-minute spacing, departures past 24:00) at a twentieth
of its trip count. The poll sequence is a list of GTFS-RT feeds built with
``encode_feed``: a fixed set of trips carries delay updates, and between
consecutive polls a seeded subset of them changes its delays.
"""

from __future__ import annotations

import csv
import json
import os
import random
import zlib

N_TRIPS = 1_000
N_STOPS = 650
N_ROUTES = 250
N_ENTITIES = 80
CHANGED_SHARE = 0.2  # entities whose delays change from one poll to the next
N_POLLS = 8
HEADER_TS0 = 1705312800  # 2024-01-15 10:00 UTC, the service day the feeds name
POLL_EVERY_S = 30


def _stops_of(i: int) -> int:
    return i * 7 % 13 + 8


def _base_minute(i: int) -> int:
    return i * 11 % (26 * 60)


def _write_static(static: str) -> None:
    def table(name: str, header: list[str], rows) -> None:
        with open(os.path.join(static, f"{name}.txt"), "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            w.writerows(rows)

    table(
        "stops",
        ["stop_id", "stop_code", "stop_name", "stop_lat", "stop_lon"],
        (
            (f"S{i:04d}", f"C{i:04d}", f"Station {i}", f"{50 + i / 1000:.3f}", f"{4 + i / 1000:.3f}")
            for i in range(1, N_STOPS + 1)
        ),
    )
    table(
        "routes",
        ["route_id", "route_short_name", "route_long_name", "route_type"],
        ((f"R{i:04d}", f"IC{i}", f"Intercity Line {i}", "2") for i in range(1, N_ROUTES + 1)),
    )
    table(
        "trips",
        ["route_id", "service_id", "trip_id", "trip_headsign", "trip_short_name", "direction_id"],
        (
            (f"R{i % N_ROUTES + 1:04d}", "WK", f"T{i:05d}", f"City {i % 40}", str(7000 + i % 999), str(i % 2))
            for i in range(N_TRIPS)
        ),
    )

    def stop_times():
        for i in range(N_TRIPS):
            h = zlib.crc32(f"T{i:05d}".encode())
            for seq in range(1, _stops_of(i) + 1):
                dep = _base_minute(i) + seq * 3
                yield (
                    f"T{i:05d}",
                    f"{(dep - 1) // 60:02d}:{(dep - 1) % 60:02d}:00",
                    f"{dep // 60:02d}:{dep % 60:02d}:00",
                    str(seq),
                    f"S{(h + seq * 17) % N_STOPS + 1:04d}",
                    "0",
                    "0",
                )

    table(
        "stop_times",
        ["trip_id", "arrival_time", "departure_time", "stop_sequence", "stop_id",
         "pickup_type", "drop_off_type"],
        stop_times(),
    )
    table(
        "calendar",
        ["service_id", "monday", "tuesday", "wednesday", "thursday", "friday",
         "saturday", "sunday", "start_date", "end_date"],
        [("WK", "1", "1", "1", "1", "1", "1", "1", "20240101", "20241231")],
    )


def _write_polls(polls: str, seed: int) -> None:
    from gtfsrt2lc_spark.functions.gtfsrt_proto import encode_feed

    rng = random.Random(seed)
    trips = sorted(rng.sample(range(N_TRIPS), N_ENTITIES))

    def new_delays(i: int) -> list[int]:
        n_upd = min(5, (_stops_of(i) - 2) // 2)
        return [60 * rng.randrange(10) for _ in range(n_upd)]

    delays = {i: new_delays(i) for i in trips}
    for p in range(N_POLLS):
        if p:
            for i in rng.sample(trips, int(N_ENTITIES * CHANGED_SHARE)):
                delays[i] = new_delays(i)
        ts = HEADER_TS0 + POLL_EVERY_S * p
        entities = []
        for k, i in enumerate(trips):
            base = _base_minute(i)
            entities.append(
                {
                    "entity_id": str(k),
                    "trip_update": {
                        "trip": {
                            "trip_id": f"T{i:05d}",
                            "start_date": "20240115",
                            "start_time": f"{base // 60:02d}:{base % 60:02d}:00",
                        },
                        "stop_time_updates": [
                            {"stop_sequence": 2 + 2 * j, "departure_delay": d, "arrival_delay": d}
                            for j, d in enumerate(delays[i])
                        ],
                        "timestamp": ts,
                    },
                }
            )
        with open(os.path.join(polls, f"poll-{p:03d}.pb"), "wb") as f:
            f.write(encode_feed(ts, entities))


def gtfs_input(cache: str, seed: int) -> tuple[str, list[bytes]]:
    """(static dir, poll feeds in order) for the seed, generated on first use.
    The static bundle does not depend on the seed and is shared."""
    static = os.path.join(cache, f"gtfs-static-{N_TRIPS}")
    if not os.path.exists(os.path.join(static, "_DONE")):
        tmp = static + f".tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        _write_static(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        os.replace(tmp, static)
    polls = os.path.join(cache, f"gtfs-poll-{N_TRIPS}-{N_ENTITIES}x{N_POLLS}-{seed}")
    if not os.path.exists(os.path.join(polls, "_DONE")):
        tmp = polls + f".tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        _write_polls(tmp, seed)
        with open(os.path.join(tmp, "_DONE"), "w") as f:
            json.dump({"n_polls": N_POLLS}, f)
        os.replace(tmp, polls)
    feeds = []
    for p in range(N_POLLS):
        with open(os.path.join(polls, f"poll-{p:03d}.pb"), "rb") as f:
            feeds.append(f.read())
    return static, feeds
