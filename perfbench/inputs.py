"""Seeded benchmark inputs, cached by seed and shape.

- ``fleet``: the ODIM VP file tree plus its expected VPTS CSV lines
  (``odim_fleet.write_fleet``).
- ``inventory``: an S3 inventory over a larger virtual bucket that contains
  the fleet: headerless gzip CSV parts plus a manifest JSON in the layout
  ``operators.inventory.handle_manifest`` reads. Most keys were modified
  long ago; the fleet's keys carry upload delays of up to 150 minutes, so
  the late files of a day are modified after midnight. Every radar-day also
  has one non-``.h5`` key that the suffix filter must drop.
- ``events``: an ``events.parquet`` table for the ``analytics`` registry
  queries that read only that table.

Each input is written once into ``<cache>/<kind>-<shape>-s<seed>`` and reused;
only the most recently used entries are kept.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os
import random
import shutil
from collections import Counter

import odim_fleet

SOURCE = "baltrad"
#: radars x days x files/day of the converted fleet
FLEET = {"radars": 2, "days": 3, "per_day": 12}
#: virtual bucket around the fleet: radars x days x files/day (~96k keys)
BUCKET = {"radars": 10, "days": 100, "per_day": 96, "parts": 8}
#: lookback of the incremental run, and its fixed "now": 03:00 on the day
#: after the fleet's last day, so exactly the last two fleet days qualify
MODIFIED_DAYS_AGO = 2
_MAX_DELAY_MIN = 150
KEEP_ENTRIES = 6
EVENTS_ROWS = 20_000


def fleet_days(seed: int) -> list[dt.date]:
    """Consecutive days inside one month, picked by the seed."""
    month = 1 + seed % 12
    first = 1 + (seed // 12) % (28 - FLEET["days"])
    return [dt.date(2023, month, first + i) for i in range(FLEET["days"])]


def now_for(seed: int) -> dt.datetime:
    return dt.datetime.combine(fleet_days(seed)[-1], dt.time(3)) + dt.timedelta(days=1)


def _cached(cache: str, kind: str, seed: int, shape: dict, build) -> str:
    tag = "-".join(f"{k}{v}" for k, v in sorted(shape.items()))
    path = os.path.join(cache, f"{kind}-{tag}-s{seed}")
    done = os.path.join(path, "_complete")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        open(done, "w").close()
    os.utime(done)
    entries = sorted(
        (os.path.join(cache, e) for e in os.listdir(cache)),
        key=lambda p: os.path.getmtime(os.path.join(p, "_complete"))
        if os.path.exists(os.path.join(p, "_complete")) else 0,
    )
    for old in entries[:-KEEP_ENTRIES]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def fleet(cache: str, seed: int) -> tuple[str, dict]:
    """-> (h5 root, oracle) with oracle {"days": {day dir: [csv lines]},
    "files": n}."""

    def build(path: str) -> None:
        oracle = odim_fleet.write_fleet(
            os.path.join(path, "h5"), seed, FLEET["radars"], fleet_days(seed),
            FLEET["per_day"], SOURCE,
        )
        with open(os.path.join(path, "oracle.json"), "w") as fh:
            json.dump(oracle, fh)

    path = _cached(cache, "fleet", seed, FLEET, build)
    with open(os.path.join(path, "oracle.json")) as fh:
        return os.path.join(path, "h5"), json.load(fh)


def _stamp(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.000Z")


def inventory(cache: str, seed: int, h5_root: str) -> tuple[str, dict]:
    """-> (manifest path, expected) with expected {"rows": inventory rows,
    "coverage": {dir: .h5 keys}, "days": [dirs modified inside the lookback
    window]}."""
    shape = {**BUCKET, **{f"f{k}": v for k, v in FLEET.items()}}

    def build(path: str) -> None:
        rng = random.Random(seed)
        rows: list[tuple[str, str]] = []  # (key, modified)
        day0 = fleet_days(seed)[0]
        fleet_codes = set(os.listdir(os.path.join(h5_root, SOURCE, "hdf5")))
        codes = [
            c for c in odim_fleet.radar_codes(BUCKET["radars"] + len(fleet_codes), seed + 1)
            if c not in fleet_codes
        ][: BUCKET["radars"]]
        step = 1440 // BUCKET["per_day"]
        for code in codes:
            for d in range(BUCKET["days"], 0, -1):
                day = day0 - dt.timedelta(days=d)
                base = dt.datetime.combine(day, dt.time())
                prefix = f"{SOURCE}/hdf5/{code}/{day:%Y/%m/%d}/"
                for k in range(BUCKET["per_day"]):
                    ts = base + dt.timedelta(minutes=k * step)
                    mod = ts + dt.timedelta(minutes=rng.randrange(5, _MAX_DELAY_MIN))
                    rows.append((f"{prefix}{code}_vp_{ts:%Y%m%dT%H%M}00Z_0x9.h5", _stamp(mod)))
                rows.append((f"{prefix}{code}_vp_{day:%Y%m%d}.log", _stamp(base + dt.timedelta(days=1))))
        for dirpath, _dirs, files in os.walk(h5_root):
            rel = os.path.relpath(dirpath, h5_root)
            for name in files:
                ts = dt.datetime.strptime(name.split("_")[2][:13], "%Y%m%dT%H%M")
                mod = ts + dt.timedelta(minutes=rng.randrange(5, _MAX_DELAY_MIN))
                rows.append((f"{rel}/{name}", _stamp(mod)))
            if files:
                day = dt.datetime.strptime(rel[-10:], "%Y/%m/%d")
                rows.append((f"{rel}/coverage.csv", _stamp(day + dt.timedelta(days=1))))
        rows.sort()
        n = BUCKET["parts"]
        files = []
        for p in range(n):
            name = f"part-{p:05d}.csv.gz"
            lines = "".join(
                f'"aloft-bench","{key}","{rng.randrange(20000, 30000)}","{mod}"\n'
                for key, mod in rows[p * len(rows) // n : (p + 1) * len(rows) // n]
            )
            with gzip.open(os.path.join(path, name), "wt", compresslevel=1) as fh:
                fh.write(lines)
            files.append({"key": f"inventory/data/{name}", "size": os.path.getsize(os.path.join(path, name)),
                          "MD5checksum": "0" * 32})
        with open(os.path.join(path, "manifest.json"), "w") as fh:
            json.dump({"sourceBucket": "aloft-bench", "fileFormat": "CSV",
                       "fileSchema": "Bucket, Key, Size, LastModifiedDate", "files": files}, fh)
        cutoff = _stamp(now_for(seed) - dt.timedelta(days=MODIFIED_DAYS_AGO))
        h5 = [(k.rsplit("/", 1)[0], m) for k, m in rows if k.endswith(".h5")]
        expected = {
            "rows": len(rows),
            "coverage": dict(sorted(Counter(d for d, _m in h5).items())),
            "days": sorted({d for d, m in h5 if m > cutoff}),
        }
        with open(os.path.join(path, "expected.json"), "w") as fh:
            json.dump(expected, fh)

    path = _cached(cache, "inventory", seed, shape, build)
    with open(os.path.join(path, "expected.json")) as fh:
        return os.path.join(path, "manifest.json"), json.load(fh)


def events(cache: str, seed: int) -> str:
    """-> sf dir holding a seeded ``events.parquet`` (event_id, ts, user_id,
    event_type, value, props), shaped like the harness events table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(path: str) -> None:
        rng = np.random.default_rng(seed)
        n = EVENTS_ROWS
        start = np.datetime64(f"{fleet_days(seed)[0]:%Y-%m-%d}T00:00:00", "us")
        ts = start + np.sort(rng.integers(0, 30 * 86_400 * 10**6, n)).astype("timedelta64[us]")
        kinds = np.array(["click", "view", "purchase", "error", "login"])
        table = pa.table({
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n, dtype=np.int64)),
            "event_type": pa.array(kinds[rng.integers(0, len(kinds), n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        })
        pq.write_table(table, os.path.join(path, "events.parquet"))

    return _cached(cache, "events", seed, {"rows": EVENTS_ROWS}, build)
