"""Open-loop ad-click generator, run as its own process by the ad_realtime
workload: writes file k of the stream at ``start + k * interval`` whether or
not the stream keeps up, then writes a JSON log of when each file was due and
when it landed.

Usage: python3 adgen.py --dir D --seed N --first K --files N --interval S
                        --records R --start EPOCH --log PATH
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time

PROVINCES = {
    "Jiangsu": ("Nanjing", "Suzhou"),
    "Hubei": ("Wuhan", "Jingzhou"),
    "Hunan": ("Changsha", "Xiangtan"),
    "Henan": ("Zhengzhou", "Luoyang"),
    "Hebei": ("Shijiazhuang", "Tangshan"),
}
#: Event time starts one simulated minute before midnight so a run spans two
#: date partitions; simulated time runs SIM_SPEED times faster than wall time.
SIM_START_MS = 1543708740000  # 2018-12-01 23:59:00 UTC
SIM_SPEED = 20
HEAVY_USERS = 20  # users 0..19 click often enough to be blacklisted
N_USERS = 100_000
LATE_SHARE = 0.05  # records whose event time is up to two simulated minutes old


def ad_click_lines(seed: int, file_no: int, records: int, interval_s: float) -> list[str]:
    """FIXTURES §6 records of file ``file_no``: 'ts province city userid
    adid', event time advancing with the file schedule, a few out of order,
    2% of clicks from the heavy users. The same seed gives the same lines."""
    rng = random.Random(seed * 1_000_003 + file_no)
    base = SIM_START_MS + int(file_no * interval_s * 1000 * SIM_SPEED)
    step = interval_s * 1000 * SIM_SPEED / records
    provinces = sorted(PROVINCES)
    lines = []
    for i in range(records):
        ts = base + int(i * step)
        if rng.random() < LATE_SHARE:
            ts -= rng.randint(0, 120_000)
        province = rng.choice(provinces)
        city = rng.choice(PROVINCES[province])
        user = (
            rng.randrange(HEAVY_USERS) if rng.random() < 0.02 else rng.randrange(N_USERS)
        )
        lines.append(f"{ts} {province} {city} {user} {rng.randrange(10)}")
    return lines


def write_atomic(path: str, lines: list[str]) -> None:
    """Write then rename, so the file source never lists a partial file
    (it skips names starting with '.')."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.rename(tmp, path)


def main() -> None:
    ap = argparse.ArgumentParser()
    for name, kind in (
        ("dir", str), ("seed", int), ("first", int), ("files", int),
        ("interval", float), ("records", int), ("start", float), ("log", str),
    ):
        ap.add_argument(f"--{name}", type=kind, required=True)
    a = ap.parse_args()
    log = []
    for k in range(a.first, a.first + a.files):
        due = a.start + (k - a.first) * a.interval
        lines = ad_click_lines(a.seed, k, a.records, a.interval)
        time.sleep(max(0.0, due - time.time()))
        path = os.path.join(a.dir, f"ads-{k:06d}.txt")
        write_atomic(path, lines)
        log.append({"file": path, "due": due, "done": time.time(), "records": len(lines)})
    with open(a.log, "w") as fh:
        json.dump(log, fh)


if __name__ == "__main__":
    main()
