"""Seeded TripEvent generator for the ETL workloads.

Writes TripEvent JSON lines, shaped like
``sources.streaming.synthetic_trip_event_json``, across the 16 shard
files of a Kinesis-replay stream directory (``shardId-NNN.jsonl``).
2% of the lines are malformed, drawn from the three classes the parse
operator dead-letters: truncated JSON, a missing required field and a
bad timestamp. Every record carries a distinct ``trip_id``; malformed
records are never valid, so the planted valid set is known exactly.

Two modes:

- ``write_backlog`` (imported): a pre-generated stream, such as the
  small one each set-up's cold batch reads.
- ``python3 perfbench/tripgen.py live ...``: an open-loop producer, one
  process and one thread. Every ``TICK_MS`` it appends
  ``RATE * TICK_MS / 1000 / 16`` lines to each shard, whether or not the
  pipeline keeps up. The due time of line ``i`` of a shard is
  ``t0 + (i // per_shard_tick) * tick``; the producer writes ``t0``, the
  tick size and its own lateness to a JSON log kept outside the stream
  directory, together with a summary of what it planted.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

SHARDS = 16
MALFORMED_SHARE = 0.02
#: the live producer: records per second over all shards (1.25x the
#: reference's 16k rec/s ceiling), tick length, and its first trip id,
#: above every pre-seeded id
RATE = 20_000
TICK_MS = 20
FIRST_ID = 10_000_000
#: pickup locations records are drawn from (the reference's zone ids run
#: to 265). Each location is one partition directory per batch, and the
#: file sink's staged publish creates and then deletes a directory tree
#: per batch; on a slow disk, 265 of them per batch stalled batches for
#: 5-20 s at random, so the benchmark draws from the first 64.
LOCATIONS = 64
#: pickup times fall in one calendar month, so a batch writes into one
#: partition directory per pickup location
_PICKUP_START = 1541030400  # 2018-11-01T00:00:00Z
_PICKUP_SPAN_S = 29 * 86400

_TEMPLATE = (
    '{"vendor_id":%d,"pickup_datetime":"%s","dropoff_datetime":"%s",'
    '"passenger_count":%d,"trip_distance":%.2f,"ratecode_id":1,'
    '"store_and_fwd_flag":"%s","pickup_location_id":%d,'
    '"dropoff_location_id":%d,"payment_type":%d,"fare_amount":%.2f,'
    '"extra":0.5,"mta_tax":0.5,"tip_amount":%.2f,"tolls_amount":0.0,'
    '"improvement_surcharge":0.3,"total_amount":%.2f,"trip_id":%d,'
    '"type":"trip","padding":""}'
)


def shard_name(i: int) -> str:
    return f"shardId-{i:012d}.jsonl"


def _iso(epoch_s: np.ndarray) -> np.ndarray:
    return np.datetime_as_string(epoch_s.astype("datetime64[s]"), unit="s")


class Planted:
    """What a generator wrote: counts, an order-independent fingerprint
    of the valid ``trip_id`` set and the partition directories the valid
    records map to."""

    def __init__(self) -> None:
        self.valid = 0
        self.corrupt = 0
        self.id_sum = 0
        self.id_sq_sum = 0
        self.dirs: set[str] = set()

    def add(self, ids: np.ndarray, locs: np.ndarray, months: np.ndarray, ok: np.ndarray) -> None:
        v = ids[ok].astype(object)  # Python ints: the square sum must not wrap
        self.valid += len(v)
        self.corrupt += int((~ok).sum())
        self.id_sum += int(sum(v))
        self.id_sq_sum += int(sum(x * x for x in v))
        for loc, ym in set(zip(locs[ok].tolist(), months[ok].tolist())):
            self.dirs.add(f"pickup_location={loc:03d}/year={ym[:4]}/month={ym[5:7]}")

    def to_json(self) -> dict:
        return {
            "valid": self.valid,
            "corrupt": self.corrupt,
            "id_sum": self.id_sum,
            "id_sq_sum": self.id_sq_sum,
            "dirs": sorted(self.dirs),
        }

    def merge(self, other: "Planted") -> None:
        self.valid += other.valid
        self.corrupt += other.corrupt
        self.id_sum += other.id_sum
        self.id_sq_sum += other.id_sq_sum
        self.dirs |= other.dirs

    @classmethod
    def from_json(cls, d: dict) -> "Planted":
        p = cls()
        p.valid, p.corrupt = d["valid"], d["corrupt"]
        p.id_sum, p.id_sq_sum = d["id_sum"], d["id_sq_sum"]
        p.dirs = set(d["dirs"])
        return p


def make_lines(
    rng: np.random.Generator, first_id: int, n: int, planted: Planted,
    locations: int = LOCATIONS,
) -> list[str]:
    """``n`` TripEvent lines with trip ids ``first_id .. first_id + n - 1``
    and pickup locations ``1 .. locations``."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    pickup = _PICKUP_START + rng.integers(0, _PICKUP_SPAN_S, n)
    dropoff = pickup + rng.integers(60, 3600, n)
    p_iso, d_iso = _iso(pickup), _iso(dropoff)
    vendor = rng.integers(1, 3, n)
    passengers = rng.integers(1, 7, n)
    dist = rng.uniform(0.3, 25.0, n)
    flag = np.where(rng.random(n) < 0.02, "Y", "N")
    ploc = rng.integers(1, locations + 1, n)
    dloc = rng.integers(1, 266, n)
    pay = rng.integers(1, 5, n)
    fare = rng.uniform(2.5, 80.0, n)
    tip = rng.uniform(0.0, 15.0, n)
    total = fare + tip + 1.3
    lines = [
        _TEMPLATE % row
        for row in zip(
            vendor.tolist(), p_iso.tolist(), d_iso.tolist(), passengers.tolist(),
            dist.tolist(), flag.tolist(), ploc.tolist(), dloc.tolist(), pay.tolist(),
            fare.tolist(), tip.tolist(), total.tolist(), ids.tolist(),
        )
    ]
    bad = np.flatnonzero(rng.random(n) < MALFORMED_SHARE)
    kinds = rng.integers(0, 3, len(bad))
    for i, kind in zip(bad.tolist(), kinds.tolist()):
        line = lines[i]
        if kind == 0:  # truncated JSON
            lines[i] = line[: len(line) // 2]
        elif kind == 1:  # required field missing
            lines[i] = line.replace('"pickup_location_id":%d,' % ploc[i], "")
        else:  # unparseable timestamp
            lines[i] = line.replace(p_iso[i], "not-a-timestamp", 1)
    ok = np.ones(n, dtype=bool)
    ok[bad] = False
    planted.add(ids, ploc, p_iso.astype("U7"), ok)
    return lines


def write_backlog(
    stream_dir: str, seed: int, per_shard: int, locations: int = LOCATIONS
) -> Planted:
    """A 16-shard backlog of ``per_shard`` lines each; trip ids are
    assigned shard-major so every record's id is distinct."""
    os.makedirs(stream_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    planted = Planted()
    for s in range(SHARDS):
        lines = make_lines(rng, s * per_shard, per_shard, planted, locations)
        with open(os.path.join(stream_dir, shard_name(s)), "w") as f:
            f.write("\n".join(lines))
            f.write("\n")
    return planted


def run_live(stream_dir: str, seed: int, seconds: float, log: str) -> None:
    """Open-loop producer: append on a fixed schedule, never waiting for
    the consumer. All lines are generated before ``t0`` so formatting
    cost cannot make the schedule late. Lines already in a shard file
    (``base``) are not the producer's; its ``i``-th line of a shard is
    line ``base + i`` and was due at ``t0 + (i // per_shard_tick) * tick``."""
    per_tick = RATE * TICK_MS // 1000 // SHARDS
    n_ticks = int(seconds * 1000 // TICK_MS)
    rng = np.random.default_rng(seed)
    planted = Planted()
    # line i of shard s carries trip id (FIRST_ID + s * n_ticks * per_tick
    # + i), so ids are distinct and the producer needs no shared counter
    shard_lines = [
        make_lines(rng, FIRST_ID + s * n_ticks * per_tick, n_ticks * per_tick, planted)
        for s in range(SHARDS)
    ]
    base = {}
    for s in range(SHARDS):
        with open(os.path.join(stream_dir, shard_name(s)), "rb") as f:
            base[shard_name(s).split(".")[0]] = sum(1 for _ in f)
    files = [open(os.path.join(stream_dir, shard_name(s)), "a") for s in range(SHARDS)]
    tick = TICK_MS / 1000.0
    late_ms = []
    try:
        t0 = time.time() + 0.05
        for k in range(n_ticks):
            due = t0 + k * tick
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            lo, hi = k * per_tick, (k + 1) * per_tick
            for f, lines in zip(files, shard_lines):
                f.write("\n".join(lines[lo:hi]))
                f.write("\n")
                f.flush()
            late_ms.append((time.time() - due) * 1000.0)
    finally:
        for f in files:
            f.close()
    with open(log + ".tmp", "w") as f:
        json.dump(
            {
                "t0": t0,
                "tick_s": tick,
                "per_shard_tick": per_tick,
                "lines_per_shard": n_ticks * per_tick,
                "base": base,
                "late_ms": late_ms,
                "planted": planted.to_json(),
            },
            f,
        )
    os.replace(log + ".tmp", log)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    live = sub.add_parser("live")
    live.add_argument("--dir", required=True)
    live.add_argument("--seed", type=int, required=True)
    live.add_argument("--seconds", type=float, required=True)
    live.add_argument("--log", required=True)
    a = ap.parse_args(argv)
    run_live(a.dir, a.seed, a.seconds, a.log)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
