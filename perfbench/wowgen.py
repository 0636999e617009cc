"""Open-loop arrival generator for the wow_live workload.

A single-threaded process that plays a fixed schedule of sensor readings
into a landing directory, whatever the consumer does. The schedule is a
warm-up, then `lo`, then `hi`, separated by GAP_S idle seconds, and with
`--ladder` a geometric ladder of rates after them whose rungs follow one
another without a gap (see `schedule`). Reading i is due at a fixed wall
time; at every tick the readings already due are written to one CSV file
under a hidden temporary name and renamed into place, so the stream never
sees a partial file. The due time of each reading is its creation stamp.

Readings come from STATIONS stations in turn, each on a 15-minute sensor
cadence, with a seeded rain increment (0 or a small positive amount), so
a seed fixes every value.

Usage: wowgen.py --landing DIR --seconds S --seed N [--ladder] --log FILE.npy --summary FILE.json

Writes `--log` (a float64 array, one row per reading: event_id, phase,
due, written; epoch seconds) and `--summary` (JSON: offered count and the
phase table).
"""
import argparse
import json
import os
import time

import numpy as np

SENSOR_EPOCH = np.datetime64("2024-02-01T00:00:00", "s")
STATIONS = 50
GAP_S = 1.0
TICK_S = 0.05
# readings per second. On a 4-vCPU VM with a 1 s trigger the pipeline
# sustains about 35000/s (at 32000/s for 10.5 s its p99 latency already
# reached the 2 s limit in some runs), though a 3 s burst at 64000/s after
# an idle second still holds. `lo` is far below that and `hi` about half
# of it. The ladder rises by a factor of sqrt(2) from `hi` to past it,
# rung after rung with no idle time, so a backlog carries over and the
# highest rung that holds tracks the sustained rate and can move either
# way.
LO, HI = 200, 16000
LADDER = [22600, 32000, 45300, 64000, 90500]


def schedule(seconds, ladder):
    """(name, rate, seconds, idle seconds after) per phase, scaled to a
    run of `seconds`."""
    phases = [("warm", LO, 3.0, GAP_S), ("lo", LO, 0.3 * seconds, GAP_S),
              ("hi", HI, 0.7 * seconds, GAP_S)]
    if ladder:
        phases += [(f"r{k + 1}", r, 0.2 * seconds, 0.0) for k, r in enumerate(LADDER)]
    return phases


def csv_lines(rain):
    """Every reading's CSV line, as one buffer and the offset of each line,
    made before the schedule starts so that writing costs no formatting."""
    ids = np.arange(len(rain))
    ts = np.datetime_as_string(SENSOR_EPOCH + (ids // STATIONS) * np.timedelta64(900, "s"),
                               unit="s")
    lines = [f"{i},{i % STATIONS},{t},{v:.2f}\n".encode() for i, t, v in zip(ids, ts, rain)]
    offsets = np.zeros(len(lines) + 1, dtype=np.int64)
    np.cumsum([len(x) for x in lines], out=offsets[1:])
    return memoryview(b"".join(lines)), offsets


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--landing", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ladder", action="store_true")
    ap.add_argument("--log", required=True)
    ap.add_argument("--summary", required=True)
    a = ap.parse_args()

    phases = schedule(a.seconds, a.ladder)
    counts = [int(round(rate * secs)) for _, rate, secs, _ in phases]
    total = sum(counts)

    rng = np.random.default_rng(a.seed)
    rain = np.where(rng.random(total) < 0.3, np.round(rng.exponential(0.5, total), 2), 0.0)
    buf, offsets = csv_lines(rain)

    start = time.time() + 0.2
    due = np.empty(total)
    phase_of = np.empty(total)
    table, t0, first = [], start, 0
    for k, ((name, rate, secs, gap), n) in enumerate(zip(phases, counts)):
        due[first:first + n] = t0 + np.arange(n) / rate
        phase_of[first:first + n] = k
        table.append({"name": name, "rate": rate, "seconds": secs, "first": first,
                      "last": first + n - 1, "start": t0, "end": t0 + secs})
        first += n
        t0 += secs + gap

    written = np.empty(total)
    i, seq = 0, 0
    while i < total:
        now = time.time()
        j = int(np.searchsorted(due, now, side="right"))
        if j > i:
            tmp = os.path.join(a.landing, f".gen-{seq:06d}.csv.tmp")
            with open(tmp, "wb") as f:
                f.write(buf[offsets[i]:offsets[j]])
            os.rename(tmp, os.path.join(a.landing, f"gen-{seq:06d}.csv"))
            written[i:j] = time.time()
            i, seq = j, seq + 1
        if i < total:
            time.sleep(max(0.0, max(now + TICK_S, due[i]) - time.time()))

    np.save(a.log, np.stack([np.arange(total, dtype=np.float64), phase_of, due, written], axis=1))
    with open(a.summary, "w") as f:
        json.dump({"offered": total, "files": seq, "phases": table}, f)


if __name__ == "__main__":
    main()
