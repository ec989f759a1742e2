"""Open-loop vote feed for the live_tally workload (a separate process).

    python3 perfbench/generator.py EVENTS_PARQUET OUT_DIR STATS_JSON \
        --seed N --rate 1000 --tick 0.5 --seconds S [--backlog-files K]

Every ``tick`` seconds, on a fixed schedule that does not wait for the
consumer, it writes one JSON-lines file of ``rate * tick`` vote events
sampled (by seed) from the sf0.1 events table, each stamped with the
time it was due as ``ts``.  Files appear atomically (written under a
dot-name, then renamed).  With ``--backlog-files`` it writes that many
files at once and exits (the drain backlog).  STATS_JSON gets the
schedule lateness and the file count.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from datetime import datetime, timezone

import numpy as np
import pyarrow.parquet as pq


def _iso(t: float) -> str:
    return datetime.fromtimestamp(t, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


class Feed:
    """Seeded event sampler writing one file per tick."""

    def __init__(self, events_path: str, out_dir: str, seed: int, per_file: int,
                 first_file: int = 0):
        cols = pq.read_table(events_path, columns=["user_id", "event_type", "value", "props"])
        self.user = cols.column("user_id").to_numpy()
        self.etype = cols.column("event_type").to_pylist()
        self.value = cols.column("value").to_numpy()
        self.props = cols.column("props").to_pylist()
        self.rng = np.random.default_rng(seed)
        self.out_dir = out_dir
        self.per_file = per_file
        self.first_file = first_file
        self.n_files = 0

    def write(self, due: float) -> None:
        idx = self.rng.integers(0, len(self.user), self.per_file)
        ts = _iso(due)
        num = self.first_file + self.n_files
        base = num * self.per_file
        lines = [
            json.dumps({
                "event_id": base + k, "ts": ts, "user_id": int(self.user[i]),
                "event_type": self.etype[i], "value": float(self.value[i]),
                "props": self.props[i],
            })
            for k, i in enumerate(idx)
        ]
        name = f"votes-{num:06d}.json"
        tmp = os.path.join(self.out_dir, "." + name)
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(self.out_dir, name))
        self.n_files += 1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("events")
    ap.add_argument("out_dir")
    ap.add_argument("stats")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, default=1000.0)
    ap.add_argument("--tick", type=float, default=0.5)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--backlog-files", type=int, default=0)
    ap.add_argument("--first-file", type=int, default=0,
                    help="number of the first file (after a backlog)")
    ap.add_argument("--start-at", type=float, default=0.0,
                    help="wall-clock epoch seconds of the first tick")
    a = ap.parse_args()

    feed = Feed(a.events, a.out_dir, a.seed, int(round(a.rate * a.tick)), a.first_file)
    late = []
    if a.backlog_files:
        now = time.time()
        for _ in range(a.backlog_files):
            feed.write(now)
    else:
        start = a.start_at or time.time()
        n_ticks = int(round(a.seconds / a.tick))
        for i in range(n_ticks):
            due = start + i * a.tick
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            late.append(max(0.0, time.time() - due))
            feed.write(due)
    with open(a.stats, "w") as f:
        json.dump({
            "files": feed.n_files,
            "rows_per_file": feed.per_file,
            "late_s": late,
            "end_wall": time.time(),
        }, f)


if __name__ == "__main__":
    main()
