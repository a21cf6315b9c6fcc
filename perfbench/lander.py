"""Open-loop load generator, run as its own process.

Reads a schedule of (due epoch seconds, staged file, destination) and
lands each pre-built file at its due time by an atomic rename, whether
or not the system under test keeps up. Writes how late each landing
ran (seconds past due) as a JSON list to the given output path.

    python3 perfbench/lander.py SCHEDULE.json LATENESS.json
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(schedule_path: str, out_path: str) -> None:
    with open(schedule_path) as f:
        schedule = json.load(f)
    late = []
    for due, src, dst in schedule:
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(src, dst)
        late.append(time.time() - due)
    with open(out_path, "w") as f:
        json.dump(late, f)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
