"""Open-loop file feeder: the load generator of the ``stream_ingest`` workload.

Runs as its own process so it never competes with the engine for the
interpreter lock. The files are already rendered into a staging
directory on the same filesystem. Every PERIOD seconds the feeder renames
the next BURST of them into the raw zone, back to back (an atomic publish
per file, the tmp-write-then-rename pattern), whether or not the engine
has kept up. It logs when each file was due and when it was actually
published.

    python3 feeder.py STAGING RAW BURST PERIOD START_EPOCH LOG_PATH
"""

from __future__ import annotations

import json
import os
import sys
import time


def feed(staging: str, raw: str, burst: int, period: float, start: float) -> list[dict]:
    names = sorted(os.listdir(staging))
    log = []
    for i, name in enumerate(names):
        due = start + (i // burst) * period
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(os.path.join(staging, name), os.path.join(raw, name))
        log.append({"name": name, "due": due, "published": time.time()})
    return log


def main(argv: list[str]) -> int:
    staging, raw, burst, period, start, log_path = argv
    log = feed(staging, raw, int(burst), float(period), float(start))
    tmp = log_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(log, fh)
    os.rename(tmp, log_path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
