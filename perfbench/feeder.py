"""Open-loop load generator for ``ingest_stream``, run as its own process.

    python3 feeder.py STAGING SOURCE START_NS INTERVAL_NS LOG

Moves the files of STAGING, in name order, into SOURCE with an atomic
rename; file i is due at START_NS + i * INTERVAL_NS (wall clock, ns).
The schedule never waits for the system under test. LOG receives, per
file, [name, due_ns, renamed_ns] so the benchmark can time each line
from when it was due and report how late the generator ran.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    staging, source, start_ns, interval_ns, log_path = sys.argv[1:6]
    start_ns, interval_ns = int(start_ns), int(interval_ns)
    log = []
    for i, name in enumerate(sorted(os.listdir(staging))):
        due = start_ns + i * interval_ns
        while (left := due - time.time_ns()) > 0:
            time.sleep(left / 1e9)
        os.rename(os.path.join(staging, name), os.path.join(source, name))
        log.append([name, due, time.time_ns()])
    with open(log_path + ".tmp", "w") as f:
        json.dump(log, f)
    os.rename(log_path + ".tmp", log_path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
