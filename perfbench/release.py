"""Open-loop load generator for the stream workload.

Renames pre-written files from the staging directory into the watched
directory on a fixed schedule: file ``i`` is due at ``start + i *
interval`` on the shared monotonic clock, and the schedule never waits
for the engine. A rename is atomic, so the file source never sees a
partial file. One JSON line per file goes to the log: index, due time
and the time the rename happened.

Usage: python3 release.py PLAN_JSON LOG_PATH
(``PLAN_JSON`` holds ``stage``, ``watch``, ``names``, ``start``,
``interval``.)
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(plan_path: str, log_path: str) -> int:
    with open(plan_path) as f:
        plan = json.load(f)
    with open(log_path, "w") as log:
        for i, name in enumerate(plan["names"]):
            due = plan["start"] + i * plan["interval"]
            wait = due - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            os.rename(os.path.join(plan["stage"], name), os.path.join(plan["watch"], name))
            log.write(json.dumps({"i": i, "due": due, "at": time.monotonic()}) + "\n")
            log.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
