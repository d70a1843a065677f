"""Open-loop feed generator for the ``live_tail`` workload.

Runs as its own process (and process group) and never starts Spark:
the runner stages every feed file in advance, and this process only
*releases* them on a fixed schedule. A release sets the staged file's
mtime to now (the streaming file source orders files by mtime) and
then ``os.replace``s it into the feed directory, which is atomic on
one file system, so the source never lists a half-written file. Each
release is logged as one JSON line with the time it was due and the
time it actually ran, so the runner can time freshness from the due
time and report how late the generator ran.

Usage: python3 gen.py PLAN_JSON LOG_PATH

``PLAN_JSON`` holds ``{"stage_dir", "feed_dir", "releases": [{"due",
"files"}]}`` with ``due`` in wall-clock epoch seconds.
"""

from __future__ import annotations

import json
import os
import signal
import sys
import time


def release_all(plan: dict, log) -> int:
    n = 0
    for rel in plan["releases"]:
        wait = rel["due"] - time.time()
        if wait > 0:
            time.sleep(wait)
        actual = time.time()
        for name in rel["files"]:
            src = os.path.join(plan["stage_dir"], name)
            os.utime(src, None)
            os.replace(src, os.path.join(plan["feed_dir"], name))
        log.write(
            json.dumps({"due": rel["due"], "actual": actual, "files": rel["files"]})
            + "\n"
        )
        log.flush()
        n += 1
    return n


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    # the runner stops the generator with SIGTERM at the end of the
    # window; exit at once and quietly
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(0))
    with open(argv[0]) as f:
        plan = json.load(f)
    with open(argv[1], "a") as log:
        release_all(plan, log)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
