"""Open-loop change-log lander for the ``tail`` workload.

Runs as its own process with one thread. Chunk ``i`` is due at
``start + i * interval``; at its due time it is copied under a hidden
temp name (which the file source ignores) and renamed into place, so the
engine never sees a partial file. The schedule never waits for the
engine. Prints one JSON object: each chunk's name, due and landed epoch
seconds.

    python3 perfbench/loadgen.py STAGING LIVE START INTERVAL CHUNK...
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def main(argv: list[str]) -> None:
    staging, live, start, interval, *chunks = argv
    start, interval = float(start), float(interval)
    out = []
    for i, name in enumerate(chunks):
        due = start + i * interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        tmp = os.path.join(live, f".landing-{name}")
        shutil.copyfile(os.path.join(staging, name), tmp)
        os.rename(tmp, os.path.join(live, name))
        out.append({"chunk": name, "due": due, "landed": time.time()})
    json.dump(out, sys.stdout)


if __name__ == "__main__":
    main(sys.argv[1:])
