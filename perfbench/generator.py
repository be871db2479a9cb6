"""Open-loop load generator for the ``graph_paced`` workload.

Runs as its own process with one thread.  It reads a plan
(``{"t0": epoch_s, "interval_s": s, "shards": [[staged, watched], ...]}``)
and moves shard ``i`` from its staged path into the watched directory
at ``t0 + i * interval_s`` with an atomic rename, whether or not the
stream has kept up.  Every move is logged as one JSON line with its
due and actual times, so latency is taken from when a shard was due and
the log shows how late the generator ran.

    python3 perfbench/generator.py PLAN.json LOG.jsonl
"""

from __future__ import annotations

import json
import os
import sys
import time


def run(plan: dict, log_path: str) -> None:
    t0, dt = float(plan["t0"]), float(plan["interval_s"])
    with open(log_path, "w") as log:
        for i, (staged, watched) in enumerate(plan["shards"]):
            due = t0 + i * dt
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(staged, watched)
            log.write(json.dumps({"name": os.path.basename(watched),
                                  "due": due, "actual": time.time()}) + "\n")
            log.flush()


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        run(json.load(fh), sys.argv[2])
