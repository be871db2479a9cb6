"""Run the benchmark over several seeds and summarise the spread.

    python3 perfbench/sweep.py --seeds 1-10 --out perfbench/results/set_a.json
    python3 perfbench/sweep.py --seeds 1-10 --out perfbench/results/set_b.json \\
        --compare perfbench/results/set_a.json
    python3 perfbench/sweep.py --seeds 1-3 --trace 1 \\
        --out perfbench/results/traced.json --compare perfbench/results/set_a.json

For each workload and end-to-end metric it reports the median and the
quartile spread ``(q3 - q1) / median`` (``statistics.quantiles(n=4)``)
against the metric's bound.  With ``--compare`` it also reports how far
each median moved from the other set, in the metric's worse direction;
for a traced sweep that move is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(workload, seed, seconds, trace, cores) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if cores:
        cmd += ["--cores", str(cores)]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.time() - t
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n"
                           f"{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    stem = f"{workload}-s{seed}-t{trace}-c{cores or 4}"
    with open(os.path.join(ROOT, ".bench_out", stem + ".json")) as fh:
        notes = json.load(fh)
    return {"workload": workload, "seed": seed, "wall_s": wall,
            "result": result, "notes": notes}


def summarise(runs, spec, compare=None) -> dict:
    """Median, quartile spread and (optionally) move against ``compare``
    for every end-to-end metric of every workload in ``runs``."""
    base = {}
    if compare:
        for w, rows in compare["summary"].items():
            base[w] = {m: r["median"] for m, r in rows.items()}
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        rows = {}
        for m in spec["end_to_end"]:
            vals = [r["notes"]["end_to_end"][m["name"]] for r in runs
                    if r["workload"] == w]
            med = statistics.median(vals)
            q1, _, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                         else (med, med, med))
            row = {"n": len(vals), "median": med, "q1": q1, "q3": q3,
                   "spread": (q3 - q1) / med, "bound": m["bound"],
                   "values": vals}
            if w in base:
                b = base[w][m["name"]]
                sign = 1 if m["better"] == "lower" else -1
                row["worse_than_compare"] = sign * (med - b) / b
            rows[m["name"]] = row
        out[w] = rows
    return out


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--out", required=True)
    ap.add_argument("--compare", default=None)
    args = ap.parse_args(argv)

    compare = None
    if args.compare:
        with open(args.compare) as fh:
            compare = json.load(fh)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    # seeds outer, workloads inner and rotated per seed, so a drifting
    # host window falls on every workload alike
    workloads = args.workloads.split(",")
    runs = []
    for i, seed in enumerate(_seeds(args.seeds)):
        rot = i % len(workloads)
        for w in workloads[rot:] + workloads[:rot]:
            r = run_one(w, seed, args.seconds, args.trace, args.cores)
            runs.append(r)
            e2e = r["notes"]["end_to_end"]
            print(f"{w} seed {seed}: {r['wall_s']:.1f} s wall, correct "
                  f"{r['result']['correct']}, " +
                  ", ".join(f"{k}={v:.4g}" for k, v in e2e.items()), flush=True)
            _write(args, runs, summarise(runs, spec, compare))
    summary = summarise(runs, spec, compare)
    for w, rows in summary.items():
        for m, r in rows.items():
            extra = (f", worse than compare by {r['worse_than_compare']:+.3f}"
                     if "worse_than_compare" in r else "")
            print(f"{w:13s} {m:22s} median {r['median']:.5g} spread "
                  f"{r['spread']:.3f} (bound {r['bound']}){extra}")
    _write(args, runs, summary)
    return 0


def _write(args, runs, summary) -> None:
    with open(args.out, "w") as fh:
        json.dump({"args": vars(args), "summary": summary, "runs": runs},
                  fh, indent=1)


if __name__ == "__main__":
    sys.exit(main())
