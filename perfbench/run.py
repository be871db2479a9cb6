"""riko_spark benchmark: one workload per run, end-to-end or traced.

    python3 perfbench/run.py --workload graph_paced --seed 1 --seconds 6 --trace 0

Run from the root of a source checkout (``riko_spark/`` beside
``perfbench/``).  The seed drives input generation only.  The run
prints human-readable notes, then as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the ``end_to_end`` list of ``BENCHMARK.json``; with
``--trace 1`` they are the ``per_layer`` list, from spans recorded
around each call into a layer.  Scratch files live under
``.bench_work/`` and are removed at exit; a JSON record of the run (and
the spans, when traced) is written to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_CORES = 4     # local[k], capped at the CPUs this process may use
HEAP = "2g"
#: layers whose spans count as covering the timed window
LAYERS = ("session", "generator", "plans", "sources", "operators",
          "streaming", "sink")


def start_session(cores: int, work: str):
    from riko_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            # a fixed, pre-touched heap: peak_rss_mb then moves with
            # off-heap state, Arrow buffers and Python workers, not with
            # when the collector chose to grow the heap
            "spark.driver.memory": HEAP,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.sql.streaming.numRecentProgressUpdates": "2000",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Spark JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help=f"local[k] (default {DEFAULT_CORES}, at most the CPUs)")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    cores = args.cores or min(DEFAULT_CORES, len(os.sched_getaffinity(0)))

    sys.path.insert(0, ROOT)
    try:
        import riko_spark
    except ImportError as e:
        print(f"perfbench: riko_spark is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(riko_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: riko_spark resolves outside {ROOT}", file=sys.stderr)
        return 2
    from harness import (
        RssSampler,
        Tracer,
        calibrate,
        cpu_ticks,
        failure_counts,
        percentile,
        percentile_rank,
        self_times,
        steal_frac,
        uncovered_frac,
    )
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops the generator and the JVM (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the launcher spark-submit starts first included, keeps
    # its temporary files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")

    host = calibrate()
    print(f"host window: single-thread calibration loop "
          f"{host['calib_loop_ms']:.1f} ms (median of {host['calib_reps']})")
    tracer = Tracer(args.trace == 1)
    wl = WORKLOADS[args.workload](args.seed, cores, work, tracer)
    t = time.perf_counter()
    wl.generate(args.seconds)
    gen_s = time.perf_counter() - t

    spark = None
    try:
        # set-up: a cold session start, staging, and one warm-up pass of
        # the workload's plans so that timing starts warm
        t0 = time.perf_counter()
        with tracer.span("session", "start"):
            spark = start_session(cores, work)
            spark.range(1).count()
        session_s = time.perf_counter() - t0
        with tracer.span("generator", "stage"):
            wl.stage(spark)
        with tracer.span("bench", "warm"):
            wl.warm(spark)
        setup_s = time.perf_counter() - t0
        ticks = cpu_ticks()
        with RssSampler() as rss:
            res = wl.measure(spark, args.seconds, rss)
        host["steal_frac"] = round(steal_frac(ticks, cpu_ticks()), 4)
        err = wl.check(spark)
        if tracer.enabled:
            wl.traced(spark)
    finally:
        if spark is not None:
            spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    lat = res["latencies_ms"]
    e2e = {
        "setup_s": setup_s,
        "docs_per_s": res["docs_per_s"],
        "result_latency_p50_ms": percentile(lat, 0.5),
        "result_latency_p90_ms": percentile(lat, 0.9),
        "peak_rss_mb": rss.peak / 2**20,
    }
    attempted, failed = failure_counts(res["attempted"], res["failed"], err is None)
    notes = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "cores": cores, "trace": args.trace, **host,
        "generate_s": gen_s, "session_start_s": session_s,
        "latency_samples": len(lat),
        "latency_p90_is_quantile": percentile_rank(len(lat), 0.9),
        "failed_frac": failed / attempted, "check": err or "ok",
        "end_to_end": e2e,
        **{k: v for k, v in res.items() if k not in ("latencies_ms",)},
    }
    if tracer.enabled:
        windows = getattr(wl, "windows", None) or [wl.window]
        layers = {"session.start_s": session_s, **wl.layers}
        for layer, s in self_times(tracer.spans).items():
            layers[f"self_s.{layer}"] = s
        layers["trace.uncovered_frac"] = uncovered_frac(tracer.spans, windows, LAYERS)
        layers["trace.spans"] = len(tracer.spans)
        metrics = {m["name"]: layers.get(m["name"], 0) for m in wanted}
        notes["per_layer"] = layers
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in wanted}

    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}-c{cores}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as fh:
        json.dump(notes, fh, indent=1, default=str)
    if tracer.enabled:
        tracer.dump(os.path.join(out_dir, stem + "-spans.json"))

    print(f"host window: {host['steal_frac']:.1%} of CPU time stolen by the "
          f"hypervisor while measuring")
    print(f"check: {notes['check']}; failed_frac {notes['failed_frac']} "
          f"({failed}/{attempted}); {len(lat)} latency samples, p90 reported at "
          f"quantile {notes['latency_p90_is_quantile']:.3f}")
    print("end-to-end: " + ", ".join(f"{k}={v:.4g}" for k, v in e2e.items()))
    print(json.dumps({
        "correct": err is None, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
