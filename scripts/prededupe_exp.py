"""Pre-dedupe shuffle-reduction experiment (VERDICT r7 ask #3).

Measures what the per-partition local collapse
(riko_spark/streaming/dedupe.py:_partition_local_dedupe) buys on a
high-duplication stream: the same availableNow drain of an exact
content-key dedupe over a hot-key fixture (``--hot-keys`` boilerplate
pages x ``--hot-copies`` copies over a ``--uniques`` one-off tail),
run twice in fresh JVMs — ``pre_dedupe=False`` (every copy crosses
the keyed exchange to its state partition) vs ``pre_dedupe=True``
(one max-event-time row per key per task slice crosses).

Reported per variant:
  * rows INTO the stateful exchange (the ``neardup_post_local``
    observation — the plan-level ground truth for shuffled rows)
  * total shuffleWriteBytes / shuffleWriteRecords across the drain's
    stages (from the Spark UI REST API)
  * wall seconds, docs/sec, output rows (must be IDENTICAL across
    variants — the collapse must not change the result)

At crawl scale the hottest content key IS the duplicated boilerplate
page, so every shuffled copy lands on ONE state partition; the
reduction factor here (≈ the within-partition duplication factor)
is exactly the hot-partition relief a real cluster gets.

Usage:
    python scripts/prededupe_exp.py --uniques 100000 --hot-keys 10 \\
        --hot-copies 5000
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def build_fixture(out_dir: str, uniques: int, hot_keys: int,
                  hot_copies: int) -> tuple[int, int]:
    """The crawl hot-key regime: ``uniques`` one-off pages plus
    ``hot_keys`` boilerplate pages each duplicated ``hot_copies``
    times (distinct urls, identical text + warc_ts), shuffled
    together into 16 parquet files.  Returns (total_rows, hot_rows).

    This is the shape that hurts the stateful dedupe at scale: every
    copy of a hot content key must cross the keyed exchange to ONE
    state partition — the duplication factor lands on a single
    partition's wire and state, not spread across the cluster."""
    import pyspark.sql.functions as F

    from riko_spark.session import get_spark
    from riko_spark.sources.pages import pages_fixture

    spark = get_spark(app_name="prededupe-fixture", master="local[8]",
                      shuffle_partitions=8)
    base = spark.read.parquet(pages_fixture(n=uniques + hot_keys)).select(
        "url", "warc_ts", "text")
    uniq = base.limit(uniques)
    hot = (base.subtract(uniq).limit(hot_keys)
           .crossJoin(spark.range(hot_copies))
           .select(F.concat("url", F.lit("#c"), "id").alias("url"),
                   "warc_ts", "text"))
    # repartition(16) interleaves hot copies uniformly with the tail —
    # every task slice carries ~hot_copies*hot_keys/16 hot rows
    uniq.unionByName(hot).repartition(16).write.mode(
        "overwrite").parquet(out_dir)
    n_hot = hot_keys * hot_copies
    spark.stop()
    return uniques + n_hot, n_hot


def drain(path: str, pre_dedupe: bool, files_per_trigger: int) -> dict:
    """One fresh-JVM drain; returns the measurement dict."""
    import urllib.request

    from riko_spark.session import get_spark
    from riko_spark.streaming.dedupe import neardup_dedupe_within_watermark
    from riko_spark.streaming.tuning import HDFS_PROVIDER

    spark = get_spark(
        app_name=f"prededupe-{int(pre_dedupe)}", master="local[32]",
        shuffle_partitions=8,
        extra_conf={
            "spark.ui.enabled": "true",  # REST shuffle counters
            "spark.sql.streaming.stateStore.providerClass": HDFS_PROVIDER})
    schema = spark.read.parquet(path).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", files_per_trigger).parquet(path))
    # 30-day watermark: the fixture's per-file timestamps overlap, so a
    # short horizon would late-drop after batch 1 (same rationale as
    # bench_stream_corpus); all keys stay in state — the heavy regime
    out = neardup_dedupe_within_watermark(
        stream, field="text", delay="30 days", mode="exact",
        pre_dedupe=pre_dedupe, observe_reduction=True)
    kept = {"n": 0}

    with tempfile.TemporaryDirectory() as ckpt:
        t0 = time.time()
        q = (out.writeStream
             .foreachBatch(lambda b, _i: kept.update(n=kept["n"] + b.count()))
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        finished = q.awaitTermination(600)
        wall = time.time() - t0
        if not finished:
            q.stop()
        pre = post = 0
        batches = 0
        for p in q.recentProgress:
            om = p.observedMetrics
            if "neardup_pre_local" in om:
                pre += om["neardup_pre_local"]["rows"]
                batches += 1
            if "neardup_post_local" in om:
                post += om["neardup_post_local"]["rows"]
        sc = spark.sparkContext
        stages = json.load(urllib.request.urlopen(
            f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
            "/stages?status=complete"))
    res = {
        "pre_dedupe": pre_dedupe,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(pre / wall, 1) if wall else None,
        "batches": batches,
        "output_rows": kept["n"],
        "rows_into_exchange": post,
        "rows_observed_input": pre,
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "shuffle_write_records": sum(
            s.get("shuffleWriteRecords", 0) for s in stages),
        "timed_out": not finished,
    }
    spark.stop()
    return res


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--uniques", type=int, default=100_000)
    ap.add_argument("--hot-keys", type=int, default=10)
    ap.add_argument("--hot-copies", type=int, default=5_000)
    ap.add_argument("--files-per-trigger", type=int, default=8)
    ap.add_argument("--_leg", default=None,
                    help="internal: 'on'/'off' drain in this process")
    ap.add_argument("--path", default=None)
    args = ap.parse_args()

    if args._leg:
        print(json.dumps(drain(args.path, args._leg == "on",
                               args.files_per_trigger)))
        return

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "pages_dup")
        n, n_hot = build_fixture(src, args.uniques, args.hot_keys,
                                 args.hot_copies)
        results = {}
        for leg in ("off", "on"):  # fresh JVM per leg: clean REST metrics
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--_leg", leg,
                 "--path", src, "--files-per-trigger",
                 str(args.files_per_trigger)],
                capture_output=True, text=True, timeout=1200)
            if out.returncode or not out.stdout.strip():
                sys.stderr.write(out.stderr[-2000:])
                raise SystemExit(f"leg {leg} failed")
            results[leg] = json.loads(out.stdout.strip().splitlines()[-1])
    on, off = results["on"], results["off"]
    assert on["output_rows"] == off["output_rows"], (on, off)
    n_uniq = n - n_hot
    summary = {
        "fixture_rows": n,
        "hot_rows": n_hot,
        "hot_keys": args.hot_keys,
        "hot_copies": args.hot_copies,
        "off": off,
        "on": on,
        "exchange_row_reduction": round(
            off["rows_into_exchange"] / max(on["rows_into_exchange"], 1), 2),
        # the number that matters for the skewed state partition: how
        # many copies of the HOT keys crossed the exchange (total
        # exchange rows minus the incompressible unique tail)
        "hot_rows_into_exchange_off": off["rows_into_exchange"] - n_uniq,
        "hot_rows_into_exchange_on": on["rows_into_exchange"] - n_uniq,
        "hot_row_reduction": round(
            (off["rows_into_exchange"] - n_uniq)
            / max(on["rows_into_exchange"] - n_uniq, 1), 2),
        "shuffle_record_reduction": round(
            off["shuffle_write_records"] / max(on["shuffle_write_records"], 1),
            2),
        "shuffle_byte_reduction": round(
            off["shuffle_write_bytes"] / max(on["shuffle_write_bytes"], 1), 2),
        "wall_speedup": round(off["wall_sec"] / on["wall_sec"], 2),
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
