"""Structured-Streaming layer tests: stream≡batch parity, watermark
dedupe, stream-stream join, exactly-once restart-from-checkpoint."""

import os
import shutil

import pyspark.sql.functions as F
import pytest

from riko_spark.sources.pages import pages_fixture
from riko_spark.streaming.dedupe import dedupe_within_watermark
from riko_spark.streaming.joins import stream_stream_join
from riko_spark.streaming.metrics import LineageListener
from riko_spark.streaming.sink import UpsertSink, write_stream_upsert
from riko_spark.streaming.windows import session_agg, tumbling_agg


@pytest.fixture(scope="module")
def pages_path():
    return pages_fixture(n=1_000)


def _read_stream(spark, path, max_files=4):
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def _bag(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_batch_parity_tumbling(spark, tmp_path, pages_path):
    """The same windowed pipe graph gives identical results on a batch
    frame and on a stream drained with availableNow (watermark fixed)."""
    batch = spark.read.parquet(pages_path)
    expected = tumbling_agg(batch, window="10 minutes", keys=["lang"])

    stream = _read_stream(spark, pages_path)
    agg = tumbling_agg(stream, window="10 minutes", watermark="2 hours", keys=["lang"])
    sink = UpsertSink(str(tmp_path / "sink"), keys=["window_start", "lang"])
    q = write_stream_upsert(agg, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = sink.result(spark)
    assert _bag(got) == _bag(expected)


def test_exactly_once_restart_from_checkpoint(spark, tmp_path, pages_path):
    """Kill the query mid-input, restart from checkpoint: final sink
    rows identical to a one-shot run (idempotent MERGE)."""
    batch = spark.read.parquet(pages_path)
    expected = tumbling_agg(batch, window="10 minutes", keys=["lang"])

    sink = UpsertSink(str(tmp_path / "sink"), keys=["window_start", "lang"])
    ckpt = str(tmp_path / "ckpt")

    # phase 1: process one file per trigger, stop after the first batch
    stream = _read_stream(spark, pages_path, max_files=1)
    agg = tumbling_agg(stream, window="10 minutes", watermark="2 hours", keys=["lang"])
    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    while not q.recentProgress:
        q.awaitTermination(1)
    q.stop()
    q.awaitTermination(60)

    # phase 2: restart from the same checkpoint, drain everything
    stream2 = _read_stream(spark, pages_path, max_files=1)
    agg2 = tumbling_agg(stream2, window="10 minutes", watermark="2 hours", keys=["lang"])
    q2 = write_stream_upsert(agg2, sink, ckpt)
    q2.awaitTermination(180)

    got = sink.result(spark)
    assert _bag(got) == _bag(expected)


def test_late_data_dropped_beyond_watermark(spark, tmp_path, pages_path):
    """Late-data policy: the fixture pushes ~5% of rows >1h out of
    order; with a small watermark and multi-batch ingestion those rows
    must be dropped from the streaming aggregate (strictly fewer docs
    counted than batch), while a >1h watermark admits everything
    (asserted by the parity tests above)."""
    batch = spark.read.parquet(pages_path)
    batch_total = batch.count()

    stream = _read_stream(spark, pages_path, max_files=1)  # many batches
    agg = tumbling_agg(stream, window="10 minutes", watermark="30 seconds", keys=["lang"])
    sink = UpsertSink(str(tmp_path / "sink"), keys=["window_start", "lang"])
    q = write_stream_upsert(agg, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    stream_total = (
        sink.result(spark).agg(F.sum("n_docs").alias("s")).collect()[0]["s"]
    )
    assert stream_total < batch_total


def test_sink_replay_idempotent(spark, tmp_path):
    """Replaying the same micro-batch is a no-op (exactly-once effect)."""
    sink = UpsertSink(str(tmp_path / "sink"), keys=["k"])
    batch = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    sink(batch, 0)
    sink(batch, 0)  # replay
    got = {r["k"]: r["v"] for r in sink.result(spark).collect()}
    assert got == {"a": 1, "b": 2}
    # a later batch updates the key (latest wins)
    sink(spark.createDataFrame([("a", 9)], "k string, v long"), 1)
    got = {r["k"]: r["v"] for r in sink.result(spark).collect()}
    assert got == {"a": 9, "b": 2}


def test_sink_crash_between_write_and_commit(spark, tmp_path):
    """A generation dir written but never committed (crash before the
    manifest rename) must not lose or corrupt the committed table.
    Constructing a new sink instance must NOT delete the orphan (a
    concurrent writer could be about to commit it — single-writer GC);
    the orphan is collected by the next successful merge, where the
    writer owns the path."""
    import os

    path = str(tmp_path / "sink")
    sink = UpsertSink(path, keys=["k"])
    sink(spark.createDataFrame([("a", 1)], "k string, v long"), 0)
    # simulate a crash: orphan generation + orphan manifest tmp exist,
    # manifest still points at generation 0
    os.makedirs(os.path.join(path, "gen_1_deadbeef"))
    with open(os.path.join(path, "MANIFEST.orphan"), "w") as fh:
        fh.write("gen_1_deadbeef")
    sink2 = UpsertSink(path, keys=["k"])  # restart: NO init-time GC
    assert os.path.exists(os.path.join(path, "gen_1_deadbeef"))
    got = {r["k"]: r["v"] for r in sink2.result(spark).collect()}
    assert got == {"a": 1}
    # replayed batch after restart still merges correctly, and its GC
    # (writer-owned) sweeps the crash leftovers
    sink2(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long"), 0)
    got = {r["k"]: r["v"] for r in sink2.result(spark).collect()}
    assert got == {"a": 1, "b": 2}
    assert not os.path.exists(os.path.join(path, "gen_1_deadbeef"))
    assert not os.path.exists(os.path.join(path, "MANIFEST.orphan"))


def test_sink_bucket_pruning(spark, tmp_path):
    """A micro-batch rewrites only the buckets its keys touch: after a
    second batch that hits one bucket, the other buckets' generation
    dirs are unchanged (per-batch I/O is O(touched), not O(table))."""
    import os

    path = str(tmp_path / "sink")
    sink = UpsertSink(path, keys=["k"], num_buckets=8)
    rows = [(f"key{i}", i) for i in range(64)]
    sink(spark.createDataFrame(rows, "k string, v long"), 0)
    mf0 = sink._read_manifest()
    assert len(mf0) > 1  # keys spread over several buckets
    sink(spark.createDataFrame([("key0", 99)], "k string, v long"), 1)
    mf1 = sink._read_manifest()
    changed = [b for b in mf0 if mf1[b] != mf0[b]]
    assert len(changed) == 1  # exactly the touched bucket advanced
    unchanged = [b for b in mf0 if mf1[b] == mf0[b]]
    for b in unchanged:  # untouched generations still on disk, readable
        assert os.path.exists(os.path.join(path, mf1[b]))
    got = {r["k"]: r["v"] for r in sink.result(spark).collect()}
    assert got["key0"] == 99 and got["key1"] == 1 and len(got) == 64


def test_dedupe_within_watermark(spark, tmp_path, pages_path):
    """Streaming uniq: duplicated input deduped back to one row per url
    within the watermark (riko uniq analog, principled version)."""
    base = spark.read.parquet(pages_path).select("url", "warc_ts").limit(200)
    dup_path = str(tmp_path / "dup")
    base.unionAll(base).repartition(4).write.parquet(dup_path)

    stream = _read_stream(spark, dup_path)
    deduped = dedupe_within_watermark(stream, ["url"], delay="1 hour")
    sink = UpsertSink(str(tmp_path / "sink"), keys=["url"])
    q = write_stream_upsert(deduped, sink, str(tmp_path / "ckpt"), output_mode="append")
    q.awaitTermination(120)
    assert sink.result(spark).count() == 200


def test_stream_stream_join(spark, tmp_path, pages_path):
    """Stream-stream inner join on url within an event-time band
    reproduces the batch join row count."""
    pages = spark.read.parquet(pages_path).limit(300).cache()
    left_b = pages.select("url", "warc_ts", "lang")
    right_b = pages.select(F.col("url"), F.col("warc_ts"), F.length("text").alias("n"))
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    left_b.write.parquet(lp)
    right_b.write.parquet(rp)

    expected = left_b.join(right_b.withColumnRenamed("warc_ts", "rts"), "url").count()

    ls, rs = _read_stream(spark, lp), _read_stream(spark, rp)
    joined = stream_stream_join(ls, rs, "url", watermark="1 hour", within="1 hour")
    sink_rows = []

    def collect_batch(b, _id):
        sink_rows.extend(b.collect())

    q = (
        joined.writeStream.foreachBatch(collect_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(sink_rows) == expected


def test_session_window_batch(spark, pages_path):
    df = spark.read.parquet(pages_path)
    sess = session_agg(df, gap="2 minutes", keys=["lang"])
    assert sess.count() > 0
    cols = set(sess.columns)
    assert {"session_start", "session_end", "lang", "n_docs"} <= cols


def test_lineage_listener(spark, tmp_path, pages_path):
    listener = LineageListener(out_dir=str(tmp_path / "lineage"))
    spark.streams.addListener(listener)
    try:
        stream = _read_stream(spark, pages_path)
        agg = tumbling_agg(stream, keys=["lang"])
        sink = UpsertSink(str(tmp_path / "sink"), keys=["window_start", "lang"])
        q = write_stream_upsert(agg, sink, str(tmp_path / "ckpt"))
        q.awaitTermination(120)
        spark.streams.resetTerminated()
    finally:
        spark.streams.removeListener(listener)
    progress = [r for r in listener.records if r["event"] == "progress"]
    assert progress, "no progress events captured"
    assert all("sources" in p and p["sources"] for p in progress)
    assert any(p["num_input_rows"] > 0 for p in progress)
    assert os.listdir(str(tmp_path / "lineage"))


def test_full_pipe_graph_stream_batch_parity(spark, tmp_path, pages_path):
    """The COMPLETE flagship pipe graph (extract → filter → regex →
    tokenizer → windowed token count per domain) gives row-identical
    results on a batch frame and on a file stream drained through the
    exactly-once sink — the north rule's reproduce-under-exactly-once
    claim for the full operator chain, not just one window agg."""
    from riko_spark.plans.flow import Flow

    def graph(df):
        f = (
            Flow(df)
            .extract(None, field="html", assign="content")
            .filter({"rule": [{"field": "lang", "op": "isnot", "value": "fr"}]})
            .regex({"rule": [{"field": "content", "match": r"\r\n|\n",
                              "replace": " "}]})
        )
        toks = f.tokenizer({"delimiter": " ", "token_key": "token"},
                           field="content", emit=False)
        return tumbling_agg(
            toks.df.withColumn("domain", F.parse_url(F.col("url"), F.lit("HOST"))),
            ts_col="warc_ts", window="10 minutes", watermark=None,
            keys=["domain"], aggs={"n_tokens": "count"},
        )

    expected = graph(spark.read.parquet(pages_path))

    stream = _read_stream(spark, pages_path)
    # streaming needs the watermark variant of the same agg
    f = (
        Flow(stream)
        .extract(None, field="html", assign="content")
        .filter({"rule": [{"field": "lang", "op": "isnot", "value": "fr"}]})
        .regex({"rule": [{"field": "content", "match": r"\r\n|\n", "replace": " "}]})
    )
    toks = f.tokenizer({"delimiter": " ", "token_key": "token"},
                       field="content", emit=False)
    agg = tumbling_agg(
        toks.df.withColumn("domain", F.parse_url(F.col("url"), F.lit("HOST"))),
        ts_col="warc_ts", window="10 minutes", watermark="2 hours",
        keys=["domain"], aggs={"n_tokens": "count"},
    )
    sink = UpsertSink(str(tmp_path / "sink"), keys=["window_start", "domain"])
    q = write_stream_upsert(agg, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(240)
    assert _bag(sink.result(spark)) == _bag(expected)


def test_declared_pipe_graph_stream_batch_parity(spark, tmp_path, pages_path):
    """The DECLARED flagship pipe def (with the compiler's fused
    windowed token count) gives identical rows batch vs stream through
    the exactly-once sink — the optimizer rewrite holds under
    Structured Streaming semantics too."""
    from bench import _pipe_graph_def
    from riko_spark.plans.dag import build_pipeline

    batch_def = _pipe_graph_def()
    expected = build_pipeline(spark, batch_def,
                              sources={"ext": spark.read.parquet(pages_path)})

    stream_def = _pipe_graph_def()
    stream_def["modules"][-1]["conf"]["watermark"] = "2 hours"
    stream = _read_stream(spark, pages_path)
    agg = build_pipeline(spark, stream_def, sources={"ext": stream},
                         streaming=True)
    sink = UpsertSink(str(tmp_path / "sink"), keys=["window_start", "domain"])
    q = write_stream_upsert(agg, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(240)
    assert _bag(sink.result(spark)) == _bag(expected)


def test_sink_day_partition_pruning(spark, tmp_path):
    """With day_col the layout mirrors the north rule's Iceberg spec
    (days(ts) x bucket(N, key)): a batch touching only day 2 leaves
    every day-1 partition's generation untouched, and the streaming
    upsert through the partitioned sink still matches the batch agg."""
    import datetime as dt
    import os

    path = str(tmp_path / "sink")
    sink = UpsertSink(path, keys=["window_start", "domain"],
                      num_buckets=4, day_col="window_start")
    d1 = dt.datetime(2024, 1, 1, 10, 0)
    d2 = dt.datetime(2024, 1, 2, 10, 0)
    schema = "window_start timestamp, domain string, n long"
    rows1 = [(d1, f"site{i}.com", i) for i in range(12)]
    sink(spark.createDataFrame(rows1, schema), 0)
    mf0 = sink._read_manifest()
    assert all("/" in str(k) for k in mf0)          # day/bucket ids
    assert {str(k).split("/")[0] for k in mf0} == {"2024-01-01"}

    rows2 = [(d2, f"site{i}.com", 100 + i) for i in range(12)]
    sink(spark.createDataFrame(rows2, schema), 1)
    mf1 = sink._read_manifest()
    day1 = {k: v for k, v in mf1.items() if str(k).startswith("2024-01-01")}
    assert day1 == {k: v for k, v in mf0.items()}   # day-1 gens untouched
    for rel in day1.values():
        assert os.path.exists(os.path.join(path, rel))

    # update one key on day 2: only that (day, bucket) advances
    sink(spark.createDataFrame([(d2, "site0.com", 999)], schema), 2)
    mf2 = sink._read_manifest()
    changed = [k for k in mf1 if mf2[k] != mf1[k]]
    assert len(changed) == 1 and str(changed[0]).startswith("2024-01-02")

    got = {(r["window_start"], r["domain"]): r["n"]
           for r in sink.result(spark).collect()}
    assert got[(d2, "site0.com")] == 999
    assert got[(d1, "site0.com")] == 0
    assert len(got) == 24


def test_sink_day_partition_stream_parity(spark, tmp_path, pages_path):
    """Full windowed stream drained through the day-partitioned sink
    equals the batch aggregate (exactly-once + partition layout)."""
    batch = spark.read.parquet(pages_path)
    expected = tumbling_agg(batch, window="10 minutes", keys=["lang"])

    stream = _read_stream(spark, pages_path)
    agg = tumbling_agg(stream, window="10 minutes", watermark="2 hours", keys=["lang"])
    sink = UpsertSink(str(tmp_path / "sink"), keys=["window_start", "lang"],
                      num_buckets=4, day_col="window_start")
    q = write_stream_upsert(agg, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert _bag(sink.result(spark)) == _bag(expected)


def test_sink_day_partition_null_ts(spark, tmp_path):
    """Null day_col values must merge and read back: the manifest path
    and the physically written partition dir must agree (nulls land in
    Spark's default-partition dir name)."""
    path = str(tmp_path / "sink")
    sink = UpsertSink(path, keys=["k"], num_buckets=2, day_col="ts")
    schema = "k string, ts timestamp, v long"
    import datetime as dt

    d = dt.datetime(2024, 3, 1)
    sink(spark.createDataFrame([("a", d, 1), ("b", None, 2)], schema), 0)
    got = {r["k"]: r["v"] for r in sink.result(spark).collect()}
    assert got == {"a": 1, "b": 2}
    # second batch touching the null-day key still merges (reads the
    # previously committed null-day partition back)
    sink(spark.createDataFrame([("b", None, 9)], schema), 1)
    got = {r["k"]: r["v"] for r in sink.result(spark).collect()}
    assert got == {"a": 1, "b": 9}


# ------------------------------------------------------ Iceberg production path

_ICEBERG_DRIVER = r"""
import sys
from pyspark.sql import SparkSession

jar, warehouse = sys.argv[1], sys.argv[2]
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.jars", jar)
    .config("spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
    .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
    .config("spark.sql.catalog.local.type", "hadoop")
    .config("spark.sql.catalog.local.warehouse", warehouse)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from riko_spark.streaming.sink import IcebergUpsertSink

sink = IcebergUpsertSink("local.db.t", keys=["k"], order_col="v")
b0 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
sink.create_from(b0, bucket_key="k", num_buckets=4)
sink(b0, 0)
sink(b0, 0)  # replay of the same micro-batch must be a no-op
got = {r["k"]: r["v"] for r in sink.result(spark).collect()}
assert got == {"a": 1, "b": 2}, got
# later batch updates the key (latest wins), replayed twice
b1 = spark.createDataFrame([("a", 9), ("a", 7)], "k string, v long")
sink(b1, 1)
sink(b1, 1)
got = {r["k"]: r["v"] for r in sink.result(spark).collect()}
assert got == {"a": 9, "b": 2}, got
print("ICEBERG-CONTRACT-OK")
spark.stop()
"""


def _iceberg_jar_scan():
    """Offline probe for an iceberg-spark-runtime jar (no network in
    this sandbox — pip/maven downloads are unavailable)."""
    import glob

    import pyspark

    locations = [
        os.path.join(os.path.dirname(pyspark.__file__), "jars"),
        os.path.expanduser("~/.ivy2/jars"),
        os.path.expanduser("~/.ivy2/cache/org.apache.iceberg"),
        "/opt/spark/jars",
        "/usr/share/java",
    ]
    hits: list[str] = []
    for d in locations:
        hits += glob.glob(os.path.join(d, "**", "*iceberg-spark-runtime*.jar"),
                          recursive=True)
    return (hits[0] if hits else None), locations


def test_iceberg_upsert_replay_latest_wins(tmp_path):
    """Production MERGE INTO path of IcebergUpsertSink: replay
    idempotence + latest-wins, run in a subprocess session with the
    Iceberg extensions when the runtime jar is available offline."""
    import subprocess
    import sys

    jar, scanned = _iceberg_jar_scan()
    if jar is None:
        pytest.skip(
            "iceberg-spark-runtime jar not found offline; scanned "
            + ", ".join(scanned)
            + " and found no *iceberg-spark-runtime*.jar (container has no "
            "network for maven/ivy).  The identical merge contract is "
            "proven against UpsertSink in test_sink_replay_idempotent / "
            "test_exactly_once_restart_from_checkpoint."
        )
    script = tmp_path / "iceberg_driver.py"
    script.write_text(_ICEBERG_DRIVER)
    out = subprocess.run(
        [sys.executable, str(script), jar, str(tmp_path / "wh")],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert "ICEBERG-CONTRACT-OK" in out.stdout, out.stderr[-2000:]


def test_neardup_dedupe_within_watermark_exact(spark, tmp_path, pages_path):
    """Streaming CONTENT dedupe (exact-md5 mode): case/spacing variants
    of the same text dedupe to one row per normalized content; stream
    output keys == batch twin keys (stream ≡ batch parity)."""
    from riko_spark.streaming.dedupe import neardup_dedupe_within_watermark

    base = spark.read.parquet(pages_path).select(
        "url", "warc_ts", "text").limit(120)
    # case/spacing near-identical variants: same normalized content
    variants = base.select(
        F.concat(F.col("url"), F.lit("#v")).alias("url"), "warc_ts",
        F.concat(F.upper("text"), F.lit("  ")).alias("text"))
    dup_path = str(tmp_path / "dup")
    base.unionAll(variants).repartition(4).write.parquet(dup_path)

    batch = neardup_dedupe_within_watermark(
        spark.read.parquet(dup_path), field="text", mode="exact")
    assert batch.count() == 120  # batch twin: one row per content

    stream = _read_stream(spark, dup_path)
    deduped = neardup_dedupe_within_watermark(
        stream, field="text", delay="1 hour", mode="exact")
    rows = []
    q = (deduped.writeStream
         .foreachBatch(lambda b, _i: rows.extend(b.collect()))
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert len(rows) == 120
    # parity on the surviving content keys, not row identity (first
    # seen within a micro-batch is arrival-dependent across variants)
    norm = lambda t: " ".join(t.lower().split())  # noqa: E731
    assert {norm(r["text"]) for r in rows} == {
        norm(r["text"]) for r in batch.collect()}


def test_neardup_dedupe_simhash_mode(spark, tmp_path, pages_path):
    """simhash mode drops token-reordered rewrites (hamming-0 pairs)
    that exact-md5 mode keeps — stream and batch twins agree."""
    from riko_spark.streaming.dedupe import neardup_dedupe_within_watermark

    base = spark.read.parquet(pages_path).select(
        "url", "warc_ts", "text").limit(60)
    # token-reordered rewrite: different md5-norm, SAME simhash
    reordered = base.select(
        F.concat(F.col("url"), F.lit("#r")).alias("url"), "warc_ts",
        F.concat_ws(" ", F.reverse(F.split(F.col("text"), " "))).alias("text"))
    dup_path = str(tmp_path / "dup")
    base.unionAll(reordered).repartition(4).write.parquet(dup_path)

    batch_exact = neardup_dedupe_within_watermark(
        spark.read.parquet(dup_path), field="text", mode="exact")
    batch_sim = neardup_dedupe_within_watermark(
        spark.read.parquet(dup_path), field="text", mode="simhash")
    n_exact, n_sim = batch_exact.count(), batch_sim.count()
    assert n_sim == 60  # every reordering collapses onto its base
    assert n_exact > n_sim  # exact mode keeps the reorderings

    stream = _read_stream(spark, dup_path)
    deduped = neardup_dedupe_within_watermark(
        stream, field="text", delay="1 hour", mode="simhash")
    rows = []
    q = (deduped.writeStream
         .foreachBatch(lambda b, _i: rows.extend(b.collect()))
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert len(rows) == 60


def test_neardup_dedupe_registered_pipe(spark):
    from riko_spark.operators import get_operator

    fn = get_operator("neardup_dedupe")
    df = spark.createDataFrame(
        [("a b", 1), ("A  B", 2), ("c", 3)], "text string, i long")
    assert fn(df, {"mode": "exact"}).count() == 2


def test_partition_local_dedupe_max_ts_and_nulls(spark):
    """The streaming pre-dedupe keeps, per key per partition slice, the
    single MAX-event-time copy — the lateness-safe choice: keep-first
    could strand a key by preferring a copy the watermark then drops —
    and passes NULL-event-time rows through untouched."""
    import datetime as dt

    from riko_spark.streaming.dedupe import _partition_local_dedupe

    def t(s):
        return dt.datetime(2026, 1, 1, 0, 0, s)

    rows_in = [
        # key 'a': stale copy arrives FIRST, fresh copy later — the
        # fresh one must be the survivor
        ("a", t(0), "a-old"),
        ("b", t(5), "b-only"),
        ("a", t(30), "a-new"),
        ("a", t(10), "a-mid"),
        ("c", None, "c-null-ts"),
        ("c", None, "c-null-ts-2"),
    ]
    df = spark.createDataFrame(
        rows_in, "k string, warc_ts timestamp, tag string").coalesce(1)
    out = _partition_local_dedupe(df, "k", "warc_ts").collect()
    assert sorted(r["tag"] for r in out) == [
        "a-new", "b-only", "c-null-ts", "c-null-ts-2"]


def test_partition_local_dedupe_cross_chunk(spark):
    """The per-slice reduce is correct across Arrow chunk boundaries
    (the generator's carried `best` state, not just one-chunk groupby)."""
    import datetime as dt

    from riko_spark.streaming.dedupe import _partition_local_dedupe

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        data = [(f"k{i % 3}", dt.datetime(2026, 1, 1, 0, 0, i), i)
                for i in range(30)]
        df = spark.createDataFrame(
            data, "k string, warc_ts timestamp, i long").coalesce(1)
        out = _partition_local_dedupe(df, "k", "warc_ts").collect()
        assert sorted((r["k"], r["i"]) for r in out) == [
            ("k0", 27), ("k1", 28), ("k2", 29)]
    finally:
        spark.conf.set(conf, old)


def test_pre_dedupe_cuts_rows_before_stateful_exchange(
        spark, tmp_path, pages_path):
    """High-duplication stream: the local collapse shrinks the stateful
    exchange's input by ~the duplication factor (observed via the
    observe_reduction plan metrics); the deduped output is unchanged."""
    from riko_spark.streaming.dedupe import neardup_dedupe_within_watermark

    base = spark.read.parquet(pages_path).select(
        "url", "warc_ts", "text").limit(20)
    # 8 copies of every doc (distinct urls, same text): the hot-key
    # regime — every copy of a content key would otherwise cross the
    # keyed exchange to one state partition
    dup = base.crossJoin(spark.range(8)).select(
        F.concat("url", F.lit("#"), "id").alias("url"), "warc_ts", "text")
    dup_path = str(tmp_path / "dup")
    dup.repartition(2).write.parquet(dup_path)

    stream = _read_stream(spark, dup_path, max_files=100)
    deduped = neardup_dedupe_within_watermark(
        stream, field="text", delay="1 hour", mode="exact",
        observe_reduction=True)
    rows_out = []
    q = (deduped.writeStream
         .foreachBatch(lambda b, _i: rows_out.extend(b.collect()))
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert len(rows_out) == 20  # output unchanged: one row per content

    pre = post = 0
    for p in q.recentProgress:
        om = p.observedMetrics
        if "neardup_pre_local" in om:
            pre += om["neardup_pre_local"]["rows"]
        if "neardup_post_local" in om:
            post += om["neardup_post_local"]["rows"]
    assert pre == 160
    # at most one survivor per key per scan partition reaches the
    # exchange; with factor-8 duplication that's a >=2x row cut even
    # if the scan splits into a few partitions
    assert 20 <= post <= pre // 2
