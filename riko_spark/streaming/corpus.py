"""Streaming crawl capstone: WARC archives → cleaned, deduplicated
corpus through ONE pipeline expression that runs identically in batch
and streaming — the end-to-end shape the north rule names (ingest →
extract → gate → stateful dedupe → exactly-once sink).

Stage map (each stage is an existing, individually-oracled operator):

1. **ingest** — :func:`riko_spark.sources.warc.warc_stream` (or
   ``warc_records`` for the batch twin): one archive file per source
   split, records exploded in Arrow batches.
2. **decode** — native projection: URI, WARC-Date → event-time
   timestamp, HTTP payload → html.
3. **URL gate** — :func:`riko_spark.operators.cleaning.url_filter_op`
   (row-local blocklist projection).
4. **extract** — :func:`riko_spark.operators.cleaning.main_content_op`
   DOM main-content extraction (Arrow-batched mapInPandas,
   scan-parallel), event-time carried through ``keep_cols``.
5. **quality gate** — :func:`riko_spark.operators.cleaning.
   c4_doc_filter_op` (native projection).
6. **near-dup dedupe** — :func:`riko_spark.streaming.dedupe.
   neardup_dedupe_within_watermark`: content-keyed
   ``dropDuplicatesWithinWatermark`` (time-bounded state store,
   checkpoint-recoverable) on the stream; ``dropDuplicates`` on the
   same key in batch.
7. **sink** — :class:`riko_spark.streaming.sink.UpsertSink` keyed on
   url (idempotent MERGE ⇒ exactly-once effect under replay).

100 TB shape: stages 2/3/5 are row-local native projections, stage 4
is scan-parallel Python behind Arrow, and the ONLY stateful exchange
is the dedupe's keyed state — bounded by the watermark horizon, not
corpus size.  The dedupe's shuffle volume is bounded too: a
per-partition, per-micro-batch local collapse (one max-event-time row
per content key per task slice — :func:`riko_spark.streaming.dedupe.
_partition_local_dedupe`, on by default) runs BEFORE the keyed
exchange, so the hottest key — at crawl scale, the duplicated
boilerplate page itself — crosses the wire once per task slice
instead of once per copy.  Salting cannot apply here (equal keys must
meet in one state partition); the local collapse is the map-side
combine that plays that role.  The bench row (``bench.py
stream_corpus``) measures the whole graph cold-drain on the pages
fixture.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def clean_corpus(
    records: DataFrame,
    conf: dict | None = None,
    blocked_domains: tuple[str, ...] = (),
    dedupe_mode: str = "simhash",
    watermark: str = "30 seconds",
) -> DataFrame:
    """WARC record frame (``warc_extract`` schema, batch OR streaming)
    → cleaned corpus: ``url, warc_ts, text, n_words, n_sentences``.
    One document per distinct content key survives (first-in-stream
    within the watermark horizon; arbitrary-but-one in batch).

    ``conf`` forwards to the C4/Gopher gate (``min_words`` etc.), and
    its ``blocked_domains`` / ``dedupe_mode`` / ``watermark`` keys
    override the keyword defaults — the same conf-over-kwargs layering
    every operator in the engine uses.  On a streaming frame the dedupe
    always collapses each key per partition before its stateful
    exchange.  The collapse never changes the output; BASELINE.md
    records its row cut on duplicated streams and its few-percent
    toll on all-unique ones."""
    from riko_spark.operators.cleaning import (
        c4_doc_filter_op,
        main_content_op,
        url_filter_op,
    )
    from riko_spark.streaming.dedupe import neardup_dedupe_within_watermark

    conf = conf or {}
    blocked_domains = list(conf.get("blocked_domains", blocked_domains))
    dedupe_mode = conf.get("dedupe_mode", dedupe_mode)
    watermark = conf.get("watermark", watermark)

    docs = records.filter(F.col("payload").isNotNull()).select(
        F.col("warc_target_uri").alias("url"),
        F.to_timestamp("warc_date").alias("warc_ts"),
        F.decode("payload", "utf-8").alias("html"),
    )
    gated_urls = url_filter_op(
        docs, {"blocked_domains": blocked_domains}).filter("keep")
    main = main_content_op(
        gated_urls.select("url", "warc_ts", "html"),
        {"id_col": "url", "keep_cols": ["warc_ts"]},
    ).withColumnRenamed("main_text", "text")
    gated = c4_doc_filter_op(main, conf).filter("keep")
    deduped = neardup_dedupe_within_watermark(
        gated, field="text", ts_col="warc_ts", delay=watermark,
        mode=dedupe_mode)
    return deduped.select("url", "warc_ts", "text", "n_words",
                          "n_sentences")


def run_corpus_stream(
    spark,
    warc_path: str,
    sink_path: str,
    checkpoint: str,
    conf: dict | None = None,
    max_files_per_trigger: int | None = None,
    num_buckets: int = 8,
):
    """Wire the whole capstone: WARC file stream → :func:`clean_corpus`
    → exactly-once UpsertSink keyed on url, partitioned
    ``days(warc_ts) x bucket(url)`` (the north rule's Iceberg layout,
    parquet-manifest implementation).  Returns ``(query, sink)`` —
    await the query, then read the table back via ``sink.result``.

    ``conf["state_store"]`` (``'hdfs'`` | ``'rocksdb'`` | provider
    class name) selects where the dedupe's keyed state lives — see
    :mod:`riko_spark.streaming.tuning`.  Default leaves the session
    conf alone (``session.get_spark`` already defaults to RocksDB —
    executor local disk behind a bounded block cache, the only
    provider whose memory stays flat at the north rule's 10^12-doc
    horizon); pass ``'hdfs'`` for small-state streams where the
    heap-backed map's lower per-op latency wins.  Applied before the
    query starts; an existing checkpoint keeps the provider it was
    created with."""
    from riko_spark.sources.warc import warc_stream
    from riko_spark.streaming.sink import UpsertSink, write_stream_upsert
    from riko_spark.streaming.tuning import configure_state_store

    configure_state_store(spark, (conf or {}).get("state_store"))

    records = warc_stream(spark, warc_path, keep_types=("response",),
                          max_files_per_trigger=max_files_per_trigger)
    out = clean_corpus(records, conf)
    sink = UpsertSink(sink_path, keys=["url"], day_col="warc_ts",
                      num_buckets=num_buckets)
    query = write_stream_upsert(out, sink, checkpoint)
    return query, sink
