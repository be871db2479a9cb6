"""The benchmark workloads.

Each workload generates its inputs from the seed (untimed), stages them
and warms the session (timed as set-up), measures for a fixed time and
checks its outputs.  Only public riko_spark functions are called.

* ``graph_paced`` — open loop: a generator process drops pages shards
  into a watched directory at a fixed rate; the headline pipe graph
  streams them into an ``UpsertSink`` under a processing-time trigger.
* ``corpus_drain`` — closed loop: ``availableNow`` drains of WARC
  archives (with planted duplicates) through ``clean_corpus``.
* ``curate_batch`` — batch curation chain over a replicated paged
  corpus: line clean, span dedupe, LM scoring, DSIR selection.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

from harness import (
    JobCounter,
    add_batch_spans,
    dir_bytes,
    percentile,
    progress_dicts,
    read_source_log,
    shard_latencies_ms,
    stream_digest,
)

HERE = os.path.dirname(os.path.abspath(__file__))


class TimedSink:
    """The ``foreachBatch`` callable: runs the ``UpsertSink`` and records
    when each batch's commit ended.  Traced, it also keeps a span per
    call, its duration and the partitions its MANIFEST commit touched."""

    def __init__(self, sink, tracer):
        self.sink, self.tracer = sink, tracer
        self.commit_end: dict = {}
        self.calls = self.failed = 0
        self.merge_ms: list = []
        self.touched: list = []
        self.spans: dict = {}

    def _manifest(self) -> dict:
        try:
            with open(os.path.join(self.sink.path, "MANIFEST")) as fh:
                return json.load(fh).get("buckets", {})
        except FileNotFoundError:
            return {}

    def __call__(self, batch, batch_id):
        traced = self.tracer.enabled
        before = self._manifest() if traced else None
        t0 = time.time()
        self.calls += 1
        try:
            self.sink(batch, batch_id)
        except Exception:
            self.failed += 1
            raise
        t1 = time.time()
        self.commit_end[batch_id] = t1
        if traced:
            after = self._manifest()
            self.merge_ms.append((t1 - t0) * 1e3)
            self.touched.append(
                sum(1 for k, v in after.items() if before.get(k) != v))
            self.spans[batch_id] = self.tracer.add(
                "sink", "merge", t0, t1, {"batch_id": batch_id}, parent=0)

    def metrics(self) -> dict:
        return {
            "sink.merge_ms_p50": _p(self.merge_ms, 0.5),
            "sink.merge_ms_p90": _p(self.merge_ms, 0.9),
            "sink.calls": self.calls,
            "sink.failed_calls": self.failed,
            "sink.partitions_touched_p50": _p(self.touched, 0.5),
            "sink.bytes_on_disk": dir_bytes(self.sink.path),
        }


def _batch_ms(progress) -> list:
    return [p["durationMs"]["triggerExecution"] for p in progress
            if "addBatch" in (p.get("durationMs") or {})]


def _p(xs, q):
    return float(percentile(xs, q)) if xs else 0.0


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _start_stream(df, sink, checkpoint, trigger):
    return (df.writeStream.foreachBatch(sink).outputMode("update")
            .option("checkpointLocation", checkpoint)
            .trigger(**trigger).start())


def _await(q, timeout_s: float) -> None:
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise RuntimeError(f"stream did not finish within {timeout_s} s")


class Workload:
    """One workload; ``run.py`` drives generate -> stage -> warm ->
    measure -> check, and ``traced`` adds the per-layer extras."""

    def __init__(self, seed: int, cores: int, work: str, tracer):
        self.seed, self.cores, self.work, self.tracer = seed, cores, work, tracer
        self.layers: dict = {}
        self.op_s: dict = {}

    def timed_op(self, jobs: JobCounter, name: str, action):
        """Run ``action`` (an operator call plus the action forcing it)
        under a span and a job group; record ``operators.<name>.*``."""
        with self.tracer.span("operators", name), jobs.group(name) as js:
            t = time.perf_counter()
            rows = action()
            dt = time.perf_counter() - t
        self.op_s.setdefault(name, []).append(dt)
        self.layers.update({
            f"operators.{name}.s": percentile(self.op_s[name], 0.5),
            f"operators.{name}.jobs": js["jobs"],
            f"operators.{name}.stages": js["stages"],
            f"operators.{name}.rows_out": rows})
        return dt

    def traced(self, spark) -> None:
        """Per-layer extras the traced run adds after the check."""


# --- graph_paced ----------------------------------------------------------

#: the headline riko pipe graph: extract -> filter -> regex -> tokenizer
#: -> windowed count of tokens per (domain, 10-minute window)
PIPE = {"modules": [
    {"id": "ext", "type": "extract",
     "conf": {"field": "html", "assign": "content"}},
    {"id": "flt", "type": "filter",
     "conf": {"rule": [{"field": "lang", "op": "isnot", "value": "fr"}]}},
    {"id": "rgx", "type": "regex",
     "conf": {"rule": [{"field": "content", "match": r"\r\n|\n",
                        "replace": " "}]}},
    {"id": "tok", "type": "tokenizer",
     "conf": {"delimiter": " ", "token_key": "token", "field": "content",
              "emit": False}},
    {"id": "wc", "type": "windowed_count",
     "conf": {"ts_col": "warc_ts", "window": "10 minutes", "keys": ["domain"],
              "name": "n_tokens", "watermark": "6 hours",
              "derive": {"domain": "parse_url(url, 'HOST')"}}},
]}


class GraphPaced(Workload):
    RATE = 100           # docs/s offered by the generator
    INTERVAL_S = 0.1     # one shard per interval
    TRIGGER = "250 milliseconds"
    #: warm-up batches of WARM_FILES shards each: with fewer, the timed
    #: batches are still getting faster from one to the next
    WARM_BATCHES, WARM_FILES = 6, 4
    #: the first seconds of the paced stream are a ramp, not timed: a new
    #: query's first batches create its state store and sink partitions
    RAMP_S = 3
    TAIL_S = 2

    def generate(self, seconds: float) -> None:
        from riko_spark.sources.pages import generate_pages

        per = int(self.RATE * self.INTERVAL_S)
        self.n_ramp = int(self.RAMP_S / self.INTERVAL_S)
        n_timed = max(int(seconds / self.INTERVAL_S), 100)
        n_shards = self.n_ramp + n_timed
        n_warm = self.WARM_BATCHES * self.WARM_FILES
        tbl = generate_pages(per * (n_shards + n_warm),
                             seed=self.seed).sort_by("warc_ts")
        # shards are cut in event-time order from one table
        self.shards = [tbl.slice(i * per, per) for i in range(n_shards)]
        self.warm_shards = [tbl.slice((n_shards + i) * per, per)
                            for i in range(n_warm)]
        self.docs = per * n_timed

    def stage(self, spark) -> None:
        import pyarrow.parquet as pq

        self.stage_dir = _fresh(os.path.join(self.work, "stage"))
        self.in_dir = _fresh(os.path.join(self.work, "in"))
        self.warm_dir = _fresh(os.path.join(self.work, "warm_in"))
        for i, t in enumerate(self.shards):
            pq.write_table(t, os.path.join(self.stage_dir, f"shard-{i:05d}.parquet"))
        for i, t in enumerate(self.warm_shards):
            pq.write_table(t, os.path.join(self.warm_dir, f"warm-{i:05d}.parquet"))
        self.schema = spark.read.parquet(self.warm_dir).schema

    def _plan(self, spark, path, max_files=None):
        from riko_spark.plans.dag import build_pipeline

        reader = spark.readStream.schema(self.schema)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        stream = reader.parquet(path)
        with self.tracer.span("plans", "build_pipeline"):
            t = time.perf_counter()
            agg = build_pipeline(spark, PIPE, sources={"ext": stream})
            self.layers["plans.build_pipeline_ms"] = (time.perf_counter() - t) * 1e3
        return agg

    def _batch_result(self, spark, path) -> set:
        from riko_spark.plans.dag import build_pipeline

        df = build_pipeline(spark, PIPE, sources={"ext": spark.read.parquet(path)},
                            streaming=False)
        return {tuple(r) for r in df.select("window_start", "domain",
                                            "n_tokens").collect()}

    def warm(self, spark) -> None:
        from riko_spark.streaming.sink import UpsertSink

        d = os.path.join(self.work, "warm")
        sink = TimedSink(UpsertSink(os.path.join(d, "sink"),
                                    keys=["window_start", "domain"],
                                    day_col="window_start"), self.tracer)
        # several batches, so the stateful and sink paths are compiled
        # and warm before timing
        stream = self._plan(spark, self.warm_dir, max_files=self.WARM_FILES)
        q = _start_stream(stream, sink, os.path.join(d, "ckpt"),
                          {"availableNow": True})
        _await(q, 120)
        self.warm_batch_ms = _batch_ms(progress_dicts(q))

    def measure(self, spark, seconds: float, rss) -> dict:
        from riko_spark.streaming.sink import UpsertSink

        d = os.path.join(self.work, "run")
        self.sink = TimedSink(UpsertSink(os.path.join(d, "sink"),
                                         keys=["window_start", "domain"],
                                         day_col="window_start"), self.tracer)
        ckpt = os.path.join(d, "ckpt")
        q = _start_stream(self._plan(spark, self.in_dir), self.sink, ckpt,
                          {"processingTime": self.TRIGGER})
        names = sorted(os.listdir(self.stage_dir))
        plan = {"t0": time.time() + 1.0, "interval_s": self.INTERVAL_S,
                "shards": [[os.path.join(self.stage_dir, n),
                            os.path.join(self.in_dir, n)] for n in names]}
        plan_path, log_path = os.path.join(d, "plan.json"), os.path.join(d, "gen.jsonl")
        with open(plan_path, "w") as fh:
            json.dump(plan, fh)
        gen = subprocess.Popen([sys.executable, os.path.join(HERE, "generator.py"),
                                plan_path, log_path])
        rss.exclude.add(gen.pid)
        try:
            gen.wait(timeout=seconds + 60)
            if gen.returncode != 0:
                raise RuntimeError(f"generator exited with {gen.returncode}")
            with open(log_path) as fh:
                log = [json.loads(line) for line in fh]
            t_gen_end = max(e["actual"] for e in log)
            deadline = time.time() + 60
            while True:
                fb = read_source_log(ckpt)
                if all(n in fb and fb[n] in self.sink.commit_end for n in names):
                    break
                if q.exception() is not None or time.time() > deadline:
                    raise RuntimeError(f"stream stalled: {q.exception()}")
                time.sleep(0.05)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
            q.stop()
        self.progress = progress_dicts(q)
        timed = set(names[self.n_ramp:])
        due = {e["name"]: e["due"] for e in log if e["name"] in timed}
        lat = shard_latencies_ms(due, fb, self.sink.commit_end)
        t_first = min(due.values())
        last_commit = max(self.sink.commit_end[fb[n]] for n in timed)
        # the offered window, stretched by how much later the last TAIL_S
        # of shards commit than the run's median shard: the rate reads as
        # offered until a backlog builds, and where the very last shard
        # falls in its batch does not move it
        tail = lat[-int(self.TAIL_S / self.INTERVAL_S):]
        window_s = (len(lat) * self.INTERVAL_S
                    + (percentile(tail, 0.5) - percentile(lat, 0.5)) / 1e3)
        self.layers.update({
            "generator.files": len(log),
            "generator.lag_ms_p90": _p([(e["actual"] - e["due"]) * 1e3
                                        for e in log], 0.9),
            "generator.backlog_files_end": sum(
                1 for n in names if self.sink.commit_end[fb[n]] > t_gen_end),
        })
        self.window = (t_first, last_commit)
        timed_batches = {fb[n] for n in timed}
        return {"docs_per_s": self.docs / window_s, "window_s": window_s,
                "latencies_ms": lat, "attempted": self.sink.calls,
                "failed": self.sink.failed, "batch_ms": _batch_ms(self.progress),
                "timed_batches": len(timed_batches),
                "warm_batch_ms": self.warm_batch_ms}

    def check(self, spark) -> str | None:
        dropped = stream_digest(self.progress)["streaming.state.rows_dropped_by_watermark"]
        if dropped:
            return f"{dropped} rows dropped by the watermark"
        got = {tuple(r) for r in self.sink.sink.result(spark).select(
            "window_start", "domain", "n_tokens").collect()}
        want = self._batch_result(spark, self.in_dir)
        if got != want:
            return (f"sink table differs from the batch pipe graph: "
                    f"{len(got - want)} extra, {len(want - got)} missing rows")
        return None

    def traced(self, spark) -> None:
        from riko_spark.plans.dag import parse_pipe_def
        from riko_spark.plans.rewrite import optimize_parsed

        self.layers["plans.modules_after_rewrite"] = len(
            optimize_parsed(parse_pipe_def(PIPE))["modules"])
        self.layers.update(stream_digest(self.progress))
        self.layers.update(self.sink.metrics())
        add_batch_spans(self.tracer, self.progress, self.sink.spans)


# --- corpus_drain ---------------------------------------------------------

CORPUS_CONF = {"min_words": 5, "min_sentences": 0, "watermark": "30 days"}


def warc_corpus(seed: int, base_docs: int, dup_frac: float) -> list:
    """Seeded WARC response records: ``base_docs`` distinct pages plus
    planted exact duplicates (same HTML under a new URL), shuffled."""
    import numpy as np

    from riko_spark.sources.pages import generate_pages

    tbl = generate_pages(base_docs, seed=seed).to_pydict()
    recs = [{"uri": u, "date": ts.strftime("%Y-%m-%dT%H:%M:%SZ"), "html": h}
            for u, ts, h in zip(tbl["url"], tbl["warc_ts"], tbl["html"])]
    rng = np.random.default_rng(seed)
    dups = rng.choice(base_docs, int(base_docs * dup_frac), replace=False)
    recs += [{**recs[i], "uri": f"{recs[i]['uri']}?copy=1"} for i in dups]
    return [recs[i] for i in rng.permutation(len(recs))]


def write_archives(out: str, records, files: int) -> str:
    """Pack ``records`` round-robin into ``files`` gzip-member archives."""
    from riko_spark.sources.warc import build_warc

    _fresh(out)
    for f in range(files):
        part = [{"warc_type": "response", "uri": r["uri"], "date": r["date"],
                 "content_type": "application/http; msgtype=response",
                 "content": b"HTTP/1.1 200 OK\r\n\r\n" + r["html"]}
                for r in records[f::files]]
        with open(os.path.join(out, f"{f:04d}.warc.gz"), "wb") as fh:
            fh.write(build_warc(part, gzip_members=True))
    return out


def warc_prefix_cuts(wl: Workload, spark, warc_dir: str) -> None:
    """Batch prefix cuts of the corpus chain over ``warc_dir`` —
    ``warc_records``, then up to ``url_filter``, ``main_content`` and
    ``c4_doc_filter`` — each forced by a checksum aggregate."""
    import pyspark.sql.functions as F

    from riko_spark.operators.cleaning import (
        c4_doc_filter_op,
        main_content_op,
        url_filter_op,
    )
    from riko_spark.sources.warc import warc_records

    jobs = JobCounter(spark)

    def records():
        return warc_records(spark, warc_dir, keep_types=("response",))

    def urls():
        docs = records().filter(F.col("payload").isNotNull()).select(
            F.col("warc_target_uri").alias("url"),
            F.decode("payload", "utf-8").alias("html"))
        return url_filter_op(docs).filter("keep")

    def main():
        return main_content_op(urls().select("url", "html"),
                               {"id_col": "url"}).withColumnRenamed("main_text", "text")

    def c4():
        return c4_doc_filter_op(main(), CORPUS_CONF).filter("keep")

    with wl.tracer.span("sources", "warc_records"), jobs.group("warc_records"):
        t = time.perf_counter()
        records().agg(F.count("*"), F.sum(F.length("payload"))).collect()
        wl.layers["sources.warc_records_s"] = time.perf_counter() - t
    for name, df, col in (("url_filter", urls, "url"), ("main_content", main, "text"),
                          ("c4_doc_filter", c4, "text")):
        wl.timed_op(jobs, name, lambda df=df, col=col: df().agg(
            F.count("*"), F.sum(F.length(col))).collect()[0][0])


class CorpusDrain(Workload):
    BASE_DOCS = 1600     # distinct pages
    DUP_FRAC = 0.25      # planted exact duplicates, as a share of BASE_DOCS
    ARCHIVES = 24
    FILES_PER_TRIGGER = 6
    WARM_DOCS, WARM_BATCHES = 400, 4

    def generate(self, seconds: float) -> None:
        self.records = warc_corpus(self.seed, self.BASE_DOCS, self.DUP_FRAC)
        self.docs = len(self.records)

    def stage(self, spark) -> None:
        self.warc_dir = write_archives(
            os.path.join(self.work, "warc"), self.records, self.ARCHIVES)
        self.warm_dir = write_archives(
            os.path.join(self.work, "warc_warm"), self.records[:self.WARM_DOCS],
            self.WARM_BATCHES)

    def _drain(self, spark, warc_dir: str, d: str, files_per_trigger: int):
        from riko_spark.sources.warc import warc_stream
        from riko_spark.streaming.corpus import clean_corpus
        from riko_spark.streaming.sink import UpsertSink

        # the wiring of streaming.corpus.run_corpus_stream, with the
        # sink callable wrapped so each batch's commit end is recorded
        records = warc_stream(spark, warc_dir, keep_types=("response",),
                              max_files_per_trigger=files_per_trigger)
        sink = TimedSink(UpsertSink(os.path.join(d, "sink"), keys=["url"],
                                    day_col="warc_ts", num_buckets=8), self.tracer)
        t0 = time.time()
        q = _start_stream(clean_corpus(records, CORPUS_CONF), sink,
                          os.path.join(d, "ckpt"), {"availableNow": True})
        _await(q, 150)
        return q, sink, t0, time.time()

    def _batch_texts(self, spark, warc_dir: str) -> list:
        from riko_spark.sources.warc import warc_records
        from riko_spark.streaming.corpus import clean_corpus

        out = clean_corpus(warc_records(spark, warc_dir, keep_types=("response",)),
                           CORPUS_CONF)
        return sorted(r[0] for r in out.select("text").collect())

    def warm(self, spark) -> None:
        # one-archive batches: the stateful and sink paths run several
        # times before timing
        self._drain(spark, self.warm_dir, _fresh(os.path.join(self.work, "warm")), 1)

    def measure(self, spark, seconds: float, rss) -> dict:
        rates, lat, self.progress, self.kept, self.windows = [], [], [], [], []
        attempted = failed = 0
        timed = 0.0
        i = 0
        while timed < seconds:
            d = _fresh(os.path.join(self.work, f"drain{i}"))
            q, sink, t0, t1 = self._drain(spark, self.warc_dir, d,
                                          self.FILES_PER_TRIGGER)
            timed += t1 - t0
            self.windows.append((t0, t1))
            rates.append(self.docs / (t1 - t0))
            fb = read_source_log(os.path.join(d, "ckpt"))
            lat += shard_latencies_ms(dict.fromkeys(fb, t0), fb, sink.commit_end)
            self.progress += progress_dicts(q)
            self.kept.append(sink.sink.result(spark).count())
            attempted += sink.calls
            failed += sink.failed
            self.sink = sink
            i += 1
        return {"docs_per_s": statistics.median(rates), "latencies_ms": lat,
                "attempted": attempted, "failed": failed, "drains": i,
                "drain_s": [self.docs / r for r in rates],
                "batch_ms": _batch_ms(self.progress)}

    def check(self, spark) -> str | None:
        if any(k != self.BASE_DOCS for k in self.kept):
            return f"kept rows {self.kept}, want {self.BASE_DOCS} per drain"
        got = sorted(r[0] for r in self.sink.sink.result(spark).select("text").collect())
        if got != self._batch_texts(spark, self.warc_dir):
            return "sink texts differ from clean_corpus over warc_records"
        return None

    def traced(self, spark) -> None:
        self.layers.update(stream_digest(self.progress))
        self.layers.update(self.sink.metrics())
        add_batch_spans(self.tracer, self.progress, self.sink.spans)
        warc_prefix_cuts(self, spark, self.warc_dir)


# --- curate_batch ---------------------------------------------------------

CHECKSUMS = os.path.join(HERE, "checksums.json")
STEPS = ("line_clean", "span_dedupe", "lm_score", "dsir_select")


class CurateBatch(Workload):
    BASE_DOCS = 400
    REPLICAS = 16        # disjoint-id copies of the base docs
    DSIR_K = 1000

    def generate(self, seconds: float) -> None:
        import numpy as np
        import pyarrow as pa

        from riko_spark.sources.pages import generate_pages

        # seeded distinct ids: the paged planting picks each document's
        # boilerplate and unique lines from its id
        rng = np.random.default_rng(self.seed)
        ids = np.sort(rng.choice(1_000_000, self.BASE_DOCS, replace=False))
        text = generate_pages(self.BASE_DOCS, seed=self.seed).column("text")
        self.base = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": text})
        self.docs = self.BASE_DOCS * self.REPLICAS

    def stage(self, spark) -> None:
        import pyarrow.parquet as pq

        self.base_path = os.path.join(_fresh(os.path.join(self.work, "curate")),
                                      "base.parquet")
        pq.write_table(self.base, self.base_path)

    def corpus(self, spark, replicas: int):
        import pyspark.sql.functions as F

        from __spark_entry__ import _PAGED_SQL

        d = spark.read.parquet(self.base_path).repartition(self.cores)
        reps = spark.range(replicas).select(F.col("id").alias("__rep"))
        return (d.crossJoin(reps)
                .select((F.col("doc_id") + F.col("__rep") * 1_000_000).alias("doc_id"),
                        "text")
                .withColumn("text", F.expr(_PAGED_SQL)))

    def chain(self, spark, replicas: int, jobs: JobCounter) -> tuple:
        """One pass of the curation chain; returns (step seconds,
        checksums).  Each step's output is persisted and forced by a
        checksum."""
        import pyspark.sql.functions as F

        from riko_spark.operators.cleaning import (
            c4_line_filter_op,
            line_dedupe_op,
            span_dedupe_op,
        )
        from riko_spark.operators.dsir import dsir_select_op
        from riko_spark.operators.lm import ngram_lm_score_op, ngram_lm_train

        paged = self.corpus(spark, replicas)
        held, sums = [], {}

        def step(name, build, *aggs):
            """Build the step (fits included), persist its output and
            force it with a checksum aggregate, all inside the span."""
            def force():
                df = build().persist()
                held.append(df)
                row = df.agg(F.count("*"), *aggs).collect()[0]
                sums[name] = [int(v or 0) for v in row]
                return sums[name][0]
            dt = self.timed_op(jobs, name, force)
            return held[-1], dt

        def scored():
            lm = ngram_lm_train(spans.where(F.col("doc_id") % 7 == 1), min_count=2)
            return ngram_lm_score_op(spans, lm=lm, keep_milli=-2000)

        def selected():
            target = spans.where((F.col("doc_id") % 7 == 1)
                                 & (F.col("doc_id") < 1_000_000))
            return dsir_select_op(spans, target_df=target, k=self.DSIR_K,
                                  buckets=10_000, seed="perfbench")

        try:
            clean, t1 = step(
                "line_clean",
                lambda: line_dedupe_op(c4_line_filter_op(paged), min_docs=3),
                F.sum("n_kept"), F.sum(F.length("text")))
            spans, t2 = step(
                "span_dedupe", lambda: span_dedupe_op(clean, k=6, min_docs=3),
                F.sum("n_kept"), F.sum(F.length("text")))
            _, t3 = step("lm_score", scored, F.sum("logprob_milli"),
                         F.sum("n_scored"), F.sum(F.col("keep").cast("long")))
            _, t4 = step("dsir_select", selected,
                         F.sum("logw_milli"), F.sum("key_milli"))
        finally:
            for df in held:
                df.unpersist()
        return [t1, t2, t3, t4], sums

    def warm(self, spark) -> None:
        # a full-size pass: a smaller one leaves the timed passes still
        # speeding up from one to the next
        self.chain(spark, self.REPLICAS, JobCounter(spark))

    def measure(self, spark, seconds: float, rss) -> dict:
        jobs = JobCounter(spark)
        self.op_s = {}
        steps, self.sums = [], []
        t_start = time.time()
        while sum(map(sum, steps)) < seconds:
            dts, sums = self.chain(spark, self.REPLICAS, jobs)
            steps.append(dts)
            self.sums.append(sums)
        self.window = (t_start, time.time())
        # a result per step: from the start of the pass to the step's
        # checksum, so the latencies are not the inverse of docs_per_s
        lat = [sum(dts[:i + 1]) * 1e3 for dts in steps for i in range(len(STEPS))]
        return {"docs_per_s": statistics.median(self.docs / sum(d) for d in steps),
                "latencies_ms": lat,
                "attempted": len(steps) * len(STEPS), "failed": 0,
                "iterations": len(steps), "step_s": steps,
                "checksums": self.sums[0]}

    def check(self, spark) -> str | None:
        first = self.sums[0]
        if any(s != first for s in self.sums[1:]):
            return "checksums differ between iterations"
        want = self.reference_line_clean(spark)
        if first["line_clean"] != want:
            return f"line_clean checksum {first['line_clean']} != reference {want}"
        with open(CHECKSUMS) as fh:
            recorded = json.load(fh)["checksums"].get(str(self.seed))
        if recorded is not None and recorded != first:
            return f"checksums {first} differ from the recorded {recorded}"
        return None

    def reference_line_clean(self, spark) -> list:
        """The C4 line gate and corpus line dedupe re-done in Python over
        the same paged corpus: [docs, kept lines, text characters]."""
        rows = self.corpus(spark, self.REPLICAS).collect()
        kept = {}
        for doc_id, text in rows:
            lines = [ln.strip(" ") for ln in (text or "").split("\n")]
            kept[doc_id] = [ln for ln in lines if ln
                            and len(re.split(r"\s+", ln)) >= 5
                            and ln[-1] in '.!?"”']
        df = {}
        for lines in kept.values():
            for ln in set(lines):
                df[ln] = df.get(ln, 0) + 1
        n_kept = n_chars = 0
        for lines in kept.values():
            out = [ln for ln in lines if df[ln] < 3]
            n_kept += len(out)
            n_chars += len("\n".join(out))
        return [len(rows), n_kept, n_chars]


WORKLOADS = {"graph_paced": GraphPaced, "corpus_drain": CorpusDrain,
             "curate_batch": CurateBatch}
