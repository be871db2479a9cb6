"""Exactly-once sink: idempotent keyed MERGE via ``foreachBatch``.

Design (SURVEY.md §7.4): state lives in Spark's checkpointed state
store; the sink is made idempotent by MERGE-on-key so a replayed
micro-batch (after failure/restart) upserts the same rows — replay
⇒ same final table, i.e. exactly-once *effect* on top of Spark's
at-least-once ``foreachBatch``.

Production target is Iceberg ``MERGE INTO`` on a table partitioned by
``days(warc_ts), bucket(64, url)``; this container has no Iceberg
catalog jars, so the same contract is implemented over parquet with a
**partitioned manifest-pointer commit** mirroring that exact spec:

- the table is partitioned by an optional DAY transform of a
  timestamp column times a hash-bucket of the merge keys — the same
  ``days(ts), bucket(N, key)`` layout the Iceberg table would use;
- a micro-batch rewrites ONLY the (day, bucket) partitions its keys
  touch — per-batch I/O is O(touched partitions), not O(table).  In a
  streaming upsert the touched days are the recent ones, so a
  10^12-row table with years of history rewrites a sliver per batch;
- all touched partitions commit atomically through one manifest file
  (write ``MANIFEST.tmp`` → ``os.rename``): a crash at any earlier
  instant leaves the previous manifest — and therefore every
  partition's previous generation — fully readable.

The merge itself runs on the driver in Arrow: one Spark action
(``toArrow``) runs the micro-batch plan and returns its rows with their
partition ids, the touched partitions' current files are read with
``pyarrow.parquet``, and the latest-wins rows are written back as one
parquet file per partition.  A micro-batch therefore costs one Spark
job, and the driver holds the batch plus its touched partitions — the
memory bound of this sink.  Tables whose touched partitions do not fit
the driver belong in :class:`IcebergUpsertSink`, the production path.

Single-writer assumption: exactly one UpsertSink instance may write a
given path at a time (Structured Streaming guarantees this per query
via the checkpoint lock; two concurrent *queries* writing one path
would race any table format without a lock service).  GC of orphaned
generation dirs therefore runs only inside ``_merge_batch`` — where
the writer owns the path — never at construction time, so merely
*instantiating* a second sink (e.g. a reader) can never delete a
generation another writer is about to commit.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def _utc_int96(t, int96):
    """``t`` (an Arrow schema or type) with every timestamp stored as
    INT96 made ``timestamp[us, tz=UTC]``.  Spark writes TimestampType as
    INT96, which reads back naive; its values are UTC instants, the
    type ``toArrow`` gives a batch.  ``int96`` yields, for each parquet
    leaf column in schema order, whether it is INT96."""
    if isinstance(t, pa.Schema):
        return pa.schema([f.with_type(_utc_int96(f.type, int96)) for f in t])
    if pa.types.is_struct(t):
        return pa.struct([f.with_type(_utc_int96(f.type, int96)) for f in t])
    if pa.types.is_map(t):
        return pa.map_(t.key_field.with_type(_utc_int96(t.key_type, int96)),
                       t.item_field.with_type(_utc_int96(t.item_type, int96)))
    if pa.types.is_list(t):
        return pa.list_(t.value_field.with_type(_utc_int96(t.value_type, int96)))
    return pa.timestamp("us", tz="UTC") if next(int96) else t


class UpsertSink:
    """foreachBatch handler: MERGE micro-batch rows into a keyed,
    (day x hash-bucket)-partitioned table.

    Latest-wins per key (ties broken by batch id), so replaying a batch
    is a no-op — the exactly-once contract the north rule requires.

    Each call is one Spark job: the batch is collected as Arrow and
    merged with its touched partitions on the driver, so a call needs
    driver memory for the batch plus those partitions.  At production
    scale use :class:`IcebergUpsertSink`.

    ``num_buckets`` sizes the bucket fan-out: a micro-batch rewrites
    only the partitions containing its keys, so at scale (keys ≫
    buckets, batches touching a key subset) per-batch I/O stays
    proportional to the batch, not the table.

    ``day_col`` adds the ``days(ts)`` partition dimension (the north
    rule's Iceberg spec).  It must be functionally dependent on the
    merge keys (e.g. the window-start key itself) so each logical key
    lives in exactly one partition; typical use:
    ``UpsertSink(path, keys=["window_start", "domain"],
    day_col="window_start")``.

    Lineage: every committed generation dir name embeds the batch id
    that produced it.
    """

    def __init__(self, path: str, keys: list[str], order_col: str | None = None,
                 num_buckets: int = 8, day_col: str | None = None):
        self.path = path
        self.keys = keys
        self.order_col = order_col  # optional recency column for latest-wins
        self.num_buckets = int(num_buckets)
        self.day_col = day_col
        os.makedirs(path, exist_ok=True)

    @property
    def _manifest(self) -> str:
        return os.path.join(self.path, "MANIFEST")

    def _read_manifest(self) -> dict:
        """partition id -> relative dir of its current generation.
        Partition id: int bucket, or "YYYY-MM-DD/bucket" with day_col."""
        try:
            with open(self._manifest) as fh:
                raw = json.load(fh)
        except FileNotFoundError:
            return {}
        parts = raw.get("buckets", {})
        if self.day_col:
            return dict(parts)
        return {int(k): v for k, v in parts.items()}

    def _commit_manifest(self, mf: dict) -> None:
        mtmp = self._manifest + f".{uuid.uuid4().hex}"
        with open(mtmp, "w") as fh:
            json.dump({"buckets": {str(k): v for k, v in mf.items()}}, fh)
        os.rename(mtmp, self._manifest)  # atomic on POSIX — the commit point

    def _gc(self, mf: dict) -> None:
        """Drop generation dirs no manifest partition references and
        stale manifest tmps — leftovers of a crash between write and
        commit.  Called only from ``_merge_batch`` (single-writer
        ownership)."""
        live = {rel.split("/", 1)[0] for rel in mf.values()}
        for name in os.listdir(self.path):
            p = os.path.join(self.path, name)
            if os.path.isdir(p) and name.startswith(("gen_", "_tmp_")) and name not in live:
                shutil.rmtree(p, ignore_errors=True)
            elif os.path.isfile(p) and name.startswith("MANIFEST."):
                os.remove(p)  # uncommitted manifest tmp from a crash

    def _part_cols(self) -> list[str]:
        return (["__day"] if self.day_col else []) + ["__bucket"]

    def _with_partitions(self, df: DataFrame) -> DataFrame:
        out = df.withColumn(
            "__bucket",
            F.pmod(F.xxhash64(*[F.col(k) for k in self.keys]),
                   F.lit(self.num_buckets)).cast("int"),
        )
        if self.day_col:
            # null day values must land in the SAME directory name Spark's
            # partitionBy writes for nulls, or the manifest would record a
            # path ('__day=None') that never exists on disk
            out = out.withColumn(
                "__day",
                F.coalesce(
                    F.date_format(F.col(self.day_col).cast("timestamp"), "yyyy-MM-dd"),
                    F.lit("__HIVE_DEFAULT_PARTITION__"),
                ),
            )
        return out

    def _part_id(self, row) -> int | str:
        return f"{row['__day']}/{row['__bucket']}" if self.day_col else row["__bucket"]

    def _part_values(self, part_id) -> dict:
        """Partition column -> value for a partition id (inverse of
        ``_part_id``)."""
        if self.day_col:
            day, bucket = str(part_id).rsplit("/", 1)
            return {"__day": day, "__bucket": int(bucket)}
        return {"__bucket": int(part_id)}

    def _part_rel(self, gen_name: str, part_id) -> str:
        return "/".join([gen_name] + [f"{c}={v}" for c, v in
                                      self._part_values(part_id).items()])

    def read(self, spark: SparkSession) -> DataFrame | None:
        mf = self._read_manifest()
        if not mf:
            return None
        paths = [os.path.join(self.path, rel) for rel in mf.values()]
        # generations can be frozen at different batches; _merge_batch
        # supports schema evolution (permissive concat), so partitions
        # may span divergent schemas — without mergeSchema a single
        # footer would win and silently drop later-added columns
        return spark.read.option("mergeSchema", "true").parquet(*paths)

    def _read_partition(self, rel: str, part_id) -> pa.Table:
        """The committed rows of one partition, with its partition
        columns added back from the partition id."""
        d = os.path.join(self.path, rel)
        tables = []
        for name in sorted(os.listdir(d)):
            if name.startswith(("_", ".")):  # _SUCCESS, .crc: Hadoop side files
                continue
            with pq.ParquetFile(os.path.join(d, name),
                                coerce_int96_timestamp_unit="us") as f:
                t = f.read()
                leaves = [c.physical_type == "INT96" for c in f.schema]
            if any(leaves):
                t = t.cast(_utc_int96(t.schema, iter(leaves)))
            tables.append(t)
        t = pa.concat_tables(tables, promote_options="permissive")
        for c, v in self._part_values(part_id).items():
            t = t.append_column(c, pa.repeat(v, t.num_rows))
        return t

    def _latest_rows(self, t: pa.Table) -> np.ndarray:
        """Row positions of the latest row per key: highest ``order_col``
        (nulls last, NaN first, as Spark orders them), then highest
        ``__batch_id``; remaining ties go to the earlier row."""
        cols, sort_keys = {}, []
        if self.order_col:
            order = t.column(self.order_col)
            if pa.types.is_floating(order.type):
                cols["__nan"] = pc.is_nan(order)
                sort_keys.append(("__nan", "descending"))
            cols["__order"] = order
            sort_keys.append(("__order", "descending"))
        cols["__batch_id"] = t.column("__batch_id")
        sort_keys.append(("__batch_id", "descending"))
        ranked = pc.sort_indices(pa.table(cols), sort_keys=sort_keys,
                                 null_placement="at_end")
        keys = t.select(self.keys).take(ranked)
        keys = keys.append_column("__pos", pa.array(np.arange(len(ranked))))
        first = keys.group_by(self.keys).aggregate([("__pos", "min")])
        return np.sort(ranked.to_numpy()[first.column("__pos_min").to_numpy()])

    def _merge_batch(self, batch: DataFrame, batch_id: int) -> None:
        pcols = self._part_cols()
        # the one Spark action: runs the batch plan, partition ids included
        new = self._with_partitions(
            batch.withColumn("__batch_id", F.lit(batch_id))
        ).toArrow()
        if not new.num_rows:
            return  # empty batch: nothing to merge, manifest unchanged
        touched = sorted(
            self._part_id(r)
            for r in new.select(pcols).group_by(pcols).aggregate([]).to_pylist()
        )
        mf = self._read_manifest()
        # only the touched partitions are read back — per-batch I/O is
        # O(touched), the parquet analog of MERGE INTO with (days x
        # bucket) partition pruning.  Their generations may be frozen at
        # divergent (evolved) schemas, which permissive concat unions.
        # Committed rows come first, so a replayed batch keeps them.
        merged = pa.concat_tables(
            [self._read_partition(mf[p], p) for p in touched if p in mf] + [new],
            promote_options="permissive",
        )
        merged = merged.take(self._latest_rows(merged))
        data = merged.drop_columns(pcols)
        # no leading underscore on gen dirs: Hadoop listings treat
        # _-prefixed names as hidden
        gen_name = f"gen_{batch_id}_{uuid.uuid4().hex}"
        for p in touched:
            mask = functools.reduce(pc.and_, [
                pc.equal(merged.column(c), v) for c, v in self._part_values(p).items()
            ])
            rel = self._part_rel(gen_name, p)
            os.makedirs(os.path.join(self.path, rel))
            # store_schema=False: the parquet schema alone reads back
            # the same types; large_string/large_binary come back as
            # string/binary, which the permissive concat promotes
            pq.write_table(data.filter(mask),
                           os.path.join(self.path, rel, "part-00000.parquet"),
                           store_schema=False)
            mf[p] = rel
        self._commit_manifest(mf)
        self._gc(mf)

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        self._merge_batch(batch, batch_id)

    def result(self, spark: SparkSession) -> DataFrame:
        df = self.read(spark)
        if df is None:
            raise FileNotFoundError(f"sink {self.path} has no data yet")
        return df.drop("__batch_id")


class IcebergUpsertSink:
    """Production variant of :class:`UpsertSink`: Iceberg ``MERGE INTO``
    keyed on the same columns, table partitioned by
    ``days(warc_ts), bucket(64, url)`` so replays are idempotent and
    partition pruning works at 10^12 rows.

    Requires an Iceberg catalog on the session.  The replay/restart
    contract test (tests/test_streaming.py) probes for the runtime jar
    and runs this path when present; in jar-less sandboxes it records
    the scan evidence in its skip reason and the same contract is
    proven against :class:`UpsertSink`'s identical merge semantics.

    ``create_from`` issues the partitioned CREATE TABLE once —
    ``days(<day_col>), bucket(<n>, <key>)`` — so the sink mirrors
    UpsertSink's layout exactly.
    """

    def __init__(self, table: str, keys: list[str],
                 order_col: str | None = None):
        self.table = table
        self.keys = keys
        self.order_col = order_col  # optional recency column for latest-wins

    def create_from(self, batch: DataFrame, day_col: str | None = None,
                    bucket_key: str | None = None, num_buckets: int = 64) -> None:
        spark = batch.sparkSession
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in batch.schema.fields
        )
        parts = []
        if day_col:
            parts.append(f"days({day_col})")
        if bucket_key:
            parts.append(f"bucket({num_buckets}, {bucket_key})")
        spec = f" PARTITIONED BY ({', '.join(parts)})" if parts else ""
        spark.sql(f"CREATE TABLE IF NOT EXISTS {self.table} ({cols})"
                  f"{spec} USING iceberg")

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # MERGE rejects multiple source rows per target key — collapse
        # the micro-batch to its latest row per key first (same
        # latest-wins rule as UpsertSink).  The tiebreak must be
        # DETERMINISTIC in the row CONTENT, not in task arrival order,
        # or a replayed batch could merge a different row and break the
        # idempotence contract — xxhash64 over every column gives a
        # stable content-derived total order.
        from pyspark.sql import Window

        content = F.xxhash64(*[F.col(f"`{c}`") for c in batch.columns])
        order = ([F.col(self.order_col).desc_nulls_last(), content.desc()]
                 if self.order_col else [content.desc()])
        w = Window.partitionBy(*self.keys).orderBy(*order)
        deduped = (batch.withColumn("__rn", F.row_number().over(w))
                   .filter(F.col("__rn") == 1).drop("__rn"))
        view = f"__updates_{batch_id}"
        deduped.createOrReplaceTempView(view)
        on = " AND ".join(f"t.{k} = s.{k}" for k in self.keys)
        spark.sql(
            f"MERGE INTO {self.table} t USING {view} s ON {on} "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        spark.catalog.dropTempView(view)

    def result(self, spark: SparkSession) -> DataFrame:
        return spark.table(self.table)


def write_stream_upsert(
    df: DataFrame,
    sink: UpsertSink,
    checkpoint: str,
    output_mode: str = "update",
    trigger_available_now: bool = True,
):
    """Start a streaming query writing through the idempotent sink."""
    writer = (
        df.writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
