"""State-store provider selection for stateful streams.

A stateful stream's shuffle width and state-store provider are both
captured in the checkpoint at first start and kept for the query's
LIFETIME, so they are chosen before ``writeStream.start()``.  Width
should follow STATE volume, not input volume: the map side (scan +
extraction) gets its parallelism from file splits, while every extra
state partition costs task launch + state commit on each micro-batch.
:func:`configure_state_store` sets the provider by alias.

Provider guidance (both checkpointed, both exactly-once):

* HDFSBackedStateStoreProvider — in-memory map + delta files.  Best
  while per-partition state fits comfortably in executor memory
  (e.g. windowed counts: |keys x open windows| rows).
* RocksDBStateStoreProvider — off-heap LSM.  Required when state
  exceeds memory (e.g. dedupe sets over 10^12 urls); the session
  default here (session.py) because the 100 TB design point assumes
  large state.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

STATE_STORE_CONF = "spark.sql.streaming.stateStore.providerClass"

STATE_STORE_PROVIDERS = {"hdfs": HDFS_PROVIDER, "rocksdb": ROCKSDB_PROVIDER}


def resolve_state_store(provider: str) -> str:
    """Alias (``hdfs`` / ``rocksdb``, case-insensitive) or a
    fully-qualified StateStoreProvider class name → class name."""
    cls = STATE_STORE_PROVIDERS.get(provider.strip().lower())
    if cls:
        return cls
    if "." in provider:  # fully-qualified custom provider
        return provider.strip()
    raise ValueError(
        f"unknown state store {provider!r}: expected one of "
        f"{sorted(STATE_STORE_PROVIDERS)} or a fully-qualified "
        "StateStoreProvider class name")


def configure_state_store(spark: SparkSession, provider: str | None) -> str | None:
    """Set the session's state-store provider for queries started from
    now on; returns the resolved class name (``None`` = leave the
    session untouched — ``session.get_spark`` already defaults to
    RocksDB, the large-state choice).  Must run before
    ``writeStream.start()``; the provider is recorded in the query's
    offset-log metadata, so an existing checkpoint KEEPS the provider
    it was created with across restarts (Spark re-applies the
    checkpointed value and ignores a changed session conf) — start a
    fresh checkpoint to switch."""
    if provider is None:
        return None
    cls = resolve_state_store(provider)
    spark.conf.set(STATE_STORE_CONF, cls)
    return cls

