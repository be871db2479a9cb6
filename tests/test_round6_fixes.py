"""Round-6 regression tests for the ADVICE findings.

1. Streaming drop mode must not corrupt snowflake-scale ids: a null id
   in a micro-batch promotes the Arrow int64 column to float64 in the
   pandas conversion, silently rounding every id >= 2^53 in that batch.
   Fixed by a JVM-side null/negative filter BEFORE the stateful
   operator (on_invalid='drop') plus an exactness guard in the ingest.
2. Streaming drop mode drops null-timestamp rows like the batch
   ``__comp IS NOT NULL`` filter does (NaT would become INT64_MIN).
3. parse_jpeg_dims handles 0xFF fill bytes before a marker (T.81
   B.1.1.2) instead of misreading a bogus segment length.
"""

import datetime as dt
import struct
import time

import numpy as np
import pytest

from riko_spark.streaming.cep import sequence_match

from tests.test_cep import ROWS, SCHEMA, STEPS, T0, _collect

BIG = 2**60 + 3  # unrepresentable in float64 (> 2^53)


def _drain(out, tmp_path, n_steps=3):
    sink = []
    cols = ["user_id"] + [c for i in range(n_steps)
                          for c in (f"step{i}_id", f"step{i}_ts")]

    def grab(batch, _bid):
        sink.extend(tuple(r) for r in batch.select(*cols).collect())

    q = (out.writeStream.foreachBatch(grab).outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(240)
    return sorted(sink)


def test_stream_drop_mode_preserves_snowflake_ids(spark, tmp_path):
    """A null id in the same micro-batch as a >2^53 id: drop mode must
    emit the big id EXACTLY (the broken path rounds it via float64)."""
    rows = [
        (BIG, T0, 1, "view"),
        (None, T0 + dt.timedelta(minutes=1), 1, "error"),
        (BIG + 4, T0 + dt.timedelta(minutes=2), 1, "click"),
        (BIG + 8, T0 + dt.timedelta(minutes=3), 1, "purchase"),
    ]
    flush = [(901, T0 + dt.timedelta(days=2), 1, "error")]
    df = spark.createDataFrame(rows + flush, SCHEMA)
    expected = _collect(
        sequence_match(df, STEPS, within="30 minutes", on_invalid="drop"), 3)
    assert expected and expected[0][1] == BIG and expected[0][3] == BIG + 4

    src = str(tmp_path / "src")
    # ONE file for the dirty rows so the null id shares a micro-batch
    # (and hence an Arrow->pandas conversion) with the big ids
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(flush, SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = sequence_match(stream, STEPS, within="30 minutes",
                         watermark="0 seconds", on_invalid="drop")
    got = _drain(out, tmp_path)
    assert got == expected
    assert got[0][1] == BIG  # exact, not 1152921504606846976.0-rounded


def test_stream_drop_mode_null_ts_parity(spark, tmp_path):
    """A null event-time row in drop mode is filtered before the state
    store, matching the batch null-composite semantics."""
    dirty = list(ROWS) + [(777, None, 1, "click")]
    flush = [(900 + u, T0 + dt.timedelta(days=2), u, "error")
             for u in range(1, 6)]
    df = spark.createDataFrame(dirty + flush, SCHEMA)
    expected = _collect(
        sequence_match(df, STEPS, within="30 minutes", on_invalid="drop"), 3)

    src = str(tmp_path / "src")
    spark.createDataFrame(dirty, SCHEMA).repartition(4).write.parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(flush, SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    out = sequence_match(stream, STEPS, within="30 minutes",
                         watermark="0 seconds", on_invalid="drop")
    assert _drain(out, tmp_path) == expected


def test_ids_exact_rejects_unrepresentable_floats():
    """The ingest defence: a float64-promoted batch with ids >= 2^53
    raises loudly instead of emitting rounded ids."""
    import pandas as pd

    from riko_spark.streaming.cep import _ids_exact

    pdf = pd.DataFrame({"event_id": np.array([float(BIG), 7.0])})
    m = np.array([True, True])
    with pytest.raises(ValueError, match="2\\^53"):
        _ids_exact(pdf, "event_id", m, "long")
    # small floats convert exactly
    pdf2 = pd.DataFrame({"event_id": np.array([3.0, 7.0])})
    ids = _ids_exact(pdf2, "event_id", m, "long")
    assert ids.dtype.kind == "i" and list(ids) == [3, 7]
    # int64 columns pass through untouched
    pdf3 = pd.DataFrame({"event_id": np.array([BIG, 7], dtype=np.int64)})
    ids3 = _ids_exact(pdf3, "event_id", m, "long")
    assert list(ids3) == [BIG, 7]


def test_jpeg_dims_with_fill_bytes():
    """0xFF fill padding before the SOF marker (T.81 B.1.1.2) must not
    be misread as a length segment."""
    from riko_spark.functions.imagecodec import parse_jpeg_dims

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = (b"\xff\xff\xff"  # fill bytes ahead of the marker
            + b"\xff\xc0" + struct.pack(">H", 11)
            + struct.pack(">BHHB", 8, 31, 45, 3) + b"\x01\x11\x00")
    blob = b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
    assert parse_jpeg_dims(blob) == (45, 31, 3)
