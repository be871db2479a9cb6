"""Deduplication operators for web-scale corpus curation.

Exact + four near-dup families, all shaped for 100 TB:

  exact_dedupe     hash-groupBy on a normalized content hash — one
                   shuffle on the hash key, map-side partial agg.
  minhash_lsh      word-shingles → k MinHash signatures → banding →
                   bucket join.  Candidate generation never compares
                   all pairs: rows shuffle once per band on the band
                   hash, skew bounded by bucket size.
  simhash          64-bit SimHash per doc (Arrow-batched pandas UDF),
                   near-dup candidates = any of B bit-bands identical
                   (Manku et al., WWW'07) — guarantees recall for
                   hamming ≤ B-1 by pigeonhole.
  ngram_jaccard    exact Jaccard over word n-gram sets for candidate
                   pairs (used to verify LSH candidates).
  embedding_neardup  random-hyperplane LSH over an embedding column →
                   bucket join → exact cosine check.

The riko reference has only ``uniq`` (bounded exact dedupe,
riko/modules/uniq.py); these generalize it to the training-data
pipeline setting.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import LongType

from riko_spark.operators import fanout_small_scan, register
from riko_spark.operators.textstats import word_shingles, words_col


def cap_buckets(
    keyed: DataFrame, bucket_cols: list[str], max_bucket_size: int | None,
    log_dropped: bool = True, what: str = "lsh",
) -> DataFrame:
    """Frequent-bucket guard for bucketed self-joins.

    One degenerate bucket (boilerplate-heavy corpora: identical
    headers/footers hashing to one band value) makes the self-join
    O(bucket²).  Buckets above ``max_bucket_size`` are excluded from
    candidate generation; a bucket that large at a sane band width is
    ~always a pathological collision, and its pairs are recoverable by
    re-running with a salt.  Over-cap buckets are ALSO where the
    biggest duplicate clusters live (identical boilerplate), so the
    drop is never silent: ``log_dropped`` defaults to True and counts
    the dropped bucket/row mass LAZILY via ``DataFrame.observe`` — the
    metrics ride along with the candidate join's own execution (zero
    extra jobs, nothing runs at plan-construction time); a daemon
    watcher thread emits a ``warnings.warn`` the moment the first
    action on the plan completes with drops observed.  The same
    numbers are queryable programmatically from the returned frame's
    ``Observation`` (registered in ``CAP_OBSERVATIONS[what]``).
    """
    if max_bucket_size is None:
        return keyed
    counts = keyed.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("__bn"))
    if log_dropped:
        counts = _observe_cap_drops(counts, max_bucket_size, what)
    ok = counts.filter(F.col("__bn") <= max_bucket_size).drop("__bn")
    return keyed.join(ok, bucket_cols, "inner")


class CapStats:
    """Drop accounting for one capped self-join.

    Two paths, both lazy at plan-build time:

    * best-effort: a ``DataFrame.observe`` rides the candidate join's
      own execution; ONE shared daemon poller (not a thread per plan)
      checks readiness non-blockingly and warns as soon as the first
      action completes with drops observed.  (This Spark build
      sometimes delivers an EMPTY metrics row from the async listener
      bus — that, or any py4j error, counts as "observation missed".)
    * authoritative: ``.get`` — first drains the observation
      non-blockingly if the plan has since run; if the observation
      missed, runs the small bucket-histogram aggregation itself (one
      extra job, only when accounting is explicitly requested)."""

    def __init__(self, fallback: DataFrame, obs=None,
                 max_bucket_size: int | None = None, what: str = ""):
        self._fallback = fallback  # lazy plan: agg over the bucket histogram
        self._observed: dict | None = None
        self._obs = obs  # pyspark Observation riding the capped plan
        self._cap = max_bucket_size
        self._what = what

    def _set_observed(self, value: dict | None) -> None:
        if value and "dropped_buckets" in value:
            self._observed = value

    def _try_drain(self) -> bool:
        """Non-blocking: if the observed plan's first action has
        completed, record the metrics.  True once drained (or the
        observation is unusable) — i.e. the poller can retire it."""
        if self._observed is not None:
            return True
        if self._obs is None:
            return True
        try:
            jo = self._obs._jo
            if jo is None or jo.getRowOrEmpty().isEmpty():
                return False  # plan not executed yet — keep polling
            self._set_observed(self._obs.get)  # ready: returns immediately
        except Exception:  # noqa: BLE001 — py4j races / stopped session
            return True  # unusable: retire, .get falls back to the agg
        return True

    @property
    def get(self) -> dict:
        self._try_drain()
        if self._observed is not None:
            return self._observed
        row = self._fallback.first()
        return {"dropped_rows": row["dropped_rows"] or 0,
                "dropped_buckets": row["dropped_buckets"] or 0}


#: most recent cap accounting per operator label — read it after running
#: your action: ``CAP_OBSERVATIONS["minhash_lsh"].get`` →
#: {"dropped_rows": .., "dropped_buckets": ..}
#:
#: Lifecycle notes: the slot holds the MOST RECENT plan per label — two
#: concurrently built pipelines of the same op share it, so capture the
#: CapStats reference right after building the plan if you need
#: per-pipeline accounting.  Warning delivery rides ONE shared daemon
#: poller (non-blocking ``getRowOrEmpty`` checks, 0.5 s → 5 s backoff)
#: that exits when nothing is pending.  A plan that is built but never
#: executed is pinned by its CAP_OBSERVATIONS slot, so the poller
#: retires such entries after ``_WATCH_MAX_AGE_S`` (10 min) — the
#: authoritative ``.get`` fallback still works afterwards; only the
#: push-style warning window closes.  py4j calls happen OUTSIDE
#: ``_PENDING_LOCK`` so a slow JVM never blocks plan construction.
CAP_OBSERVATIONS: dict[str, CapStats] = {}

_PENDING_LOCK = __import__("threading").Lock()
_PENDING: list = []  # (weakref.ref(CapStats), enqueue_monotonic) entries
_POLLER: list = []  # singleton slot for the live poller thread
_POLL_DELAY: list = [0.5]  # current backoff; reset on every new enqueue
_WATCH_MAX_AGE_S = 600.0


def _warn_drops(stats: CapStats) -> None:
    import warnings

    got = stats._observed or {}
    if got.get("dropped_buckets"):
        warnings.warn(
            f"{stats._what}: dropped {got['dropped_buckets']} bucket(s) / "
            f"{got['dropped_rows']} rows over max_bucket_size={stats._cap}; "
            "their pairs are recoverable by re-running with a salt or a higher cap",
            stacklevel=2,
        )


def _poll_pending() -> None:
    import threading
    import time

    def _release_if_mine() -> None:
        # Only the thread that owns the singleton slot may clear it:
        # after the in-loop exit below, a concurrent _enqueue_watch may
        # legitimately have started a successor poller whose
        # registration must survive this thread's finally block.
        if _POLLER and _POLLER[0] is threading.current_thread():
            _POLLER.clear()

    try:
        while True:
            with _PENDING_LOCK:
                batch = list(_PENDING)
            now = time.monotonic()
            # keyed by id(): a weakref whose referent died before its
            # hash was taken cannot be hashed at all.  The ids are
            # stable because _PENDING still holds the refs.
            drained = set()
            for ref, born in batch:
                stats = ref()
                if stats is None:
                    drained.add(id(ref))  # slot overwritten / collected
                    continue
                # py4j readiness checks run OUTSIDE the lock
                if stats._try_drain():
                    try:
                        _warn_drops(stats)
                    except Exception:  # noqa: BLE001 — warnings-as-errors
                        pass  # the drop counts stay queryable via .get
                    drained.add(id(ref))
                elif now - born > _WATCH_MAX_AGE_S:
                    drained.add(id(ref))  # built-but-never-run: stop babysitting
            with _PENDING_LOCK:
                _PENDING[:] = [e for e in _PENDING if id(e[0]) not in drained]
                if not _PENDING:
                    _release_if_mine()
                    return
            time.sleep(_POLL_DELAY[0])
            # back off while only long-idle (built-but-unexecuted) plans
            # remain; a fresh enqueue resets to 0.5 s so a NEW plan's
            # first action is noticed promptly even when old plans linger
            _POLL_DELAY[0] = min(_POLL_DELAY[0] * 1.5, 5.0)
    finally:
        # on ANY exit path (including an unexpected error) release the
        # singleton so the next enqueue can start a fresh poller — but
        # never wipe a successor poller registered after our in-loop
        # exit already released the slot
        with _PENDING_LOCK:
            _release_if_mine()


def _enqueue_watch(stats: CapStats) -> None:
    import threading
    import time
    import weakref

    with _PENDING_LOCK:
        _PENDING.append((weakref.ref(stats), time.monotonic()))
        _POLL_DELAY[0] = 0.5
        if not _POLLER:
            t = threading.Thread(target=_poll_pending, daemon=True,
                                 name="riko-spark-cap-watch")
            _POLLER.append(t)
            t.start()


def _observe_cap_drops(counts: DataFrame, max_bucket_size: int, what: str) -> DataFrame:
    from pyspark.sql import Observation

    over = F.col("__bn") > max_bucket_size
    metrics = [
        F.sum(F.when(over, F.col("__bn")).otherwise(F.lit(0))).alias("dropped_rows"),
        F.sum(F.when(over, 1).otherwise(0)).alias("dropped_buckets"),
    ]
    obs = Observation()
    observed = counts.observe(obs, *metrics)
    stats = CAP_OBSERVATIONS[what] = CapStats(
        fallback=counts.agg(*metrics), obs=obs,
        max_bucket_size=max_bucket_size, what=what,
    )
    _enqueue_watch(stats)
    return observed


def _norm(text: Column) -> Column:
    # lower + collapse whitespace + trim: case/spacing-insensitive key
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


@register("exact_dedupe")
def exact_dedupe_op(
    df: DataFrame, conf: dict | None = None, field: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id row per normalized-content hash.

    Implemented as groupBy(hash) → min(id) → semi-join back, which
    Catalyst plans with map-side partial aggregation; no row_number
    window (whose per-key sort is wasted work when only min survives).
    The semi-join probes on ``id_col`` ALONE: a row's id can only be
    the minimum of its own hash group, so the id set identifies the
    keepers and the probe side never recomputes the normalize+md5
    pass (ids are assumed unique row keys, which every caller in the
    engine guarantees — "keep the lowest-ID row" is only well-defined
    then anyway).  Only the (hash, id) partial-aggregate output
    crosses the exchange; the full-row side is never shuffled.
    """
    df = fanout_small_scan(df)
    keyed = df.withColumn("__h", F.md5(_norm(F.col(field))))
    keepers = keyed.groupBy("__h").agg(F.min(id_col).alias(id_col))
    return df.join(keepers.select(id_col), [id_col], "left_semi")


def _shingles_col(field: str, shingle_size: int) -> Column:
    """Array of space-joined word ``shingle_size``-grams (the whole
    normalized text as the lone shingle for shorter docs).  See
    :func:`riko_spark.operators.textstats.word_shingles` for why the
    construction is a zip_with chain (4.3x faster than the naive
    per-shingle ``slice`` + ``concat_ws`` form, identical output)."""
    toks = words_col(F.col(field))
    return F.when(
        F.size(toks) >= shingle_size,
        word_shingles(toks, shingle_size),
    ).otherwise(F.array(_norm(F.col(field))))


def minhash_signatures(
    df: DataFrame, field: str = "text", num_hashes: int = 32,
    shingle_size: int = 3, id_col: str = "doc_id",
) -> DataFrame:
    """(id, __m0..__m{k-1}) MinHash signature columns.

    Permutation i is simulated by re-hashing the shingle hash with a
    per-permutation salt (the standard one-pass trick).  Shape chosen
    for scale: explode shingles → hash each ONCE → groupBy(id) with k
    ``min`` aggregates.  The hash aggregation is map-side partial, so
    the exchange carries one row per doc, and the shingle expression is
    evaluated once per row — a naive nested ``transform`` re-inlines
    the tokenizer per (permutation × shingle) and is ~50× slower.
    """
    ex = df.select(F.col(id_col), F.explode(_shingles_col(field, shingle_size)).alias("__s"))
    hashed = ex.select(id_col, F.xxhash64("__s").alias("__h"))
    aggs = [
        F.min(F.xxhash64(F.col("__h"), F.lit(p))).alias(f"__m{p}")
        for p in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


@register("minhash_lsh")
def minhash_lsh_op(
    df: DataFrame,
    conf: dict | None = None,
    field: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 3,
    jaccard_threshold: float | None = None,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + banded LSH.

    Returns (left_id, right_id[, jaccard]) with left < right.  With
    ``jaccard_threshold`` the candidates are verified with exact
    n-gram Jaccard (one extra join against the shingle sets).
    Buckets larger than ``max_bucket_size`` are excluded from the
    self-join (see :func:`cap_buckets`).
    """
    conf = conf or {}
    num_hashes = int(conf.get("num_hashes", num_hashes))
    bands = int(conf.get("bands", bands))
    shingle_size = int(conf.get("shingle_size", shingle_size))
    max_bucket_size = conf.get("max_bucket_size", max_bucket_size)
    rows = num_hashes // bands
    # one fan-out for every consumer below (signatures AND the
    # jaccard shingle sets): identical repartition subtrees share one
    # exchange via ReusedExchange
    df = fanout_small_scan(df)
    # the signature table feeds four subtrees (both self-join sides
    # and both of their bucket-histogram broadcasts); the subtrees are
    # plan-identical, so AQE's exchange/stage reuse deduplicates the
    # shingle explode + k-min aggregation at runtime.  (An explicit
    # materialization point was evaluated and rejected: persist() is
    # plan-keyed and would replay across independent runs, and even a
    # lazy localCheckpoint executes AQE query stages at plan-build
    # time — the operator must stay job-free until an action.)
    sigs = minhash_signatures(df, field, num_hashes, shingle_size, id_col)
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(F.lit(b), *[F.col(f"__m{b * rows + i}") for i in range(rows)]).alias("bh"),
        )
        for b in range(bands)
    ])
    banded = (
        sigs.select(id_col, F.explode(band_structs).alias("__b"))
        .select(id_col, F.col("__b.band").alias("__band"), F.col("__b.bh").alias("__bh"))
    )
    banded = cap_buckets(banded, ["__band", "__bh"], max_bucket_size,
                         log_dropped=bool(conf.get("log_dropped", True)), what="minhash_lsh")
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.__bh") == F.col("r.__bh"))
            & (F.col("l.__band") == F.col("r.__band"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("left_id"),
            F.col(f"r.{id_col}").alias("right_id"),
        )
        .distinct()
    )
    thr = conf.get("jaccard_threshold", jaccard_threshold)
    if thr is not None:
        # A candidate-id semi-prefilter of the shingle sets (build
        # them only for docs in candidate pairs) was measured and
        # REJECTED this round: it replicates the candidate subtree
        # into both verify sides, and the extra AQE stages cost more
        # than the avoided shingle work at every measurable scale
        # (sf0.1: 1.27 -> 2.02 s, sf1.0: 2.35 -> 2.50 s).  At true
        # web scale the verify cost is governed by the bucket caps
        # (max_bucket_size bounds candidate volume), not by this.
        verified = ngram_jaccard_pairs(df, pairs, field=field, id_col=id_col, n=shingle_size)
        return verified.filter(F.col("jaccard") >= float(thr))
    return pairs


def _shingle_sets(df: DataFrame, field: str, id_col: str, n: int) -> DataFrame:
    return df.select(F.col(id_col), F.array_distinct(_shingles_col(field, n)).alias("__sh"))


def ngram_jaccard_pairs(
    df: DataFrame, pairs: DataFrame, field: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Exact word-n-gram Jaccard for given (left_id, right_id) pairs."""
    sets = _shingle_sets(df, field, id_col, n)
    lsets = sets.withColumnRenamed(id_col, "left_id").withColumnRenamed("__sh", "__shl")
    rsets = sets.withColumnRenamed(id_col, "right_id").withColumnRenamed("__sh", "__shr")
    joined = pairs.join(lsets, "left_id").join(rsets, "right_id")
    inter = F.size(F.array_intersect("__shl", "__shr")).cast("double")
    union = F.size(F.array_union("__shl", "__shr")).cast("double")
    return joined.select(
        "left_id", "right_id",
        F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6).alias("jaccard"),
    )


@register("ngram_jaccard")
def ngram_jaccard_op(df: DataFrame, conf: dict | None = None, **kwargs) -> DataFrame:
    """All-pairs-within-LSH-candidates exact Jaccard (see minhash_lsh
    with jaccard_threshold)."""
    conf = dict(conf or {})
    conf.setdefault("jaccard_threshold", 0.0)
    return minhash_lsh_op(df, conf, **kwargs)


@F.pandas_udf(LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (Arrow-batched).

    Token hash = first 8 bytes of md5 (big-endian), chosen because it
    is stable across processes (unlike the builtin ``hash``) AND
    engine-independent: the whole simhash is reproducible in ANSI SQL
    (md5 + bit ops), so the driver's DuckDB oracle value-checks this
    kernel end-to-end.  Bit k of the result (k=0 = MSB) is 1 iff the
    sum over token occurrences of ±1 (per the token hash's bit k) is
    strictly positive.

    Vectorized across the whole Arrow batch (round 7): one md5 per
    DISTINCT token (memoized within the batch), a single
    ``unpackbits`` over every token hash, per-doc ±1 sums via a
    cumulative-sum segment reduction, and ``packbits`` + an int64
    bit-reinterpret for the final signatures — the per-token Python/
    numpy overhead of the row-at-a-time version (~18 µs/token) drops
    to the md5 cost itself.  Bit-for-bit identical results (the
    DuckDB oracle and the golden tests pin them)."""
    import hashlib

    md5_cache: dict[str, bytes] = {}
    tok_bytes: list[bytes] = []
    lengths: list[int] = []
    null_at: list[bool] = []
    for t in texts:
        if t is None:
            null_at.append(True)
            lengths.append(0)
            continue
        null_at.append(False)
        toks = t.lower().split()
        lengths.append(len(toks))
        for tok in toks:
            b = md5_cache.get(tok)
            if b is None:
                b = hashlib.md5(tok.encode()).digest()[:8]
                md5_cache[tok] = b
            tok_bytes.append(b)
    n = len(lengths)
    lens = np.asarray(lengths, dtype=np.int64)
    if tok_bytes:
        bits = np.unpackbits(
            np.frombuffer(b"".join(tok_bytes), dtype=np.uint8)
        ).reshape(-1, 64).astype(np.int32)
        pm = bits * 2 - 1
        # segment sums per doc: prefix sums sliced at doc boundaries
        cs = np.vstack([np.zeros((1, 64), dtype=np.int64),
                        np.cumsum(pm, axis=0, dtype=np.int64)])
        ends = np.cumsum(lens)
        starts = ends - lens
        acc = cs[ends] - cs[starts]
    else:
        acc = np.zeros((n, 64), dtype=np.int64)
    packed = np.packbits((acc > 0).astype(np.uint8), axis=1)
    # big-endian byte reinterpret -> native uint64 -> two's-complement
    # int64, matching the old (val - 2^64 if val >= 2^63) arithmetic
    out_vals = np.frombuffer(packed.tobytes(), dtype=">u8").astype(
        np.uint64).view(np.int64)
    out = pd.Series(out_vals, index=texts.index, dtype="object")
    out[np.asarray(null_at)] = None
    return out


@register("simhash")
def simhash_op(df: DataFrame, conf: dict | None = None, field: str = "text",
               assign: str = "simhash") -> DataFrame:
    return df.withColumn(assign, simhash64(F.col(field)))


@register("simhash_neardup")
def simhash_neardup_op(
    df: DataFrame, conf: dict | None = None, field: str = "text",
    id_col: str = "doc_id", bands: int = 8, max_hamming: int | None = None,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by banded SimHash (Manku et al., WWW'07 §3).

    The 64-bit simhash splits into ``bands`` equal bit-bands; a pair is
    a candidate when ANY band is identical — by pigeonhole this finds
    every pair with hamming ≤ bands-1 (guaranteed recall), with one
    shuffle keyed on (band, band-bits).  With ``max_hamming`` the
    candidates are verified exactly (bit_count of the XOR) and
    filtered; default ``bands-1`` keeps the recall guarantee tight.
    Buckets above ``max_bucket_size`` are excluded (boilerplate guard,
    see :func:`cap_buckets`)."""
    conf = conf or {}
    bands = int(conf.get("bands", bands))
    max_hamming = conf.get("max_hamming", max_hamming)
    max_bucket_size = conf.get("max_bucket_size", max_bucket_size)
    hashed = df.withColumn("__sh64", simhash64(F.col(field))).select(id_col, "__sh64")
    return banded_hamming_pairs(
        hashed, "__sh64", id_col=id_col, bands=bands,
        max_hamming=max_hamming, max_bucket_size=max_bucket_size,
        log_dropped=bool(conf.get("log_dropped", True)),
        what="simhash_neardup")


def banded_hamming_pairs(
    df: DataFrame, hash_col: str, id_col: str = "doc_id", bands: int = 8,
    max_hamming: int | None = None, max_bucket_size: int | None = 1000,
    log_dropped: bool = True, what: str = "hash64_neardup",
) -> DataFrame:
    """Near-dup pairs over ANY signed-64-bit signature column by banded
    bit-bands (Manku et al., WWW'07 §3) — the shared scale path behind
    :func:`simhash_neardup_op` (text) and ``image_neardup`` (perceptual
    dHash, operators/multimodal.py).  One shuffle keyed on (band,
    band-bits); pigeonhole guarantees every pair with hamming <=
    bands-1 shares a band.  Candidates verify exactly (bit_count of the
    XOR, JVM-side); oversized buckets are excluded with non-silent drop
    accounting (:func:`cap_buckets`).  Arithmetic shiftright
    sign-extends, so the mask is applied AFTER the shift — the top
    band's bits come out identical to a logical shift."""
    max_hamming = bands - 1 if max_hamming is None else int(max_hamming)
    width = 64 // bands
    mask = (1 << width) - 1
    hashed = df.select(id_col, F.col(hash_col).alias("__sh64"))
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("__sh64"), b * width).bitwiseAND(F.lit(mask)).alias("bits"),
        )
        for b in range(bands)
    ])
    banded = hashed.select(
        id_col, "__sh64", F.explode(band_structs).alias("__b")
    ).select(id_col, "__sh64", F.col("__b.band").alias("__band"),
             F.col("__b.bits").alias("__bits"))
    banded = cap_buckets(banded, ["__band", "__bits"], max_bucket_size,
                         log_dropped=log_dropped, what=what)
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(r, (F.col("l.__band") == F.col("r.__band"))
               & (F.col("l.__bits") == F.col("r.__bits"))
               & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .select(
            F.col(f"l.{id_col}").alias("left_id"),
            F.col(f"r.{id_col}").alias("right_id"),
            F.bit_count(F.col("l.__sh64").bitwiseXOR(F.col("r.__sh64"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def with_dim_metadata(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Stamp the vector column's dimensionality into its column
    metadata so every downstream embedding op resolves ``dim`` at plan
    time with zero jobs (parquet/Arrow don't carry array lengths).
    Loaders should call this once at the read site."""
    return df.withMetadata(vec_col, {**(df.schema[vec_col].metadata or {}),
                                     "dim": int(dim)})


def embedding_dim(df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Vector dimensionality: prefer the caller-supplied value, then
    the column metadata stamped by :func:`with_dim_metadata` (a plan
    builder must not launch jobs); LAST resort is sniffing one row —
    a plan-time Spark job, kept only for ad-hoc exploration."""
    if dim is not None:
        return int(dim)
    if vec_col in df.columns:
        meta = df.schema[vec_col].metadata or {}
        if "dim" in meta:
            return int(meta["dim"])
    row = df.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"cannot infer dim of {vec_col!r} from an empty DataFrame — "
            "pass dim= (or conf['dim'])"
        )
    return len(row[0])


def dim_checked(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Guard the vector column against a wrong declared ``dim`` (from
    conf / metadata / env): a mismatched length raises at execution
    instead of silently null-padding through ``zip_with`` and matching
    nothing.  NULL vectors pass through (they never match, as before).
    One codegen branch per row — negligible next to the dot products."""
    col = F.col(vec_col)
    err = F.assert_true(
        col.isNull() | (F.size(col) == dim),
        F.concat(F.lit(f"{vec_col}: vector length "),
                 F.size(col).cast("string"),
                 F.lit(f" != declared dim {dim} — pass the right dim= / "
                       "conf['dim'] or restamp with_dim_metadata")),
    )
    return df.withColumn(vec_col, F.when(err.isNull(), col))


@register("embedding_neardup")
def embedding_neardup_op(
    df: DataFrame, conf: dict | None = None, vec_col: str = "embedding",
    id_col: str = "vec_id", planes: int = 12, cosine_threshold: float = 0.9,
    seed: int = 7, dim: int | None = None, probes: int = 0,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate embedding pairs: random-hyperplane LSH bucket
    join, then exact cosine verification inside buckets.

    ``probes=1`` additionally pairs rows whose buckets differ in one
    plane bit (multi-probe: one side explodes to its hamming-1
    neighborhood) — recall knob for pairs straddling one hyperplane.
    """
    conf = conf or {}
    planes = int(conf.get("planes", planes))
    thr = float(conf.get("cosine_threshold", cosine_threshold))
    probes = int(conf.get("probes", probes))
    max_bucket_size = conf.get("max_bucket_size", max_bucket_size)
    dim = embedding_dim(df, vec_col, conf.get("dim", dim))
    df = dim_checked(df, vec_col, dim)
    rng = np.random.default_rng(seed)
    hyper = rng.standard_normal((planes, dim))

    sign_bits = [
        (
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.array(*[F.lit(float(v)) for v in hyper[p]]),
                    lambda a, b: a.cast("double") * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0
        ).cast("int")
        for p in range(planes)
    ]
    bucket = sum(
        (b * (1 << i) for i, b in enumerate(sign_bits)), F.lit(0)
    )
    keyed = df.select(id_col, vec_col).withColumn("__bucket", bucket)
    keyed = cap_buckets(keyed, ["__bucket"], max_bucket_size,
                        log_dropped=bool(conf.get("log_dropped", True)),
                        what="embedding_neardup")
    left = keyed
    if probes:
        # multi-probe: left side explodes to (own bucket + 1-bit flips);
        # pairs whose buckets differ by ≤1 plane then meet on the key
        flips = F.array(F.lit(0), *[F.lit(1 << i) for i in range(planes)])
        left = keyed.withColumn(
            "__bucket",
            F.explode(F.transform(flips, lambda m: F.col("__bucket").bitwiseXOR(m))),
        )
    l, r = left.alias("l"), keyed.alias("r")
    # exact verification stays on the native HOF dot: measured faster
    # than the Arrow pair kernel at these vector shapes
    # (similarity.cosine_pairs docstring has the numbers)
    dot = F.aggregate(
        F.zip_with(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}"),
                   lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    norm = lambda side: F.sqrt(F.aggregate(  # noqa: E731
        F.col(f"{side}.{vec_col}"),
        F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"),
    ))
    cos = dot / (norm("l") * norm("r"))
    return (
        l.join(r, (F.col("l.__bucket") == F.col("r.__bucket"))
               & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .select(
            F.col(f"l.{id_col}").alias("left_id"),
            F.col(f"r.{id_col}").alias("right_id"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= thr)
    )


@register("neardup_dedupe", kind="operator", sub_kind="aggregator")
def neardup_dedupe_op(df: DataFrame, conf: dict | None = None,
                      field: str = "text", ts_col: str = "warc_ts",
                      delay: str = "30 seconds",
                      mode: str = "exact") -> DataFrame:
    """Pipe-registry shim for the streaming content near-dup dedupe
    (implementation: riko_spark/streaming/dedupe.py — exact-md5 or
    full-SimHash key through dropDuplicatesWithinWatermark; batch
    input falls back to dropDuplicates on the same key)."""
    from riko_spark.streaming.dedupe import neardup_dedupe_within_watermark

    conf = conf or {}
    return neardup_dedupe_within_watermark(
        df, field=conf.get("field", field),
        ts_col=conf.get("ts_col", ts_col),
        delay=conf.get("delay", delay),
        mode=conf.get("mode", mode))
