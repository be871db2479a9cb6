"""Property-style parity: random inputs through the Spark operators vs
straight-line Python implementations of the reference semantics.

Instead of per-example Spark jobs (too slow), each test generates a
few hundred random strings with a seeded RNG, runs ONE Spark job over
all of them, and compares elementwise against the pure-Python
reference transcription (the same functions riko applies per item).
"""

import datetime as dt
import functools
import random
import re
import string

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from riko_spark.plans.flow import Flow

ALPHABET = string.ascii_letters + string.digits + " \t\n,.#-_<>" + "éß"


def _random_strings(n=300, seed=1234, maxlen=40):
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        k = rng.randrange(0, maxlen)
        out.append("".join(rng.choice(ALPHABET) for _ in range(k)))
    return out


def _run(spark, values, flow_fn, out_col):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)],
                               "i long, content string")
    out = flow_fn(Flow(df)).df.select("i", out_col)
    return [r[out_col] for r in out.orderBy("i").collect()]


def test_tokenizer_parity_random(spark):
    # riko/modules/tokenizer.py:66-68 exact semantics
    values = _random_strings(seed=42)

    def py_tokens(s):
        return [t.strip() for t in s.split(",") if t]

    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)],
                               "i long, content string")
    from riko_spark.operators.strings import tokenize_col

    got = {
        r["i"]: r["toks"]
        for r in df.select("i", tokenize_col(F.col("content")).alias("toks")).collect()
    }
    for i, v in enumerate(values):
        assert got[i] == py_tokens(v), f"tokenizer diverged on {v!r}"


def test_substr_parity_random(spark):
    values = _random_strings(seed=7)
    start, length = 3, 5

    got = _run(spark, values,
               lambda f: f.substr({"start": start, "length": length}), "substr")
    for v, g in zip(values, got):
        assert g == v[start:start + length], f"substr diverged on {v!r}"


def test_strreplace_first_last_parity_random(spark):
    values = _random_strings(seed=99)
    find, repl = ",", "<SEP>"
    for param, pyfn in (
        ("first", lambda s: s.replace(find, repl, 1)),
        ("last", lambda s: repl.join(s.rsplit(find, 1))),
        ("every", lambda s: s.replace(find, repl)),
    ):
        got = _run(
            spark, values,
            lambda f, p=param: f.strreplace({"rule": [{"find": find, "replace": repl, "param": p}]}),
            "strreplace",
        )
        for v, g in zip(values, got):
            assert g == pyfn(v), f"strreplace {param} diverged on {v!r}"


def test_strfind_parity_random(spark):
    # riko/modules/strfind.py reducer transcription
    values = _random_strings(seed=3)
    find = "-"

    def py_strfind(word, location, param):
        if location == "at":
            pos = word.find(find) if param != "last" else word.rfind(find)
            sliced = word[pos:len(find)] if pos != -1 else ""
            return sliced.strip()
        splits = word.split(find, 1) if param == "first" else word.split(find)
        if location == "after":
            return splits[-1].strip()
        return find.join(splits[: len(splits) - 1]).strip()

    for location in ("before", "after"):
        for param in ("first", "last"):
            got = _run(
                spark, values,
                lambda f, lo=location, p=param: f.strfind(
                    {"rule": [{"find": find, "location": lo, "param": p}]}
                ),
                "strfind",
            )
            for v, g in zip(values, got):
                assert g == py_strfind(v, location, param), (
                    f"strfind {location}/{param} diverged on {v!r}"
                )


def test_regex_parity_random(spark):
    values = _random_strings(seed=11)
    pattern, repl = r"(\d+)", r"<$1>"
    py = re.compile(pattern, re.IGNORECASE | re.MULTILINE | re.DOTALL)

    got = _run(
        spark, values,
        lambda f: f.regex({"rule": [{"field": "content", "match": pattern, "replace": repl}]}),
        "content",
    )
    for v, g in zip(values, got):
        assert g == py.sub(r"<\1>", v), f"regex diverged on {v!r}"


def test_filter_predicate_parity_random(spark):
    # rule eval vs riko's SWITCH semantics (riko/modules/filter.py:52-69)
    values = _random_strings(seed=23)

    def py_contains(x, y):
        return bool(x and y.lower() in x.lower())

    out = _run(
        spark, values,
        lambda f: f.strconcat({"part": [{"subkey": "content"}]}, assign="copy"),
        "copy",
    )  # warm spark session path; real check below
    del out

    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)],
                               "i long, content string")
    kept = {
        r["i"]
        for r in Flow(df).filter(
            {"rule": [{"field": "content", "op": "contains", "value": "a"}]}
        ).df.collect()
    }
    for i, v in enumerate(values):
        assert (i in kept) == py_contains(v, "a"), f"filter diverged on {v!r}"


@pytest.mark.parametrize("parts", [1, 8])
def test_minhash_partitioning_invariance(spark, parts):
    """Signatures are a pure function of the document — identical under
    any partitioning (distribution-correctness invariant)."""
    from riko_spark.operators.dedupe import minhash_signatures

    docs = spark.createDataFrame(
        [(i, f"doc {i} " + " ".join(_random_strings(6, seed=i, maxlen=8)))
         for i in range(40)],
        "doc_id long, text string",
    ).repartition(parts)
    sigs = {
        r["doc_id"]: tuple(r[f"__m{p}"] for p in range(8))
        for r in minhash_signatures(docs, "text", 8, 3).collect()
    }
    # compare against single-partition ground truth
    base = {
        r["doc_id"]: tuple(r[f"__m{p}"] for p in range(8))
        for r in minhash_signatures(docs.coalesce(1), "text", 8, 3).collect()
    }
    assert sigs == base


def test_tokenizer_fast_path_matches_array_path_random(spark):
    """tokenizer_op's whole-stage-codegen fast path (explode → scalar
    btrim) must produce exactly the rows of the array path
    (tokenize_col + apply_multi) on random inputs — riko's exact
    pre-strip-drop / post-strip-keep edge included."""
    from riko_spark.operators.options import apply_multi
    from riko_spark.operators.strings import tokenize_col, tokenizer_op

    values = _random_strings(n=300, seed=77)
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)],
                               "i long, content string")
    fast = tokenizer_op(df, {"delimiter": ",", "token_key": "tok"}, emit=False)
    slow = apply_multi(
        df, tokenize_col(F.col("content"), delimiter=","),
        assign="tok", emit=False, count="all",
    )
    f = sorted((r["i"], r["tok"]) for r in fast.collect())
    s = sorted((r["i"], r["tok"]) for r in slow.collect())
    assert f == s
    # and the fast plan really is the codegen shape (no ArrayTransform)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "transform(" not in plan.lower() or "ArrayTransform" not in plan


def test_fast_detag_random_html(spark):
    """Random tag-ish soup through the extract fast path vs HTMLParser:
    whenever the gate accepts, output must be byte-identical."""
    import random as _r

    from riko_spark.functions.text import _BatchTextParser, _fast_detag

    rng = _r.Random(4242)
    pieces = ["<b>", "</b>", "<i x='1'>", "text", " ", "&amp;", "&", "<",
              ">", "<!-- c -->", "word", "\n", "<p a=\"v\">", "</p>",
              "&#65;", "tail", "<br/>", "&amp ", "--", "'", '"']
    parser = _BatchTextParser()

    def slow(s):
        parser.reset()
        parser.parts = []
        parser.feed(s)
        return "".join(p + "\n" for p in parser.parts).strip()

    taken = 0
    for _ in range(400):
        s = "".join(rng.choice(pieces) for _ in range(rng.randrange(0, 12)))
        fast = _fast_detag(s)
        if fast is None:
            continue
        taken += 1
        assert fast == slow(s), repr(s)
    assert taken > 50  # the gate must not reject everything


def test_simhash_vectorized_matches_reference_arithmetic(spark):
    # round-7: simhash64 was batch-vectorized; pin it elementwise
    # against a straight-line transcription of the published per-doc
    # arithmetic (md5 token hash, ±1 bit sums, MSB-first packing,
    # two's complement) over random unicode-ish strings + edge cases
    import hashlib

    import numpy as np

    def reference(t):
        if t is None:
            return None
        acc = [0] * 64
        for tok in t.lower().split():
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            for k in range(64):
                acc[k] += 1 if (h >> (63 - k)) & 1 else -1
        val = 0
        for k in range(64):
            val = (val << 1) | (1 if acc[k] > 0 else 0)
        return val - (1 << 64) if val >= (1 << 63) else val

    texts = _random_strings(n=250, seed=777, maxlen=80) + [
        None, "", " ", "x", "X  x\tX", "répé répé ß", "a " * 200]
    from riko_spark.operators.dedupe import simhash64

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {r["i"]: r["s"] for r in
           df.select("i", simhash64(F.col("t")).alias("s")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == reference(t), (i, t)


def test_group_ranges_properties():
    # invariants of the WARC shard grouper: the shards PARTITION the
    # index (every byte range covered exactly once, in order), never
    # exceed num_shards, and merged ranges are genuinely contiguous
    import random

    from riko_spark.sources.warc import _group_ranges

    rng = random.Random(99)
    for trial in range(200):
        n = rng.randrange(1, 40)
        pos, idx = rng.randrange(0, 50), []
        for _ in range(n):
            ln = rng.randrange(1, 500)
            idx.append((pos, ln))
            pos += ln + (rng.randrange(0, 30) if rng.random() < 0.3 else 0)
        shards = _group_ranges(idx, rng.randrange(1, 10))
        assert 1 <= len(shards) <= min(9, n)
        flat = []
        for s in shards:
            for off, ln in s:
                flat.append((off, ln))
        # reconstruct the original entries from the merged ranges
        covered = []
        starts = {o: ln for o, ln in sorted(idx)}
        for off, ln in flat:
            end = off + ln
            cur = off
            while cur < end:
                assert cur in starts, (trial, cur)
                covered.append((cur, starts[cur]))
                cur += starts[cur]
            assert cur == end
        assert covered == sorted(idx)


def test_word_shingles_parity_random(spark):
    # the zip_with shingle chain (round 8) must produce exactly the
    # shingles of the naive transform(sequence, i -> concat_ws(
    # slice(toks, i, k))) construction it replaced for speed —
    # including the <k-token and empty/whitespace edge cases
    from riko_spark.operators.textstats import word_shingles, words_col

    rng = random.Random(4242)
    words = ["alpha", "beta", "Gamma", "DELTA", "e", "", "longish-token"]
    texts = []
    for _ in range(120):
        n = rng.randrange(0, 12)
        texts.append(" ".join(rng.choice(words) for _ in range(n))
                     + rng.choice(["", "  ", "\t", "\n"]))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, t string")
    for k in (2, 3, 5, 13):
        toks = words_col(F.col("t"))
        naive = F.when(
            F.size(toks) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - k),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        fast = F.when(
            F.size(toks) >= k, word_shingles(toks, k)
        ).otherwise(F.array().cast("array<string>"))
        rows = df.select("i", naive.alias("a"), fast.alias("b")).collect()
        for r in rows:
            assert r["a"] == r["b"], (k, texts[r["i"]], r["a"], r["b"])


def test_url_normalize_random_urls(spark):
    # random messy URLs: normalization is idempotent, never raises,
    # and matches a straight-line Python transcription of the rules
    rng = random.Random(77)
    schemes = ["http", "HTTP", "https", "HTTPS", "ftp", ""]
    hosts = ["Ex.COM", "a.b.c", "X", ""]
    ports = ["", ":80", ":443", ":8080", ":1443"]
    paths = ["", "/", "/A/b", "/x%20y", "/_a/%b"]
    queries = ["", "?b=2&a=1", "?utm_x=1", "?A=1&a=2&", "?z", "?utm_x=1&b=1"]
    frags = ["", "#f", "#a#b"]
    urls = []
    for _ in range(300):
        s = rng.choice(schemes)
        u = (f"{s}://" if s else "") + rng.choice(hosts) + \
            rng.choice(ports) + rng.choice(paths) + \
            rng.choice(queries) + rng.choice(frags)
        urls.append(u)

    strip = ("utm_", "fbclid", "gclid", "msclkid", "sessionid",
             "phpsessid")

    def py_norm(url):
        m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)",
                     url)
        if not m:
            return url
        scheme, auth, path = (m.group(1).lower(), m.group(2).lower(),
                              m.group(3))
        qm = re.search(r"\?([^#]*)", url)
        qs = qm.group(1) if qm else ""
        if scheme == "http" and auth.endswith(":80"):
            auth = auth[:-3]
        elif scheme == "https" and auth.endswith(":443"):
            auth = auth[:-4]
        path = path or "/"
        kept = sorted(
            p for p in qs.split("&")
            if p and not any(p.lower().startswith(x) for x in strip))
        q = "?" + "&".join(kept) if kept else ""
        return f"{scheme}://{auth}{path}{q}"

    from riko_spark.operators.cleaning import url_normalize_op

    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i long, url string")
    got = [r["norm_url"] for r in
           url_normalize_op(df).orderBy("i").collect()]
    exp = [py_norm(u) for u in urls]
    assert got == exp
    # idempotence over the whole random population
    df2 = spark.createDataFrame(
        [(i, v) for i, v in enumerate(got)], "i long, url string")
    got2 = [r["norm_url"] for r in
            url_normalize_op(df2).orderBy("i").collect()]
    assert got2 == got


def test_robots_gate_total_and_single_row(spark):
    # totality: every input URL yields EXACTLY one output row, with a
    # boolean verdict, across random paths — no dropped or duplicated
    # frontier entries (the gate is a projection, not a filter)
    from riko_spark.operators.robots import robots_gate_op, robots_rules_op

    robots = spark.createDataFrame(
        [("r.com",
          "User-agent: *\nDisallow: /a\nAllow: /a/b$\nDisallow: /c*d")],
        ["host", "content"])
    rules = robots_rules_op(robots)
    rng = random.Random(99)
    parts = ["/a", "/a/b", "/c", "d", "/x", "", "/a/b/c", "%", "_"]
    urls = [(i, "https://r.com" + "".join(
        rng.choice(parts) for _ in range(rng.randrange(0, 3))))
        for i in range(200)]
    df = spark.createDataFrame(urls, ["doc_id", "url"])
    out = robots_gate_op(df, rules=rules, agent="anybot").collect()
    assert len(out) == 200
    assert {r["doc_id"] for r in out} == set(range(200))
    assert all(r["allowed"] in (True, False) for r in out)


_SINK_COLS = [("k", "string"), ("g", "int"), ("v", "int"), ("o", "int"),
              ("ts", "timestamp"), ("x", "string")]


def _sink_batches(rng, order_col, day_col):
    """A random batch sequence for UpsertSink: duplicate and null keys,
    null ``order_col`` and ``day_col`` values, a column (``x``) added
    from batch 2 on, and a replay of the last batch under its own id.
    Yields ``(batch_id, ddl, rows)``."""
    seq = []
    for b in range(4):
        cols = [c for c in _SINK_COLS if
                (c[0] != "o" or order_col) and (c[0] != "ts" or day_col)
                and (c[0] != "x" or b >= 2)]
        rows = []
        for _ in range(rng.randrange(1, 16)):
            k, g = rng.choice(["a", "b", "c", "d", "e", None]), rng.randrange(2)
            # the day is a function of the key, as the sink requires;
            # keys None and "e" land in the null-day partition
            day = (None if k in (None, "e")
                   else dt.datetime(2024, 1, 1 + (ord(k) + g) % 3, 12))
            val = {"k": k, "g": g, "v": rng.randrange(100),
                   "o": rng.choice([None, 1, 2, 3]), "ts": day,
                   "x": rng.choice([None, "p", "q"])}
            rows.append(tuple(val[c] for c, _ in cols))
        seq.append((b, ", ".join(f"{c} {t}" for c, t in cols), rows))
    return seq + [seq[-1]]


def _latest_wins_reference(spark, batches, keys, order_col):
    """Key -> candidate rows under the Window/row_number rule over the
    union of the batches: highest ``order_col`` (nulls last), then
    highest batch id.  Rows tied at the top are all candidates, since
    row_number picks among them arbitrarily."""
    union = functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [spark.createDataFrame(rows, ddl).withColumn("__batch_id", F.lit(b))
         for b, ddl, rows in batches])
    order = ([F.col(order_col).desc_nulls_last()] if order_col else []) + [
        F.col("__batch_id").desc()]
    top = (union.withColumn("__rank", F.rank().over(Window.partitionBy(*keys).orderBy(*order)))
           .filter("__rank = 1").drop("__rank", "__batch_id"))
    out = {}
    for r in top.collect():
        out.setdefault(tuple(r[k] for k in keys), []).append(r.asDict())
    return out


@pytest.mark.parametrize("order_col,day_col", [(None, None), ("o", "ts")])
def test_upsert_sink_latest_wins_random_batches(spark, tmp_path, order_col, day_col):
    from riko_spark.streaming.sink import UpsertSink

    keys = ["k", "g"]
    batches = _sink_batches(random.Random(f"{order_col}/{day_col}"), order_col, day_col)
    sink = UpsertSink(str(tmp_path / "sink"), keys=keys, order_col=order_col,
                      num_buckets=3, day_col=day_col)
    for b, ddl, rows in batches:
        sink(spark.createDataFrame(rows, ddl), b)
    got = [r.asDict() for r in sink.result(spark).collect()]
    want = _latest_wins_reference(spark, batches, keys, order_col)
    assert len(got) == len(want)
    for row in got:
        assert row in want[tuple(row[k] for k in keys)], row
