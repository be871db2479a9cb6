"""Kazeeki reference-pipeline parity (the job-board scraping family).

The reference's kazeeki pipelines (tests/pypipelines/pipe_kazeeki1.py,
pipe_kazeeki2.py, pipe_kazeeki_full.py, shared confs in
tests/pypipelines/_pipe_kazeeki.py) are its heaviest real-world
pipe-graph tests: fetchdata/itembuilder → rename fan-out → a 36-rule
regex extraction cascade (→ tokenizer/simplemath/strconcat/strreplace/
exchangerate/currencyformat for the _full variant).  Goldens below are
the exact assertions of the reference's own
tests/functional/test_basics.py:175-306 (test_kazeeki1 / test_kazeeki2
/ test_kazeeki_full).

The RULE TABLES are the reference pipelines' declared configuration
(data, not engine code) — transcribed from
tests/pypipelines/_pipe_kazeeki.py:21-110 and pipe_kazeeki_full.py so
the same pipe graph can be compiled against this engine.

Documented divergences exercised here:
  * ``id`` (riko ``hash``) is skipped: the reference hashes with the
    salted Python builtin (riko/modules/hash.py:72 ``ctypes.c_uint(
    hash(content))``) — builtin-hash parity is out of scope
    (COVERAGE.md); this engine's hash op is xxhash64/md5.
  * ``author`` nesting: riko's DotDict re-nests ``author.name`` /
    ``author.uri`` into a dict; the DataFrame keeps the fixture's flat
    dotted columns.  Values are asserted flat.
  * skip_if lambdas (test1..test4 in pipe_kazeeki_full.py) become SQL
    boolean expressions over the same fields.
"""

import os

import pyspark.sql.functions as F
import pytest

KAZEEKI_JSON = "/root/reference/riko/data/kazeeki2.json"
QUOTE_JSON = "/root/reference/riko/data/quote.json"

needs_reference = pytest.mark.skipif(
    not os.path.exists(KAZEEKI_JSON), reason="reference data not available"
)

# tests/pypipelines/_pipe_kazeeki.py:21-35 (rename_rule)
RENAME_RULE = [
    {"newval": "", "field": "y:title", "copy": False},
    {"newval": "", "field": "content", "copy": False},
    {"newval": "k:posted", "field": "y:published", "copy": False},
    {"newval": "k:job_type", "field": "summary", "copy": True},
    {"newval": "k:content", "field": "summary", "copy": True},
    {"newval": "k:work_location", "field": "summary", "copy": True},
    {"newval": "k:client_location", "field": "summary", "copy": True},
    {"newval": "k:tags", "field": "summary", "copy": True},
    {"newval": "k:due", "field": "summary", "copy": True},
    {"newval": "k:submissions", "field": "summary", "copy": True},
    {"newval": "k:budget_raw", "field": "summary", "copy": True},
    {"newval": "k:marketplace", "field": "link", "copy": True},
    {"newval": "k:author", "field": "title", "copy": True},
]

# tests/pypipelines/_pipe_kazeeki.py:37-110 (match1_* + regex_rule);
# in riko's non-multi mode rules of a field chain in SERIES via reduce
# (riko/modules/regex.py:159-177) and `seriesmatch` is not consulted by
# `substitute` (riko/utils.py:967-977), so it is omitted here.
M = {
    "01": "(.*)( - oDesk|\\| Elance Job)",
    "02": "^(http[s]?:\\/\\/)?\\/?([^\\/\\.]+\\.)*([^\\/\\.]+\\.[^:\\/\\s\\.]{2,3})(.*)",
    "03": ".*(Hourly budget:|Budget:<.*?> Hourly).*",
    "04": ".*(Fixed Price budget:|Budget:<.*?> Fixed Price).*",
    "05": "^(?!\\b(hourly|fixed)\\b).*",
    "06": "(.*)(<b>)?(Budget):?(<.*?>)?(.*)",
    "07": "(.*)(<b>Description:<.*?>)(.*?)(<.*?>)(.*)",
    "08": "(.*)(<b>Proposals:<.*?>)(.*?)(<a href)(.*)",
    "09": "(.*)(<b>)(.*)",
    "10": "(.*)(\\bby\\b)(.*)",
    "12": "(.*)(<b>(Freelancer|Preferred Job) Location:<.*?>)(.*?)(<.*?>)(.*)",
    "14": "(.*)(<b>(Client Location:<.*?>|Country<.*?>:))(.*?)(<.*?>)(.*)",
    "15": "(.*)(<b>(Category:?<.*?>:?))(.*?)(<.*?>|<b>Skills<.*?>)(.*)",
    "16": "(.*)(<b>(Required skills|Desired Skills):<.*?>)(.*?)(<.*?>)(.*)",
    "17": "(.*)(Jobs:)(.*?)(\\))(.*)",
    "22": ".*Time Left.*\\(Ends(.*)\\) <.*?>",
    "24b1": "^((?!(budget|Budget|Hourly budget.*Rate)).)*$",
    "24b2": (
        r"(.*)((budget|Budget|Hourly budget.*Rate):?(<.*?>)?:?)\s*(.*?)(<.*?>|, Jobs:)(.*)"
    ),
    "25": "Under|Upto|Less than",
    "26": "^(?!.*-.*)(.*)",
}


def _r(field, match, replace):
    return {"field": field, "match": match, "replace": replace}


REGEX_RULE_K1 = [
    _r("title", M["01"], "$1"),
    _r("k:marketplace", M["02"], "$3"),
    _r("k:job_type", M["03"], "hourly"),
    _r("k:job_type", M["04"], "fixed"),
    _r("k:job_type", M["05"], "unknown"),
    _r("k:content", M["06"], "$1"),
    _r("k:content", M["07"], "$3"),
    _r("k:submissions", M["08"], "$3"),
    _r("k:submissions", M["09"], "unknown"),
    _r("k:author", M["10"], "$3"),
    _r("k:author", M["09"], "unknown"),
    _r("k:work_location", M["12"], "$4"),
    _r("k:work_location", M["09"], "unknown"),
    _r("k:client_location", M["14"], "$4"),
    _r("k:client_location", M["09"], "unknown"),
    _r("k:tags", M["15"], "$4"),
    _r("k:tags", M["16"], "$4"),
    _r("k:tags", M["17"], "$3"),
    _r("k:tags", "&gt;|<br>", ","),
    _r("k:tags", "\\/|\\s*&amp;", ","),
    _r("k:tags", "[^\\w|\\-,]+", "-"),
    _r("k:tags", "^-|-$", ""),
    _r("k:tags", ",-", ","),
    _r("k:tags", "-,", ","),
    _r("k:tags", "^,|,$", ""),
    _r("k:due", M["22"], "$1"),
    _r("k:due", M["09"], "unknown"),
    _r("k:budget_raw", M["24b1"], "0"),
    _r("k:budget_raw", M["24b2"], "$5"),
    _r("k:budget_raw", "k", "000"),
    _r("k:budget_raw", M["25"], "0 -"),
    _r("k:budget_raw", "or less", "- 0"),
    _r("k:budget_raw", M["26"], "$1 - $1"),
]

# the reference's expected first item, tests/functional/test_basics.py:181-202
K1_EXPECTED = {
    "dc:creator": "riko",
    "k:author": "Homepage for a germansocial organization",
    "k:budget_raw": "0 - $250",
    "k:client_location": "unknown",
    "k:due": "unknown",
    "k:job_type": "fixed",
    "k:marketplace": "guru.com",
    "updated": "Tue, 06 Jan 2015 17:13:47 GMT",
    "k:submissions": "unknown",
    "k:tags": "Web,Software,IT",
    "k:work_location": " Worldwide",
}


def _kazeeki_items_base(spark):
    from riko_spark.operators.webtext import fetchdata_op

    return fetchdata_op(None, {"url": KAZEEKI_JSON, "path": "items"}, spark)


def _kazeeki_items(spark):
    from riko_spark.operators.strings import regex_op
    from riko_spark.operators.structure import rename_op

    src = _kazeeki_items_base(spark)
    return regex_op(rename_op(src, {"rule": RENAME_RULE}), {"rule": REGEX_RULE_K1})


@needs_reference
def test_kazeeki1_pipeline(spark):
    out = _kazeeki_items(spark)
    rows = out.collect()
    assert len(rows) == 5  # test_basics.py:179 expects 5 items
    item = next(r.asDict() for r in rows
                if "homepage-for-a-germansocial" in r["link"])
    for k, v in K1_EXPECTED.items():
        assert item.get(k) == v, f"key {k}: expected {v!r}, got {item.get(k)!r}"
    assert item["k:content"].startswith(" With this specification sheet we")
    assert item["k:content"].endswith("for implementing a website for a german...")
    # author flat columns (riko re-nests them into a dict; see module doc)
    assert item["author.name"] == "riko"
    assert item["author.uri"] == "https://github.com/nerevu/riko"
    # renamed-away fields are gone, k:posted carries y:published
    assert "y:title" not in item and "content" not in item
    assert item["k:posted"].startswith("time.struct_time(tm_year=2015")


# the reference's expected kazeeki2 item (itembuilder source),
# tests/functional/test_basics.py:209-227
K2_ITEM = {
    "content": (
        '<p>Hello, I need to fix an application i am working on. Currently the rss '
        'has a cross origin problem, and i need to fix this.<br>\n<br>\nNext thing '
        'is i need to configure that the news will be read as an ion-list element, '
        'and a single article will be in a new page. with transition.<br>\n<br>\n'
        'The application is in ionic + angular, so only experienced developers are '
        'welcome to this project.<br><br><b>Budget</b>:Less than 10 EUR<br><b>'
        'Posted On</b>: December 27, 2014 13:32 UTC<br><b>ID</b>: 204946132<br><b>'
        'Category</b>: Web Development &gt; Web Programming<br><b>Skills</b>: Array'
        '<br><b>Country</b>: Israel<br><a href="https://www.odesk.com/jobs/'
        'Need-fix-Ionic-Rss-Reader-Application_%7E01d9a84fc5a0a79ddb?source=rss">'
        'click to apply</a></p>'
    ),
    "link": (
        "https://www.odesk.com/jobs/Need-fix-Ionic-Rss-Reader-Application_"
        "%7E01d9a84fc5a0a79ddb?source=rss"
    ),
    "pubDate": "December 27, 2014",
    "title": "Need to fix Ionic Rss Reader Application - oDesk",
    "updated": "Sat, 27 Dec 2014 13:32:55 +0000",
    "y:id": None,
    "y:published": None,
    "y:title": "Need to fix Ionic Rss Reader Application - oDesk",
}

K2_EXPECTED = {
    "dc:creator": None,
    "k:author": "Need to fix Ionic Rss Reader Application - oDesk",
    "k:budget_raw": "0 - 10 EUR",
    "k:client_location": " Israel",
    "k:due": "unknown",
    "k:job_type": "unknown",
    "k:marketplace": "odesk.com",
    "k:posted": None,
    "k:submissions": "unknown",
    "k:tags": "Web-Development,Web-Programming",
    "k:work_location": "unknown",
}


def test_kazeeki2_pipeline(spark):
    from riko_spark.operators.strings import regex_op
    from riko_spark.operators.structure import itembuilder_op, rename_op

    item = dict(K2_ITEM)
    item["summary"] = item["content"]
    attrs = [{"key": k, "value": v} for k, v in item.items()]
    src = itembuilder_op(None, {"attrs": attrs}, spark=spark)
    out = regex_op(rename_op(src, {"rule": RENAME_RULE}), {"rule": REGEX_RULE_K1})
    rows = out.collect()
    assert len(rows) == 1  # test_basics.py:208 expects 1 item
    got = rows[0].asDict()
    for k, v in K2_EXPECTED.items():
        assert got.get(k) == v, f"key {k}: expected {v!r}, got {got.get(k)!r}"
    assert got["k:content"].startswith("<p>Hello, I need to fix an application")
    assert got["k:content"].endswith("are welcome to this project.<br><br><b>")


# ---- kazeeki_full: the complete budget-extraction chain
# (tests/pypipelines/pipe_kazeeki_full.py parse_source; goldens from
# tests/functional/test_basics.py:233-306).  `id` (riko hash) is
# skipped: builtin-hash parity is a documented divergence.

RENAME2 = [
    {"newval": "k:budget_raw1", "field": "k:budget_raw", "copy": True},
    {"newval": "k:budget_raw2", "field": "k:budget_raw", "copy": True},
]
REGEX2 = [
    _r("k:budget_raw1", "(.*) - (.*)", "$1"),
    _r("k:budget_raw2", "(.*) - (.*)", "$2"),
]
RENAME3 = [
    {"newval": "k:budget_raw1_num", "field": "k:budget_raw1", "copy": True},
    {"newval": "k:budget_raw1_sym", "field": "k:budget_raw1", "copy": True},
    {"newval": "k:budget_raw1_code", "field": "k:budget_raw1", "copy": True},
    {"newval": "k:budget_raw2_num", "field": "k:budget_raw2", "copy": True},
    {"newval": "k:budget_raw2_sym", "field": "k:budget_raw2", "copy": True},
    {"newval": "k:budget_raw2_code", "field": "k:budget_raw2", "copy": True},
]
REGEX3 = [
    _r("k:budget_raw1_num", "[^\\d]*(\\d+\\.?\\d*).*", "$1"),
    _r("k:budget_raw1_sym", "\\s*([$£€₹]).*", "$1"),
    _r("k:budget_raw1_code", ".*(\\b[A-Z]{3}\\b).*", "$1"),
    _r("k:budget_raw2_num", "[^\\d]*(\\d+\\.?\\d*).*", "$1"),
    _r("k:budget_raw2_sym", "\\s*([$£€₹]).*", "$1"),
    _r("k:budget_raw2_code", ".*(\\b[A-Z]{3}\\b).*", "$1"),
]
STRREPLACE_CUR = {"rule": [
    {"find": "$", "replace": "USD"},
    {"find": "£", "replace": "GBP"},
    {"find": "€", "replace": "EUR"},
    {"find": "₹", "replace": "INR"},
]}
REGEX_CUR_DEFAULT = [_r("k:cur_code", "^(?![A-Z]{3}\\b)(.*)", "USD")]
REGEX_JOB_CODE = [
    _r("k:job_type_code", "fixed", "1"),
    _r("k:job_type_code", "hourly", "2"),
    _r("k:job_type_code", "unknown", "3"),
]

K_FULL_EXPECTED = {
    "k:budget_raw": "0 - $250",
    "k:budget_raw1": "0",
    "k:budget_raw1_code": "0",
    "k:budget_raw1_num": "0",
    "k:budget_raw1_sym": "0",
    "k:budget_raw2": "$250",
    "k:budget_raw2_code": "$250",
    "k:budget_raw2_num": "250",
    "k:budget_raw2_sym": "$",
    "k:budget_converted_w_sym": "$125.00",
    "k:budget_full": "$125.00",
    "k:budget_sym": "$",
    "k:budget_w_sym": "$125.00",
    "k:cur_code": "USD",
    "k:job_type": "fixed",
    "k:job_type_code": "1",
    "k:marketplace": "guru.com",
    "k:work_location": " Worldwide",
}


@needs_reference
@pytest.mark.skipif(not os.path.exists(QUOTE_JSON), reason="reference quote.json not available")
def test_kazeeki_full_pipeline(spark):
    from riko_spark.operators.strings import (
        regex_op, strconcat_op, strreplace_op, substr_op, tokenizer_op,
    )
    from riko_spark.operators.structure import (
        exchangerate_op, rename_op, simplemath_op,
    )
    from riko_spark.operators.misc import currencyformat_op

    # regex1 in the _full variant extends the kazeeki1 cascade with the
    # job-type normalization rules (pipe_kazeeki_full.py regex1_rule)
    regex1 = list(REGEX_RULE_K1)
    extra = [
        _r("k:job_type", ".*hr.*", "hourly"),
        _r("k:job_type", ".*unknown.*", "unknown"),
        _r("k:job_type", "^(?!.*(hourly|unknown).*).*", "fixed"),
    ]
    at = next(i for i, r in enumerate(regex1)
              if r["field"] == "k:job_type" and r["replace"] == "unknown") + 1
    regex1[at:at] = extra

    out = _kazeeki_items_base(spark)
    out = rename_op(out, {"rule": RENAME_RULE})
    out = regex_op(out, {"rule": regex1})
    out = rename_op(out, {"rule": RENAME2})
    out = regex_op(out, {"rule": REGEX2})
    out = rename_op(out, {"rule": RENAME3})
    out = regex_op(out, {"rule": REGEX3})
    out = tokenizer_op(out, {"delimiter": ",", "dedupe": True, "sort": True,
                             "nest": True, "token_key": "content"},
                       field="k:tags", emit=False)
    out = simplemath_op(out, {"other": {"subkey": "k:budget_raw2_num"}, "op": "mean"},
                        field="k:budget_raw1_num", assign="k:budget")
    out = strconcat_op(out, {"part": [{"subkey": "k:budget_raw1_sym"},
                                      {"subkey": "k:budget_raw2_sym"}]},
                       assign="k:budget_sym")
    out = substr_op(out, {"start": 1, "length": 1},
                    field="k:budget_sym", assign="k:budget_sym")
    # test1 skip (skip if k:cur_code set) is vacuous here: the column
    # does not exist before this copy
    out = rename_op(out, {"rule": [{"newval": "k:cur_code",
                                    "field": "k:budget_sym", "copy": True}]})
    out = strreplace_op(out, STRREPLACE_CUR, field="k:cur_code", assign="k:cur_code")
    out = regex_op(out, {"rule": REGEX_CUR_DEFAULT})
    out = rename_op(out, {"rule": [{"newval": "k:job_type_code",
                                    "field": "k:job_type", "copy": True}]})
    out = regex_op(out, {"rule": REGEX_JOB_CODE})
    # riko hashes link -> id here; skipped (builtin-hash divergence)
    out = currencyformat_op(out, {"currency": {"subkey": "k:cur_code"}},
                            field="k:budget", assign="k:budget_w_sym")
    out = exchangerate_op(out, {"url": QUOTE_JSON,
                                "currency": "USD"},
                          field="k:cur_code", assign="k:rate")
    out = simplemath_op(out, {"other": {"subkey": "k:rate"}, "op": "multiply"},
                        field="k:budget", assign="k:budget_converted")
    out = currencyformat_op(out, {"currency": "USD"},
                            field="k:budget_converted",
                            assign="k:budget_converted_w_sym")
    out = rename_op(out, {"rule": [{"newval": "k:budget_full",
                                    "field": "k:budget_w_sym", "copy": True}]},
                    skip_if="`k:cur_code` != 'USD'")
    out = strconcat_op(out, {"part": [{"subkey": "k:budget_w_sym"}, " (",
                                      {"subkey": "k:budget_converted_w_sym"}, ")"]},
                       assign="k:budget_full", skip_if="`k:cur_code` = 'USD'")
    out = strconcat_op(out, {"part": [{"subkey": "k:budget_full"}, " / hr"]},
                       assign="k:budget_full", skip_if="`k:job_type` != 'hourly'")

    rows = out.collect()
    assert len(rows) == 5
    item = next(r.asDict() for r in rows
                if "homepage-for-a-germansocial" in r["link"])
    for k, v in K_FULL_EXPECTED.items():
        assert item.get(k) == v, f"key {k}: expected {v!r}, got {item.get(k)!r}"
    assert float(item["k:budget"]) == 125.0
    assert float(item["k:budget_converted"]) == 125.0
    assert float(item["k:rate"]) == 1.0
    assert [t.asDict() for t in item["k:tags"]] == [
        {"content": "IT"}, {"content": "Software"}, {"content": "Web"}]
    assert item["summary"].startswith("<span><b>Description:</b> With this spe")
    assert item["summary"].endswith("ancer Location:</b> Worldwide<br></span>")
