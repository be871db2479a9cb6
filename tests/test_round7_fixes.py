"""Regression tests for the round-7 ADVICE findings and the
line_dedupe boilerplate-proportional rewrite (VERDICT r6 ask #1).

* line_dedupe_op: NULL text rows emit ('', 0, 0) — not NULL/-1
  counters (ADVICE cleaning.py:236) — and the rebuild is a row-local
  filter-by-position projection, not a collect_list aggregation over
  line text.
* main_content_op: the id column keeps its input name AND type
  (ADVICE cleaning.py:378).
"""

from __future__ import annotations

from tests.conftest import rows


def _docs(spark, docs):
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_line_dedupe_null_text_counts_zero(spark):
    from riko_spark.operators.cleaning import line_dedupe_op

    boiler = "shared boilerplate line"
    docs = [(i, f"{boiler}\nunique {i}") for i in range(3)] + [(9, None)]
    out = {r["doc_id"]: r for r in rows(
        line_dedupe_op(_docs(spark, docs), min_docs=3))}
    assert out[9] == {"doc_id": 9, "text": "", "n_kept": 0, "n_dropped": 0}
    assert out[0] == {"doc_id": 0, "text": "unique 0",
                      "n_kept": 1, "n_dropped": 1}


def test_line_dedupe_rebuild_is_position_projection_not_collect_list(spark):
    # the r7 rewrite: reassembly is a native filter-by-position
    # projection (array_contains over the per-doc drop set), not a
    # collect_list(struct(pos, line)) aggregation — line TEXT must
    # never be an aggregation/exchange input
    from riko_spark.operators.cleaning import line_dedupe_op

    plan = line_dedupe_op(
        _docs(spark, [(1, "a\nb")]), min_docs=2
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "array_contains" in plan
    assert "collect_list" not in plan
    # the only collected relation is the per-doc INT drop-position set
    assert "collect_set(__pos" in plan


def test_line_dedupe_all_boilerplate_doc_survives_empty(spark):
    # parity with the pre-rewrite contract: a doc whose every line is
    # boilerplate stays in the output with empty text
    from riko_spark.operators.cleaning import line_dedupe_op

    docs = [(i, "nav bar\nfooter") for i in range(3)] + \
        [(7, "nav bar\nreal content")]
    out = {r["doc_id"]: (r["text"], r["n_kept"], r["n_dropped"])
           for r in rows(line_dedupe_op(_docs(spark, docs), min_docs=3))}
    assert out[0] == ("", 0, 2)
    assert out[7] == ("real content", 1, 1)


def test_line_dedupe_duplicate_line_within_one_doc(spark):
    # two occurrences in ONE doc count once toward document frequency,
    # and both positions drop when the line is frequent
    from riko_spark.operators.cleaning import line_dedupe_op

    docs = [(1, "dup\nkeep me\ndup"), (2, "dup\nother"), (3, "dup")]
    out = {r["doc_id"]: (r["text"], r["n_kept"], r["n_dropped"])
           for r in rows(line_dedupe_op(_docs(spark, docs), min_docs=3))}
    assert out[1] == ("keep me", 1, 2)
    assert out[3] == ("", 0, 1)


def test_main_content_custom_id_col_and_type(spark):
    from riko_spark.operators.cleaning import main_content_op

    df = spark.createDataFrame(
        [("u-1", "<body><p>Body text of the page here.</p></body>"),
         ("u-2", None)],
        "url string, html string")
    out = rows(main_content_op(df, {"id_col": "url"}))
    # string id survives with its own name/type; NULL html rows drop
    assert [r["url"] for r in out] == ["u-1"]
    assert out[0]["main_text"] == "Body text of the page here."
