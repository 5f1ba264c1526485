"""Equivalence + plan pins for the TF-IDF top-terms plan
(operators/tfidf2.py), the operator behind the p_text_tfidf registry
row. A driver-side Python oracle pins its rows: whitespace tokens of the
lowercased, space-trimmed text, tf * ln(N/df) with N counted from the
input, DuckDB-style rounding to 4 places, ties broken by term."""

from __future__ import annotations

import math
import re
from collections import Counter

from carbondata_spark.catalog import load_table
from carbondata_spark.operators.tfidf2 import tfidf_top_terms_v2


def _round4(x: float) -> float:
    # half away from zero on the scaled binary value, as DuckDB rounds
    scaled = math.floor(abs(x) * 10000.0 + 0.5) / 10000.0
    return -scaled if x < 0 else scaled


def _tfidf_oracle(rows, k: int = 3) -> list[tuple]:
    """(doc_id, term, tfidf, rank) rows ordered by doc_id, rank."""
    n_docs = len(rows)
    tf: dict = {}
    for doc_id, text in rows:
        if text is None:
            continue
        # split(trim(lower(text)), '\s+'): Spark's trim strips spaces
        # only, Java's \s is ASCII whitespace, and a leading or trailing
        # separator yields an empty token, as re.split does
        words = re.split(r"\s+", text.lower().strip(" "), flags=re.ASCII)
        tf.setdefault(doc_id, Counter()).update(words)
    df = Counter(w for counts in tf.values() for w in counts)
    out = []
    for doc_id in sorted(tf):
        vals = {w: _round4(c * math.log(n_docs / df[w])) for w, c in tf[doc_id].items()}
        top = sorted(vals, key=lambda w: (-vals[w], w))[:k]
        out += [(doc_id, w, vals[w], r) for r, w in enumerate(top, 1)]
    return out


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.orderBy("doc_id", "rank").collect()]


def test_v2_is_row_identical_to_current(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(400)
    a = _tfidf_oracle(docs.select("doc_id", "text").collect())
    b = _rows(tfidf_top_terms_v2(docs))
    assert a == b
    assert len(a) > 0


def test_v2_edge_docs_match(spark):
    # empty text, single word, all-same-word, ties on tfidf. The empty
    # doc also pins the n_docs contract: N counts every input row (n_docs
    # comes from the input frame, not the tf frame).
    docs = spark.createDataFrame(
        [
            (1, ""),
            (2, "solo"),
            (3, "rep rep rep rep"),
            (4, "alpha beta gamma"),
            (5, "beta alpha gamma"),
        ],
        "doc_id long, text string",
    )
    a = _tfidf_oracle(docs.collect())
    b = _rows(tfidf_top_terms_v2(docs))
    assert a == b


def test_v2_plan_shape(spark, sf_dir):
    """The point of v2: df(w) comes from a count window sharing the word
    exchange — no shuffle/hash join on the word key (the ONLY join is
    the 1-row broadcast nested-loop bringing in n_docs), and exactly TWO
    hash aggregates on the scored path (tf and the per-doc top-k) plus
    the 1-row n_docs count — not a third dfreq aggregate keyed on w."""
    docs = load_table(spark, sf_dir, "documents").limit(200)
    plan = tfidf_top_terms_v2(docs)._jdf.queryExecution().executedPlan().toString()
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert join not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    # keyed aggregates: tf (partial+final) and top-k (partial+final);
    # the n_docs count is key-less (keys=[]) so it's excluded here.
    import re

    keyed = re.findall(r"HashAggregate\(keys=\[[^\]]", plan)
    assert len(keyed) <= 4, plan
    assert "HashAggregate(keys=[w" not in plan, plan  # no dfreq agg
    # the n_docs subtree prunes every column: pure footer/metadata count
    assert "ReadSchema: struct<>" in plan, plan
    # the window carries no sort order: no global/partition sort appears
    # beyond the window's own partitioning requirement
    assert "WindowExec" in plan or "Window" in plan, plan


def test_v2_is_one_lazy_job_no_eager_count(spark):
    """Constructing the v2 frame must run NO Spark job (the former
    n_docs = df.count() was an eager extra pass; it is now a broadcast
    one-row aggregate inside the single job)."""
    from tests._jobcount import count_jobs

    with count_jobs(spark) as c:
        docs = spark.createDataFrame(
            [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
        )
        out = tfidf_top_terms_v2(docs)
    assert c.n == 0, "building the v2 frame triggered a Spark job"
    assert out.count() > 0
