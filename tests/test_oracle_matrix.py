"""Every BM25 scoring path against the numpy BM25Okapi oracle.

All block-scoring paths share one kernel (query/bm25.py::
_served_local_topk), so comparing two paths with each other no longer
checks two independent implementations. This matrix ties each path to the
oracle instead, under each before-top-k constraint and at k = 1, 10 and
more than the corpus holds. The constraints are applied in Python on the
oracle side; doc ids must match exactly, scores to rtol 1e-9.
"""

import dataclasses

import numpy as np
import pytest
from pyspark.sql import functions as F

from review_recommender_spark.config import bm25_north
from review_recommender_spark.functions.tokenize import (tokenize_k1_py,
                                                         tokenize_k2_py)
from review_recommender_spark.oracle.bm25_oracle import BM25Oracle
from review_recommender_spark.query.bm25 import (bm25_topk_exact,
                                                 bm25_topk_pruned,
                                                 bm25_topk_served,
                                                 bm25_topk_served_batch)
from review_recommender_spark.query.search import bm25_scores_batch

# a repeated token (query multiplicity), a stopword and a common term.
# Single-query paths run the second query unconstrained at k = 10 only,
# which keeps the matrix's budget small; the batch path runs both always.
QUERIES = ["wireless bluetooth headphones sound the sound",
           "usb charging cable long quality"]
CONSTRAINTS = [None, "filter", "exclude", "min_match_all", "after",
               "filter_min_match_2"]
AFTER_RANK = 3          # the cursor is the 3rd row of the unconstrained page


@pytest.fixture(scope="module")
def oracle(small_pages_pdf):
    return BM25Oracle([tokenize_k1_py(t) for t in small_pages_pdf["text"]],
                      bm25_north())


@pytest.fixture(scope="module")
def layouts(spark, small_index):
    """The index cold, fully warm and warm on every other doc range —
    copies, so the shared fixture's warm state is left alone."""
    cold = dataclasses.replace(small_index, _cached=None)
    warm = dataclasses.replace(small_index, _cached=None)
    warm.warm(spark, serving_shards=5)
    ranges = sorted(r["range_id"] for r in cold.postings(spark)
                    .select("range_id").distinct().collect())
    partial = dataclasses.replace(small_index, _cached=None)
    partial.warm(spark, serving_shards=5, ranges=ranges[::2])
    yield {"cold": cold, "warm": warm, "partial": partial}
    warm.unwarm()
    partial.unwarm()


def _oracle_ranking(oracle, query, mm=1, keep=None):
    """(doc_id, score) of every doc matching ≥ mm distinct query terms
    (and passing ``keep``), in the engine's order (score desc, doc asc)."""
    toks = tokenize_k2_py(query)
    scores = oracle.get_scores(toks)
    distinct = set(toks)
    ids = np.arange(oracle.corpus_size)
    nmatch = np.array([sum(t in f for t in distinct)
                       for f in oracle.doc_freqs])
    ok = nmatch >= mm
    if keep is not None:
        ok &= keep(ids)
    order = np.lexsort((ids, -scores))
    return [(int(i), float(scores[i])) for i in order if ok[i]]


def _expected(oracle, query, constraint, k):
    ranking = {
        None: lambda: _oracle_ranking(oracle, query),
        "filter": lambda: _oracle_ranking(oracle, query,
                                          keep=lambda d: d % 3 == 0),
        "exclude": lambda: _oracle_ranking(oracle, query,
                                           keep=lambda d: d % 4 != 0),
        "min_match_all": lambda: _oracle_ranking(
            oracle, query, mm=len(set(tokenize_k2_py(query)))),
        # strictly after the cursor row in the engine's total order
        "after": lambda: _oracle_ranking(oracle, query)[AFTER_RANK:],
        "filter_min_match_2": lambda: _oracle_ranking(
            oracle, query, mm=2, keep=lambda d: d % 3 == 0),
    }[constraint]()
    return ranking[:k]


def _kwargs(spark, index, query, constraint):
    ids = index.doc_stats(spark).select("doc_id")
    if constraint == "filter":
        return {"filter_docs": ids.filter(F.col("doc_id") % 3 == 0)}
    if constraint == "exclude":
        return {"exclude_docs": ids.filter(F.col("doc_id") % 4 == 0)}
    if constraint == "min_match_all":
        return {"min_match": "all"}
    if constraint == "after":
        page = bm25_topk_exact(spark, index, query, k=AFTER_RANK).collect()
        return {"after": (page[-1]["score"], page[-1]["doc_id"])}
    if constraint == "filter_min_match_2":
        return {"filter_docs": ids.filter(F.col("doc_id") % 3 == 0),
                "min_match": 2}
    return {}


def _assert_matches(got, want, label):
    assert [d for d, _ in got] == [d for d, _ in want], label
    np.testing.assert_allclose([s for _, s in got], [s for _, s in want],
                               rtol=1e-9, atol=0, err_msg=str(label))


def _pairs(rows):
    return [(r["doc_id"], r["score"]) for r in rows]


@pytest.mark.parametrize("path", ["exact", "served", "served_batch",
                                  "pruned", "partial_warm_served"])
def test_path_matches_oracle(spark, small_index, oracle, layouts, path):
    ks = [1, 10, small_index.n_docs + 5]
    index = layouts[{"exact": "cold", "pruned": "cold",
                     "partial_warm_served": "partial"}.get(path, "warm")]
    for constraint in CONSTRAINTS:
        if path == "served_batch":
            if constraint == "after":
                continue       # the cursor is a single-query argument
            kw = _kwargs(spark, index, None, constraint)
            for k in ks:       # one batch call answers every query
                rows = bm25_topk_served_batch(spark, index, QUERIES, k=k,
                                              **kw).collect()
                for qi, query in enumerate(QUERIES):
                    _assert_matches(
                        _pairs(r for r in rows if r["query_id"] == qi),
                        _expected(oracle, query, constraint, k),
                        (path, query, constraint, k))
            continue
        for query, qks in ((QUERIES[0], ks),
                           (QUERIES[1], [10] if constraint is None else [])):
            kw = _kwargs(spark, index, query, constraint) if qks else {}
            for k in qks:
                if path == "exact":
                    df = bm25_topk_exact(spark, index, query, k=k, **kw)
                elif path == "pruned":
                    df = bm25_topk_pruned(spark, index, query, k=k,
                                          min_ranges_to_prune=1, **kw)
                else:
                    df = bm25_topk_served(spark, index, query, k=k, **kw)
                _assert_matches(_pairs(df.collect()),
                                _expected(oracle, query, constraint, k),
                                (path, query, constraint, k))


@pytest.mark.parametrize("layout", ["cold", "warm", "partial"])
def test_hybrid_bm25_stage_matches_oracle(spark, oracle, layouts, layout):
    """The hybrid search BM25 stage: every matching doc's score."""
    rows = bm25_scores_batch(spark, layouts[layout], QUERIES).collect()
    for qi, query in enumerate(QUERIES):
        got = sorted((r["doc_id"], r["_bm25_raw"]) for r in rows
                     if r["query_id"] == qi)
        _assert_matches(got, sorted(_oracle_ranking(oracle, query)),
                        (layout, query))


def test_queries_exercise_every_constraint(oracle):
    """Guards the matrix against vacuous cases: each constraint keeps a
    non-empty proper subset of each query's matching docs."""
    for query in QUERIES:
        everything = _expected(oracle, query, None, 10 ** 9)
        for constraint in CONSTRAINTS[1:]:
            got = _expected(oracle, query, constraint, 10 ** 9)
            assert 0 < len(got) < len(everything), (query, constraint)
