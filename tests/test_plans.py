"""Physical-plan quality gates: partition pruning, filter pushdown, and
broadcast joins must actually appear in the optimized plans — the
properties that make the design hold at 100 TB."""

import io
import re

import pytest
from pyspark.sql import functions as F

from review_recommender_spark.query.bm25 import (_query_blocks,
                                                 bm25_topk_exact)


def _plan(df, mode="formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def test_postings_scan_partition_pruned(spark, small_index):
    """Querying 2 terms must prune postings directories by term_bucket and
    push the term filter into the parquet scan. (Use an unwarmed view of
    the index: a warm cache swaps the scan for InMemoryTableScan, which
    has no partition filters — another test may have warmed the shared
    fixture — and Spark's CacheManager substitutes cached plans by plan
    equality, so the session cache must be cleared, not just our handle.)"""
    import dataclasses
    spark.catalog.clearCache()
    cold = dataclasses.replace(small_index, _cached=None)
    blocks = _query_blocks(spark, cold, ["wireless", "sound"])
    plan = _plan(blocks)
    assert "PartitionFilters" in plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "term_bucket" in m.group(1), plan
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "term" in pushed.group(1), plan


def test_postings_scan_reads_no_dead_columns(spark, small_index):
    """Column pruning: a df-only projection must not read posting bytes."""
    df = (small_index.postings(spark)
          .filter(F.col("term") == "wireless")
          .select("term", "n"))
    plan = _plan(df)
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "doc_bytes" not in m.group(1), plan


def test_topk_is_take_ordered(spark, small_index):
    """orderBy + limit must plan TakeOrderedAndProject (distributed partial
    top-k), never a global sort."""
    df = bm25_topk_exact(spark, small_index, "wireless sound quality", k=10)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_term_stats_scan_partition_pruned(spark, small_index):
    stats = (small_index.term_stats(spark)
             .filter((F.col("term_bucket") == 3)
                     & (F.col("term") == "wireless")))
    plan = _plan(stats)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "term_bucket" in m.group(1), plan


def test_docs_filter_pushdown(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = docs.filter(F.col("doc_id") < 100).select("doc_id", "n_chars")
    plan = _plan(df)
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "doc_id" in pushed.group(1), plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "text" not in m.group(1), plan


def test_head_term_skew_bounded(spark):
    """North rule: 'skewed head terms are salted'. The mechanism is the
    Stage C shuffle key — hashing on (term, range_id) splits a head term's
    postings across reducers by doc-range. With a term in 50% of all docs,
    no reducer may hold more than 2× the median row count; the same rows
    hashed on term ALONE must show the skew (proving the pair is what
    fixes it)."""
    import dataclasses

    import numpy as np
    import pandas as pd
    from review_recommender_spark.config import EngineConfig
    from review_recommender_spark.index.build import (_doc_rows,
                                                      _occurrence_rows,
                                                      _tokens_df)

    n = 4096
    texts = ["hot" if i % 2 == 0 else f"cold{i} filler{i}"
             for i in range(n)]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(n), "text": texts}),
        "doc_id long, text string")
    cfg = EngineConfig()
    cfg = dataclasses.replace(
        cfg, index=dataclasses.replace(cfg.index, range_shift=6))
    tf = _occurrence_rows(_doc_rows(_tokens_df(docs, cfg, "doc_id", "text")))
    tfp = tf.withColumn("range_id", F.shiftright(F.col("doc_id"),
                                                 cfg.index.range_shift))

    def partition_counts(df):
        pdf = (df.select(F.spark_partition_id().alias("p"))
               .groupBy("p").count().toPandas())
        return pdf["count"].to_numpy()

    pair = partition_counts(tfp.repartition(32, "term", "range_id"))
    assert pair.max() <= 2 * np.median(pair), pair.tolist()

    solo = partition_counts(tfp.repartition(32, "term"))
    assert solo.max() > 2 * np.median(solo), solo.tolist()


def test_served_bm25_stage_is_shuffle_free(spark, small_index):
    """The warm serving layout's whole point: a served BM25 batch stage is
    ONE map stage over the cached shards — its physical plan must contain
    no shuffle exchange (only the reuse of the cached layout) and no
    join."""
    import dataclasses

    from review_recommender_spark.query.search import bm25_scores_batch_served

    spark.catalog.clearCache()
    idx = dataclasses.replace(small_index, _cached=None)
    idx.warm(spark)
    try:
        df = bm25_scores_batch_served(spark, idx,
                                      ["wireless sound", "yellow cat"])
        plan = _plan(df)
        # the warm layout itself was built with one repartition; the query
        # plan on top must add NO exchange and NO join. InMemoryTableScan
        # reads the cached shards; everything above it is mapInPandas.
        above_cache = plan.split("InMemoryTableScan")[0]
        assert "Exchange" not in above_cache, plan
        assert "Join" not in above_cache, plan
        assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan
    finally:
        idx.unwarm()
        spark.catalog.clearCache()


def test_local_tf_doc_stats_read_is_column_pruned(spark, small_pages,
                                                  tmp_path):
    """The Stage A checkpoint (format v4) is one packed row per doc
    (doc_id, dl, toks), so Stage B's doc_stats read must reach the
    parquet scan with a ReadSchema of ONLY the two scalar columns — the
    toks column (≈ all of the checkpoint's bytes) never read."""
    import dataclasses

    from review_recommender_spark.config import EngineConfig, bm25_north
    from review_recommender_spark.index.build import build_index
    from review_recommender_spark.index.tableio import TableIO

    cfg = EngineConfig(bm25=bm25_north())
    cfg = dataclasses.replace(
        cfg, index=dataclasses.replace(cfg.index, range_shift=6,
                                       term_buckets=8))
    io = TableIO(str(tmp_path / "idx"))
    build_index(spark, small_pages.limit(200), io, cfg)
    local_tf = io.read(spark, "local_tf")
    df = local_tf.select("doc_id", F.col("dl").alias("doc_len"))
    plan = _plan(df)
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m, plan
    assert "doc_id" in m.group(1) and "dl" in m.group(1), plan
    assert "toks" not in m.group(1), plan


# ---- declared read schemas, the df-derived block bound, job budgets ----

def _cold(index):
    """A view of ``index`` without its warm caches: reads go to disk."""
    import dataclasses
    return dataclasses.replace(index, _cached=None)


@pytest.fixture(scope="module")
def delta_pair(spark, tmp_path_factory):
    """A main index and its delta merge over doc ids that are neither
    dense nor aligned to ranges: the delta interleaves with main's
    ranges and adds far-away ids, and some main docs are deleted, so the
    merge re-cuts the touched (term, range) groups."""
    import dataclasses

    import numpy as np
    from review_recommender_spark.config import EngineConfig, bm25_north
    from review_recommender_spark.corpus.pages import PAGES_SCHEMA, pages_pdf
    from review_recommender_spark.index.build import (build_index,
                                                      delta_merge_index)
    from review_recommender_spark.index.tableio import TableIO

    cfg = EngineConfig(bm25=bm25_north())
    cfg = dataclasses.replace(
        cfg, index=dataclasses.replace(cfg.index, range_shift=6,
                                       term_buckets=8))
    root = tmp_path_factory.mktemp("delta_pair")
    ids = np.arange(40, 640)
    main_ids = ids[ids % 5 != 0]
    delta_ids = np.concatenate([ids[ids % 5 == 0], np.arange(10_000, 10_100)])
    main = build_index(spark, spark.createDataFrame(pages_pdf(main_ids),
                                                    schema=PAGES_SCHEMA),
                       TableIO(str(root / "main")), cfg)
    merged = delta_merge_index(
        spark, main, spark.createDataFrame(pages_pdf(delta_ids),
                                           schema=PAGES_SCHEMA),
        TableIO(str(root / "merged")),
        delete_doc_ids=[int(x) for x in main_ids[::7]])
    return main, merged


def test_declared_schemas_match_inferred(spark, small_index, delta_pair):
    """The postings and term_stats reads declare their schemas (no
    inference job). A declared schema that lacks a column reads it as
    nulls without error, so it must equal what Spark infers, on a fresh
    build and after a delta merge."""
    for index in (small_index, *delta_pair):
        cold = _cold(index)
        for name, df in (("postings", cold.postings(spark)),
                         ("term_stats", cold.term_stats(spark))):
            inferred = spark.read.parquet(index.io.path(name)).schema
            assert df.schema == inferred, (name, df.schema, inferred)


def test_candidate_block_bound_covers_every_term(spark, small_index,
                                                 delta_pair):
    """The pruned path gathers blocks to the driver on the strength of the
    df-derived bound, so it must reach every term's real block-row count,
    on a fresh build and after a delta merge; and the range-count bound
    it rests on must reach the real number of ranges."""
    from review_recommender_spark.query.bm25 import _candidate_blocks_bound

    for index in (small_index, *delta_pair):
        cold = _cold(index)
        posts = cold.postings(spark)
        n_ranges = index.range_count_bound
        assert n_ranges >= posts.select("range_id").distinct().count()
        rows = (posts.groupBy("term").agg(F.count("*").alias("blocks"))
                .join(cold.term_stats(spark).select("term", "df"), "term")
                .collect())
        assert len(rows) == index.vocab_size
        short = [(r["term"], r["df"], r["blocks"]) for r in rows
                 if _candidate_blocks_bound(
                     [r["df"]], index.cfg.index.block_size, n_ranges)
                 < r["blocks"]]
        assert not short, short[:5]


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted through a job group."""
    import uuid
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_cold_gathered_pruned_query_job_budget(spark, small_index):
    """A cold pruned query in the GATHERED tier: one term_stats lookup
    (idf and df) plus one fetch of the encoded candidate blocks."""
    from review_recommender_spark.query.bm25 import bm25_topk_pruned

    cold = _cold(small_index)
    stats: dict = {}
    n = _jobs(spark, lambda: bm25_topk_pruned(
        spark, cold, "wireless sound quality", k=10,
        min_ranges_to_prune=1, stats=stats).collect())
    assert stats["tier"] == "gathered"
    assert n == 2


def test_cold_idf_lookup_job_budget(spark, small_index):
    from review_recommender_spark.query.bm25 import query_term_idf

    assert _jobs(spark, lambda: query_term_idf(
        spark, _cold(small_index), "wireless sound quality")) == 1


def test_driver_built_result_collects_without_jobs(spark):
    """Driver-merged top-k rows become a local relation: collecting them
    launches no job, in the engine's order, with scores bit for bit."""
    from review_recommender_spark.query.bm25 import _topk_result

    pairs = [(7, 0.1 + 0.2), (3, 2.5), (9, 0.1 + 0.2), (1, -1.0)]
    out: list = []
    assert _jobs(spark, lambda: out.extend(
        _topk_result(spark, pairs, 3).collect())) == 0
    assert [(r["doc_id"], r["score"]) for r in out] \
        == [(3, 2.5), (7, 0.1 + 0.2), (9, 0.1 + 0.2)]


def test_warm_served_query_job_budget(spark, small_index):
    """A served query on a warm index: one map stage over the resident
    layout plus the top-k merge, idf from the driver cache — 1 job."""
    from review_recommender_spark.query.bm25 import bm25_topk_served

    spark.catalog.clearCache()
    idx = _cold(small_index)
    idx.warm(spark)
    try:
        assert _jobs(spark, lambda: bm25_topk_served(
            spark, idx, "wireless sound quality", k=10).collect()) == 1
    finally:
        idx.unwarm()
        spark.catalog.clearCache()


def test_cold_exact_query_job_budget(spark, small_index):
    """A cold exact query: the idf lookup, the map stage that shuffles the
    encoded blocks by range_id, and the kernel + top-k stage."""
    assert _jobs(spark, lambda: bm25_topk_exact(
        spark, _cold(small_index), "wireless sound quality",
        k=10).collect()) == 3


def test_cold_exact_plan_shuffles_encoded_blocks_once(spark, small_index):
    """Below the top-k the unconstrained cold exact plan has one exchange,
    the range_id repartition of the encoded blocks, and no aggregate or
    join: per-doc scores finish inside the kernel."""
    spark.catalog.clearCache()
    plan = _plan(bm25_topk_exact(spark, _cold(small_index),
                                 "wireless sound quality", k=10), "simple")
    below = plan.split("TakeOrderedAndProject", 1)[1]
    exchanges = re.findall(r"Exchange [^\n]*", below)
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(range_id" in exchanges[0], plan
    assert "HashAggregate" not in below and "Join" not in below, plan


def test_k_zero_answers_without_jobs(spark, small_index):
    """k == 0 returns an empty result before any job on every top-k entry
    point (served with its default block skipping and the batch form
    included); a negative k is an error."""
    from review_recommender_spark.query.bm25 import (bm25_topk_pruned,
                                                     bm25_topk_served,
                                                     bm25_topk_served_batch)

    cold = _cold(small_index)
    q = "wireless sound quality"
    calls = {
        "exact": lambda k: bm25_topk_exact(spark, cold, q, k=k),
        "served": lambda k: bm25_topk_served(spark, cold, q, k=k),
        "served_batch": lambda k: bm25_topk_served_batch(
            spark, cold, [q, "yellow cat"], k=k),
        "pruned": lambda k: bm25_topk_pruned(spark, cold, q, k=k,
                                             min_ranges_to_prune=1),
    }
    for name, call in calls.items():
        rows: list = []
        assert _jobs(spark, lambda: rows.extend(call(0).collect())) == 0, \
            name
        assert rows == [], name
        with pytest.raises(ValueError):
            call(-1)
