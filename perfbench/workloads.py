"""The benchmark's workloads and the metrics they report.

Load is a closed loop with one client: each call waits for its reply, and
everything runs in one process on ``local[N]``. Both workloads start a
Spark session, run a small JIT warm-up build, build the index over their
corpus, run one warm-up query and then answer a seeded stream of single
BM25 top-10 queries. They differ in corpus and query path:

* ``serve`` -- uniform Zipf corpus, index warmed into the doc-sharded
  serving layout; single queries go through ``bm25_topk_served``.
  Block-max skipping skips almost nothing on this corpus, so posting decode
  and score plus the per-job floor carry the query latency.
* ``cold`` -- bursty topical corpus with ``range_shift`` small enough that
  the engine's default ``min_ranges_to_prune`` engages pruning; nothing is
  warm; single queries go through ``bm25_topk_pruned``. Pruning skips most
  blocks, so the on-disk scan, the idf lookup job and job scheduling carry
  the latency: the opposite mix.

An untraced run measures only that, and reports the end-to-end metrics.
A traced run measures the same, then goes on to the rest of the index's
life, timed call by call for the per-layer metrics: served batches
(``serve``), ``bm25_topk_exact`` on a fixed subset (``cold``), an
embedding build and ``hybrid_search_batch``, the codec on the index's own
blocks, and one delta epoch (``delta_merge_index``, re-warm on ``serve``,
first query on the merged index).

Every result is checked outside its timed region: each top-k against the
numpy ``BM25Oracle`` over the indexed corpus (doc ids exact, scores to the
oracle gate's rtol of 1e-9), batch against single and pruned against exact
bitwise, hybrid results by their row layout, and the codec by a round trip
of the stored blocks.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np

from harness import (OUT_ROOT, Tracer, dir_bytes, peak_rss_mb, start_spark,
                     stop_spark)
from inputs import delta_ids, query_stream, stream_shares, write_pages

K = 10
BATCH = 10
STREAM_LEN = 400
WARMUP_DOCS = 500
# calls every run makes whatever --seconds is: their counters are the
# exact ones (same seed, same calls) and the prefix covers every query shape
MIN_SINGLE = 8
MIN_BATCH = 2
MIN_HYBRID = 2
EXACT_SUBSET = 2
CODEC_MAX_POSTINGS = 200_000

END_TO_END = {
    "setup_s": "s", "build_docs_per_s": "docs/s", "query_p50_ms": "ms",
    "index_bytes_per_corpus_byte": "ratio", "peak_rss_mb": "MB",
}

# per-layer metrics of a traced run, name -> unit; a workload that makes
# no call of a kind reports 0 for that kind's metrics
PER_LAYER = {
    "session.start_s": "s",
    "build.warmup_s": "s", "build.stage_a_s": "s", "build.stage_b_s": "s",
    "build.stage_c_s": "s", "build.stage_d_s": "s", "build.jobs": "jobs",
    "build.tasks": "tasks", "build.warm_s": "s",
    "merge.s": "s", "merge.docs_per_s": "docs/s", "merge.jobs": "jobs",
    "merge.tasks": "tasks", "merge.bytes_written": "bytes",
    "merge.write_amp": "ratio",
    "refresh.s": "s", "refresh.warm_s": "s", "refresh.query_ms": "ms",
    "tableio.local_tf_bytes": "bytes", "tableio.postings_bytes": "bytes",
    "tableio.term_stats_bytes": "bytes", "tableio.doc_stats_bytes": "bytes",
    "tableio.bytes_per_posting": "bytes/posting", "tableio.snapshots": "count",
    "codec.postings": "count", "codec.blocks": "count",
    "codec.decode_ns_per_posting": "ns/posting",
    "codec.encode_ns_per_posting": "ns/posting",
    "bm25.idf_ms": "ms", "bm25.idf_jobs": "jobs/call",
    "bm25.served_calls": "count", "bm25.served_ms": "ms",
    "bm25.served_jobs": "jobs/call", "bm25.served_tasks": "tasks/call",
    "bm25.blocks_decoded": "count", "bm25.blocks_total": "count",
    "bm25.skip_ratio": "ratio",
    "bm25.batch_calls": "count", "bm25.batch_ms": "ms",
    "bm25.batch_jobs": "jobs/call", "bm25.batch_qps": "queries/s",
    "bm25.pruned_calls": "count", "bm25.pruned_ms": "ms",
    "bm25.pruned_jobs": "jobs/call", "bm25.pruned_blocks_decoded": "count",
    "bm25.pruning_engaged_share": "ratio", "bm25.touched_ranges": "count",
    "bm25.exact_calls": "count", "bm25.exact_ms": "ms",
    "bm25.exact_jobs": "jobs/call", "bm25.exact_blocks_decoded": "count",
    "search.hybrid_calls": "count", "search.hybrid_ms": "ms",
    "search.hybrid_jobs": "jobs/call", "search.dense_ms": "ms",
    "search.bm25_stage_ms": "ms",
    "encoder.query_ms": "ms", "encoder.embed_docs_per_s": "docs/s",
    "spark.jobs": "jobs", "spark.failed_tasks": "tasks",
    "stream.share_df_rare": "ratio", "stream.share_df_mid": "ratio",
    "stream.share_df_common": "ratio", "stream.share_terms_1": "ratio",
    "stream.share_terms_2": "ratio", "stream.share_terms_3": "ratio",
    "stream.share_terms_4": "ratio",
    "trace.spans": "count", "trace.bookkeeping_ms": "ms",
    "trace.bookkeeping_share": "ratio",
    # the traced run's own end-to-end figures: minus an untraced run's with
    # the same seed, they give the tracing overhead
    **{f"trace.{k}": u for k, u in END_TO_END.items()},
}

# per-layer counters that must repeat bit-for-bit for a fixed seed
EXACT = (
    "build.jobs", "build.tasks", "merge.jobs", "merge.tasks",
    "merge.bytes_written", "tableio.local_tf_bytes",
    "tableio.postings_bytes", "tableio.term_stats_bytes",
    "tableio.doc_stats_bytes", "tableio.snapshots", "codec.postings",
    "codec.blocks", "bm25.idf_jobs", "bm25.served_jobs", "bm25.served_tasks",
    "bm25.blocks_decoded", "bm25.blocks_total", "bm25.batch_jobs",
    "bm25.pruned_jobs", "bm25.pruned_blocks_decoded",
    "bm25.pruning_engaged_share", "bm25.touched_ranges", "bm25.exact_jobs",
    "bm25.exact_blocks_decoded", "search.hybrid_jobs",
)


@dataclass(frozen=True)
class Shape:
    n_docs: int
    n_delta: int
    bursty: bool
    range_shift: int | None  # None: the engine's default


SHAPES = {
    ("serve", False): Shape(20_000, 2_000, False, None),
    ("serve", True): Shape(2_000, 200, False, None),
    # n_docs >> range_shift = 1024 ranges: the default min_ranges_to_prune
    ("cold", False): Shape(16_384, 1_638, True, 4),
    ("cold", True): Shape(2_048, 205, True, 1),
}


class Run:
    """One benchmark run: its inputs and its result bookkeeping."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, tiny: bool, settings: dict[str, str]):
        self.workload = workload
        self.serve = workload == "serve"
        self.seconds = seconds
        self.trace = trace
        self.shape = SHAPES[(workload, tiny)]
        self.work = os.path.dirname(settings["SPARK_LOCAL_DIRS"])
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def op(self, fn, *args, **kwargs):
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - a failed op is a result
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            print(f"perfbench: wrong result: {what}", file=sys.stderr)
            self.failed += 1


def _median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 tiny: bool, settings: dict[str, str]) -> Run:
    from review_recommender_spark.config import EngineConfig

    r = Run(workload, seed, seconds, trace, tiny, settings)
    sh = r.shape
    cfg = EngineConfig()
    if sh.range_shift is not None:
        cfg = dataclasses.replace(cfg, index=dataclasses.replace(
            cfg.index, range_shift=sh.range_shift))
    gen = ({"bursty": True, "plant": False,
            "topics": max(512, sh.n_docs // 60)} if sh.bursty else {})
    n_files = int(settings["SPARK_GRAFT_CPUS"])
    # the seed picks which window of the generator's doc ids is the corpus
    # (a multiple of n_docs, so doc ranges stay aligned) and the delta's
    start = int(r.rng.integers(0, 1024)) * sh.n_docs
    base_ids = np.arange(start, start + sh.n_docs, dtype=np.int64)
    texts = write_pages(r.path("corpus"), base_ids, n_files, **gen)
    write_pages(r.path("warmup_corpus"), np.arange(WARMUP_DOCS), 1)
    delta = None
    if trace:
        new_ids = delta_ids(r.rng, start + sh.n_docs, sh.n_delta)
        delta = (new_ids,
                 write_pages(r.path("delta"), new_ids, n_files, **gen))

    spark, session_s = start_spark(settings)
    tr = Tracer(spark.sparkContext, trace)
    try:
        _run(r, spark, tr, cfg, texts, base_ids, delta, session_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(r.work, ignore_errors=True)
    if trace:
        tr.write(os.path.join(OUT_ROOT, f"spans-{workload}-s{seed}-"
                                        f"{os.getpid()}.jsonl"))
    return r


def _run(r: Run, spark, tr: Tracer, cfg, texts, base_ids, delta,
         session_s) -> None:
    import pyarrow.dataset as pa_ds

    from review_recommender_spark.corpus.pages import (GOLDEN_PHRASES,
                                                       bursty_queries)
    from review_recommender_spark.index.build import build_index
    from review_recommender_spark.index.tableio import TableIO
    from review_recommender_spark.query import bm25

    sh = r.shape
    # ---- set-up: JIT warm-up build, index build, warm (serve), and one
    # warm-up query ----
    with tr.span("build.warmup"):
        _, warmup_s = _timed(lambda: r.op(
            build_index, spark, spark.read.parquet(r.path("warmup_corpus")),
            TableIO(r.path("warmup_index")), cfg))
    stages: dict = {}
    docs = spark.read.parquet(r.path("corpus"))
    with tr.span("build.index") as build_span:
        idx, build_s = _timed(lambda: r.op(
            build_index, spark, docs, TableIO(r.path("index")), cfg,
            stage_timings=stages))
    if idx is None:
        raise RuntimeError("index build failed")
    warm_s = 0.0
    if r.serve:
        with tr.span("build.warm"):
            _, warm_s = _timed(lambda: r.op(idx.warm, spark))
    # the first call of a query path pays its own JIT and worker warm-up
    phrases = GOLDEN_PHRASES if r.serve else bursty_queries()
    single = bm25.bm25_topk_served if r.serve else bm25.bm25_topk_pruned
    with tr.span("query.warmup"):
        first, first_s = _timed(lambda: r.op(
            lambda: single(spark, idx, phrases[0], k=K).collect()))
    r.e2e["setup_s"] = session_s + warmup_s + build_s + warm_s + first_s
    r.e2e["build_docs_per_s"] = sh.n_docs / build_s

    # ---- references and the seeded query stream ----
    ref = Reference(texts, base_ids, cfg)
    ts = pa_ds.dataset(r.path("index/term_stats"), format="parquet",
                       partitioning="hive").to_table(columns=["term", "df"])
    term_df = dict(zip(ts.column("term").to_pylist(),
                       ts.column("df").to_pylist()))
    stream = query_stream(r.rng, term_df, idx.n_docs, phrases, STREAM_LEN)
    queries = [q.text for q in stream]
    if first is not None:
        r.check(ref.matches(phrases[0], first), "warm-up query")

    # ---- measured: single queries for --seconds ----
    singles = _query_loop(r, tr, "bm25.served" if r.serve else "bm25.pruned",
                          lambda q, st: single(spark, idx, q, k=K,
                                               stats=st).collect(),
                          queries, MIN_SINGLE,
                          time.perf_counter() + r.seconds)
    for q, rows, _dt, _sp in singles:
        if rows is not None:
            r.check(ref.matches(q, rows), f"single query {q!r}")
    r.e2e["query_p50_ms"] = 1e3 * _median([dt for _q, _r, dt, _sp in singles
                                           if dt is not None])
    r.e2e["index_bytes_per_corpus_byte"] = (dir_bytes(r.path("index"))
                                            / dir_bytes(r.path("corpus")))
    r.e2e["peak_rss_mb"] = peak_rss_mb()
    if r.trace:
        r.layer.update(stream_shares(stream))
        _layers(r, spark, tr, cfg, idx, docs, ref, queries, singles, delta,
                texts, base_ids, session_s, warmup_s, warm_s, stages,
                build_span)


def _query_loop(r: Run, tr: Tracer, name: str, call, inputs, min_calls,
                deadline):
    """Closed loop, one client: call ``inputs`` in order, at least
    ``min_calls`` times and then until ``deadline``. Returns
    (input, rows, seconds, span) per call; rows/seconds are None when the
    call raised."""
    out = []
    for i, x in enumerate(inputs):
        if i >= min_calls and time.perf_counter() >= deadline:
            break
        with tr.span(name, request=i) as sp:
            t0 = time.perf_counter()
            rows = r.op(call, x, sp.stats)
            dt = time.perf_counter() - t0
        out.append((x, rows, dt if rows is not None else None, sp))
    return out


class Reference:
    """Top-k from the numpy BM25 oracle over the indexed corpus."""

    def __init__(self, texts, doc_ids, cfg):
        from review_recommender_spark.functions.tokenize import tokenize_k1_py
        from review_recommender_spark.oracle.bm25_oracle import BM25Oracle
        order = np.argsort(doc_ids, kind="stable")
        self.ids = np.asarray(doc_ids)[order]
        self.oracle = BM25Oracle([tokenize_k1_py(texts[i]) for i in order],
                                 cfg.bm25)
        self.cache: dict[str, list] = {}

    def top_k(self, query: str) -> list[tuple[int, float]]:
        from review_recommender_spark.functions.tokenize import tokenize_k2_py
        if query not in self.cache:
            self.cache[query] = [
                (int(self.ids[i]), s) for i, s in
                self.oracle.top_k(tokenize_k2_py(query), K) if s > 0]
        return self.cache[query]

    def matches(self, query: str, rows) -> bool:
        exp = self.top_k(query)
        got = [(int(x["doc_id"]), float(x["score"])) for x in rows]
        return ([d for d, _ in got] == [d for d, _ in exp]
                and np.allclose([s for _, s in got], [s for _, s in exp],
                                rtol=1e-9, atol=0.0))


def _bitwise(a, b) -> bool:
    return ([(int(x["doc_id"]), float(x["score"])) for x in a]
            == [(int(x["doc_id"]), float(x["score"])) for x in b])


def _hybrid_layout_ok(rows, n_queries: int) -> bool:
    """K rows per query, ranks 1..K, no doc twice within a query."""
    by_q: dict[int, list] = {}
    for x in rows:
        by_q.setdefault(int(x["query_id"]), []).append(x)
    return (sorted(by_q) == list(range(n_queries))
            and all(sorted(int(x["rank"]) for x in v) == list(range(1, K + 1))
                    and len({int(x["doc_id"]) for x in v}) == K
                    for v in by_q.values()))


def _per_call(spans, fn, prefix: int | None = None) -> float:
    """Mean of ``fn(span)`` over the first ``prefix`` calls (all if None);
    0 when the workload made no such call."""
    xs = [fn(sp) for sp in spans[:prefix]]
    return float(np.mean(xs)) if xs else 0.0


def _acc(sp, key: str) -> int:
    v = (sp.stats or {}).get(key)
    return int(v.value) if v is not None else 0


def _layers(r: Run, spark, tr: Tracer, cfg, idx, docs, ref, queries,
            singles, delta, texts, base_ids, session_s, warmup_s, warm_s,
            stages, build_span) -> None:
    """The traced run's second part: the calls an untraced run does not
    make, then the per-layer metrics from the spans, the engine's own
    counters (``stage_timings=``, ``stats=``) and Spark job groups."""
    from pyspark.sql import functions as F

    from review_recommender_spark.corpus.pages import page_meta_cols
    from review_recommender_spark.index.build import delta_merge_index
    from review_recommender_spark.index.tableio import TableIO
    from review_recommender_spark.query import bm25
    from review_recommender_spark.query.encoder import (embed_documents,
                                                        encode_batch)
    from review_recommender_spark.query.search import (
        bm25_scores_batch_served, dense_topk_batch, hybrid_search_batch)

    L = r.layer
    batches_of = [queries[i:i + BATCH] for i in range(0, len(queries), BATCH)]
    single_rows = {q: rows for q, rows, _dt, _sp in singles
                   if rows is not None}

    # ---- query.bm25: idf lookups, batches (serve), exact subset (cold) ----
    idf_spans = []
    for q in queries[:MIN_SINGLE]:
        with tr.span("bm25.idf") as sp:
            r.op(bm25.query_term_idf, spark, idx, q)
        idf_spans.append(sp)
    batches = []
    if r.serve:
        batches = _query_loop(
            r, tr, "bm25.batch",
            lambda qs, st: bm25.bm25_topk_served_batch(
                spark, idx, qs, k=K, stats=st).collect(),
            batches_of, MIN_BATCH, 0.0)
        for qs, rows, _dt, _sp in batches:
            for qi, q in enumerate(qs if rows is not None else []):
                got = [x for x in rows if x["query_id"] == qi]
                r.check(ref.matches(q, got), f"batch query {q!r}")
                if q in single_rows:
                    r.check(_bitwise(got, single_rows[q]),
                            f"batch differs from single for {q!r}")
    exacts = []
    if not r.serve:
        exacts = _query_loop(
            r, tr, "bm25.exact",
            lambda q, st: bm25.bm25_topk_exact(spark, idx, q, k=K,
                                               stats=st).collect(),
            queries, EXACT_SUBSET, 0.0)
        for q, rows, _dt, _sp in exacts:
            if rows is not None:
                r.check(_bitwise(rows, single_rows.get(q, [])),
                        f"pruned differs from exact for {q!r}")

    # ---- query.encoder and query.search: embeddings, hybrid batches ----
    with tr.span("encoder.embed"):
        def embed():
            (embed_documents(docs.select("doc_id", "text"))
             .select("doc_id", "embedding")
             .write.parquet(r.path("embeddings")))
        _, embed_s = _timed(lambda: r.op(embed))
    emb = spark.read.parquet(r.path("embeddings"))
    meta = (docs.select("doc_id", F.col("text").alias("agg_text"))
            .join(page_meta_cols(docs.select("doc_id")), "doc_id"))
    hybrids = _query_loop(
        r, tr, "search.hybrid",
        lambda qs, st: hybrid_search_batch(spark, idx, emb, meta, qs,
                                           k=K).collect(),
        batches_of, MIN_HYBRID, 0.0)
    for qs, rows, _dt, _sp in hybrids:
        if rows is not None:
            r.check(_hybrid_layout_ok(rows, len(qs)),
                    f"hybrid rows for {qs!r}")
    sp_cfg = cfg.second_pass
    pool = max(K, sp_cfg.rerank_k, sp_cfg.pool_floor)
    dense_s, stage_s, enc_s = [], [], []
    for qs in batches_of[:MIN_HYBRID]:
        with tr.span("search.dense") as sp:
            r.op(lambda: dense_topk_batch(spark, emb, qs, pool).count())
        dense_s.append(sp.seconds)
        with tr.span("search.bm25_stage") as sp:
            r.op(lambda: bm25_scores_batch_served(spark, idx, qs).count())
        stage_s.append(sp.seconds)
        with tr.span("encoder.query") as sp:
            r.op(encode_batch, qs)
        enc_s.append(sp.seconds)

    # ---- index.codec on the index's own blocks ----
    postings_total = _codec(r, L)

    # ---- one delta epoch: merge, make searchable, first query ----
    new_ids, new_texts = delta
    single = bm25.bm25_topk_served if r.serve else bm25.bm25_topk_pruned
    t0 = time.perf_counter()
    with tr.span("refresh"):
        with tr.span("merge") as merge_span:
            merged, merge_s = _timed(lambda: r.op(
                delta_merge_index, spark, idx,
                spark.read.parquet(r.path("delta")),
                TableIO(r.path("merged"))))
        rewarm_s = first_s = 0.0
        first = None
        if merged is not None:
            if r.serve:
                with tr.span("refresh.warm"):
                    idx.unwarm()
                    _, rewarm_s = _timed(lambda: r.op(merged.warm, spark))
            with tr.span("refresh.query"):
                first, first_s = _timed(lambda: r.op(
                    lambda: single(spark, merged, queries[0],
                                   k=K).collect()))
    refresh_s = time.perf_counter() - t0
    if first is not None:
        merged_ref = Reference(texts + new_texts,
                               np.concatenate([base_ids, new_ids]), cfg)
        r.check(merged_ref.matches(queries[0], first),
                "first query after the merge")

    # ---- metrics ----
    L["session.start_s"] = session_s
    L["build.warmup_s"] = warmup_s
    for s in "abcd":
        L[f"build.stage_{s}_s"] = float(stages.get(f"stage_{s}", 0.0))
    L["build.jobs"] = tr.total_jobs(build_span)
    L["build.tasks"] = tr.total_tasks(build_span)
    L["build.warm_s"] = warm_s
    merged_b = dir_bytes(r.path("merged"))
    L["merge.s"] = merge_s
    L["merge.docs_per_s"] = r.shape.n_delta / merge_s
    L["merge.jobs"] = tr.total_jobs(merge_span)
    L["merge.tasks"] = tr.total_tasks(merge_span)
    L["merge.bytes_written"] = merged_b
    L["merge.write_amp"] = merged_b / dir_bytes(r.path("delta"))
    L["refresh.s"] = refresh_s
    L["refresh.warm_s"] = rewarm_s
    L["refresh.query_ms"] = 1e3 * first_s

    for table in ("local_tf", "postings", "term_stats", "doc_stats"):
        L[f"tableio.{table}_bytes"] = dir_bytes(r.path(f"index/{table}"))
    L["tableio.bytes_per_posting"] = (L["tableio.postings_bytes"]
                                      / postings_total)
    L["tableio.snapshots"] = sum(
        len([f for f in os.listdir(os.path.join(root, "_snapshots", t))
             if not f.startswith("_")])
        for root in (r.path("index"), r.path("merged"))
        for t in os.listdir(os.path.join(root, "_snapshots")))

    # latency is the median self time over every call; counts come from
    # the fixed prefix of calls every run with this seed makes
    def spans(rows):
        return [sp for *_x, sp in rows]

    def ms(spans_):
        return 1e3 * _median([tr.self_seconds(sp) for sp in spans_])

    served = spans(singles) if r.serve else []
    pruned = [] if r.serve else spans(singles)
    batch, exact, hyb = spans(batches), spans(exacts), spans(hybrids)
    pre = MIN_SINGLE
    L["bm25.idf_ms"] = ms(idf_spans)
    L["bm25.idf_jobs"] = _per_call(idf_spans, lambda sp: sp.jobs)
    L["bm25.served_calls"] = len(served)
    L["bm25.served_ms"] = ms(served)
    L["bm25.served_jobs"] = _per_call(served, lambda sp: sp.jobs, pre)
    L["bm25.served_tasks"] = _per_call(served, lambda sp: sp.tasks, pre)
    L["bm25.blocks_decoded"] = sum(_acc(sp, "decoded_blocks")
                                   for sp in served[:pre])
    L["bm25.blocks_total"] = sum(_acc(sp, "total_blocks")
                                 for sp in served[:pre])
    L["bm25.skip_ratio"] = (1.0 - L["bm25.blocks_decoded"]
                            / L["bm25.blocks_total"]
                            if L["bm25.blocks_total"] else 0.0)
    L["bm25.batch_calls"] = len(batch)
    L["bm25.batch_ms"] = ms(batch)
    L["bm25.batch_jobs"] = _per_call(batch, lambda sp: sp.jobs)
    L["bm25.batch_qps"] = (BATCH * len(batch)
                           / sum(sp.seconds for sp in batch)
                           if batch else 0.0)
    L["bm25.pruned_calls"] = len(pruned)
    L["bm25.pruned_ms"] = ms(pruned)
    L["bm25.pruned_jobs"] = _per_call(pruned, lambda sp: sp.jobs, pre)
    L["bm25.pruned_blocks_decoded"] = sum(_acc(sp, "decoded_blocks")
                                          for sp in pruned[:pre])
    L["bm25.pruning_engaged_share"] = _per_call(
        pruned, lambda sp: float(bool(sp.stats.get("pruning_engaged"))), pre)
    L["bm25.touched_ranges"] = sum(int(sp.stats.get("touched_ranges", 0))
                                   for sp in pruned[:pre])
    L["bm25.exact_calls"] = len(exact)
    L["bm25.exact_ms"] = ms(exact)
    L["bm25.exact_jobs"] = _per_call(exact, lambda sp: sp.jobs)
    L["bm25.exact_blocks_decoded"] = sum(_acc(sp, "decoded_blocks")
                                         for sp in exact)
    L["search.hybrid_calls"] = len(hyb)
    L["search.hybrid_ms"] = ms(hyb)
    L["search.hybrid_jobs"] = _per_call(hyb, lambda sp: sp.jobs)
    L["search.dense_ms"] = 1e3 * _median(dense_s)
    L["search.bm25_stage_ms"] = 1e3 * _median(stage_s)
    L["encoder.query_ms"] = 1e3 * _median(enc_s)
    L["encoder.embed_docs_per_s"] = r.shape.n_docs / embed_s
    L["spark.jobs"] = sum(sp.jobs for sp in tr.spans)
    L["spark.failed_tasks"] = sum(sp.failed_tasks for sp in tr.spans)
    L["trace.spans"] = len(tr.spans)
    L["trace.bookkeeping_ms"] = 1e3 * tr.bookkeeping_s


def _codec(r: Run, L: dict) -> int:
    """index.codec timed outside Spark on the workload's own posting blocks
    (read with pyarrow from the bulk-built postings table): bulk varint
    decode of up to CODEC_MAX_POSTINGS postings, then ``encode_blocks_bulk``
    of what was decoded, which must give back the stored bytes. Returns the
    table's total posting count."""
    import pyarrow.dataset as pa_ds

    from review_recommender_spark.index import codec

    t = pa_ds.dataset(r.path("index/postings"), format="parquet",
                      partitioning="hive").to_table(
        columns=["term", "range_id", "first_doc_id", "n", "doc_bytes",
                 "tf_bytes", "dl_bytes"])
    postings_total = int(np.sum(t.column("n").to_numpy()))
    t = t.sort_by([("term", "ascending"), ("range_id", "ascending"),
                   ("first_doc_id", "ascending")])
    ns_all = t.column("n").to_numpy().astype(np.int64)
    take = max(1, int(np.searchsorted(np.cumsum(ns_all),
                                      CODEC_MAX_POSTINGS, side="right")))
    t = t.slice(0, take)
    ns = ns_all[:take]
    total = int(ns.sum())
    cols = {c: t.column(c).to_pylist()
            for c in ("doc_bytes", "tf_bytes", "dl_bytes")}
    bufs = {c: b"".join(v) for c, v in cols.items()}
    starts = np.concatenate([[0], np.cumsum(ns)[:-1]])

    dec_t, enc_t = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        deltas = codec.varint_decode(bufs["doc_bytes"], total).astype(np.int64)
        c = np.cumsum(deltas)
        base = np.zeros(len(ns), dtype=np.int64)
        base[1:] = c[starts[1:] - 1]
        doc_ids = c - np.repeat(base, ns)
        tfs = codec.varint_decode(bufs["tf_bytes"], total)
        dls = codec.varint_decode(bufs["dl_bytes"], total)
        dec_t.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        enc = codec.encode_blocks_bulk(doc_ids, tfs, dls, starts)
        enc_t.append(time.perf_counter() - t0)
    r.check(list(enc[0]) == cols["doc_bytes"]
            and list(enc[1]) == cols["tf_bytes"]
            and list(enc[2]) == cols["dl_bytes"],
            "codec round trip of the stored posting blocks")
    L["codec.postings"] = total
    L["codec.blocks"] = take
    L["codec.decode_ns_per_posting"] = 1e9 * _median(dec_t) / total
    L["codec.encode_ns_per_posting"] = 1e9 * _median(enc_t) / total
    return postings_total
