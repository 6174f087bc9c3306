"""BM25 top-k query answering over the term-partitioned posting index.

Replaces the reference's full-corpus scan (``bm25.get_scores`` computes a
dense score for every document on every query — app/test.py:168-173, a scan
the comment at :169 wrongly claims is candidates-only; SURVEY.md quirk Q2)
with:

  exact path   : ONE Spark action. The query's (term, weight=idf) rows
                 are resolved by a broadcast join against the
                 bucket-partitioned term_stats table inside the same plan,
                 joined onto the partition-pruned posting blocks
                 (directory pruning on term_bucket, row-group pruning on
                 term), decoded+scored in Arrow batches, folded per doc in
                 QUERY TOKEN ORDER (bit-deterministic — `_fold_scores`),
                 and TakeOrderedAndProject'ed. No separate metadata
                 round-trip per query.

  pruned path  : block-max pruning at doc-range granularity for corpora
                 whose query terms touch many ranges. Per-block upper
                 bounds come from (max_tf, min_dl) metadata — valid for any
                 (k1, b). Ranges whose summed per-term bounds cannot beat
                 the current k-th score are skipped (their blocks never
                 decoded); the threshold is seeded by exactly scoring the
                 most promising ranges. Rank-safe: skipping a range drops
                 whole documents, never a single term's contribution, and
                 survivors are scored exactly — so results are
                 rank-identical to the exact path (tests/test_wand.py).
                 Below ``min_ranges_to_prune`` ranges it falls through to
                 the exact path (the pruning machinery costs extra Spark
                 jobs that only pay off at scale).
                 Job budget: one term_stats lookup returns each query
                 term's (idf, df). When the df-derived bound on the
                 candidate block count (``_candidate_blocks_bound``: per
                 term min(df, df // block_size + ranges)) fits the
                 driver cap, ONE more job fetches the encoded blocks and
                 the block-max kernel runs on the driver — 2 jobs per
                 cold query, the result a local relation (no job to
                 collect it). Larger candidate sets first collect
                 per-range bounds, then run a seed job and a
                 distributed kernel job (see the tier comment in
                 ``bm25_topk_pruned``).

Scoring formula per SURVEY.md §2.12 (BM25Okapi semantics): repeated query
tokens weight a term by its query multiplicity; unknown terms contribute 0.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize_k2_py
from ..index.build import InvertedIndex, term_bucket_py
from ..index.codec import decode_block, varint_decode

RESULT_SCHEMA = "doc_id long, score double"

# bm25_topk_pruned collects per-range bounds driver-side while the
# query's touched range count stays below this (1M rows ≈ 16 MB — the
# same envelope class as the warm idf cache); beyond it the lazy
# broadcast-join plan runs instead (a head term at 10^12 docs touches
# ~10^8 ranges — that regime must never collect).
_PRUNED_DRIVER_RANGES_MAX = 1_000_000
# ... and gathers the still-encoded candidate blocks to the coordinator
# when they number at most this many rows (~50k blocks ≈ 6.4M postings
# ≈ 16 MB encoded + ~150 MB of transient decode arrays worst-case —
# driver-envelope class). Head terms above the cap stay distributed.
_PRUNED_LOCAL_BLOCKS_MAX = 50_000

# Every public query entry point accepts QueryLike: a search string (run
# through the K2 query tokenizer, the reference's asymmetric-stoplist
# path) OR an already-normalized INDEX-term sequence (list/tuple of K1
# terms, scored verbatim in the given order — the primitive the
# expansion layer builds on: prefix/fuzzy-expanded and more-like-this
# queries produce derived term lists that must NOT round-trip through
# the K2 stoplist, query/expand.py).
QueryLike = "str | list[str] | tuple[str, ...]"


def _tokens(query) -> list[str]:
    """QueryLike → the scoring token sequence (order preserved —
    ``_fold_scores`` is order-sensitive by spec)."""
    if isinstance(query, str):
        return tokenize_k2_py(query)
    return list(query)


def _qtf(query) -> dict[str, int]:
    return dict(Counter(_tokens(query)))


def _resolve_min_match(token_seq: list[str],
                       min_match: int | str | None) -> int:
    """Minimum-should-match resolution: ``None`` → 1 (any term),
    ``"all"`` → the number of DISTINCT query tokens (conjunctive AND —
    counted over ALL tokens, known or not, so a query containing a term
    absent from the index can never be fully matched and returns empty,
    the standard conjunctive contract), an int → itself (must be ≥ 1).
    A doc qualifies iff it matches ≥ m distinct query terms; scores are
    untouched (the constraint shrinks the candidate set only), so
    conjunctive results stay bitwise-comparable across execution paths."""
    if min_match is None:
        return 1
    if min_match == "all":
        return max(1, len(set(token_seq)))
    m = int(min_match)
    if m < 1:
        raise ValueError(f"min_match must be >= 1 or 'all', got {min_match}")
    return m


def _term_stats_pruned(spark: SparkSession, index: InvertedIndex,
                       terms: list[str]) -> DataFrame:
    buckets = sorted({term_bucket_py(t, index.cfg.index.term_buckets)
                      for t in terms})
    return (index.term_stats(spark)
            .filter(F.col("term_bucket").isin(buckets)
                    & F.col("term").isin(terms)))


def weights_df(spark: SparkSession, index: InvertedIndex,
               queries: list[str]) -> DataFrame:
    """(query_id, term, weight=idf) for a batch of queries, resolved by
    one join against the bucket-pruned term_stats scan (no collect).

    NOTE the weight is the SINGLE-occurrence idf, not idf·qtf: per-doc
    scores are assembled by folding over the query token SEQUENCE
    (repeats included) in the exact float-addition order BM25Okapi uses —
    see ``_fold_scores``. Multiplying by qtf up front is mathematically
    equal but floating-point different, and last-ulp differences reorder
    score-tied documents between execution paths (caught at 800k docs)."""
    rows = []
    for qi, q in enumerate(queries):
        for term in _qtf(q):
            rows.append((qi, term))
    if not rows:
        return spark.createDataFrame(
            [], "query_id int, term string, weight double")
    idf_map = index.idf_lookup()
    if idf_map is not None:
        # warm driver idf cache (built from the same term_stats floats):
        # resolve weights as a local relation — no term_stats scan, no
        # join in the query plan (values identical either way)
        return spark.createDataFrame(
            [(qi, t, float(idf_map[t])) for qi, t in rows if t in idf_map],
            "query_id int, term string, weight double")
    qdf = spark.createDataFrame(rows, "query_id int, term string")
    stats = _term_stats_pruned(spark, index, sorted({t for _, t in rows}))
    return (F.broadcast(qdf).join(stats, "term")
            .select("query_id", "term", F.col("idf").alias("weight")))


def query_term_idf(spark: SparkSession, index: InvertedIndex,
                   query: str) -> dict[str, float]:
    """Driver-side {term: idf} for the query's unique known terms (warm
    idf cache when available, else a bucket-pruned lookup job)."""
    qtf = _qtf(query)
    if not qtf:
        return {}
    idf_map = index.idf_lookup()
    if idf_map is not None:
        return {t: idf_map[t] for t in qtf if t in idf_map}
    rows = _term_stats_pruned(spark, index, sorted(qtf)) \
        .select("term", "idf").collect()
    return {r["term"]: r["idf"] for r in rows}


def _fold_scores(partials: DataFrame, token_seq: list[str],
                 keys: list[str], min_match: int = 1) -> DataFrame:
    """Per-key score = LEFT FOLD over the query token sequence (repeats
    included) of the per-(key, term) partials — the bit-exact float
    addition order of BM25Okapi's ``get_scores`` (score += per token).
    Spark's sum() aggregate adds in partition-arrival order, which is
    nondeterministic; with mathematically-tied scores that noise reorders
    the tie-break between runs and between execution paths. The fold is
    pure JVM (map_from_entries + higher-order aggregate).

    ``min_match`` > 1: minimum-should-match — keys whose per-term map
    holds fewer than m distinct matched terms are dropped BEFORE the
    fold (the map's size IS the distinct matched-term count: partials
    arrive one row per (key, term)). Zero extra passes over the data."""
    toks = F.array(*[F.lit(t) for t in token_seq])
    g = partials.groupBy(*keys).agg(
        F.map_from_entries(F.collect_list(F.struct("term", "score")))
        .alias("__pm"))
    if min_match > 1:
        g = g.filter(F.size("__pm") >= min_match)
    folded = F.aggregate(
        toks, F.lit(0.0),
        lambda acc, t: acc + F.coalesce(F.element_at(F.col("__pm"), t),
                                        F.lit(0.0)))
    return g.select(*keys, folded.alias("score"))


def _query_blocks(spark: SparkSession, index: InvertedIndex,
                  terms: list[str]) -> DataFrame:
    buckets = sorted({term_bucket_py(t, index.cfg.index.term_buckets)
                      for t in terms})
    return (index.postings(spark)
            .filter(F.col("term_bucket").isin(buckets)
                    & F.col("term").isin(sorted(terms))))


def _score_blocks_closure(blocks: DataFrame, index: InvertedIndex,
                          weights: dict, acc_blocks=None) -> DataFrame:
    """Decode + score posting blocks → per-posting partial scores, one
    row per (doc, term), with the per-term weights CLOSURE-CAPTURED
    instead of broadcast-joined: the
    join's BroadcastExchange cost ~1.4 s per query at bench scale
    (measured r7 — the dominant term of the exact path), while a
    few-entry dict rides the task closure for free. Same bulk decode,
    same elementwise float expressions → bitwise-identical partials;
    row order differs (irrelevant: the fold's map is keyed).

    ``blocks`` must already be filtered to the weights' terms."""
    k1, b = index.cfg.bm25.k1, index.cfg.bm25.b
    avgdl = index.avgdl
    w = dict(weights)

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in it:
            if not len(pdf):
                continue
            if acc_blocks is not None:
                acc_blocks.add(len(pdf))
            ns = pdf["n"].to_numpy(dtype=np.int64)
            total = int(ns.sum())
            deltas = varint_decode(b"".join(pdf["doc_bytes"]),
                                   total).astype(np.int64)
            starts = np.concatenate([[0], np.cumsum(ns)[:-1]])
            c = np.cumsum(deltas)
            base = np.zeros(len(ns), dtype=np.int64)
            base[1:] = c[starts[1:] - 1]
            docs = c - np.repeat(base, ns)
            tf = varint_decode(b"".join(pdf["tf_bytes"]),
                               total).astype(np.float64)
            ln = varint_decode(b"".join(pdf["dl_bytes"]),
                               total).astype(np.float64)
            denom = tf + k1 * (1 - b + b * ln / avgdl)
            terms = pdf["term"].to_numpy()
            wgt = np.repeat(np.array([w[t] for t in terms]), ns)
            yield pd.DataFrame({
                "term": np.repeat(terms, ns),
                "doc_id": docs,
                "score": wgt * (tf * (k1 + 1) / denom)})

    return (blocks.select("term", "n", "doc_bytes", "tf_bytes",
                          "dl_bytes")
            .mapInPandas(score, schema="term string, " + RESULT_SCHEMA))


def _score_blocks_closure_batch(blocks: DataFrame, index: InvertedIndex,
                                qweights: list[dict],
                                acc_blocks=None) -> DataFrame:
    """Batch (query_id) variant of ``_score_blocks_closure``: one decode
    of the union of the batch's terms' blocks, then per query emit rows
    for ITS terms — the same output multiset the per-query broadcast
    join produced, without duplicating block rows through an exchange.
    ``qweights[qi]`` is query qi's {term: single-idf weight} map (empty
    dict → the query emits nothing)."""
    k1, b = index.cfg.bm25.k1, index.cfg.bm25.b
    avgdl = index.avgdl
    qws = [dict(w) for w in qweights]

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in it:
            if not len(pdf):
                continue
            if acc_blocks is not None:
                acc_blocks.add(len(pdf))
            ns = pdf["n"].to_numpy(dtype=np.int64)
            total = int(ns.sum())
            deltas = varint_decode(b"".join(pdf["doc_bytes"]),
                                   total).astype(np.int64)
            starts = np.concatenate([[0], np.cumsum(ns)[:-1]])
            c = np.cumsum(deltas)
            base = np.zeros(len(ns), dtype=np.int64)
            base[1:] = c[starts[1:] - 1]
            docs = c - np.repeat(base, ns)
            tf = varint_decode(b"".join(pdf["tf_bytes"]),
                               total).astype(np.float64)
            ln = varint_decode(b"".join(pdf["dl_bytes"]),
                               total).astype(np.float64)
            unit = tf * (k1 + 1) / (tf + k1 * (1 - b + b * ln / avgdl))
            terms = pdf["term"].to_numpy()
            tcodes, tuniq = pd.factorize(terms)
            # per-term posting slices (row order preserved)
            pos_starts = starts
            by_term: dict[str, list] = {}
            for j, t in enumerate(tuniq):
                rows = np.flatnonzero(tcodes == j)
                by_term[t] = [(pos_starts[r], pos_starts[r] + ns[r])
                              for r in rows]
            for qi, w in enumerate(qws):
                d_parts, s_parts, t_parts = [], [], []
                for t in w:
                    for a, e in by_term.get(t, ()):
                        d_parts.append(docs[a:e])
                        s_parts.append(w[t] * unit[a:e])
                        t_parts.append(np.full(e - a, t, dtype=object))
                if not d_parts:
                    continue
                d_cat = np.concatenate(d_parts)
                yield pd.DataFrame({
                    "query_id": np.full(len(d_cat), qi, dtype=np.int32),
                    "term": np.concatenate(t_parts),
                    "doc_id": d_cat,
                    "score": np.concatenate(s_parts)})

    return (blocks.select("term", "n", "doc_bytes", "tf_bytes",
                          "dl_bytes")
            .mapInPandas(score,
                         schema="query_id int, term string, "
                                + RESULT_SCHEMA))


def _apply_after(scored: DataFrame, after) -> DataFrame:
    """Search-after pagination cursor: keep only docs STRICTLY after
    ``after = (score, doc_id)`` in the engine's total result order
    (score DESC, doc_id ASC). The cursor is the last row of the previous
    page (UNROUNDED score — scores are bitwise-identical across paths,
    so the float equality is well-defined), making deep paging O(page)
    instead of O(offset + page): no re-materialization of skipped rows,
    and under the served/pruned kernels θ becomes the k-th best
    POST-CURSOR score (rank-safe: dropping docs only lowers θ, and
    block bounds over all docs stay upper bounds — the same argument as
    ``filter_docs``/``exclude_docs``)."""
    if after is None:
        return scored
    s_a, d_a = float(after[0]), int(after[1])
    return scored.filter(
        (F.col("score") < F.lit(s_a))
        | ((F.col("score") == F.lit(s_a)) & (F.col("doc_id") > F.lit(d_a))))


def _topk(partials: DataFrame, token_seq: list[str], k: int,
          min_match: int = 1,
          boost_docs: DataFrame | None = None,
          after=None) -> DataFrame:
    scored = _fold_scores(partials, token_seq, ["doc_id"],
                          min_match=min_match)
    if boost_docs is not None:
        # static per-doc score multiplier (function-score / Lucene doc
        # boost): applied AFTER the fold, BEFORE top-k selection, so the
        # boost reorders the ranking, missing docs boost 1.0. The left
        # side is the candidate set (bounded by the query terms' dfs),
        # the right a column-pruned (doc_id, boost) scan — a plain hash
        # join, no corpus materialization.
        scored = (scored
                  .join(boost_docs.select("doc_id", "boost"),
                        "doc_id", "left")
                  .select("doc_id",
                          (F.col("score")
                           * F.coalesce(F.col("boost"), F.lit(1.0)))
                          .alias("score")))
    return (_apply_after(scored, after)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k))


def _fold_scores_batch(partials: DataFrame,
                       token_seqs: list[list[str]],
                       min_matches: list[int] | None = None) -> DataFrame:
    """Batch form of ``_fold_scores``: per-(query_id, doc_id) score as a
    LEFT FOLD over THAT query's token sequence — same bit-exact addition
    order, query sequences dispatched by a literal query_id→tokens map.
    ``min_matches`` (aligned with ``token_seqs``): per-query
    minimum-should-match, applied as a map-size filter before the fold
    (see ``_fold_scores``)."""
    tok_map = F.create_map(*[
        x for qi, seq in enumerate(token_seqs)
        for x in (F.lit(qi), F.array(*[F.lit(t) for t in seq]))])
    g = partials.groupBy("query_id", "doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "score")))
        .alias("__pm"))
    if min_matches is not None and any(m > 1 for m in min_matches):
        mm_map = F.create_map(*[
            F.lit(x) for qi, m in enumerate(min_matches)
            for x in (qi, m)])
        g = g.filter(F.size("__pm")
                     >= F.element_at(mm_map, F.col("query_id")))
    folded = F.aggregate(
        F.element_at(tok_map, F.col("query_id")), F.lit(0.0),
        lambda acc, t: acc + F.coalesce(F.element_at(F.col("__pm"), t),
                                        F.lit(0.0)))
    return g.select("query_id", "doc_id", folded.alias("score"))


def _cold_scores_batch(spark: SparkSession, index: InvertedIndex,
                       idf_map: dict, token_seqs: list[list[str]],
                       warm_ranges: frozenset,
                       min_matches: list[int] | None = None) -> DataFrame:
    """Exact per-(query_id, doc_id) scores over posting blocks whose
    range_id is NOT resident in a PARTIAL warm serving subset
    (``InvertedIndex.warm(ranges=...)``) — the on-disk half every served
    path unions in so partial warm stays result-identical to full warm.
    Scores use the same per-block float expression and query-token fold
    as every other path (bitwise contract). The resident set is excluded
    with an isin literal — fine for the head-shard warming the memory
    envelope prescribes (10-10^4 hot ranges); a fleet warming millions of
    ranges would swap this for a broadcast anti-join."""
    qweights = [{t: float(idf_map[t])
                 for t in sorted({x for x in seq if x in idf_map})}
                for seq in token_seqs]
    known = sorted({t for w in qweights for t in w})
    if not known:
        return spark.createDataFrame([], "query_id int, " + RESULT_SCHEMA)
    blocks = _query_blocks(spark, index, known)
    blocks = blocks.filter(
        ~F.col("range_id").isin([int(r) for r in warm_ranges])
        if warm_ranges else F.lit(True))
    partials = _score_blocks_closure_batch(blocks, index, qweights)
    # min_match stays correct under the warm/cold split: a doc's complete
    # postings live in ONE range, and a range is entirely warm or cold,
    # so each side's per-doc distinct-matched-term count is total
    return _fold_scores_batch(partials, token_seqs,
                              min_matches=min_matches)


def _mk_decode_acc(spark: SparkSession, stats: dict | None):
    if stats is None:
        return None
    acc = spark.sparkContext.accumulator(0)
    stats["decoded_blocks"] = acc
    return acc


def _apply_doc_exclude(partials: DataFrame,
                       exclude_docs: DataFrame | None) -> DataFrame:
    """NEGATIVE filtered retrieval: drop documents present in
    ``exclude_docs`` (any DataFrame with a ``doc_id`` column) BEFORE
    top-k — the `-term` / must-not side of a boolean query. A LEFT ANTI
    join on the score partials: the exclusion set is typically another
    term's posting docs (bounded by that term's df), which Catalyst
    broadcasts when small; 'all docs except X' never materializes."""
    if exclude_docs is None:
        return partials
    return partials.join(exclude_docs.select("doc_id"), "doc_id",
                         "left_anti")


def _apply_doc_filter(partials: DataFrame,
                      filter_docs: DataFrame | None) -> DataFrame:
    """Restrict per-(doc, term) score partials to documents present in
    ``filter_docs`` (any DataFrame with a ``doc_id`` column — typically a
    metadata scan with the predicate pushed down to parquet, e.g.
    ``docs.filter(F.col("lang") == "en").select("doc_id")``).

    A LEFT SEMI join BEFORE the per-doc fold/top-k: filtered retrieval
    must drop excluded docs before they occupy top-k slots (post-filtering
    a top-k underfills the result), and filtering at partial granularity
    also shrinks the fold's groupBy input. Score values are untouched, so
    filtered results stay bitwise-comparable across execution paths.
    Catalyst broadcasts the filtered id side when it is small; a
    non-selective filter degrades to a doc_id-keyed shuffle join — the
    honest cost of filtering at 10^12 docs without a filter-aligned
    partition layout."""
    if filter_docs is None:
        return partials
    return partials.join(filter_docs.select("doc_id"), "doc_id",
                         "left_semi")


def _collect_filter_ids(filter_docs: DataFrame | None, cap: int):
    """Driver-side sorted unique doc_id array for the zero-shuffle served
    kernels, or None when the filter survivor set exceeds ``cap`` (the
    caller then falls back to the join-based exact path). The limit-(cap+1)
    probe bounds driver memory: at the default cap (5M ids = 40 MB int64)
    this is the same envelope as the warm idf cache."""
    if filter_docs is None:
        return None, False
    import numpy as np
    # Arrow toPandas, not collect(): at the default cap (5M ids) Row
    # objects would cost ~GBs of driver heap; the Arrow path lands the
    # column as one int64 block (~40 MB)
    pdf = (filter_docs.select("doc_id").distinct()
           .limit(cap + 1).toPandas())
    if len(pdf) > cap:
        return None, True          # too big to broadcast — fall back
    ids = np.sort(pdf["doc_id"].to_numpy(dtype=np.int64))
    return ids, False


def term_docs(spark: SparkSession, index: InvertedIndex,
              term: str) -> DataFrame:
    """All doc_ids whose postings contain ``term`` (one bucket+term-pruned
    block scan + Arrow decode) — the building block for boolean
    constraints: required terms semi-join, excluded terms anti-join
    (query/parser.py). Size is the term's df, not the corpus."""
    # project to the two columns the kernel touches BEFORE the Python
    # boundary — mapInPandas otherwise ships (and reads) every column
    blocks = _query_blocks(spark, index, [term]).select("n", "doc_bytes")

    def explode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in it:
            if not len(pdf):
                continue
            # one varint pass over the batch's doc buffers (per-block
            # cumsum reset via base subtraction); tf/dl never decoded
            ns = pdf["n"].to_numpy(dtype=np.int64)
            deltas = varint_decode(b"".join(pdf["doc_bytes"]),
                                   int(ns.sum())).astype(np.int64)
            starts = np.concatenate([[0], np.cumsum(ns)[:-1]])
            c = np.cumsum(deltas)
            base = np.zeros(len(ns), dtype=np.int64)
            base[1:] = c[starts[1:] - 1]
            yield pd.DataFrame({"doc_id": c - np.repeat(base, ns)})

    return blocks.mapInPandas(explode, schema="doc_id long")


def term_vectors(spark: SparkSession, index: InvertedIndex,
                 doc_id: int) -> DataFrame:
    """Term-vectors for one document (the `_termvectors` debugging /
    feature-extraction surface): (term, tf, positions) over the doc's
    K1 token stream, positions 0-based in the kept-token sequence (the
    same coordinate system as the positional table), ordered term ASC.

    Served from the Stage A checkpoint (one packed row per doc) with a
    pushed-down doc_id equality — an id-clustered point read, O(1) row
    groups; no re-tokenize, no postings walk."""
    from ..index.build import LOCAL_TF
    row = (index.io.read(spark, LOCAL_TF)
           .filter(F.col("doc_id") == int(doc_id)))
    ex = row.select(F.posexplode("toks").alias("pos", "term"))
    return (ex.groupBy("term")
            .agg(F.count("*").cast("long").alias("tf"),
                 F.sort_array(F.collect_list("pos")).alias("positions"))
            .orderBy(F.asc("term")))


def explain_score(spark: SparkSession, index: InvertedIndex, query,
                  doc_id: int) -> DataFrame:
    """Score explanation for one (query, document) pair — the `_explain`
    surface every search engine ships: one row per MATCHED query term
    with the inputs and the term's contribution,

        (term, qtf, tf, dl, idf, contribution)
        contribution = idf · qtf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))

    ordered (contribution DESC, term ASC). sum(contribution) equals the
    doc's ranking score up to float addition order (the ranking fold
    adds in query-token order; tests assert exact equality via the same
    fold arithmetic).

    Cost shape at 10^12 docs: the scan is bucket+term-pruned to the
    query terms' blocks AND interval-pruned to the ≤1 block per term
    whose [first_doc_id, last_doc_id] covers the target doc — O(query
    terms) decoded blocks, never a postings walk."""
    qtf = _qtf(query)
    if not qtf:
        return spark.createDataFrame(
            [], "term string, qtf int, tf long, dl long, idf double, "
                "contribution double")
    idf = query_term_idf(spark, index, query)
    did = int(doc_id)
    blocks = _query_blocks(spark, index, sorted(qtf)).filter(
        (F.col("first_doc_id") <= did) & (F.col("last_doc_id") >= did))

    def pick(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in it:
            terms, tfs, dls = [], [], []
            for term, n, db, tb, lb in zip(pdf["term"], pdf["n"],
                                           pdf["doc_bytes"],
                                           pdf["tf_bytes"],
                                           pdf["dl_bytes"]):
                d, t, ln = decode_block(bytes(db), bytes(tb), bytes(lb),
                                        int(n))
                i = np.searchsorted(d, did)
                if i < len(d) and d[i] == did:
                    terms.append(term)
                    tfs.append(int(t[i]))
                    dls.append(int(ln[i]))
            if terms:
                yield pd.DataFrame({"term": terms, "tf": tfs, "dl": dls})

    hits = blocks.mapInPandas(pick, schema="term string, tf long, dl long")
    k1, b = index.cfg.bm25.k1, index.cfg.bm25.b
    qdf = spark.createDataFrame(
        [(t, int(n), float(idf[t])) for t, n in sorted(qtf.items())
         if t in idf],
        "term string, qtf int, idf double")
    tf = F.col("tf").cast("double")
    unit = (tf * (k1 + 1)
            / (tf + k1 * (1 - b + b * F.col("dl") / index.avgdl)))
    return (hits.join(F.broadcast(qdf), "term")
            .select("term", "qtf", "tf", "dl", "idf",
                    (F.col("idf") * F.col("qtf") * unit)
                    .alias("contribution"))
            .orderBy(F.desc("contribution"), F.asc("term")))


def bm25_topk_exact(spark: SparkSession, index: InvertedIndex, query,
                    k: int = 10, stats: dict | None = None,
                    filter_docs: DataFrame | None = None,
                    min_match: int | str | None = None,
                    exclude_docs: DataFrame | None = None,
                    boost_docs: DataFrame | None = None,
                    after: tuple[float, int] | None = None) -> DataFrame:
    """Exact BM25 top-k in one action. ``filter_docs`` (optional DataFrame
    with a ``doc_id`` column) restricts ranking to those documents —
    applied BEFORE top-k selection (see ``_apply_doc_filter``), so the
    result is the true top-k of the filtered corpus, scored identically
    to the unfiltered path.

    ``min_match``: minimum-should-match — ``"all"`` for conjunctive AND
    semantics, an int m ≥ 1 to require m distinct matched query terms
    (see ``_resolve_min_match``). Applied before top-k like the filter,
    composes with it; scores are untouched.

    ``exclude_docs``: must-NOT filter (see ``_apply_doc_exclude``) —
    composes with both of the above.

    ``boost_docs`` (optional DataFrame with (doc_id, boost)): static
    per-doc score multiplier applied after the fold, before top-k (see
    ``_topk``) — function-score ranking (recency, quality priors).

    ``after`` (optional (score, doc_id) cursor): search-after
    pagination — see ``_apply_after``. Page 2 = the previous page's
    last (UNROUNDED score, doc_id)."""
    qtf = _qtf(query)
    if not qtf:
        return spark.createDataFrame([], RESULT_SCHEMA)
    token_seq = _tokens(query)
    # weights ride the task closure (warm: driver idf cache, zero jobs;
    # cold: one bucket-pruned lookup) — the r6 plan broadcast-joined a
    # weights relation instead, whose BroadcastExchange alone cost ~1.4 s
    # per query at bench scale (measured r7)
    idf = query_term_idf(spark, index, query)
    if not idf:
        # no query term is in the index vocabulary → empty result, same
        # as the joined plan would produce without running a job
        return spark.createDataFrame([], RESULT_SCHEMA)
    blocks = _query_blocks(spark, index, sorted(idf))
    acc = _mk_decode_acc(spark, stats)
    partials = _score_blocks_closure(blocks, index, idf, acc_blocks=acc)
    partials = _apply_doc_exclude(_apply_doc_filter(partials, filter_docs),
                                  exclude_docs)
    return _topk(partials, token_seq, k,
                 min_match=_resolve_min_match(token_seq, min_match),
                 boost_docs=boost_docs, after=after)


def _served_local_topk(token_seqs: list[list[str]], idf_map: dict,
                       k1: float, b: float, avgdl: float, k: int,
                       block_skip: bool, with_query_id: bool,
                       acc_decoded=None, acc_total=None,
                       allowed=None, min_matches=None, blocked=None,
                       after=None, init_theta=None, fine_prune=False):
    """Shared per-shard kernel for the served paths, WITH block-max
    skipping: before decoding anything, every block row's idf-free unit
    upper bound is computed from the resident (max_tf, min_dl) metadata
    (the same bound expression as ``_block_upper_bound_col``), ranges are
    visited in descending summed-bound order per query, and a range whose
    bound cannot beat the shard-local θ (k-th best score so far, tie-safe
    ulp slack as in ``bm25_topk_pruned``) is never decoded — nor is any
    range after it, since bounds only fall and θ only rises. This is what
    keeps warm serving honest for head terms at 10^9+ docs: a shard whose
    best possible doc can't crack its own local top-k stops decoding
    after the few hottest ranges instead of walking every posting block.

    Rank-safety → BITWISE identity (tests/test_wand.py::
    test_served_block_skip_bitwise): a doc's complete postings live in
    one range of one shard, so skipping a range drops whole documents
    whose total score is strictly below θ's slack margin — never a single
    term's contribution — and every surviving doc's score is accumulated
    in QUERY TOKEN order over exactly the same per-block float partials
    as the unskipped kernel.

    ``min_matches`` (optional list aligned with ``token_seqs``):
    per-query minimum-should-match. A doc's distinct-matched-term count
    is complete within its range (all of a doc's postings live in one
    range of one shard), so the mask is applied per range before the
    running top-k/θ update — θ is the k-th best QUALIFYING score, and
    block-max skipping stays rank-safe for the same reason as with
    ``allowed``: a range bound over all docs upper-bounds the
    qualifying subset.

    ``acc_decoded``/``acc_total`` are optional Spark accumulators
    counting decoded vs resident block rows (task retries may
    double-count; observability only, not part of any result).

    ``allowed`` (optional SORTED unique int64 numpy array): FILTERED
    retrieval — only these doc_ids may enter the local top-k. The mask is
    applied to each range's scored docs BEFORE the running top-k/θ
    update, so θ is the k-th best FILTERED score and the result is the
    true top-k of the filtered corpus. Block-max skipping stays rank-safe
    under the mask: a range bound is an upper bound over ALL its docs,
    hence also over the allowed subset — skipping only gets more eager,
    never wrong. Ships to executors via closure capture (same Spark
    broadcast mechanics as the idf map); callers cap its size
    (``_collect_filter_ids``) and fall back to the join-based exact path
    beyond the cap.

    ``blocked`` (optional SORTED unique int64 numpy array): the NEGATIVE
    mask — excluded docs never enter the local top-k (the `-term` side of
    a boolean query). Same θ/bound rank-safety as ``allowed``: dropping
    docs only lowers θ, and bounds over all docs stay upper bounds.

    ``after`` (optional (score, doc_id) cursor, single-query callers
    only): search-after pagination — docs at or before the cursor in
    (score DESC, doc_id ASC) order never enter the local top-k, so θ is
    the k-th best POST-CURSOR score. Same rank-safety argument as
    ``allowed``/``blocked``.

    ``init_theta`` (optional float, single-query cold-pruned callers):
    a GLOBAL θ established by an exact seed pass (``bm25_topk_pruned``)
    — skipping may then engage before the local top-k fills (k results
    at ≥ θ already exist globally), and θ only ever rises above it.

    ``fine_prune``: block-level BMW refinement INSIDE each visited
    range (requires first/last_doc_id columns in the input): decode
    only blocks overlapping a doc interval whose summed clamped
    per-term bound reaches the current θ (``_hot_block_mask``).
    Rank-safe under partial scoring because every kept contribution is
    bounded by its term's CLAMPED (≥ 0) bound, so a partially-scored
    doc's total never exceeds its interval bound < θ — and hot-interval
    docs keep every block, hence exact scores (the
    ``_fine_prune_keep`` argument, applied locally with a rising θ)."""

    def local_topk(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        frames = [pdf for pdf in it if len(pdf)]
        if not frames:
            return
        pdf = frames[0] if len(frames) == 1 \
            else pd.concat(frames, ignore_index=True)
        terms_col = pdf["term"].to_numpy()
        rids_col = pdf["range_id"].to_numpy(dtype=np.int64)
        ns_col = pdf["n"].to_numpy(dtype=np.int64)
        dbs = pdf["doc_bytes"].to_numpy()
        tbs = pdf["tf_bytes"].to_numpy()
        lbs = pdf["dl_bytes"].to_numpy()
        if fine_prune:
            first_col = pdf["first_doc_id"].to_numpy(dtype=np.int64)
            last_col = pdf["last_doc_id"].to_numpy(dtype=np.int64)
        nrows = len(pdf)
        if acc_total is not None:
            acc_total.add(nrows)

        # idf- and qtf-free unit bound per block row (vectorized; the
        # same float expression as the per-row form: (k1+1)·mtf /
        # (mtf + k1·(1 − b + b·mdl/avgdl))); per (range, term) the bound
        # is the max over that term's blocks in the range
        mtf = pdf["max_tf"].to_numpy(dtype=np.float64)
        mdl = pdf["min_dl"].to_numpy(dtype=np.float64)
        unit_ub = (k1 + 1) * mtf / (mtf + k1 * (1 - b + b * mdl / avgdl))
        # group rows by (range, term): stable lexsort keeps each group's
        # row indices in original (ascending) order — the accumulation
        # order the bitwise contract fixes
        tcodes, tuniq = pd.factorize(terms_col)
        order_rows = np.lexsort((tcodes, rids_col))
        so_r = rids_col[order_rows]
        so_t = tcodes[order_rows]
        gch = np.empty(nrows, dtype=bool)
        gch[0] = True
        gch[1:] = (so_r[1:] != so_r[:-1]) | (so_t[1:] != so_t[:-1])
        gstart = np.flatnonzero(gch)
        gend = np.append(gstart[1:], nrows)
        by_range_term: dict[tuple, np.ndarray] = {}
        max_unit: dict[tuple, float] = {}
        for a, e in zip(gstart, gend):
            idxs = order_rows[a:e]
            key = (int(so_r[a]), tuniq[so_t[a]])
            by_range_term[key] = idxs
            max_unit[key] = float(unit_ub[idxs].max())

        decoded: dict[int, tuple] = {}
        _row_w = np.array([idf_map[t] for t in terms_col])

        def decode_bulk(sel: np.ndarray) -> None:
            """Decode MANY block rows in one varint pass per column —
            bitwise-identical per row to decode_block + the per-block
            score expression (integer cumsum resets per block via the
            base-subtraction trick; float ops are elementwise)."""
            nsel = ns_col[sel]
            total = int(nsel.sum())
            deltas = varint_decode(b"".join(dbs[sel]),
                                   total).astype(np.int64)
            starts = np.concatenate([[0], np.cumsum(nsel)[:-1]])
            c = np.cumsum(deltas)
            base = np.zeros(len(sel), dtype=np.int64)
            base[1:] = c[starts[1:] - 1]
            d_all = c - np.repeat(base, nsel)
            tf = varint_decode(b"".join(tbs[sel]),
                               total).astype(np.float64)
            ln = varint_decode(b"".join(lbs[sel]),
                               total).astype(np.float64)
            denom = tf + k1 * (1 - b + b * ln / avgdl)
            s_all = np.repeat(_row_w[sel], nsel) \
                * (tf * (k1 + 1) / denom)
            for j, i in enumerate(sel):
                a = starts[j]
                e = a + nsel[j]
                decoded[int(i)] = (d_all[a:e], s_all[a:e])
            if acc_decoded is not None:
                acc_decoded.add(len(sel))

        def accum_range(rid: int, seq: list[str], qtf: dict,
                        mm: int, rows_map: dict | None = None) -> tuple:
            """(uniq_docs, totals) for one range of one query —
            per-token vectorized scatter in QUERY TOKEN order (a doc
            appears at most once per term across the range's blocks,
            so `totals[pos] += s` has no duplicate positions and is
            bitwise-equal to the per-row loop). ``rows_map`` (optional
            {term: row-index array}) restricts to a fine-pruned block
            subset for this (range, query)."""
            if rows_map is None:
                rows_map = {t: by_range_term.get((rid, t), ())
                            for t in qtf}
            need = [i for term in qtf
                    for i in rows_map.get(term, ())
                    if int(i) not in decoded]
            if need:
                decode_bulk(np.asarray(need, dtype=np.int64))
            d_parts = [decoded[int(i)][0] for term in qtf
                       for i in rows_map.get(term, ())]
            if not d_parts:
                return (np.empty(0, dtype=np.int64), np.empty(0))
            uniq = np.unique(np.concatenate(d_parts))
            totals = np.zeros(len(uniq))
            for tok in seq:
                idxs = rows_map.get(tok)
                if idxs is None:
                    continue
                for i in idxs:
                    d, s = decoded[int(i)]
                    totals[np.searchsorted(uniq, d)] += s
            if mm > 1:
                # distinct matched terms per doc: one block holds a
                # given (term, doc) at most once, so +1 per distinct
                # query term whose block contains the doc
                nmatch = np.zeros(len(uniq), dtype=np.int32)
                for tok in qtf:
                    for i in rows_map.get(tok, ()):
                        nmatch[np.searchsorted(uniq,
                                               decoded[int(i)][0])] += 1
                keep = nmatch >= mm
                uniq, totals = uniq[keep], totals[keep]
            return uniq, totals

        def fine_rows_map(rid: int, qtf: dict, theta: float) -> dict:
            """Per-(range, query) block-level BMW subset: keep only
            block rows overlapping a doc interval whose summed clamped
            per-term bound reaches θ's slack margin (shared
            ``_hot_block_mask`` core; same ulp slack as the coarse
            skip)."""
            parts = [(t, by_range_term[(rid, t)]) for t in qtf
                     if (rid, t) in by_range_term]
            if not parts:
                return {}
            rows_cat = np.concatenate([ix for _, ix in parts])
            w_cat = np.concatenate(
                [np.full(len(ix), max(idf_map[t], 0.0) * qtf[t])
                 for t, ix in parts])
            keep = _hot_block_mask(
                first_col[rows_cat], last_col[rows_cat],
                w_cat * unit_ub[rows_cat],
                theta - 1e-9 * abs(theta) - 1e-12)
            out: dict = {}
            off = 0
            for t, ix in parts:
                out[t] = ix[keep[off:off + len(ix)]]
                off += len(ix)
            return out

        def apply_masks(uniq, totals):
            if allowed is not None:
                pos = np.searchsorted(allowed, uniq)
                pos[pos >= len(allowed)] = 0
                keep = (allowed[pos] == uniq) if len(allowed) \
                    else np.zeros(len(uniq), dtype=bool)
                uniq, totals = uniq[keep], totals[keep]
            if blocked is not None and len(blocked) and len(uniq):
                pos = np.searchsorted(blocked, uniq)
                pos[pos >= len(blocked)] = 0
                keep = blocked[pos] != uniq
                uniq, totals = uniq[keep], totals[keep]
            if after is not None and len(uniq):
                s_a, d_a = after
                keep = (totals < s_a) | ((totals == s_a)
                                         & (uniq > d_a))
                uniq, totals = uniq[keep], totals[keep]
            return uniq, totals

        for qi, seq in enumerate(token_seqs):
            qtf: dict[str, int] = {}
            for t in seq:
                if t in idf_map:
                    qtf[t] = qtf.get(t, 0) + 1
            # per-range summed bound for THIS query (weight = idf·qtf:
            # a term's max total contribution incl. query multiplicity).
            # NEGATIVE idf (the ε-fixup ε·avg_idf is negative when the
            # vocabulary-mean raw idf is — degenerate/templated corpora)
            # is clamped to 0 in the BOUND only: the unit bound assumes
            # weight ≥ 0 (it maximizes tf/minimizes dl, which for a
            # negative weight is the MINIMUM), so idf·unit would be a
            # lower bound and skipping could drop true top-k docs. A
            # negative-idf term's true contribution is always < 0, so 0
            # is a valid (if loose) upper bound; scoring is unchanged.
            rb: dict[int, float] = {}
            for (rid, term), mu in max_unit.items():
                c = qtf.get(term)
                if c:
                    rb[rid] = rb.get(rid, 0.0) + max(idf_map[term], 0.0) \
                        * c * mu
            if not rb:
                continue
            mm = min_matches[qi] if min_matches is not None else 1
            if not block_skip:
                # no-skip fast path: every range is visited anyway, so
                # accumulate ALL ranges and take ONE top-k — per doc the
                # additions (its own range's blocks, query-token order)
                # and the (score desc, doc_id asc) selection are
                # identical to the incremental per-range merge
                parts = [apply_masks(*accum_range(rid, seq, qtf, mm))
                         for rid in sorted(rb)]
                run_d = np.concatenate([p[0] for p in parts])
                run_s = np.concatenate([p[1] for p in parts])
                sel = np.lexsort((run_d, -run_s))[:k]
                run_d, run_s = run_d[sel], run_s[sel]
            else:
                order = sorted(rb.items(), key=lambda kv: (-kv[1], kv[0]))
                run_d = np.empty(0, dtype=np.int64)
                run_s = np.empty(0)
                theta = float("-inf") if init_theta is None \
                    else float(init_theta)
                for rid, bound in order:
                    if ((len(run_d) >= k or init_theta is not None)
                            and bound < theta - 1e-9 * abs(theta)
                            - 1e-12):
                        # bounds only fall from here and θ only rises
                        # (with init_theta, k results at ≥ θ already
                        # exist globally — the seed pass's top-k)
                        break
                    rows_map = (fine_rows_map(rid, qtf, theta)
                                if fine_prune and theta > float("-inf")
                                else None)
                    uniq, totals = apply_masks(
                        *accum_range(rid, seq, qtf, mm, rows_map))
                    # each doc lives in exactly one range → concat never
                    # duplicates; keep only the running local top-k
                    run_d = np.concatenate([run_d, uniq])
                    run_s = np.concatenate([run_s, totals])
                    sel = np.lexsort((run_d, -run_s))[:k]
                    run_d, run_s = run_d[sel], run_s[sel]
                    if len(run_d) >= k:
                        # θ never falls below a caller-provided global θ
                        theta = max(theta, run_s[-1])
            if not len(run_d):
                continue
            out = {"doc_id": run_d, "score": run_s}
            if with_query_id:
                out = {"query_id": np.full(len(run_d), qi, dtype=np.int32),
                       **out}
            yield pd.DataFrame(out)

    return local_topk


def bm25_topk_served(spark: SparkSession, index: InvertedIndex, query: str,
                     k: int = 10, block_skip: bool = True,
                     stats: dict | None = None,
                     filter_docs: DataFrame | None = None,
                     filter_broadcast_max: int = 5_000_000,
                     min_match: int | str | None = None,
                     exclude_docs: DataFrame | None = None,
                     after: tuple[float, int] | None = None) -> DataFrame:
    """Low-latency exact BM25 top-k over the warm DOC-SHARDED serving
    layout (``InvertedIndex.warm``): postings are resident in executor
    memory re-sharded by ``range_id``, so every document's complete
    postings live in one shard. The query is then a single map stage —
    each shard decodes only the query terms' blocks, sums full per-doc
    scores locally (sorted reduceat, deterministic), and emits its exact
    local top-k — followed by a k×shards TakeOrderedAndProject merge.
    No shuffle, no join; weights come from the warm idf cache
    (zero extra jobs).

    This is the scatter-gather layout real search clusters serve from
    (per-shard top-k + merge); rank-identical to ``bm25_topk_exact`` —
    every doc's full score is computed in exactly one shard, so the global
    top-k is a subset of the union of local top-ks, and per-doc scores are
    accumulated in QUERY TOKEN ORDER (bit-identical to the exact path's
    fold and to BM25Okapi — see ``_fold_scores``).

    ``block_skip`` enables per-shard block-max skipping (default on; see
    ``_served_local_topk`` — bitwise-identical either way). Pass a dict
    as ``stats`` to receive ``decoded_blocks``/``total_blocks``
    accumulators, readable after the action completes.

    ``filter_docs`` (optional DataFrame with a ``doc_id`` column):
    FILTERED retrieval — rank only those documents, applied before top-k
    (bitwise-identical scores to ``bm25_topk_exact(filter_docs=...)``,
    gated in tests/test_filtered.py). While the filter survivor set is
    driver-sized (≤ ``filter_broadcast_max``) it ships to the shards as a
    sorted id mask and serving stays zero-shuffle; a larger survivor set
    falls back to the exact path's semi-join — the honest cost of a
    non-selective filter at scale.

    ``min_match``: minimum-should-match / conjunctive AND, same contract
    as ``bm25_topk_exact`` (bitwise-identical results — gated in
    tests/test_conjunctive.py).

    ``exclude_docs``: must-NOT filter — ships as a sorted blocked mask
    while driver-sized (serving stays zero-shuffle), falls back to the
    exact anti-join beyond the cap."""
    idf = query_term_idf(spark, index, query)
    if not idf:
        return spark.createDataFrame([], RESULT_SCHEMA)
    token_seq = _tokens(query)
    mm = _resolve_min_match(token_seq, min_match)
    allowed, too_big = _collect_filter_ids(filter_docs,
                                           filter_broadcast_max)
    blocked, ex_too_big = _collect_filter_ids(exclude_docs,
                                              filter_broadcast_max)
    if too_big or ex_too_big:
        return bm25_topk_exact(spark, index, query, k=k, stats=stats,
                               filter_docs=filter_docs,
                               min_match=min_match,
                               exclude_docs=exclude_docs,
                               after=after)
    if allowed is not None and not len(allowed):
        return spark.createDataFrame([], RESULT_SCHEMA)
    acc_d = acc_t = None
    if stats is not None:
        acc_d = spark.sparkContext.accumulator(0)
        acc_t = spark.sparkContext.accumulator(0)
        stats["decoded_blocks"] = acc_d
        stats["total_blocks"] = acc_t
    kernel = _served_local_topk(
        [token_seq], idf, index.cfg.bm25.k1, index.cfg.bm25.b,
        index.avgdl, k, block_skip, with_query_id=False,
        acc_decoded=acc_d, acc_total=acc_t, allowed=allowed,
        min_matches=[mm], blocked=blocked,
        after=((float(after[0]), int(after[1]))
               if after is not None else None))
    blocks = index.serving_df(spark).filter(
        F.col("term").isin(sorted(idf)))
    local = blocks.mapInPandas(kernel, schema=RESULT_SCHEMA)
    wr = index.warm_ranges()
    if wr is not None:
        # partial warm: exact-score the cold (non-resident) ranges on
        # disk and merge — result-identical to a fully-warm serve
        cold = _cold_scores_batch(spark, index, idf,
                                  [token_seq], wr,
                                  min_matches=[mm]) \
            .drop("query_id")
        cold = _apply_after(
            _apply_doc_exclude(_apply_doc_filter(cold, filter_docs),
                               exclude_docs), after)
        local = local.unionByName(cold)
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def bm25_topk_served_batch(spark: SparkSession, index: InvertedIndex,
                           queries: list[str], k: int = 10,
                           block_skip: bool = True,
                           stats: dict | None = None,
                           filter_docs: DataFrame | None = None,
                           filter_broadcast_max: int = 5_000_000,
                           min_match: int | str | None = None,
                           exclude_docs: DataFrame | None = None
                           ) -> DataFrame:
    """Batch form of ``bm25_topk_served``: ALL queries answered in ONE map
    stage over the warm doc-sharded serving layout, instead of one Spark
    action per query (at toy scale each action costs ~0.3s of pure
    scheduling; a 10-query golden batch pays it once, not 10×).

    Each shard decodes the union of the batch's query terms' blocks once,
    then for every query accumulates full per-doc scores in QUERY TOKEN
    order and emits its exact local top-k; the global merge is a window
    rank over Q×k×shards rows. Bitwise-identical per query to
    ``bm25_topk_served`` (same decode, same fold order, same
    (score desc, doc_id asc) total order — gated by
    tests/test_wand.py::test_served_batch_topk_equals_per_query).

    Returns (query_id, doc_id, score), k rows per non-empty query.

    ``filter_docs``/``filter_broadcast_max``: filtered retrieval, same
    contract as ``bm25_topk_served`` (sorted-id mask in the kernel while
    driver-sized; semi-join fallback via the cold exact path beyond the
    cap; applied before top-k either way).

    ``min_match``: minimum-should-match applied to EVERY query in the
    batch; ``"all"`` resolves per query against its own distinct token
    count (conjunctive AND per query)."""
    idf_map = {}
    token_seqs = []
    min_matches = []
    for q in queries:
        idf = query_term_idf(spark, index, q)
        idf_map.update(idf)
        seq = _tokens(q) if idf else []
        token_seqs.append(seq)
        min_matches.append(_resolve_min_match(_tokens(q), min_match)
                           if idf else 1)
    known = sorted(idf_map)
    if not known:
        return spark.createDataFrame([], "query_id int, " + RESULT_SCHEMA)
    allowed, too_big = _collect_filter_ids(filter_docs,
                                           filter_broadcast_max)
    blocked, ex_too_big = _collect_filter_ids(exclude_docs,
                                              filter_broadcast_max)
    if allowed is not None and not len(allowed):
        return spark.createDataFrame([], "query_id int, " + RESULT_SCHEMA)
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("doc_id"))
    if too_big or ex_too_big:
        # non-selective filter: exact per-(query, doc) scores over the
        # on-disk blocks (warm_ranges=∅ ⇒ all ranges), semi-joined with
        # the filter, then the same per-query window top-k
        scores = _apply_doc_exclude(_apply_doc_filter(
            _cold_scores_batch(spark, index, idf_map, token_seqs,
                               frozenset(), min_matches=min_matches),
            filter_docs), exclude_docs)
        return (scores.withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") <= k).drop("__r")
                .orderBy("query_id", F.desc("score"), F.asc("doc_id")))
    acc_d = acc_t = None
    if stats is not None:
        acc_d = spark.sparkContext.accumulator(0)
        acc_t = spark.sparkContext.accumulator(0)
        stats["decoded_blocks"] = acc_d
        stats["total_blocks"] = acc_t
    kernel = _served_local_topk(
        token_seqs, idf_map, index.cfg.bm25.k1, index.cfg.bm25.b,
        index.avgdl, k, block_skip, with_query_id=True,
        acc_decoded=acc_d, acc_total=acc_t, allowed=allowed,
        min_matches=min_matches, blocked=blocked)
    blocks = index.serving_df(spark).filter(F.col("term").isin(known))
    local = blocks.mapInPandas(kernel,
                               schema="query_id int, " + RESULT_SCHEMA)
    wr = index.warm_ranges()
    if wr is not None:
        local = local.unionByName(_apply_doc_exclude(_apply_doc_filter(
            _cold_scores_batch(spark, index, idf_map, token_seqs, wr,
                               min_matches=min_matches),
            filter_docs), exclude_docs))
    return (local.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= k).drop("__r")
            .orderBy("query_id", F.desc("score"), F.asc("doc_id")))


def _block_upper_bound_col(weights: dict[str, float], index: InvertedIndex):
    """Per-block score upper bound as a JVM column expression:
    w_t · (k1+1)·max_tf / (max_tf + k1·(1 − b + b·min_dl/avgdl)).

    Negative weights (ε-fixup idf can be negative when the vocabulary-mean
    raw idf is) are clamped to 0: the (max_tf, min_dl) unit maximizes the
    tf-side, which for a negative weight yields a LOWER bound — pruning on
    it could drop true top-k docs. 0 dominates any negative contribution,
    so the clamped expression stays a valid upper bound (pruning just gets
    looser for such terms); scoring itself never clamps."""
    k1, b = index.cfg.bm25.k1, index.cfg.bm25.b
    avgdl = index.avgdl
    wcol = F.greatest(
        F.element_at(
            F.create_map(*[F.lit(x) for kv in weights.items() for x in kv]),
            F.col("term")),
        F.lit(0.0))
    mt = F.col("max_tf").cast("double")
    denom = mt + k1 * (1 - b + b * F.col("min_dl").cast("double") / avgdl)
    return wcol * (k1 + 1) * mt / denom


def _fine_prune_keep(meta: DataFrame, theta: float) -> DataFrame:
    """Block-level BMW refinement inside surviving ranges.

    Input: block metadata rows (range_id, term, block_id, first_doc_id,
    last_doc_id, ub) of the query's terms in surviving ranges. Per range,
    the per-term upper bound as a function of doc id is piecewise constant
    over that term's block intervals; summing the piecewise functions over
    the merged breakpoints gives every doc's total upper bound. A block is
    decoded only if SOME interval it overlaps has total bound > θ.

    Rank-safe: any doc whose total bound exceeds θ lies in an interval with
    total > θ, so every block containing it survives and its score is
    exact; docs whose bound never exceeds θ cannot displace the k seed
    results that established θ (their partial scores ≤ true ≤ θ).
    """

    def prune(grp):
        import numpy as np
        keep = _hot_block_mask(grp["first_doc_id"].to_numpy(),
                               grp["last_doc_id"].to_numpy(),
                               grp["ub"].to_numpy(), theta)
        return grp.iloc[np.flatnonzero(keep)][["range_id", "term",
                                               "block_id"]]

    return meta.groupBy("range_id").applyInPandas(
        prune, schema="range_id long, term string, block_id int")


def _hot_block_mask(firsts, lasts, ubs, theta):
    """One range's block-level BMW keep-mask (the numpy core of
    ``_fine_prune_keep``, shared with the fused pruned kernel): block i
    survives iff it overlaps a doc interval whose summed per-term upper
    bound is ≥ θ. ``>=`` not ``>``: a doc whose exact score TIES the
    k-th seed score can still win the (score desc, doc_id asc)
    tie-break, so any interval whose bound equals θ must survive for
    strict rank-identity."""
    import numpy as np

    # merged breakpoints: interval j = [pts[j], pts[j+1])
    pts = np.unique(np.concatenate([firsts, lasts + 1]))
    starts = pts[:-1]
    # block i covers interval indices [lo_i, hi_i)
    lo = np.searchsorted(starts, firsts, side="left")
    hi = np.searchsorted(starts, lasts, side="right")
    # total bound per interval via a difference array
    diff = np.zeros(len(starts) + 1)
    np.add.at(diff, lo, ubs)
    np.add.at(diff, hi, -ubs)
    total = np.cumsum(diff[:-1])
    hot = total >= theta
    hot_cum = np.concatenate([[0], np.cumsum(hot)])
    return (hot_cum[hi] - hot_cum[lo]) > 0


def _candidate_blocks_bound(dfs, block_size: int, n_ranges: int) -> int:
    """Upper bound on the posting-block rows of terms with document
    frequencies ``dfs``, from driver-side metadata only. A (term, range)
    group of n postings encodes to ceil(n / block_size) blocks, so a term
    with df postings over R ranges has at most df // block_size + R
    blocks, R ≤ ``n_ranges`` (``InvertedIndex.range_count_bound``); and
    never more than df, since every block holds a posting."""
    return sum(min(df, df // block_size + n_ranges) for df in dfs)


def _topk_result(spark: SparkSession, pairs, k: int) -> DataFrame:
    """The first k driver-side (doc_id, score) pairs in the engine's total
    order (score DESC, doc_id ASC) as a result DataFrame. Built from a
    pandas frame through Arrow, which makes a local relation: collecting
    it launches no Spark job, where a list of tuples costs a job on a
    Python worker. Scores pass through as float64, bit for bit."""
    import numpy as np
    top = sorted(pairs, key=lambda t: (-t[1], t[0]))[:k]
    return spark.createDataFrame(pd.DataFrame({
        "doc_id": np.array([d for d, _ in top], dtype=np.int64),
        "score": np.array([s for _, s in top], dtype=np.float64)}),
        RESULT_SCHEMA)


def bm25_topk_pruned(spark: SparkSession, index: InvertedIndex, query: str,
                     k: int = 10, seed_ranges: int = 8,
                     min_ranges_to_prune: int = 1024,
                     fine_prune: bool = True,
                     stats: dict | None = None,
                     filter_docs: DataFrame | None = None,
                     min_match: int | str | None = None,
                     exclude_docs: DataFrame | None = None,
                     after: tuple[float, int] | None = None) -> DataFrame:
    """Rank-identical to ``bm25_topk_exact``; skips doc-ranges whose summed
    per-term upper bounds cannot reach the k-th best score. Falls through
    to the exact single-action path when the query touches few ranges
    (pruning's extra jobs only pay off at scale — a head term at 10^12
    docs touches ~10^8 ranges).

    ``filter_docs``: filtered retrieval, same before-top-k contract as
    the exact/served paths. Rank-safety under pruning requires the
    filter INSIDE the θ seeding, not just at the end: θ must be the k-th
    best FILTERED score (an unfiltered θ can exceed every allowed doc's
    score and prune ranges holding true filtered top-k docs). With θ
    seeded filtered, the range/interval bounds — computed over ALL docs,
    hence upper bounds for the allowed subset — keep the usual skip
    argument (tests/test_filtered.py::test_pruned_filtered).

    ``min_match``: minimum-should-match, same contract and the same
    θ-seeding argument as ``filter_docs`` (θ is the k-th best QUALIFYING
    score; bounds over all docs upper-bound the qualifying subset). A
    doc's distinct-matched-term count is complete within its range, so
    applying the constraint separately to the seed and survivor passes
    is exact.

    ``exclude_docs``: must-NOT filter, same θ-seeding argument (excluding
    docs only lowers θ; bounds over all docs stay upper bounds).

    ``after``: search-after pagination cursor (``_apply_after``) —
    applied inside the θ seeding and both scoring passes, so θ is the
    k-th best POST-CURSOR score (same rank-safety argument as the
    other before-top-k constraints).

    ``stats`` (optional dict) receives ``decoded_blocks`` (an
    accumulator, read after the action) and ``pruning_engaged``; an
    engaged query adds its ``tier`` ("gathered", "distributed" or
    "lazy") and, outside LAZY, ``touched_ranges``."""
    qtf = _qtf(query)
    if not qtf:
        return _topk_result(spark, [], k)
    # ONE lookup returns both the weights (idf) and the tier choice's input
    # (df), warm index or not: the warm idf cache holds the same
    # term_stats floats, so one code path gives identical values
    term_rows = (_term_stats_pruned(spark, index, sorted(qtf))
                 .select("term", "idf", "df").collect())
    idf = {r["term"]: r["idf"] for r in term_rows}
    if not idf:
        return _topk_result(spark, [], k)
    token_seq = _tokens(query)
    mm = _resolve_min_match(token_seq, min_match)
    # bounds use the FULL per-term weight (idf·qtf: a term's maximum total
    # contribution incl. query multiplicity); scoring uses single-idf
    # partials folded in query-token order (see _fold_scores)
    weights = {t: idf[t] * qtf[t] for t in idf}
    blocks = _query_blocks(spark, index, sorted(weights)).withColumn(
        "ub", _block_upper_bound_col(weights, index))
    # corpus-level range count — a driver-side constant, no Spark action.
    # (A query's terms can only touch a subset of these; if the corpus
    # itself has few ranges, pruning machinery can't win.)
    n_ranges = max(1, index.n_docs >> index.cfg.index.range_shift)
    acc = _mk_decode_acc(spark, stats)
    if n_ranges < min_ranges_to_prune:
        if stats is not None:
            stats["pruning_engaged"] = False
        return _topk(_apply_doc_exclude(_apply_doc_filter(
            _score_blocks_closure(blocks.drop("ub"), index, idf,
                                  acc_blocks=acc),
            filter_docs), exclude_docs), token_seq, k, min_match=mm,
            after=after)
    if stats is not None:
        stats["pruning_engaged"] = True

    # Constraint masks for the fused rest-pass kernel: driver-sized sets
    # ship as sorted id arrays (the served-path mechanics); beyond the
    # cap the honest fallback is the exact path's join-based plan (the
    # same degradation rule as bm25_topk_served).
    allowed, too_big = _collect_filter_ids(filter_docs, 5_000_000)
    blocked, ex_too_big = _collect_filter_ids(exclude_docs, 5_000_000)
    if too_big or ex_too_big:
        if stats is not None:
            stats["pruning_engaged"] = False
        return _topk(_apply_doc_exclude(_apply_doc_filter(
            _score_blocks_closure(blocks.drop("ub"), index, idf,
                                  acc_blocks=acc),
            filter_docs), exclude_docs), token_seq, k, min_match=mm,
            after=after)
    if allowed is not None and not len(allowed):
        return _topk_result(spark, [], k)

    # EXECUTION SHAPE — three tiers, picked by candidate size. Jobs per
    # cold query as measured on a 2k-doc index (constraint masks add
    # their own collects; a two-level groupBy or a shuffle-fed top-k runs
    # as several jobs under adaptive execution):
    #
    #   GATHERED (2 jobs) — the query's candidate blocks are
    #     coordinator-sized: their df-derived upper bound
    #     (``_candidate_blocks_bound``, from the lookup above) is at most
    #     _PRUNED_LOCAL_BLOCKS_MAX rows. The term_stats lookup + ONE Arrow
    #     fetch of the still-encoded blocks, then the SAME block-max kernel
    #     the warm serving path runs executes on the driver — global WAND:
    #     ranges visited in descending bound order, θ from the best
    #     ranges' exact scores, block-level BMW refinement
    #     (``fine_rows_map``), remaining ranges skipped. The result is a
    #     local relation (``_topk_result``). This is what a search
    #     engine's query coordinator does once candidates are pruned to
    #     driver size.
    #   DISTRIBUTED (8 jobs: lookup, per-range bounds, seed, kernel) —
    #     candidate blocks too big to gather (head terms): driver-side
    #     per-range bounds (≤ _PRUNED_DRIVER_RANGES_MAX rows of metadata)
    #     pick seed ranges; a distributed seed job sets θ; the survivors
    #     run the kernel re-sharded by range_id (doc-complete tasks),
    #     survivor ids pushed down as plain filters.
    #   LAZY (12 jobs) — even the range metadata exceeds the driver envelope
    #     (10^8 ranges at 10^12 docs): the fully-lazy broadcast-join
    #     plan, no driver materialization of blocks or bounds.
    kernel_kwargs = dict(
        k1=index.cfg.bm25.k1, b=index.cfg.bm25.b,
        avgdl=index.avgdl, k=k, block_skip=True, with_query_id=False,
        acc_decoded=acc, allowed=allowed, min_matches=[mm],
        blocked=blocked,
        after=((float(after[0]), int(after[1]))
               if after is not None else None))
    kcols = ["term", "range_id", "n", "first_doc_id", "last_doc_id",
             "max_tf", "min_dl", "doc_bytes", "tf_bytes", "dl_bytes"]
    n_candidates = _candidate_blocks_bound(
        [r["df"] for r in term_rows], index.cfg.index.block_size,
        index.range_count_bound)
    if n_candidates <= _PRUNED_LOCAL_BLOCKS_MAX:
        # ---- GATHERED tier: fetch encoded blocks, prune locally
        pdf = blocks.select(*kcols).toPandas()
        if stats is not None:
            stats["tier"] = "gathered"
            stats["touched_ranges"] = int(pdf["range_id"].nunique())
        kernel = _served_local_topk([token_seq], idf, fine_prune=fine_prune,
                                    **kernel_kwargs)
        return _topk_result(
            spark, [(int(d), float(s)) for f in kernel(iter([pdf]))
                    for d, s in zip(f["doc_id"], f["score"])], k)

    # Per-range upper bound: Σ_t max over t's blocks in the range.
    range_bounds = (blocks.groupBy("range_id", "term")
                    .agg(F.max("ub").alias("tub"))
                    .groupBy("range_id")
                    .agg(F.sum("tub").alias("range_ub")))
    if n_ranges <= _PRUNED_DRIVER_RANGES_MAX:
        # ---- DISTRIBUTED tier: seed job → θ → survivors via kernel
        rb_rows = range_bounds.collect()
        if not rb_rows:
            return _topk_result(spark, [], k)
        if stats is not None:
            stats["tier"] = "distributed"
            stats["touched_ranges"] = len(rb_rows)
        order = sorted(rb_rows,
                       key=lambda r: (-r["range_ub"], r["range_id"]))
        seed = [r["range_id"] for r in order[:seed_ranges]]
        seed_blocks = blocks.filter(F.col("range_id").isin(seed)) \
            .drop("ub")
        seed_scored = _topk(
            _apply_doc_exclude(_apply_doc_filter(
                _score_blocks_closure(seed_blocks, index, idf,
                                      acc_blocks=acc), filter_docs),
                exclude_docs),
            token_seq, k, min_match=mm, after=after).collect()
        theta = (seed_scored[k - 1]["score"]
                 if len(seed_scored) >= k else float("-inf"))
        # ≥ with an ulp-scale slack, not >: a range/interval whose bound
        # TIES θ can hold a doc that ties the k-th seed score and wins
        # the doc_id asc tie-break — and the bound arithmetic rounds in
        # a different order than the θ computation, so an exact tie can
        # evaluate to θ−ε. Caught at 800k docs. Keeping ε-border ranges
        # costs pruning, never correctness.
        theta_eff = theta - 1e-9 * abs(theta) - 1e-12
        seed_set = set(seed)
        survivors = [r["range_id"] for r in rb_rows
                     if r["range_ub"] >= theta_eff
                     and r["range_id"] not in seed_set]
        rest_rows: list = []
        if survivors:
            kernel = _served_local_topk(
                [token_seq], idf,
                init_theta=(theta if theta > float("-inf") else None),
                fine_prune=fine_prune and theta > float("-inf"),
                **kernel_kwargs)
            rest_rows = (blocks.filter(F.col("range_id").isin(survivors))
                         .select(*kcols)
                         .repartition("range_id")
                         .mapInPandas(kernel, schema=RESULT_SCHEMA)
                         .collect())
        # driver-side merge in the engine's exact total order — ≤
        # k·(tasks+1) rows, the same selection TakeOrderedAndProject
        # performed
        return _topk_result(
            spark, [(r["doc_id"], r["score"])
                    for r in seed_scored + rest_rows], k)

    # ---- LAZY tier (range metadata beyond the driver envelope) ----
    if stats is not None:
        stats["tier"] = "lazy"
    range_bounds = range_bounds.cache()
    try:
        seed = [r["range_id"] for r in
                range_bounds.orderBy(F.desc("range_ub"), F.asc("range_id"))
                .limit(seed_ranges).collect()]
        if not seed:
            return _topk_result(spark, [], k)
        seed_blocks = blocks.filter(F.col("range_id").isin(seed)) \
            .drop("ub")
        seed_scored = _topk(
            _apply_doc_exclude(_apply_doc_filter(
                _score_blocks_closure(seed_blocks, index, idf,
                                      acc_blocks=acc), filter_docs),
                exclude_docs),
            token_seq, k, min_match=mm, after=after).collect()
        theta = (seed_scored[k - 1]["score"]
                 if len(seed_scored) >= k else float("-inf"))
        theta_eff = theta - 1e-9 * abs(theta) - 1e-12
        survivor_ranges = (range_bounds
                           .filter((F.col("range_ub") >= theta_eff)
                                   & ~F.col("range_id").isin(seed)))
        kernel = _served_local_topk(
            [token_seq], idf,
            init_theta=(theta if theta > float("-inf") else None),
            fine_prune=fine_prune and theta > float("-inf"),
            **kernel_kwargs)
        rest = (blocks
                .join(F.broadcast(survivor_ranges.select("range_id")),
                      "range_id")
                .select(*kcols)
                .repartition("range_id")
                .mapInPandas(kernel, schema=RESULT_SCHEMA))
        seed_df = _topk_result(
            spark, [(r["doc_id"], r["score"]) for r in seed_scored], k)
        return (seed_df.unionByName(rest)
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
    finally:
        range_bounds.unpersist()
