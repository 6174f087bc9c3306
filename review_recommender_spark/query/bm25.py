"""BM25 top-k query answering over the term-partitioned posting index.

Replaces the reference's full-corpus scan (``bm25.get_scores`` computes a
dense score for every document on every query — app/test.py:168-173, a scan
the comment at :169 wrongly claims is candidates-only; SURVEY.md quirk Q2)
with ONE scoring kernel behind every path, ``_served_local_topk``. It reads
encoded posting blocks from a source whose every partition holds whole doc
ranges (``_scoring_blocks``), decodes them in one varint pass per column,
adds each doc's per-term partials in QUERY TOKEN ORDER (BM25Okapi's float
addition order, so every path returns bitwise-identical scores), applies
the before-top-k constraints (filter, exclude, min_match, after) and emits
either its local top-k, with block-max skipping, or every scored doc
(``k=None``). The paths are thin executors over it:

  exact path   : the query's idf (warm driver cache, else one bucket-pruned
                 lookup job), then the kernel in all-scores mode over
                 ``_scoring_blocks`` — on a cold index the query terms'
                 on-disk blocks, repartitioned by range_id, so what crosses
                 the one shuffle is encoded blocks, not decoded postings —
                 then the filter/exclude joins, the boost, the after cursor
                 and a TakeOrderedAndProject.

  served path  : the kernel's local top-k per partition and a k×partitions
                 merge. On a warm index that is one map stage over the
                 resident doc-sharded layout: no shuffle, no join; filter
                 and exclude sets ship as sorted id masks while
                 driver-sized. A partial warm adds the cold ranges' on-disk
                 blocks to the same stage.

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
                 Below ``min_ranges_to_prune`` ranges it runs the exact
                 path (the pruning machinery costs extra Spark jobs that
                 only pay off at scale).
                 Job budget: one term_stats lookup returns each query
                 term's (idf, df). When the df-derived bound on the
                 candidate block count (``_candidate_blocks_bound``: per
                 term min(df, df // block_size + ranges)) fits the
                 driver cap, ONE more job fetches the encoded blocks and
                 the kernel runs on the driver — 2 jobs per cold query,
                 the result a local relation (no job to collect it).
                 Larger candidate sets first collect per-range bounds,
                 then run a seed job and a distributed kernel job (see the
                 tier comment in ``bm25_topk_pruned``).

The hybrid search BM25 stage (query/search.py) and dis-max
(query/bm25f.py) run the kernel in all-scores mode too. The independent
reference for all of them is the numpy oracle (oracle/bm25_oracle.py,
tests/test_oracle_matrix.py).

Scoring formula per SURVEY.md §2.12 (BM25Okapi semantics): repeated query
tokens weight a term by its query multiplicity; unknown terms contribute 0.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize_k2_py
from ..index.build import SERVING_COLS, InvertedIndex, term_bucket_py
from ..index.codec import decode_block, decode_doc_ids_bulk, varint_decode

RESULT_SCHEMA = "doc_id long, score double"
BATCH_SCHEMA = "query_id int, " + RESULT_SCHEMA

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
    """QueryLike → the scoring token sequence (order preserved — scores
    add up in query token order by spec)."""
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


def _no_rows(k: int) -> bool:
    """True when a top-k call has nothing to compute (k == 0): every entry
    point then returns an empty result before running any job. A negative
    k is an error."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    return k == 0


def _empty(spark: SparkSession, with_query_id: bool = False) -> DataFrame:
    """An empty result. A one-row local relation under ``limit(0)``: the
    optimizer folds it to an empty local relation, so collecting it
    launches no job (an empty list or frame would cost one)."""
    if with_query_id:
        return spark.createDataFrame([(0, 0, 0.0)], BATCH_SCHEMA).limit(0)
    return spark.createDataFrame([(0, 0.0)], RESULT_SCHEMA).limit(0)


def _term_stats_pruned(spark: SparkSession, index: InvertedIndex,
                       terms: list[str]) -> DataFrame:
    buckets = sorted({term_bucket_py(t, index.cfg.index.term_buckets)
                      for t in terms})
    return (index.term_stats(spark)
            .filter(F.col("term_bucket").isin(buckets)
                    & F.col("term").isin(terms)))


def query_term_idf(spark: SparkSession, index: InvertedIndex,
                   query) -> dict[str, float]:
    """Driver-side {term: idf} for the query's unique known terms (warm
    idf cache when available, else a bucket-pruned lookup job). A term
    list looks up a whole batch's terms in one job."""
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
                 keys: list[str]) -> DataFrame:
    """Per-key score = LEFT FOLD over the query token sequence (repeats
    included) of the per-(key, term) partials — the bit-exact float
    addition order of BM25Okapi's ``get_scores`` (score += per token).
    Spark's sum() aggregate adds in partition-arrival order, which is
    nondeterministic; with mathematically-tied scores that noise reorders
    the tie-break between runs. The fold is pure JVM (map_from_entries +
    higher-order aggregate). Only BM25F uses it: its partials come from a
    JVM field combine, not from posting blocks, so the block kernel does
    not apply."""
    toks = F.array(*[F.lit(t) for t in token_seq])
    g = partials.groupBy(*keys).agg(
        F.map_from_entries(F.collect_list(F.struct("term", "score")))
        .alias("__pm"))
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


def _scoring_blocks(spark: SparkSession, index: InvertedIndex,
                    terms: list[str]) -> DataFrame:
    """The posting blocks of ``terms`` (``SERVING_COLS``) the scoring
    kernel reads, in partitions that each hold whole doc ranges — a doc's
    postings all live in its range, so each partition computes complete
    scores for its docs:

      * warm index: the resident doc-sharded serving layout (looked up,
        never warmed here) — no exchange;
      * cold index: the on-disk blocks, repartitioned by range_id;
      * partial warm (``warm(ranges=...)``): the resident ranges unioned
        with the on-disk blocks of every other range. The resident set is
        excluded with an isin literal — fine for the head-shard warming
        the memory envelope prescribes (10-10^4 hot ranges); a fleet
        warming millions of ranges would swap this for an anti-join."""
    serving, warm = index.serving_df(), index.warm_ranges()
    if serving is not None:
        resident = serving.filter(F.col("term").isin(sorted(terms)))
        if warm is None:
            return resident
    on_disk = _query_blocks(spark, index, terms)
    if warm:
        on_disk = on_disk.filter(~F.col("range_id").isin(sorted(warm)))
    on_disk = on_disk.select(*SERVING_COLS).repartition("range_id")
    return on_disk if serving is None else resident.unionByName(on_disk)


def _apply_after(scored: DataFrame, after) -> DataFrame:
    """Search-after pagination cursor: keep only docs STRICTLY after
    ``after = (score, doc_id)`` in the engine's total result order
    (score DESC, doc_id ASC). The cursor is the last row of the previous
    page (UNROUNDED score — scores are bitwise-identical across paths,
    so the float equality is well-defined), making deep paging O(page)
    instead of O(offset + page): no re-materialization of skipped rows,
    and under the kernel's local top-k θ becomes the k-th best
    POST-CURSOR score (rank-safe: dropping docs only lowers θ, and
    block bounds over all docs stay upper bounds — the same argument as
    ``filter_docs``/``exclude_docs``)."""
    if after is None:
        return scored
    s_a, d_a = float(after[0]), int(after[1])
    return scored.filter(
        (F.col("score") < F.lit(s_a))
        | ((F.col("score") == F.lit(s_a)) & (F.col("doc_id") > F.lit(d_a))))


def _cursor(after) -> tuple[float, int] | None:
    return (float(after[0]), int(after[1])) if after is not None else None


def _topk(scored: DataFrame, k: int,
          boost_docs: DataFrame | None = None,
          after=None) -> DataFrame:
    """Top-k of per-doc (doc_id, score) rows in the engine's total order
    (score DESC, doc_id ASC) — planned as TakeOrderedAndProject."""
    if boost_docs is not None:
        # static per-doc score multiplier (function-score / Lucene doc
        # boost): applied to the full scores, BEFORE top-k selection, so
        # the boost reorders the ranking, missing docs boost 1.0. The left
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


def _block_accs(spark: SparkSession, stats: dict | None) -> dict:
    """Kernel block counters as keyword arguments (``acc_decoded``,
    ``acc_total``), published in ``stats`` as ``decoded_blocks`` and
    ``total_blocks`` (accumulators, read after the action); none when
    ``stats`` is None."""
    if stats is None:
        return {}
    sc = spark.sparkContext
    stats["decoded_blocks"] = sc.accumulator(0)
    stats["total_blocks"] = sc.accumulator(0)
    return {"acc_decoded": stats["decoded_blocks"],
            "acc_total": stats["total_blocks"]}


def _apply_doc_exclude(scored: DataFrame,
                       exclude_docs: DataFrame | None) -> DataFrame:
    """NEGATIVE filtered retrieval: drop documents present in
    ``exclude_docs`` (any DataFrame with a ``doc_id`` column) BEFORE
    top-k — the `-term` / must-not side of a boolean query. A LEFT ANTI
    join on the per-doc scores: the exclusion set is typically another
    term's posting docs (bounded by that term's df), which Catalyst
    broadcasts when small; 'all docs except X' never materializes."""
    if exclude_docs is None:
        return scored
    return scored.join(exclude_docs.select("doc_id"), "doc_id",
                       "left_anti")


def _apply_doc_filter(scored: DataFrame,
                      filter_docs: DataFrame | None) -> DataFrame:
    """Restrict per-doc scores to documents present in ``filter_docs``
    (any DataFrame with a ``doc_id`` column — typically a metadata scan
    with the predicate pushed down to parquet, e.g.
    ``docs.filter(F.col("lang") == "en").select("doc_id")``).

    A LEFT SEMI join BEFORE top-k: filtered retrieval must drop excluded
    docs before they occupy top-k slots (post-filtering a top-k
    underfills the result). Score values are untouched, so filtered
    results stay bitwise-comparable across execution paths. Catalyst
    broadcasts the filtered id side when it is small; a non-selective
    filter degrades to a doc_id-keyed shuffle join — the honest cost of
    filtering at 10^12 docs without a filter-aligned partition layout."""
    if filter_docs is None:
        return scored
    return scored.join(filter_docs.select("doc_id"), "doc_id",
                       "left_semi")


def _collect_filter_ids(filter_docs: DataFrame | None, cap: int):
    """Driver-side sorted unique doc_id array for the kernel's masks, or
    None when the filter survivor set exceeds ``cap`` (the caller then
    falls back to the join-based plan). The limit-(cap+1) probe bounds
    driver memory: at the default cap (5M ids = 40 MB int64) this is the
    same envelope as the warm idf cache."""
    if filter_docs is None:
        return None, False
    # Arrow toPandas, not collect(): at the default cap (5M ids) Row
    # objects would cost ~GBs of driver heap; the Arrow path lands the
    # column as one int64 block (~40 MB)
    pdf = (filter_docs.select("doc_id").distinct()
           .limit(cap + 1).toPandas())
    if len(pdf) > cap:
        return None, True          # too big to broadcast — fall back
    ids = np.sort(pdf["doc_id"].to_numpy(dtype=np.int64))
    return ids, False


class _Masks(NamedTuple):
    """The kernel's doc masks (sorted int64 id arrays, None when the
    constraint is absent) — its ``allowed``/``blocked`` arguments."""
    allowed: np.ndarray | None
    blocked: np.ndarray | None

    @property
    def empty(self) -> bool:
        """True when the filter admits no doc: the result is empty."""
        return self.allowed is not None and not len(self.allowed)


def _doc_masks(filter_docs: DataFrame | None,
               exclude_docs: DataFrame | None, cap: int) -> _Masks | None:
    """Collect the filter and exclude sets as kernel masks, or None when
    either holds more than ``cap`` ids — the caller then runs the join
    plan (``_apply_doc_filter``/``_apply_doc_exclude``)."""
    allowed, too_big = _collect_filter_ids(filter_docs, cap)
    blocked, ex_too_big = _collect_filter_ids(exclude_docs, cap)
    if too_big or ex_too_big:
        return None
    return _Masks(allowed, blocked)


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
        for pdf in it:
            if len(pdf):
                # tf/dl never decoded
                yield pd.DataFrame({"doc_id": decode_doc_ids_bulk(
                    pdf["n"].to_numpy(), pdf["doc_bytes"])})

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
    doc's ranking score up to float addition order (the scoring kernel
    adds in query-token order; tests assert exact equality via the same
    arithmetic).

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


def _served_local_topk(token_seqs: list[list[str]], idf_map: dict,
                       k1: float, b: float, avgdl: float, k: int | None,
                       block_skip: bool = False,
                       with_query_id: bool = False,
                       acc_decoded=None, acc_total=None,
                       allowed=None, min_matches=None, blocked=None,
                       after=None, init_theta=None, fine_prune=False):
    """The BM25 scoring kernel behind every block-scoring path: a
    ``mapInPandas`` function over posting-block rows (``SERVING_COLS``)
    whose partition holds WHOLE doc ranges (``_scoring_blocks``). Per
    query it decodes the query terms' blocks (one varint pass per column),
    adds every doc's per-term partials in QUERY TOKEN order — the float
    addition order of BM25Okapi, so all paths agree bit for bit — applies
    the doc constraints below, and emits (query_id?, doc_id, score) rows.

    ``k=None`` (only with ``block_skip=False``): emit EVERY scored doc
    that passes the constraints — the all-scores mode of the exact path,
    the hybrid BM25 stage and dis-max. An int ``k`` emits the partition's
    local top-k in (score desc, doc_id asc) order.

    ``block_skip``: block-max skipping. Before decoding anything, every
    block row's idf-free unit upper bound is computed from its
    (max_tf, min_dl) metadata (the same bound expression as
    ``_block_upper_bound_col``), ranges are visited in descending summed-
    bound order per query, and a range whose bound cannot beat the local
    θ (k-th best score so far, tie-safe ulp slack as in
    ``bm25_topk_pruned``) is never decoded — nor is any range after it,
    since bounds only fall and θ only rises. This is what keeps warm
    serving honest for head terms at 10^9+ docs: a shard whose best
    possible doc can't crack its own local top-k stops decoding after the
    few hottest ranges instead of walking every posting block.

    Rank-safety → BITWISE identity (tests/test_wand.py::
    test_served_block_skip_bitwise): a doc's complete postings live in
    one range of one partition, so skipping a range drops whole documents
    whose total score is strictly below θ's slack margin — never a single
    term's contribution — and every surviving doc's score is accumulated
    in QUERY TOKEN order over exactly the same per-block float partials
    as the unskipped kernel.

    ``min_matches`` (optional list aligned with ``token_seqs``):
    per-query minimum-should-match. A doc's distinct-matched-term count
    is complete within its range, so the mask is applied per range before
    the running top-k/θ update — θ is the k-th best QUALIFYING score, and
    block-max skipping stays rank-safe for the same reason as with
    ``allowed``: a range bound over all docs upper-bounds the qualifying
    subset.

    ``acc_decoded``/``acc_total`` are optional Spark accumulators
    counting decoded vs input block rows (task retries may double-count;
    observability only, not part of any result).

    ``allowed`` (optional SORTED unique int64 numpy array): FILTERED
    retrieval — only these doc_ids may enter the result. The mask is
    applied to each range's scored docs BEFORE the running top-k/θ
    update, so θ is the k-th best FILTERED score and the result is the
    true top-k of the filtered corpus. Block-max skipping stays rank-safe
    under the mask: a range bound is an upper bound over ALL its docs,
    hence also over the allowed subset — skipping only gets more eager,
    never wrong. Ships to executors via closure capture (same Spark
    broadcast mechanics as the idf map); callers cap its size
    (``_doc_masks``) and fall back to the join plan beyond the cap.

    ``blocked`` (optional SORTED unique int64 numpy array): the NEGATIVE
    mask — excluded docs never enter the result (the `-term` side of a
    boolean query). Same θ/bound rank-safety as ``allowed``: dropping
    docs only lowers θ, and bounds over all docs stay upper bounds.

    ``after`` (optional (score, doc_id) cursor, single-query callers
    only): search-after pagination — docs at or before the cursor in
    (score DESC, doc_id ASC) order never enter the result, so θ is the
    k-th best POST-CURSOR score. Same rank-safety argument as
    ``allowed``/``blocked``.

    ``init_theta`` (optional float, single-query cold-pruned callers):
    a GLOBAL θ established by an exact seed pass (``bm25_topk_pruned``)
    — skipping may then engage before the local top-k fills (k results
    at ≥ θ already exist globally), and θ only ever rises above it.

    ``fine_prune``: block-level BMW refinement INSIDE each visited
    range: decode only blocks overlapping a doc interval whose summed
    clamped per-term bound reaches the current θ (``_hot_block_mask``).
    Rank-safe under partial scoring because every kept contribution is
    bounded by its term's CLAMPED (≥ 0) bound, so a partially-scored
    doc's total never exceeds its interval bound < θ — and hot-interval
    docs keep every block, hence exact scores (the
    ``_fine_prune_keep`` argument, applied locally with a rising θ)."""

    def local_topk(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = [pdf for pdf in it if len(pdf)]
        if not frames:
            return
        pdf = frames[0] if len(frames) == 1 \
            else pd.concat(frames, ignore_index=True)
        terms_col = pdf["term"].to_numpy()
        ns_col = pdf["n"].to_numpy(dtype=np.int64)
        dbs = pdf["doc_bytes"].to_numpy()
        tbs = pdf["tf_bytes"].to_numpy()
        lbs = pdf["dl_bytes"].to_numpy()
        nrows = len(pdf)
        if acc_total is not None:
            acc_total.add(nrows)
        tcodes, tuniq = pd.factorize(terms_col)
        row_w = np.array([idf_map[t] for t in terms_col])

        if block_skip:
            rids_col = pdf["range_id"].to_numpy(dtype=np.int64)
            if fine_prune:
                first_col = pdf["first_doc_id"].to_numpy(dtype=np.int64)
                last_col = pdf["last_doc_id"].to_numpy(dtype=np.int64)
            # idf- and qtf-free unit bound per block row: (k1+1)·mtf /
            # (mtf + k1·(1 − b + b·mdl/avgdl)); per (range, term) the bound
            # is the max over that term's blocks in the range
            mtf = pdf["max_tf"].to_numpy(dtype=np.float64)
            mdl = pdf["min_dl"].to_numpy(dtype=np.float64)
            unit_ub = (k1 + 1) * mtf / (mtf + k1 * (1 - b + b * mdl / avgdl))
            # group rows by (range, term): stable lexsort keeps each
            # group's row indices in ascending order
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
        else:
            by_term = {t: np.flatnonzero(tcodes == j)
                       for j, t in enumerate(tuniq)}

        decoded: dict[int, tuple] = {}

        def decode_bulk(sel: np.ndarray) -> None:
            """Decode MANY block rows in one varint pass per column —
            bitwise-identical per row to decode_block + the per-block
            score expression (float ops are elementwise)."""
            nsel = ns_col[sel]
            total = int(nsel.sum())
            d_all = decode_doc_ids_bulk(nsel, dbs[sel])
            tf = varint_decode(b"".join(tbs[sel]),
                               total).astype(np.float64)
            ln = varint_decode(b"".join(lbs[sel]),
                               total).astype(np.float64)
            denom = tf + k1 * (1 - b + b * ln / avgdl)
            s_all = np.repeat(row_w[sel], nsel) * (tf * (k1 + 1) / denom)
            ends = np.cumsum(nsel)
            for i, a, e in zip(sel, ends - nsel, ends):
                decoded[int(i)] = (d_all[a:e], s_all[a:e])
            if acc_decoded is not None:
                acc_decoded.add(len(sel))

        def accum(seq: list[str], qtf: dict, mm: int,
                  rows_map: dict) -> tuple:
            """(uniq_docs, totals) of one query over the block rows in
            ``rows_map`` ({term: row-index array}). A (term, doc) posting
            lives in exactly one block, so a term's concatenated block
            slices hold each doc at most once: one vectorized
            ``totals[pos] += s`` per query TOKEN (repeats included, in
            query order) is bitwise-equal to adding block by block."""
            need = [int(i) for t in qtf for i in rows_map.get(t, ())
                    if int(i) not in decoded]
            if need:
                decode_bulk(np.asarray(need, dtype=np.int64))
            per_term = {}
            for t in qtf:
                ix = rows_map.get(t, ())
                if len(ix):
                    parts = [decoded[int(i)] for i in ix]
                    per_term[t] = (np.concatenate([d for d, _ in parts]),
                                   np.concatenate([s for _, s in parts]))
            if not per_term:
                return np.empty(0, dtype=np.int64), np.empty(0)
            uniq = np.unique(np.concatenate(
                [d for d, _ in per_term.values()]))
            totals = np.zeros(len(uniq))
            for tok in seq:
                got = per_term.get(tok)
                if got is not None:
                    totals[np.searchsorted(uniq, got[0])] += got[1]
            if mm > 1:
                # distinct matched terms per doc: +1 per distinct query
                # term whose postings hold the doc
                nmatch = np.zeros(len(uniq), dtype=np.int32)
                for d, _ in per_term.values():
                    nmatch[np.searchsorted(uniq, d)] += 1
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
            mm = min_matches[qi] if min_matches is not None else 1
            if not block_skip:
                # every range is visited anyway: accumulate all of them
                # at once and take ONE top-k — per doc the additions (its
                # own range's blocks, query-token order) and the
                # (score desc, doc_id asc) selection are identical to the
                # incremental per-range merge
                run_d, run_s = apply_masks(*accum(seq, qtf, mm, by_term))
                if k is not None:
                    sel = np.lexsort((run_d, -run_s))[:k]
                    run_d, run_s = run_d[sel], run_s[sel]
            else:
                # per-range summed bound for THIS query (weight = idf·qtf:
                # a term's max total contribution incl. query
                # multiplicity). NEGATIVE idf (the ε-fixup ε·avg_idf is
                # negative when the vocabulary-mean raw idf is —
                # degenerate/templated corpora) is clamped to 0 in the
                # BOUND only: the unit bound assumes weight ≥ 0 (it
                # maximizes tf/minimizes dl, which for a negative weight
                # is the MINIMUM), so idf·unit would be a lower bound and
                # skipping could drop true top-k docs. A negative-idf
                # term's true contribution is always < 0, so 0 is a valid
                # (if loose) upper bound; scoring is unchanged.
                rb: dict[int, float] = {}
                for (rid, term), mu in max_unit.items():
                    c = qtf.get(term)
                    if c:
                        rb[rid] = rb.get(rid, 0.0) \
                            + max(idf_map[term], 0.0) * c * mu
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
                    if fine_prune and theta > float("-inf"):
                        rows_map = fine_rows_map(rid, qtf, theta)
                    else:
                        rows_map = {t: by_range_term[(rid, t)] for t in qtf
                                    if (rid, t) in by_range_term}
                    uniq, totals = apply_masks(
                        *accum(seq, qtf, mm, rows_map))
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


def _scores(spark: SparkSession, index: InvertedIndex,
            token_seqs: list[list[str]], idf: dict, k: int | None = None,
            with_query_id: bool = False, **kernel_kw) -> DataFrame:
    """The kernel over ``_scoring_blocks`` for the terms of ``idf``:
    (query_id, doc_id, score) rows (query_id only ``with_query_id``) —
    every scored doc when ``k`` is None, else each partition's local
    top-k. ``kernel_kw`` passes through to ``_served_local_topk``."""
    kernel = _served_local_topk(
        token_seqs, idf, index.cfg.bm25.k1, index.cfg.bm25.b, index.avgdl,
        k, with_query_id=with_query_id, **kernel_kw)
    return (_scoring_blocks(spark, index, sorted(idf))
            .mapInPandas(kernel, schema=BATCH_SCHEMA if with_query_id
                         else RESULT_SCHEMA))


def _exact_topk(spark: SparkSession, index: InvertedIndex,
                token_seq: list[str], idf: dict, k: int,
                stats: dict | None = None,
                filter_docs: DataFrame | None = None, mm: int = 1,
                exclude_docs: DataFrame | None = None,
                boost_docs: DataFrame | None = None,
                after=None) -> DataFrame:
    """The exact executor, given the query's looked-up idf: every scored
    doc from the kernel, then the join-based constraints, boost, cursor
    and top-k (see ``bm25_topk_exact``)."""
    scored = _scores(spark, index, [token_seq], idf, min_matches=[mm],
                     **_block_accs(spark, stats))
    scored = _apply_doc_exclude(_apply_doc_filter(scored, filter_docs),
                                exclude_docs)
    return _topk(scored, k, boost_docs=boost_docs, after=after)


def bm25_topk_exact(spark: SparkSession, index: InvertedIndex, query,
                    k: int = 10, stats: dict | None = None,
                    filter_docs: DataFrame | None = None,
                    min_match: int | str | None = None,
                    exclude_docs: DataFrame | None = None,
                    boost_docs: DataFrame | None = None,
                    after: tuple[float, int] | None = None) -> DataFrame:
    """Exact BM25 top-k: the kernel scores every doc matching a query
    term (on a cold index after one range_id repartition of the encoded
    blocks), then a TakeOrderedAndProject picks the top k.
    ``filter_docs`` (optional DataFrame with a ``doc_id`` column)
    restricts ranking to those documents — applied BEFORE top-k
    selection (see ``_apply_doc_filter``), so the result is the true
    top-k of the filtered corpus, scored identically to the unfiltered
    path.

    ``min_match``: minimum-should-match — ``"all"`` for conjunctive AND
    semantics, an int m ≥ 1 to require m distinct matched query terms
    (see ``_resolve_min_match``). Applied before top-k like the filter,
    composes with it; scores are untouched.

    ``exclude_docs``: must-NOT filter (see ``_apply_doc_exclude``) —
    composes with both of the above.

    ``boost_docs`` (optional DataFrame with (doc_id, boost)): static
    per-doc score multiplier applied to the full scores, before top-k
    (see ``_topk``) — function-score ranking (recency, quality priors).

    ``after`` (optional (score, doc_id) cursor): search-after
    pagination — see ``_apply_after``. Page 2 = the previous page's
    last (UNROUNDED score, doc_id).

    ``stats`` (optional dict) receives the kernel's ``decoded_blocks``
    and ``total_blocks`` accumulators."""
    if _no_rows(k):
        return _empty(spark)
    # weights ride the task closure (warm: driver idf cache, zero jobs;
    # cold: one bucket-pruned lookup)
    idf = query_term_idf(spark, index, query)
    if not idf:
        # no query term is in the index vocabulary → empty result
        return _empty(spark)
    token_seq = _tokens(query)
    return _exact_topk(spark, index, token_seq, idf, k, stats=stats,
                       filter_docs=filter_docs,
                       mm=_resolve_min_match(token_seq, min_match),
                       exclude_docs=exclude_docs, boost_docs=boost_docs,
                       after=after)


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
    each shard decodes only the query terms' blocks, adds full per-doc
    scores locally, and emits its exact local top-k — followed by a
    k×shards TakeOrderedAndProject merge. No shuffle, no join; weights
    come from the warm idf cache (zero extra jobs). On a cold index the
    same kernel reads the on-disk blocks repartitioned by range_id
    (``_scoring_blocks``); a partial warm mixes the two.

    This is the scatter-gather layout real search clusters serve from
    (per-shard top-k + merge); rank-identical to ``bm25_topk_exact`` —
    every doc's full score is computed in exactly one shard, so the global
    top-k is a subset of the union of local top-ks, and per-doc scores are
    accumulated in QUERY TOKEN ORDER (bit-identical to BM25Okapi).

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
    if _no_rows(k):
        return _empty(spark)
    idf = query_term_idf(spark, index, query)
    if not idf:
        return _empty(spark)
    token_seq = _tokens(query)
    mm = _resolve_min_match(token_seq, min_match)
    masks = _doc_masks(filter_docs, exclude_docs, filter_broadcast_max)
    if masks is None:
        return _exact_topk(spark, index, token_seq, idf, k, stats=stats,
                           filter_docs=filter_docs, mm=mm,
                           exclude_docs=exclude_docs, after=after)
    if masks.empty:
        return _empty(spark)
    local = _scores(spark, index, [token_seq], idf, k,
                    block_skip=block_skip, min_matches=[mm],
                    after=_cursor(after), **masks._asdict(),
                    **_block_accs(spark, stats))
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
    ``bm25_topk_served`` (same decode, same addition order, same
    (score desc, doc_id asc) total order — gated by
    tests/test_wand.py::test_served_batch_topk_equals_per_query).

    Returns (query_id, doc_id, score), k rows per non-empty query.

    ``filter_docs``/``filter_broadcast_max``: filtered retrieval, same
    contract as ``bm25_topk_served`` (sorted-id mask in the kernel while
    driver-sized; beyond the cap every (query, doc) score is semi-joined
    with the filter; applied before top-k either way).

    ``min_match``: minimum-should-match applied to EVERY query in the
    batch; ``"all"`` resolves per query against its own distinct token
    count (conjunctive AND per query)."""
    if _no_rows(k):
        return _empty(spark, with_query_id=True)
    token_seqs = [_tokens(q) for q in queries]
    idf = query_term_idf(spark, index,
                         sorted({t for seq in token_seqs for t in seq}))
    if not idf:
        return _empty(spark, with_query_id=True)
    min_matches = [_resolve_min_match(seq, min_match) for seq in token_seqs]
    masks = _doc_masks(filter_docs, exclude_docs, filter_broadcast_max)
    if masks is None:
        # non-selective filter: every (query, doc) score, joined with the
        # constraints, then the same per-query window top-k
        scores = _apply_doc_exclude(_apply_doc_filter(
            _scores(spark, index, token_seqs, idf, with_query_id=True,
                    min_matches=min_matches),
            filter_docs), exclude_docs)
    elif masks.empty:
        return _empty(spark, with_query_id=True)
    else:
        scores = _scores(spark, index, token_seqs, idf, k,
                         with_query_id=True, block_skip=block_skip,
                         min_matches=min_matches, **masks._asdict(),
                         **_block_accs(spark, stats))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("doc_id"))
    return (scores.withColumn("__r", F.row_number().over(w))
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


def _ordered(pairs, k: int) -> list:
    """The first k (doc_id, score) pairs in the engine's total order
    (score DESC, doc_id ASC)."""
    return sorted(pairs, key=lambda t: (-t[1], t[0]))[:k]


def _topk_result(spark: SparkSession, pairs, k: int) -> DataFrame:
    """The first k driver-side (doc_id, score) pairs in the engine's total
    order (score DESC, doc_id ASC) as a result DataFrame. Built from a
    pandas frame through Arrow, which makes a local relation: collecting
    it launches no Spark job, where a list of tuples costs a job on a
    Python worker. Scores pass through as float64, bit for bit."""
    top = _ordered(pairs, k)
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
    per-term upper bounds cannot reach the k-th best score. Runs the
    exact executor when the corpus has few ranges (pruning's extra jobs
    only pay off at scale — a head term at 10^12 docs touches ~10^8
    ranges).

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
    if _no_rows(k):
        return _empty(spark)
    qtf = _qtf(query)
    if not qtf:
        return _empty(spark)
    # ONE lookup returns both the weights (idf) and the tier choice's input
    # (df), warm index or not: the warm idf cache holds the same
    # term_stats floats, so one code path gives identical values
    term_rows = (_term_stats_pruned(spark, index, sorted(qtf))
                 .select("term", "idf", "df").collect())
    idf = {r["term"]: r["idf"] for r in term_rows}
    if not idf:
        return _empty(spark)
    token_seq = _tokens(query)
    mm = _resolve_min_match(token_seq, min_match)
    # corpus-level range count — a driver-side constant, no Spark action.
    # (A query's terms can only touch a subset of these; if the corpus
    # itself has few ranges, pruning machinery can't win.) Constraint
    # sets too big for the kernel's masks take the exact path's joins —
    # the same degradation rule as bm25_topk_served.
    n_ranges = max(1, index.n_docs >> index.cfg.index.range_shift)
    masks = (_doc_masks(filter_docs, exclude_docs, 5_000_000)
             if n_ranges >= min_ranges_to_prune else None)
    if stats is not None:
        stats["pruning_engaged"] = masks is not None
    if masks is None:
        return _exact_topk(spark, index, token_seq, idf, k, stats=stats,
                           filter_docs=filter_docs, mm=mm,
                           exclude_docs=exclude_docs, after=after)
    if masks.empty:
        return _empty(spark)
    # bounds use the FULL per-term weight (idf·qtf: a term's maximum total
    # contribution incl. query multiplicity); scoring adds single-idf
    # partials in query-token order
    weights = {t: idf[t] * qtf[t] for t in idf}
    blocks = _query_blocks(spark, index, sorted(weights)).withColumn(
        "ub", _block_upper_bound_col(weights, index))

    # EXECUTION SHAPE — three tiers, picked by candidate size. Jobs per
    # cold query as measured on a 2k-doc index (constraint masks add
    # their own collects; a two-level groupBy or a shuffle-fed top-k runs
    # as several jobs under adaptive execution):
    #
    #   GATHERED (2 jobs) — the query's candidate blocks are
    #     coordinator-sized: their df-derived upper bound
    #     (``_candidate_blocks_bound``, from the lookup above) is at most
    #     _PRUNED_LOCAL_BLOCKS_MAX rows. The term_stats lookup + ONE Arrow
    #     fetch of the still-encoded blocks, then the scoring kernel runs
    #     on the driver — global WAND: ranges visited in descending bound
    #     order, θ from the best ranges' exact scores, block-level BMW
    #     refinement (``fine_rows_map``), remaining ranges skipped. The
    #     result is a local relation (``_topk_result``). This is what a
    #     search engine's query coordinator does once candidates are
    #     pruned to driver size.
    #   DISTRIBUTED — candidate blocks too big to gather (head terms):
    #     driver-side per-range bounds (≤ _PRUNED_DRIVER_RANGES_MAX rows
    #     of metadata) pick seed ranges; a distributed kernel pass over
    #     the seed ranges sets θ; the survivors run the kernel re-sharded
    #     by range_id (doc-complete tasks), survivor ids pushed down as
    #     plain filters.
    #   LAZY — even the range metadata exceeds the driver envelope
    #     (10^8 ranges at 10^12 docs): the survivors are a broadcast join
    #     against the lazily computed range bounds, no driver
    #     materialization of blocks or bounds.
    kernel_kwargs = dict(
        k1=index.cfg.bm25.k1, b=index.cfg.bm25.b,
        avgdl=index.avgdl, k=k, block_skip=True, min_matches=[mm],
        after=_cursor(after), **masks._asdict(),
        **_block_accs(spark, stats))
    n_candidates = _candidate_blocks_bound(
        [r["df"] for r in term_rows], index.cfg.index.block_size,
        index.range_count_bound)
    if n_candidates <= _PRUNED_LOCAL_BLOCKS_MAX:
        # ---- GATHERED tier: fetch encoded blocks, prune locally
        pdf = blocks.select(*SERVING_COLS).toPandas()
        if stats is not None:
            stats["tier"] = "gathered"
            stats["touched_ranges"] = int(pdf["range_id"].nunique())
        kernel = _served_local_topk([token_seq], idf, fine_prune=fine_prune,
                                    **kernel_kwargs)
        return _topk_result(
            spark, [(int(d), float(s)) for f in kernel(iter([pdf]))
                    for d, s in zip(f["doc_id"], f["score"])], k)

    def kernel_pass(range_blocks: DataFrame, theta=None) -> DataFrame:
        """The kernel's local top-k over ``range_blocks`` re-sharded by
        range_id; a seed θ lets it skip (and fine-prune) from the start."""
        seeded = theta is not None and theta > float("-inf")
        kernel = _served_local_topk(
            [token_seq], idf, init_theta=theta if seeded else None,
            fine_prune=fine_prune and seeded, **kernel_kwargs)
        return (range_blocks.select(*SERVING_COLS).repartition("range_id")
                .mapInPandas(kernel, schema=RESULT_SCHEMA))

    def seed_pass(seed: list) -> tuple[list, float]:
        """Exact top-k of the seed ranges (constraints applied) and θ,
        its k-th score (−∞ while fewer than k qualify)."""
        rows = kernel_pass(blocks.filter(F.col("range_id").isin(seed))) \
            .collect()
        top = _ordered([(r["doc_id"], r["score"]) for r in rows], k)
        return top, (top[k - 1][1] if len(top) >= k else float("-inf"))

    # Per-range upper bound: Σ_t max over t's blocks in the range.
    range_bounds = (blocks.groupBy("range_id", "term")
                    .agg(F.max("ub").alias("tub"))
                    .groupBy("range_id")
                    .agg(F.sum("tub").alias("range_ub")))
    if n_ranges <= _PRUNED_DRIVER_RANGES_MAX:
        # ---- DISTRIBUTED tier: seed job → θ → survivors via kernel
        rb_rows = range_bounds.collect()
        if not rb_rows:
            return _empty(spark)
        if stats is not None:
            stats["tier"] = "distributed"
            stats["touched_ranges"] = len(rb_rows)
        order = sorted(rb_rows,
                       key=lambda r: (-r["range_ub"], r["range_id"]))
        seed = [r["range_id"] for r in order[:seed_ranges]]
        seed_top, theta = seed_pass(seed)
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
            rest_rows = kernel_pass(
                blocks.filter(F.col("range_id").isin(survivors)),
                theta).collect()
        # driver-side merge in the engine's exact total order — ≤
        # k·(tasks+1) rows, the same selection TakeOrderedAndProject
        # performed
        return _topk_result(
            spark, seed_top + [(r["doc_id"], r["score"])
                               for r in rest_rows], k)

    # ---- LAZY tier (range metadata beyond the driver envelope) ----
    if stats is not None:
        stats["tier"] = "lazy"
    range_bounds = range_bounds.cache()
    try:
        seed = [r["range_id"] for r in
                range_bounds.orderBy(F.desc("range_ub"), F.asc("range_id"))
                .limit(seed_ranges).collect()]
        if not seed:
            return _empty(spark)
        seed_top, theta = seed_pass(seed)
        theta_eff = theta - 1e-9 * abs(theta) - 1e-12
        survivor_ranges = (range_bounds
                           .filter((F.col("range_ub") >= theta_eff)
                                   & ~F.col("range_id").isin(seed)))
        rest = kernel_pass(
            blocks.join(F.broadcast(survivor_ranges.select("range_id")),
                        "range_id"), theta)
        return (_topk_result(spark, seed_top, k).unionByName(rest)
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
    finally:
        range_bounds.unpersist()
