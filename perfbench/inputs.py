"""Benchmark inputs: corpus files, delta epochs and the seeded query stream.

The corpus generator (``corpus.pages``) keeps its own fixed ``SEED``; a
page is a pure function of its doc id. The benchmark's ``--seed`` picks the
doc-id windows of the corpus and of the delta epoch, and the query stream,
so the same seed gives the same inputs.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass

import numpy as np

DF_BANDS = ("rare", "mid", "common")


def df_band(df: int, n_docs: int) -> str:
    """Selectivity band of a term: rare < 0.5 % of docs ≤ mid < 5 % ≤ common."""
    share = df / n_docs
    if share < 0.005:
        return "rare"
    return "mid" if share < 0.05 else "common"


def write_pages(path: str, doc_ids: np.ndarray, n_files: int,
                **gen_kwargs) -> list[str]:
    """Generate the pages for ``doc_ids`` with ``corpus.pages.pages_pdf`` and
    write them as ``n_files`` parquet files. Returns the texts in doc-id
    order (the oracle's corpus)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from review_recommender_spark.corpus.pages import pages_pdf

    pdf = pages_pdf(np.asarray(doc_ids, dtype=np.int64), **gen_kwargs)
    os.makedirs(path, exist_ok=True)
    for i, rows in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        pq.write_table(pa.Table.from_pandas(pdf.iloc[rows],
                                            preserve_index=False),
                       os.path.join(path, f"part-{i:03d}.parquet"))
    return pdf.sort_values("doc_id")["text"].tolist()


def delta_ids(rng: np.random.Generator, after: int,
              n_delta: int) -> np.ndarray:
    """New doc ids for one epoch: a window of ``n_delta`` consecutive ids
    that starts past doc id ``after`` at a seed-chosen offset."""
    start = after + int(rng.integers(0, 64)) * n_delta
    return np.arange(start, start + n_delta, dtype=np.int64)


@dataclass
class Query:
    text: str
    band: str        # band of the query's rarest known term
    n_terms: int     # query tokens after the query tokenizer


# The stream cycles through these query shapes (a phrase, or the df bands
# of its terms); the seed picks the phrase and the terms. Every run thus
# sees the same mix of shapes, and only the concrete queries vary, which
# keeps medians over a few dozen queries comparable across seeds.
BAND_POOL = 32
QUERY_SHAPES = (
    "phrase", ("rare",), ("mid",), ("common",), ("rare", "common"),
    ("mid", "mid"), ("rare", "mid", "common"),
    ("rare", "mid", "mid", "common"),
)


def query_stream(rng: np.random.Generator, term_df: dict[str, int],
                 n_docs: int, phrases: list[str], length: int) -> list[Query]:
    """A seeded stream of ``length`` queries cycling through QUERY_SHAPES.
    A band's pool terms are equally likely; only terms the query tokenizer
    keeps as they are can be drawn, so a query scores exactly the terms it
    names. A band with no such term lends its draws to the nearest band
    that has some."""
    from review_recommender_spark.functions.tokenize import tokenize_k2_py

    by_band: dict[str, list[str]] = {b: [] for b in DF_BANDS}
    for term in sorted(term_df):
        if tokenize_k2_py(term) == [term]:
            by_band[df_band(term_df[term], n_docs)].append(term)
    for band, terms in by_band.items():
        # the BAND_POOL terms nearest the band's median df: within a band,
        # query cost still grows with df, and a narrow pool keeps one
        # seed's queries about as costly as another's
        mid = np.median([term_df[t] for t in terms]) if terms else 0
        by_band[band] = sorted(terms, key=lambda t: (abs(term_df[t] - mid),
                                                     t))[:BAND_POOL]

    def pool(band: str) -> list[str]:
        i = DF_BANDS.index(band)
        nearest = min((b for b in DF_BANDS if by_band[b]),
                      key=lambda b: abs(DF_BANDS.index(b) - i))
        return by_band[nearest]

    out = []
    for i in range(length):
        shape = QUERY_SHAPES[i % len(QUERY_SHAPES)]
        if shape == "phrase":
            text = phrases[int(rng.integers(len(phrases)))]
        else:
            text = " ".join(pool(b)[int(rng.integers(len(pool(b))))]
                            for b in shape)
        toks = [t for t in tokenize_k2_py(text) if t in term_df]
        band = min((df_band(term_df[t], n_docs) for t in toks),
                   key=DF_BANDS.index, default="rare")
        out.append(Query(text, band, len(tokenize_k2_py(text))))
    return out


def stream_shares(stream: list[Query]) -> dict[str, float]:
    """Share of the stream by df band and by query term count (4 = 4+)."""
    n = len(stream)
    bands = Counter(q.band for q in stream)
    terms = Counter(min(q.n_terms, 4) for q in stream)
    out = {f"stream.share_df_{b}": bands[b] / n for b in DF_BANDS}
    out.update({f"stream.share_terms_{k}": terms[k] / n for k in (1, 2, 3, 4)})
    return out
