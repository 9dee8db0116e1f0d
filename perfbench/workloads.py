"""Seeded request streams for the benchmark's workloads, and the query-mix
properties of the part of a stream a run consumed.

The engine only ever sees the requests generated here; each stream is a
pure function of (seed, lake contents), so a seed names one workload
instance exactly.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

LAKE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

SEARCH_KS = (3, 5, 9)
# (w_content, w_metadata, per-type matcher weights or None for all-1)
WEIGHT_SETTINGS = (
    (0.6, 0.4, None),
    (0.8, 0.2, None),
    (0.5, 0.5, (("Categorical", 1.0), ("Numeric", 2.0), ("Spatial", 0.5), ("Temporal", 1.0))),
    (1.0, 0.0, (("Categorical", 0.5), ("Numeric", 1.0), ("Spatial", 1.0), ("Temporal", 2.0))),
)

KEYWORD_KS = (10, 20, 50)
# a term is a "head" term when its document frequency is at least this
# share of the most frequent term's; in the sf0.1 corpus that splits the
# 30 body words (in ~77% of documents each) from the lang and source
# values (in 5-41%)
HEAD_DF_SHARE = 0.6
HEAD_TERM_P = 0.5  # a drawn in-vocabulary term is a head term with this chance
ZERO_HIT_SHARE = 0.10  # share of requests made only of out-of-vocabulary terms
REPEAT_SHARE = 0.25  # share of requests that re-send an earlier request
# the keyword stream comes in blocks of this many requests, each holding
# exactly its share of repeats and zero-hit queries in a seeded order, so
# that the ~20 requests a run consumes carry the same mix on every seed
KEYWORD_BLOCK = 20

_DATASET_STREAM, _KEYWORD_STREAM = 1, 2


@dataclass(frozen=True)
class DatasetRequest:
    dataset: str
    k: int
    w_content: float
    w_metadata: float
    type_weights: tuple | None
    repeat: bool = False

    def key(self) -> tuple:
        return (self.dataset, self.k, self.w_content, self.w_metadata, self.type_weights)


@dataclass(frozen=True)
class KeywordRequest:
    query: str
    k: int
    term_kinds: tuple[str, ...]  # "head" / "tail" / "oov" per query term
    repeat: bool = False

    def key(self) -> tuple:
        return (self.query, self.k)


def dataset_requests(seed: int, n: int) -> list[DatasetRequest]:
    """`n` dataset-search requests: a query table from the lake, a k and a
    weight setting; REPEAT_SHARE of them re-send an earlier request."""
    rng = np.random.default_rng([seed, _DATASET_STREAM])
    out: list[DatasetRequest] = []
    for _ in range(n):
        if out and rng.random() < REPEAT_SHARE:
            prev = out[int(rng.integers(0, len(out)))]
            out.append(DatasetRequest(*prev.key(), repeat=True))
            continue
        wc, wm, tw = WEIGHT_SETTINGS[int(rng.integers(0, len(WEIGHT_SETTINGS)))]
        out.append(DatasetRequest(
            dataset=LAKE_TABLES[int(rng.integers(0, len(LAKE_TABLES)))],
            k=SEARCH_KS[int(rng.integers(0, len(SEARCH_KS)))],
            w_content=wc,
            w_metadata=wm,
            type_weights=tw,
        ))
    return out


def corpus_term_counts(lake_dir: str) -> Counter:
    """Document frequency of every term of the three searchable fields
    of `documents` (body text, source and lang), tokenized as the BM25
    path does: lowercase, split on non-alphanumerics."""
    docs = pq.read_table(
        os.path.join(lake_dir, "documents.parquet"), columns=["text", "source", "lang"]
    ).to_pydict()
    split = re.compile(r"[^a-z0-9]+")
    df: Counter = Counter()
    for text, source, lang in zip(docs["text"], docs["source"], docs["lang"]):
        toks = set(split.split(f"{text} {source} {lang}".lower()))
        toks.discard("")
        df.update(toks)
    return df


def split_vocabulary(term_df: Counter) -> tuple[list[str], list[str]]:
    """(head, tail): terms ranked by document frequency (ties by term);
    head terms have at least HEAD_DF_SHARE of the top frequency."""
    ranked = sorted(term_df, key=lambda t: (-term_df[t], t))
    cut = HEAD_DF_SHARE * term_df[ranked[0]]
    return [t for t in ranked if term_df[t] >= cut], [t for t in ranked if term_df[t] < cut]


def _oov_term(rng: np.random.Generator, vocab: Counter) -> str:
    while True:
        term = f"zq{int(rng.integers(0, 1_000_000)):06d}"
        if term not in vocab:
            return term


def keyword_requests(seed: int, term_df: Counter, n: int) -> list[KeywordRequest]:
    """`n` keyword queries of 1-4 terms over the corpus vocabulary
    `term_df` (term -> document frequency). Each block of KEYWORD_BLOCK
    requests holds REPEAT_SHARE re-sends of an earlier request and
    ZERO_HIT_SHARE zero-hit queries (all terms out of vocabulary) at
    seeded positions; in the other queries each term is a head term with
    HEAD_TERM_P and a tail term otherwise."""
    rng = np.random.default_rng([seed, _KEYWORD_STREAM])
    head, tail = split_vocabulary(term_df)
    n_repeat = round(KEYWORD_BLOCK * REPEAT_SHARE)
    n_zero = round(KEYWORD_BLOCK * ZERO_HIT_SHARE)
    block = ["repeat"] * n_repeat + ["zero"] * n_zero + ["fresh"] * (KEYWORD_BLOCK - n_repeat - n_zero)
    out: list[KeywordRequest] = []
    while len(out) < n:
        for slot in rng.permutation(block):
            if slot == "repeat" and out:
                prev = out[int(rng.integers(0, len(out)))]
                out.append(KeywordRequest(prev.query, prev.k, prev.term_kinds, repeat=True))
                continue
            terms, kinds = [], []
            for _ in range(int(rng.integers(1, 5))):
                if slot == "zero":
                    terms.append(_oov_term(rng, term_df))
                    kinds.append("oov")
                elif rng.random() < HEAD_TERM_P:
                    terms.append(head[int(rng.integers(0, len(head)))])
                    kinds.append("head")
                else:
                    terms.append(tail[int(rng.integers(0, len(tail)))])
                    kinds.append("tail")
            out.append(KeywordRequest(
                " ".join(terms), KEYWORD_KS[int(rng.integers(0, len(KEYWORD_KS)))], tuple(kinds)
            ))
    return out[:n]


def _shares(counter: Counter) -> dict:
    total = sum(counter.values())
    return {str(k): round(v / total, 4) for k, v in sorted(counter.items())} if total else {}


def dataset_mix(reqs: list[DatasetRequest]) -> dict:
    """Query-mix properties of the consumed dataset-search requests."""
    n = len(reqs)
    return {
        "requests": n,
        "repeated_share": round(sum(r.repeat for r in reqs) / n, 4) if n else 0.0,
        "distinct_requests": len({r.key() for r in reqs}),
        "k_mix": _shares(Counter(r.k for r in reqs)),
        "dataset_mix": _shares(Counter(r.dataset for r in reqs)),
        "weight_mix": _shares(Counter(
            WEIGHT_SETTINGS.index((r.w_content, r.w_metadata, r.type_weights)) for r in reqs
        )),
    }


def keyword_mix(reqs: list[KeywordRequest], hits: dict[tuple, int]) -> dict:
    """Query-mix properties of the consumed keyword requests; `hits` maps
    a request key to the number of results the reference returned."""
    n = len(reqs)
    kinds = Counter(kind for r in reqs for kind in r.term_kinds)
    return {
        "requests": n,
        "repeated_share": round(sum(r.repeat for r in reqs) / n, 4) if n else 0.0,
        "distinct_requests": len({r.key() for r in reqs}),
        "zero_hit_share": round(sum(hits[r.key()] == 0 for r in reqs) / n, 4) if n else 0.0,
        "term_kind_split": _shares(kinds),
        "terms_per_query": _shares(Counter(len(r.term_kinds) for r in reqs)),
        "k_mix": _shares(Counter(r.k for r in reqs)),
    }
