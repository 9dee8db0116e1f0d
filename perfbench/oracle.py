"""Reference answers computed without the engine's Spark plans, and the
checks that compare the engine's answers against them.

- dataset search: column similarities from the DuckDB twin of the kNN
  stage (`content_similarity_oracle`), per candidate dataset a
  max-weight bipartite matching by networkx (the reference system's own
  algorithm), and a plain-Python pairwise BM25 over the catalog fields;
- keyword search: the DuckDB twin of document BM25 (`bm25_search_oracle`);
- index build: the DuckDB twins of the four profiling signatures (the
  frames of the engine's signature index), and parquet footer metadata
  for the catalog.

Every check returns a list of human-readable problems (empty = correct).
"""

from __future__ import annotations

import math
import os
import re
from collections import Counter, defaultdict

import duckdb
import networkx as nx
import pyarrow.parquet as pq

from workloads import LAKE_TABLES

K1 = 1.2
B = 0.75
CATALOG_BOOSTS = {"title": 2.0, "keywords": 1.5, "description": 1.0}
TOL = 2.5e-6  # results are rounded to 6 decimals: allow one unit of rounding
_SPLIT = re.compile(r"[^a-z0-9]+")


def rnd(x: float, d: int) -> float:
    """The engine's portable rounding: floor(x·10^d + 0.5 + 1e-4) / 10^d."""
    scale = float(10**d)
    return math.floor(x * scale + 0.5 + 1e-4) / scale


def close(a, b, tol: float = TOL) -> bool:
    if a is None or b is None:
        return a is b
    if isinstance(a, str) or isinstance(b, str):
        return a == b
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=tol)


def duck_lake(lake_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per lake table. Views keep the
    lake out of this process's memory, which the benchmark measures."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in LAKE_TABLES:
        path = os.path.join(lake_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


# ------------------------------------------------------------ dataset search


def catalog_fields(lake_dir: str) -> dict[str, dict[str, str]]:
    """dataset -> field -> text: title = name, keywords = column names,
    description = a sentence over both (the engine's derivation of
    metadata for lake tables, which carry no authored metadata)."""
    out = {}
    for t in LAKE_TABLES:
        cols = " ".join(pq.read_schema(os.path.join(lake_dir, f"{t}.parquet")).names)
        out[t] = {
            "title": t,
            "keywords": cols,
            "description": f"{t} lake table containing columns {cols}",
        }
    return out


def _tokens(text: str) -> list[str]:
    return [t for t in _SPLIT.split(text.lower()) if t]


def pairwise_bm25(fields: dict[str, dict[str, str]], boosts=CATALOG_BOOSTS) -> dict:
    """(q_table, cand_table) -> metadata score: boosted multi-field BM25
    of every other dataset against each dataset's own field values,
    normalized by the best candidate of that query."""
    toks = {(d, f): _tokens(text) for d, fs in fields.items() for f, text in fs.items()}
    n_ds = len({d for (d, _f), ts in toks.items() if ts})
    dl = {key: len(ts) for key, ts in toks.items() if ts}
    avgdl = {}
    for f in boosts:
        lens = [n for (_d, ff), n in dl.items() if ff == f]
        avgdl[f] = sum(lens) / len(lens)
    tf = {key: Counter(ts) for key, ts in toks.items()}
    df: Counter = Counter()
    for (_d, f), counts in tf.items():
        for term in counts:
            df[(f, term)] += 1
    raw: dict[tuple, float] = {}
    for q in fields:
        for cand in fields:
            if cand == q:
                continue
            total, matched = 0.0, False
            for f, boost in boosts.items():
                cand_tf = tf[(cand, f)]
                for term in set(toks[(q, f)]):
                    n = cand_tf.get(term, 0)
                    if not n:
                        continue
                    matched = True
                    idf = math.log(1 + (n_ds - df[(f, term)] + 0.5) / (df[(f, term)] + 0.5))
                    total += boost * idf * (n * (K1 + 1)) / (
                        n + K1 * (1 - B + B * dl[(cand, f)] / avgdl[f])
                    )
            if matched:
                raw[(q, cand)] = rnd(total, 6)
    best: dict[str, float] = defaultdict(float)
    for (q, _c), s in raw.items():
        best[q] = max(best[q], s)
    return {pair: rnd(s / best[pair[0]], 6) for pair, s in raw.items()}


def content_similarities(con: duckdb.DuckDBPyConnection) -> list[tuple]:
    """(q_table, q_column, col_type, cand_table, cand_column, sim) rows."""
    from danae_spark.search.knn import content_similarity_oracle

    return con.sql(
        f"SELECT q_table, q_column, col_type, cand_table, cand_column, sim"
        f" FROM ({content_similarity_oracle()})"
    ).fetchall()


def matching_scores(sims: list[tuple], type_weights: dict | None) -> dict:
    """(q_table, cand_table) -> max-weight bipartite matching score over
    edges weighted w(col_type)·sim, by networkx."""
    tw = dict(type_weights or {})
    edges: dict[tuple, dict] = defaultdict(dict)
    for q_table, q_col, col_type, cand_table, cand_col, sim in sims:
        w = float(tw.get(col_type, 1.0)) * float(sim)
        key = (("q", q_col, col_type), ("c", cand_col))
        group = edges[(q_table, cand_table)]
        if w > group.get(key, 0.0):
            group[key] = w
    out = {}
    for pair, group in edges.items():
        g = nx.Graph()
        for (u, v), w in group.items():
            if w > 0.0:
                g.add_edge(u, v, weight=w)
        matching = nx.max_weight_matching(g)
        out[pair] = round(sum(g[u][v]["weight"] for u, v in matching), 6)
    return out


class DatasetSearchReference:
    """Reference top-k for any dataset-search request over one lake."""

    def __init__(self, lake_dir: str, con: duckdb.DuckDBPyConnection):
        self.sims = content_similarities(con)
        self.metadata = pairwise_bm25(catalog_fields(lake_dir))
        self._content: dict = {}

    def content(self, type_weights: tuple | None) -> dict:
        if type_weights not in self._content:
            self._content[type_weights] = matching_scores(
                self.sims, dict(type_weights) if type_weights else None
            )
        return self._content[type_weights]

    def scores(self, dataset: str, w_content: float, w_metadata: float,
               type_weights: tuple | None) -> list[tuple]:
        """[(cand_table, content, metadata, overall)] best first."""
        content = self.content(type_weights)
        cands = {c for (q, c) in content if q == dataset}
        cands |= {c for (q, c) in self.metadata if q == dataset}
        rows = []
        for c in cands:
            cs = content.get((dataset, c), 0.0)
            ms = self.metadata.get((dataset, c), 0.0)
            rows.append((c, cs, ms, rnd(w_content * cs + w_metadata * ms, 6)))
        rows.sort(key=lambda r: (-r[3], r[0]))
        return rows


def check_dataset_search(ref: DatasetSearchReference, req, rows: list[tuple]) -> list[str]:
    """`rows`: the engine's (q_table, cand_table, content_score,
    metadata_score, overall_score, rank) answer to `req`."""
    expect = ref.scores(req.dataset, req.w_content, req.w_metadata, req.type_weights)
    full = {r[0]: r for r in expect}
    problems = []
    if len(rows) != min(req.k, len(expect)):
        return [f"{req.key()}: {len(rows)} rows, expected {min(req.k, len(expect))}"]
    if [r[5] for r in rows] != list(range(1, len(rows) + 1)):
        problems.append(f"{req.key()}: ranks {[r[5] for r in rows]}")
    if len({r[1] for r in rows}) != len(rows):
        problems.append(f"{req.key()}: duplicate candidates")
    for got, want in zip(rows, expect):
        if got[0] != req.dataset:
            problems.append(f"{req.key()}: row for {got[0]}")
        if not close(got[4], want[3]):
            problems.append(f"{req.key()}: rank {got[5]} overall {got[4]} != {want[3]}")
        ref_row = full.get(got[1])
        if ref_row is None:
            problems.append(f"{req.key()}: unexpected candidate {got[1]}")
            continue
        for idx, name in ((2, "content"), (3, "metadata"), (4, "overall")):
            if not close(got[idx], ref_row[idx - 1]):
                problems.append(
                    f"{req.key()}: {got[1]} {name} {got[idx]} != {ref_row[idx - 1]}"
                )
    return problems


# ------------------------------------------------------------ keyword search


def keyword_reference(con: duckdb.DuckDBPyConnection, query: str, k: int) -> list[tuple]:
    """(doc_id, score, norm_score, rank) rows, best first."""
    from danae_spark.search.metadata import bm25_search_oracle

    return con.sql(bm25_search_oracle(query, k)).fetchall()


def check_topk(key, got: list[tuple], want: list[tuple]) -> list[str]:
    """Compare two ranked (id, score, *values, rank) lists. Scores and
    values must agree position by position; ids must agree except among
    rows tied (within TOL) with the last-ranked score, where the tie
    break may pick different rows."""
    if len(got) != len(want):
        return [f"{key}: {len(got)} rows, expected {len(want)}"]
    problems = []
    for i, (g, w) in enumerate(zip(got, want)):
        if g[-1] != i + 1:
            problems.append(f"{key}: position {i + 1} has rank {g[-1]}")
        for a, b in zip(g[1:-1], w[1:-1]):
            if not close(a, b):
                problems.append(f"{key}: position {i + 1} value {a} != {b}")
    if got:
        cutoff = want[-1][1]
        above = lambda rows: {r[0] for r in rows if r[1] > cutoff + TOL}  # noqa: E731
        if above(got) != above(want):
            problems.append(f"{key}: top ids differ {sorted(above(got) ^ above(want))[:5]}")
    return problems


# --------------------------------------------------------------- index build


def catalog_reference(lake_dir: str) -> list[tuple]:
    """(dataset, num_columns, num_rows) from parquet footers."""
    rows = []
    for t in LAKE_TABLES:
        meta = pq.ParquetFile(os.path.join(lake_dir, f"{t}.parquet")).metadata
        rows.append((t, meta.num_columns, meta.num_rows))
    return sorted(rows)


def index_reference(con: duckdb.DuckDBPyConnection) -> dict[str, list[tuple]]:
    """Reference rows of the four signature indexes, keyed by the
    engine function that builds each."""
    from danae_spark.profiling.profiler import (
        quantile_signatures_oracle,
        spatial_bboxes_oracle,
        temporal_profile_oracle,
    )
    from danae_spark.profiling.tfidf import categorical_column_embeddings_oracle

    return {
        "quantile_signatures": con.sql(quantile_signatures_oracle()).fetchall(),
        "temporal_profile": con.sql(temporal_profile_oracle()).fetchall(),
        # the index keeps the embedding but not the term count
        "categorical_embeddings": con.sql(
            f"SELECT * EXCLUDE (n_terms) FROM ({categorical_column_embeddings_oracle()})"
        ).fetchall(),
        "spatial_bboxes": con.sql(spatial_bboxes_oracle()).fetchall(),
    }


def check_rows(name: str, got: list[tuple], want: list[tuple]) -> list[str]:
    """Order-insensitive comparison of two row sets, numbers within TOL."""
    got, want = sorted(got, key=repr), sorted(want, key=repr)
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(close(a, b) for a, b in zip(g, w)):
            return [f"{name}: row {g} != {w}"]
    return []
