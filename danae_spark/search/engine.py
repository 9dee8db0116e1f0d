"""End-to-end dataset similarity search — the engine's headline API.

Reference parity: `search/main_flask.py` trains once (the per-type
R-trees, `content_search.py:219 train()`), then answers each
`CombinedSearcher.search(ids, k, L, M)` → ranked similar datasets with
content/metadata/overall scores. The score of a candidate dataset:

1. content: per query column, M nearest candidate columns across the
   lake, `exp(-decay·dist/kth)` similarity (knn.py), then an exact
   max-weight bipartite matching over the `w(type)·sim` edges between
   the two datasets' columns (matching.py).
2. metadata: boosted BM25 of the candidate's catalog text (dataset name
   + column names standing in for title/keywords) against the query
   dataset's text, normalized per query (metadata.py).
3. combined: `rnd(w_c·content + w_m·metadata, 6)`, top-k by overall
   score, ties by candidate name.

Build once, serve per request: the column similarities and the metadata
scores do not depend on the request, only the type weights, `w_c`, `w_m`
and `k` do. `SearchIndex` collects the two request-independent tables to
the driver once, and `DataLakeEngine` builds it on its first search. It
holds Σ columns × M similarity rows (each query column keeps its M
nearest same-type candidates: 270 rows at sf0.1) plus the n² metadata
pairs of the n catalog datasets (90 at sf0.1) — it grows with the
schema, not with row count. A request matches at most n−1 small graphs
for its dataset, combines and cuts the top-k in Python, and returns the
rows as a local DataFrame: no Spark job.

`dataset_search` is the batch reference: the same search for EVERY
dataset as one DataFrame plan. It is the registered query, the pipeline
stage, and what the tests compare the served answers against.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from danae_spark.functions.rounding import rnd, rnd_py
from danae_spark.search.knn import TYPE_WEIGHTS, content_similarity
from danae_spark.search.matching import dataset_matching_scores, match_group
from danae_spark.search.metadata import CATALOG_BOOSTS, pairwise_dataset_bm25

W_CONTENT = 0.6
W_METADATA = 0.4

_SEARCH_SCHEMA = (
    "q_table string, cand_table string, content_score double,"
    " metadata_score double, overall_score double, rank int"
)
# the pandas dtypes of _SEARCH_SCHEMA, so an empty answer converts too
_SEARCH_DTYPES = {
    "q_table": "object", "cand_table": "object", "content_score": "float64",
    "metadata_score": "float64", "overall_score": "float64", "rank": "int32",
}


def _catalog_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-form metadata fields per dataset — title / keywords /
    description, the three boosted fields of the reference's metadata
    search (metadata_search.py:14-31). The lake tables carry no authored
    metadata, so the fields derive deterministically from the schema:
    title = dataset name, keywords = column names, description = a
    sentence over both (publish_dataset emits the same fields for
    published datasets)."""
    from danae_spark.catalog import TABLES, load_table

    rows = []
    for t in TABLES:
        cols = " ".join(load_table(spark, sf_dir, t).columns)
        rows.append((t, "title", t))
        rows.append((t, "keywords", cols))
        rows.append((t, "description", f"{t} lake table containing columns {cols}"))
    return spark.createDataFrame(rows, "dataset string, field string, field_text string")


def _metadata_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise boosted multi-field BM25 over the catalog metadata —
    the metadata-relevance component, normalized per query by max_score
    (metadata_search.py:46). Replaces the r1 token-Jaccard stand-in."""
    return pairwise_dataset_bm25(_catalog_fields(spark, sf_dir), boosts=CATALOG_BOOSTS)


def _check_request(
    k: int,
    w_content: float,
    w_metadata: float,
    type_weights: dict[str, float] | None,
) -> None:
    """Raise ValueError for a k below 1, a negative or non-finite weight,
    or a type weight for a column type the content index does not have."""
    if k < 1:
        raise ValueError(f"k must be at least 1, got {k}")
    weights = {"w_content": w_content, "w_metadata": w_metadata}
    for col_type, w in (type_weights or {}).items():
        if col_type not in TYPE_WEIGHTS:
            raise ValueError(
                f"unknown type_weights key {col_type!r}; known: {sorted(TYPE_WEIGHTS)}"
            )
        weights[f"type_weights[{col_type!r}]"] = w
    for name, w in weights.items():
        if not (math.isfinite(w) and w >= 0):
            raise ValueError(f"{name} must be finite and non-negative, got {w}")


class SearchIndex:
    """The request-independent half of dataset search, on the driver.

    `edges[(q_table, cand_table)]` lists the (q_column, col_type,
    cand_column, sim) rows of `content_similarity`; `metadata[(q_table,
    cand_table)]` is the normalized pairwise catalog BM25 score;
    `datasets` are the catalog datasets a request may name."""

    def __init__(self, edges: dict, metadata: dict, datasets: tuple[str, ...]):
        self.edges = edges
        self.metadata = metadata
        self.datasets = datasets
        cands = defaultdict(set)
        for q, c in (*edges, *metadata):
            cands[q].add(c)
        self._candidates = {q: sorted(cs) for q, cs in cands.items()}

    @classmethod
    def build(
        cls, spark: SparkSession, sf_dir: str, embeddings: DataFrame | None = None
    ) -> SearchIndex:
        from danae_spark.catalog import TABLES

        edges = defaultdict(list)
        sims = content_similarity(spark, sf_dir, embeddings=embeddings).select(
            "q_table", "q_column", "col_type", "cand_table", "cand_column", "sim"
        )
        for q_table, q_column, col_type, cand_table, cand_column, sim in sims.collect():
            edges[(q_table, cand_table)].append((q_column, col_type, cand_column, sim))
        metadata = {
            (r.q_table, r.cand_table): r.metadata_score
            for r in _metadata_scores(spark, sf_dir).collect()
        }
        return cls(dict(edges), metadata, tuple(TABLES))

    def search(
        self,
        spark: SparkSession,
        dataset: str | None = None,
        k: int = 3,
        w_content: float = W_CONTENT,
        w_metadata: float = W_METADATA,
        type_weights: dict[str, float] | None = None,
    ) -> DataFrame:
        """The rows `dataset_search` gives for `dataset` (for every
        dataset when None), ordered by q_table and rank."""
        _check_request(k, w_content, w_metadata, type_weights)
        if dataset is not None and dataset not in self.datasets:
            raise ValueError(
                f"unknown dataset {dataset!r}; known datasets: {', '.join(self.datasets)}"
            )
        rows = []
        for q in sorted(self._candidates) if dataset is None else [dataset]:
            scored = []
            for c in self._candidates.get(q, ()):
                edges = self.edges.get((q, c))
                content = match_group(edges, type_weights)[0] if edges else 0.0
                meta = self.metadata.get((q, c), 0.0)
                overall = rnd_py(w_content * content + w_metadata * meta, 6)
                scored.append((q, c, content, meta, overall))
            scored.sort(key=lambda r: (-r[4], r[1]))
            rows += [(*r, rank) for rank, r in enumerate(scored[:k], 1)]
        pdf = pd.DataFrame(rows, columns=list(_SEARCH_DTYPES)).astype(_SEARCH_DTYPES)
        return spark.createDataFrame(pdf, _SEARCH_SCHEMA)


def dataset_search(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    w_content: float = W_CONTENT,
    w_metadata: float = W_METADATA,
    type_weights: dict[str, float] | None = None,
    embeddings: DataFrame | None = None,
) -> DataFrame:
    """Top-k similar datasets for EVERY dataset in the lake, with
    content/metadata/overall scores (CombinedSearcher.search for all
    queries at once) — the batch reference of `SearchIndex.search`.
    `type_weights` forwards the per-type w·sim edge weights to the
    bipartite matcher; `embeddings` feeds the Categorical index."""
    _check_request(k, w_content, w_metadata, type_weights)
    content = dataset_matching_scores(spark, sf_dir, type_weights, embeddings).select(
        "q_table", "cand_table", F.col("match_score").alias("content_score")
    )
    meta = _metadata_scores(spark, sf_dir)
    scored = (
        content.join(meta, ["q_table", "cand_table"], "full_outer")
        .select(
            "q_table",
            "cand_table",
            F.coalesce("content_score", F.lit(0.0)).alias("content_score"),
            F.coalesce("metadata_score", F.lit(0.0)).alias("metadata_score"),
        )
        .withColumn(
            "overall_score",
            rnd(
                F.lit(w_content) * F.col("content_score")
                + F.lit(w_metadata) * F.col("metadata_score"),
                6,
            ),
        )
    )
    w = W.partitionBy("q_table").orderBy(F.desc("overall_score"), F.asc("cand_table"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("q_table", "rank")
    )
