"""Metadata (text-relevance) search — boosted multi-field BM25.

Reference parity: `search/metadata_search.py:14-31` issues a boosted
multi-field `match` query to Elasticsearch — one clause per metadata
field, each with its own boost, in a bool/should with
minimum_should_match=1 — and normalizes every hit's score by
`max_score` (metadata_search.py:43-46).

Elasticsearch answers from an inverted index it built at ingest time,
and so does this module: build the impacts once, then serve.

- Build: `bm25_impacts` is the one Spark plan that holds the BM25
  formula. From long-form (field, key, term) tokens it computes, per
  field, the contribution of every posting with the boost baked in:

      idf_f(t)       = ln(1 + (N - df_f + 0.5) / (df_f + 0.5))
      impact_f(t, d) = boost_f · idf_f(t) · tf·(k1+1)
                       / (tf + k1·(1 − b + b·dl_f/avgdl_f))

  with k1=1.2, b=0.75, tf and df counts, dl = Σ tf per (field, key).
- Serve: `Bm25Index` collects the impacts to the driver as postings
  keyed by (field, term). A query is a list of (field, term) pairs; a
  key's score is the sum of its impacts rounded to 6dp, normalized by
  the best score of the query. No Spark job runs.

Two corpora are indexed this way:

- documents (keyword search). The `documents` table has no separate
  metadata fields, so the three searchable fields are derived
  deterministically: title = first 8 text tokens, keywords = source +
  lang, body = full text. N counts every document. A keyword query
  pairs every field with each of its terms, and the top-k ranks by
  (-score, doc_id).
- catalog (dataset search, `pairwise_dataset_bm25`). The title /
  keywords / description fields of the datasets; N counts the
  datasets. Each dataset queries with its own terms, field by field,
  and drops itself from its answer.

`bm25_search_oracle` is the independent DuckDB reference of the
document search.
"""

from __future__ import annotations

import re
from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from danae_spark.catalog import load_table
from danae_spark.functions.rounding import rnd_py

K1 = 1.2
B = 0.75
DEFAULT_QUERY = "spark join filter stream"
TITLE_TOKENS = 8
FIELD_BOOSTS = {"title": 2.0, "keywords": 1.5, "body": 1.0}
CATALOG_BOOSTS = {"title": 2.0, "keywords": 1.5, "description": 1.0}

_TOKS = "filter(split(lower({src}), '[^a-z0-9]+'), t -> t <> '')"
_SPLIT = re.compile(r"[^a-z0-9]+")
_TOPK_SCHEMA = "doc_id long, score double, norm_score double, rank int"


def query_terms(query: str) -> list[str]:
    """The distinct terms of a keyword query, sorted, tokenized as `_TOKS`
    tokenizes the documents: lower-cased, split on non-alphanumerics.
    Raises ValueError when the query has no term."""
    terms = sorted({t for t in _SPLIT.split(query.lower()) if t})
    if not terms:
        raise ValueError(f"keyword query {query!r} has no terms")
    return terms


def keyword_pairs(query: str) -> list[tuple[str, str]]:
    """The (field, term) pairs of a keyword query: every document field
    with each of `query_terms(query)`."""
    terms = query_terms(query)
    return [(f, t) for f in FIELD_BOOSTS for t in terms]


def _field_tokens(docs: DataFrame) -> DataFrame:
    """Long-form (field, key, term) over the three derived fields; the
    key is the doc_id."""
    body_arr = F.expr(_TOKS.format(src="text"))
    title_arr = F.slice(body_arr, 1, TITLE_TOKENS)
    kw_arr = F.expr(_TOKS.format(src="concat_ws(' ', source, lang)"))
    key = F.col("doc_id").alias("key")
    parts = [
        docs.select(F.lit("title").alias("field"), key, F.explode(title_arr).alias("term")),
        docs.select(F.lit("keywords").alias("field"), key, F.explode(kw_arr).alias("term")),
        docs.select(F.lit("body").alias("field"), key, F.explode(body_arr).alias("term")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def bm25_impacts(tokens: DataFrame, n: int, boosts: dict[str, float]) -> DataFrame:
    """(field, term, key, impact): the boosted BM25 contribution of every
    distinct (field, key, term) of a long-form token frame, over a
    corpus of `n` keys. Corpus statistics are per field; fields without
    a boost are dropped."""
    tf = (
        tokens.filter(F.col("field").isin(*boosts))
        .groupBy("field", "key", "term")
        .agg(F.count("*").alias("tf"))
    )
    dl = tf.groupBy("field", "key").agg(F.sum("tf").alias("dl"))
    avgdl = dl.groupBy("field").agg(F.avg("dl").alias("avgdl"))
    df_ = tf.groupBy("field", "term").agg(F.count("*").alias("df"))
    boost = F.coalesce(
        *[F.when(F.col("field") == f, F.lit(b)) for f, b in boosts.items()]
    )
    idf = F.log(1 + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    impact = (
        boost
        * idf
        * (F.col("tf") * (K1 + 1))
        / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(df_, ["field", "term"])
        .join(dl, ["field", "key"])
        .join(F.broadcast(avgdl), "field")
        .select("field", "term", "key", impact.alias("impact"))
    )


class Bm25Index:
    """A `bm25_impacts` table on the driver: `postings[(field, term)]` is
    the (keys, impacts) pair of numpy arrays of that term in that field."""

    def __init__(self, impacts: DataFrame):
        pdf = impacts.toPandas()
        keys, impact = pdf["key"].to_numpy(), pdf["impact"].to_numpy()
        self.postings = {
            pair: (keys[rows], impact[rows])
            for pair, rows in pdf.groupby(["field", "term"]).indices.items()
        }

    def scores(self, pairs, exclude=None) -> pd.DataFrame:
        """(key, score, norm_score) of every key, other than `exclude`,
        with a posting among the (field, term) `pairs`: its impacts
        summed and rounded to 6dp, and that score over the best one,
        rounded to 6dp too."""
        hits = [self.postings[p] for p in pairs if p in self.postings]
        keys, impact = (np.concatenate(a) for a in zip(*hits or [([], [])]))
        keep = keys != exclude
        keys, slot = np.unique(keys[keep], return_inverse=True)
        score = [rnd_py(s, 6) for s in np.bincount(slot, impact[keep]).tolist()]
        best = max(score, default=1.0)
        return pd.DataFrame(
            {
                "key": keys,
                "score": np.array(score, "float64"),
                "norm_score": np.array([rnd_py(s / best, 6) for s in score], "float64"),
            }
        )

    def top_k(self, spark: SparkSession, pairs, k: int) -> DataFrame:
        """The k best documents of `scores(pairs)`, ranked by score, then
        doc_id, as (doc_id, score, norm_score, rank) rows. Raises
        ValueError for k < 1."""
        if k < 1:
            raise ValueError(f"k must be at least 1, got {k}")
        top = (
            self.scores(pairs)
            .sort_values(["score", "key"], ascending=[False, True])
            .head(k)
            .rename(columns={"key": "doc_id"})
        )
        top["rank"] = np.arange(1, len(top) + 1, dtype="int32")
        return spark.createDataFrame(top, _TOPK_SCHEMA)


def document_index(spark: SparkSession, sf_dir: str) -> Bm25Index:
    """The BM25 index of the lake's `documents`, N = every document."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source", "lang")
    return Bm25Index(bm25_impacts(_field_tokens(docs), docs.count(), FIELD_BOOSTS))


def bm25_search(
    spark: SparkSession, sf_dir: str, query: str = DEFAULT_QUERY, k: int = 20
) -> DataFrame:
    """Top-k keyword search over `documents`: builds the index and serves
    one query from it."""
    pairs = keyword_pairs(query)
    return document_index(spark, sf_dir).top_k(spark, pairs, k)


def bm25_scores(
    spark: SparkSession, sf_dir: str, query: str = DEFAULT_QUERY
) -> DataFrame:
    """Unranked (doc_id, score, norm_score) over EVERY matching doc —
    the full-score surface combined_topk consumes."""
    pairs = keyword_pairs(query)
    scores = document_index(spark, sf_dir).scores(pairs)
    return spark.createDataFrame(
        scores.rename(columns={"key": "doc_id"}), "doc_id long, score double, norm_score double"
    )


_TOKS_SQL = "list_filter(string_split_regex(lower({src}), '[^a-z0-9]+'), t -> t <> '')"


def bm25_search_oracle(
    query: str = DEFAULT_QUERY, k: int = 20, boosts: dict[str, float] | None = None
) -> str:
    boosts = dict(FIELD_BOOSTS if boosts is None else boosts)
    terms = query_terms(query)
    term_list = ", ".join(f"'{t}'" for t in terms)
    body = _TOKS_SQL.format(src="text")
    title = f"list_slice({body}, 1, {TITLE_TOKENS})"
    kw = _TOKS_SQL.format(src="concat_ws(' ', source, lang)")
    boost_case = " ".join(f"WHEN field = '{f}' THEN {b}" for f, b in boosts.items())
    return f"""
    WITH toks AS (
      SELECT 'title' AS field, doc_id, unnest({title}) AS term FROM documents
      UNION ALL
      SELECT 'keywords' AS field, doc_id, unnest({kw}) AS term FROM documents
      UNION ALL
      SELECT 'body' AS field, doc_id, unnest({body}) AS term FROM documents
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), dl AS (
      SELECT field, doc_id, count(*) AS dl FROM toks GROUP BY field, doc_id
    ), avgdl AS (
      SELECT field, avg(dl) AS avgdl FROM dl GROUP BY field
    ), tf AS (
      SELECT field, doc_id, term, count(*) AS tf FROM toks
      WHERE term IN ({term_list}) GROUP BY field, doc_id, term
    ), dft AS (
      SELECT field, term, count(DISTINCT doc_id) AS df FROM toks
      WHERE term IN ({term_list}) GROUP BY field, term
    ), scored AS (
      SELECT tf.doc_id,
             floor((sum(
               (CASE {boost_case} END)
               * ln(1 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * ({K1} + 1))
               / (tf + {K1} * (1 - {B} + {B} * dl.dl / avgdl))
             )) * power(10, 6) + 0.5001) / power(10, 6) AS score
      FROM tf
      JOIN dft USING (field, term)
      JOIN dl ON tf.field = dl.field AND tf.doc_id = dl.doc_id
      JOIN avgdl ON tf.field = avgdl.field
      CROSS JOIN n
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score,
           floor((score / max(score) OVER ()) * power(10, 6) + 0.5001) / power(10, 6) AS norm_score,
           rank
    FROM (
      SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    ORDER BY rank
    """


# ----------------------------------------- pairwise dataset-level BM25


def pairwise_dataset_bm25(
    fields: DataFrame, boosts: dict[str, float] | None = None
) -> DataFrame:
    """Boosted multi-field BM25 between DATASETS: for every query dataset,
    score every candidate dataset using the query's field VALUES as the
    match queries (exactly the reference flow — metadata_search.py:14-31
    queries with res's keywords/title/description against the index),
    normalized per query by the max candidate score.

    `fields` is a long-form (dataset, field, field_text) frame; corpora
    are per field, N is the number of datasets, and `boosts` defaults
    to CATALOG_BOOSTS. Dataset counts scale with schema count, not data
    volume, so the index is small at any SF."""
    tokens = fields.select(
        "field",
        F.col("dataset").alias("key"),
        F.explode(F.expr(_TOKS.format(src="field_text"))).alias("term"),
    )
    n = fields.select("dataset").distinct().count()
    index = Bm25Index(bm25_impacts(tokens, n, CATALOG_BOOSTS if boosts is None else boosts))
    own = defaultdict(list)  # dataset -> the (field, term) pairs of its fields
    for pair, (keys, _) in index.postings.items():
        for key in keys:
            own[key].append(pair)
    rows = []
    for q, pairs in own.items():
        scores = index.scores(pairs, exclude=q)
        rows += [(q, c, s) for c, s in zip(scores["key"], scores["norm_score"].tolist())]
    return fields.sparkSession.createDataFrame(
        rows, "q_table string, cand_table string, metadata_score double"
    )
