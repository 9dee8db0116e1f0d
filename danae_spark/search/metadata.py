"""Metadata (text-relevance) search — boosted multi-field BM25.

Reference parity: `search/metadata_search.py:14-31` issues a boosted
multi-field `match` query to Elasticsearch — one clause per metadata
field (keywords / title / description), each with its own boost, in a
bool/should with minimum_should_match=1 — and normalizes every hit's
score by `max_score` (metadata_search.py:43-46).

Spark-first redesign: ES's Lucene BM25 is re-expressed explicitly as
DataFrame aggregations, PER FIELD, then combined with per-field boosts:

    idf_f(t)    = ln(1 + (N - df_f + 0.5) / (df_f + 0.5))
    score_f(d)  = Σ_t idf_f(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl_f/avgdl_f))
    score(d)    = Σ_f boost_f · score_f(d)        (docs matching ≥1 term)

with k1=1.2, b=0.75. The `documents` table has no separate metadata
fields, so the three searchable fields are derived deterministically:
title = first 8 text tokens, keywords = source + lang, body = full text.
Corpus statistics (df per query term, avgdl, N — all per field) are tiny
aggregates broadcast back to the doc-level join — one shuffle on
(field, doc, term), no search service. Scores are rounded to 6dp before
the max-normalization and ranking so results are engine-stable.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from danae_spark.catalog import load_table
from danae_spark.functions.rounding import rnd

K1 = 1.2
B = 0.75
DEFAULT_QUERY = "spark join filter stream"
TITLE_TOKENS = 8
FIELD_BOOSTS = {"title": 2.0, "keywords": 1.5, "body": 1.0}

_TOKS = "filter(split(lower({src}), '[^a-z0-9]+'), t -> t <> '')"
_SPLIT = re.compile(r"[^a-z0-9]+")


def query_terms(query: str) -> list[str]:
    """The distinct terms of a keyword query, sorted, tokenized as `_TOKS`
    tokenizes the documents: lower-cased, split on non-alphanumerics.
    Raises ValueError when the query has no term."""
    terms = sorted({t for t in _SPLIT.split(query.lower()) if t})
    if not terms:
        raise ValueError(f"keyword query {query!r} has no terms")
    return terms


def _field_tokens(docs: DataFrame) -> DataFrame:
    """Long-form (field, doc_id, term) over the three derived fields."""
    body_arr = F.expr(_TOKS.format(src="text"))
    title_arr = F.slice(body_arr, 1, TITLE_TOKENS)
    kw_arr = F.expr(_TOKS.format(src="concat_ws(' ', source, lang)"))
    parts = [
        docs.select(F.lit("title").alias("field"), "doc_id", F.explode(title_arr).alias("term")),
        docs.select(F.lit("keywords").alias("field"), "doc_id", F.explode(kw_arr).alias("term")),
        docs.select(F.lit("body").alias("field"), "doc_id", F.explode(body_arr).alias("term")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _bm25_scored(
    spark: SparkSession,
    sf_dir: str,
    query: str = DEFAULT_QUERY,
    boosts: dict[str, float] | None = None,
) -> DataFrame:
    """(doc_id, score) for every doc matching ≥1 query term."""
    boosts = dict(FIELD_BOOSTS if boosts is None else boosts)
    terms = query_terms(query)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source", "lang")
    n_docs = docs.agg(F.count("*").alias("n_docs"))

    # r17 perf (values identical, oracle untouched): the long-form token
    # explode used to feed THREE aggregations (dl, tf, df) — the 3-field
    # explode over the corpus ran three times. dl is just the token-array
    # sizes (no explode, no shuffle of token rows; the dl > 0 filter
    # reproduces the explode semantics exactly — a zero-token field
    # produced no rows, so it never entered avgdl), and df collapses
    # from tf (tf has exactly one row per (field, doc, term), so
    # count(*) == the old count_distinct(doc_id) over raw tokens).
    # The explode now runs once, pre-filtered to the query terms.
    body_arr = F.expr(_TOKS.format(src="text"))
    title_arr = F.slice(body_arr, 1, TITLE_TOKENS)
    kw_arr = F.expr(_TOKS.format(src="concat_ws(' ', source, lang)"))
    dl = (
        docs.select(
            "doc_id",
            F.size(title_arr).alias("title"),
            F.size(kw_arr).alias("keywords"),
            F.size(body_arr).alias("body"),
        )
        .select(
            "doc_id",
            F.expr(
                "stack(3, 'title', title, 'keywords', keywords, 'body', body)"
                " AS (field, dl)"
            ),
        )
        .filter(F.col("dl") > 0)
        .select("field", "doc_id", F.col("dl").cast("long").alias("dl"))
    )
    avgdl = dl.groupBy("field").agg(F.avg("dl").alias("avgdl"))

    qtoks = _field_tokens(docs).filter(F.col("term").isin(*terms))
    tf = qtoks.groupBy("field", "doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("field", "term").agg(F.count("*").alias("df"))

    boost = F.coalesce(
        *[F.when(F.col("field") == f, F.lit(b)) for f, b in boosts.items()]
    )
    scored = (
        tf.join(F.broadcast(df_), ["field", "term"])
        .join(dl, ["field", "doc_id"])
        .join(F.broadcast(avgdl), "field")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "idf", F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        )
        .withColumn(
            "term_score",
            boost
            * F.col("idf")
            * (F.col("tf") * (K1 + 1))
            / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("doc_id")
        .agg(rnd(F.sum("term_score"), 6).alias("score"))
    )
    return scored


def bm25_search(
    spark: SparkSession,
    sf_dir: str,
    query: str = DEFAULT_QUERY,
    k: int = 20,
    boosts: dict[str, float] | None = None,
) -> DataFrame:
    return _ranked_topk(_bm25_scored(spark, sf_dir, query, boosts), k)


def bm25_scores(
    spark: SparkSession,
    sf_dir: str,
    query: str = DEFAULT_QUERY,
    boosts: dict[str, float] | None = None,
) -> DataFrame:
    """Unranked (doc_id, score, norm_score) over EVERY matching doc —
    the full-score surface combined_topk consumes. Normalization uses a
    broadcast scalar max (map-side-partial agg + 1-row broadcast join),
    not a global window, so no stage ever collapses to one partition
    no matter the corpus size."""
    scored = _bm25_scored(spark, sf_dir, query, boosts)
    mx = scored.agg(F.max("score").alias("max_score"))
    return scored.crossJoin(F.broadcast(mx)).select(
        "doc_id",
        "score",
        rnd(F.col("score") / F.col("max_score"), 6).alias("norm_score"),
    )


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """Top-k of a (doc_id, score) frame WITHOUT a global window: the
    max-score normalizer is a broadcast scalar, and rank is derived on
    the post-`limit(k)` frame — `orderBy().limit(k)` compiles to
    TakeOrderedAndProject (parallel partial top-k per partition), so
    the only single-partition work is the k-row tail. Replaces the
    r16-flagged `row_number().over(W.partitionBy().orderBy(...))`
    pattern, which moved the WHOLE score table to one partition."""
    mx = scored.agg(F.max("score").alias("max_score"))
    top = (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .crossJoin(F.broadcast(mx))
        .withColumn("norm_score", rnd(F.col("score") / F.col("max_score"), 6))
    )
    w = W.partitionBy().orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("doc_id", "score", "norm_score", "rank")
        .orderBy("rank")
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
    are per field. Dataset counts scale with schema count, not data
    volume, so every side here is broadcast-sized at any SF."""
    boosts = dict(FIELD_BOOSTS if boosts is None else boosts)
    toks = fields.select(
        "dataset",
        "field",
        F.explode(F.expr(_TOKS.format(src="field_text"))).alias("term"),
    )
    n = toks.select("dataset").distinct().agg(F.count("*").alias("n_ds"))
    dl = toks.groupBy("field", "dataset").agg(F.count("*").alias("dl"))
    avgdl = dl.groupBy("field").agg(F.avg("dl").alias("avgdl"))
    tf = toks.groupBy("field", "dataset", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("field", "term").agg(F.count("*").alias("df"))

    q_terms = toks.select(
        F.col("dataset").alias("q_table"), "field", "term"
    ).distinct()
    boost = F.coalesce(
        *[F.when(F.col("field") == f, F.lit(b)) for f, b in boosts.items()]
    )
    pair_scores = (
        q_terms.join(
            tf.select(F.col("dataset").alias("cand_table"), "field", "term", "tf"),
            ["field", "term"],
        )
        .filter(F.col("q_table") != F.col("cand_table"))
        .join(F.broadcast(df_), ["field", "term"])
        .join(
            dl.select(F.col("dataset").alias("cand_table"), "field", "dl"),
            ["field", "cand_table"],
        )
        .join(F.broadcast(avgdl), "field")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "idf", F.log(1 + (F.col("n_ds") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        )
        .withColumn(
            "term_score",
            boost
            * F.col("idf")
            * (F.col("tf") * (K1 + 1))
            / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("q_table", "cand_table")
        .agg(rnd(F.sum("term_score"), 6).alias("raw_score"))
    )
    wq = W.partitionBy("q_table")
    return (
        pair_scores.withColumn("max_score", F.max("raw_score").over(wq))
        .withColumn(
            "metadata_score",
            rnd(F.col("raw_score") / F.col("max_score"), 6),
        )
        .select("q_table", "cand_table", "metadata_score")
    )
