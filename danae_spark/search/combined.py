"""Combined (content + metadata) dataset search.

Reference parity: `search/combined_search.py:21 __score` —
`overall = w_c·content + w_m·metadata` — with top-k selection. The
reference walks the two ranked lists with a Fagin threshold algorithm and
upper-bound early exit (combined_search.py:47-109) because each missing
score costs an index round-trip; in Spark both score sets are full
DataFrames, so the optimal batch plan is a full outer join + weighted
sum + window top-k (no early-exit machinery needed — scoring all
candidates is one shuffle-free pass over two small score tables).

Content score per document = cosine similarity between its embedding and
the query document's embedding (the engine's document-level analogue of
the reference's column-vector content score); metadata score = normalized
BM25 (`search/metadata.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from danae_spark.catalog import load_table
from danae_spark.functions import vectors
from danae_spark.search.engine import W_CONTENT, W_METADATA
from danae_spark.search.metadata import DEFAULT_QUERY, bm25_scores, bm25_search_oracle
from danae_spark.functions.rounding import rnd

QUERY_VEC_ID = 0


def embedding_content_scores(
    spark: SparkSession, sf_dir: str, query_vec_id: int = QUERY_VEC_ID
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_embedding")
    )
    return (
        emb.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("doc_id"),
            rnd(vectors.cosine("embedding", "q_embedding"), 6).alias("content_score"),
        )
    )


def combined_topk(
    spark: SparkSession,
    sf_dir: str,
    query: str = DEFAULT_QUERY,
    k: int = 10,
) -> DataFrame:
    content = embedding_content_scores(spark, sf_dir)
    meta = bm25_scores(spark, sf_dir, query).select(
        "doc_id", F.col("norm_score").alias("metadata_score")
    )
    joined = (
        content.join(meta, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("content_score", F.lit(0.0)).alias("content_score"),
            F.coalesce("metadata_score", F.lit(0.0)).alias("metadata_score"),
        )
        .withColumn(
            "overall_score",
            rnd(
                F.lit(W_CONTENT) * F.col("content_score")
                + F.lit(W_METADATA) * F.col("metadata_score"),
                6,
            ),
        )
    )
    # top-k WITHOUT a global window (the r16-flagged pattern):
    # orderBy().limit(k) compiles to TakeOrderedAndProject — a parallel
    # partial top-k per partition — and rank is derived on the k-row
    # tail, so no full-corpus single-partition stage exists.
    top = joined.orderBy(F.desc("overall_score"), F.asc("doc_id")).limit(k)
    w = W.partitionBy().orderBy(F.desc("overall_score"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("doc_id", "content_score", "metadata_score", "overall_score", "rank")
        .orderBy("rank")
    )


def combined_topk_oracle(query: str = DEFAULT_QUERY, k: int = 10) -> str:
    bm25 = bm25_search_oracle(query, k=10**9).rsplit(" ORDER BY rank", 1)[0]
    return f"""
    WITH meta AS ({bm25}),
    content AS (
      SELECT e.vec_id AS doc_id,
             floor((list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[])
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])))) * power(10, 6) + 0.5001) / power(10, 6) AS content_score
      FROM embeddings e, embeddings q
      WHERE q.vec_id = {QUERY_VEC_ID} AND e.vec_id <> {QUERY_VEC_ID}
    ),
    joined AS (
      SELECT coalesce(c.doc_id, m.doc_id) AS doc_id,
             coalesce(c.content_score, 0) AS content_score,
             coalesce(m.norm_score, 0) AS metadata_score
      FROM content c FULL OUTER JOIN meta m ON c.doc_id = m.doc_id
    )
    SELECT doc_id, content_score, metadata_score,
           floor(({W_CONTENT} * content_score + {W_METADATA} * metadata_score) * power(10, 6) + 0.5001) / power(10, 6)
             AS overall_score,
           rank
    FROM (
      SELECT *, row_number() OVER (
        ORDER BY floor(({W_CONTENT} * content_score + {W_METADATA} * metadata_score) * power(10, 6) + 0.5001) / power(10, 6) DESC,
                 doc_id) AS rank
      FROM joined
    ) WHERE rank <= {k}
    ORDER BY rank
    """
