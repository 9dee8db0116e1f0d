"""Column-signature kNN and content similarity scoring — ALL four column
types of the reference's content index.

Reference parity: `search/index.py` keeps one R-tree per column type and
`search/content_search.py` searches them per query column:

- Numeric  → 7-point quantile signature        (numTree,  :33, :129)
- Temporal → 7-point epoch-second signature    (dateTree, :30, :152)
- Categorical → mean word-embedding of top-k terms (catTree, :33, :138;
  8-dim md5 stand-in for GloVe — declared in tfidf.py)
- Spatial  → flat bbox [x_min, y_min, x_max, y_max] (spatTree, :34, :146)

For a query column, take the M nearest same-type candidate columns by
euclidean distance, derive `kth` = the L-th smallest distance (skipping
leading zeros, content_search.py:88-95), and score each candidate
`sim = exp(-decay * dist / kth)` (content_search.py:104); per-column
weights are applied downstream by the matcher (w·sim, :321).

Spark-first redesign: signatures live in DataFrames of #columns rows
(tiny even at 100 TB of *data* — signature count scales with schema
count, not row count), so kNN is a broadcast join + window ranking per
type instead of four R-trees: the whole search for EVERY query column
happens in one shuffle-free pass — the reference answers one query
column at a time.

Distances are rounded to 4dp before ranking so ordering is stable across
engines (ranking on raw doubles would be sensitive to last-ulp noise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from danae_spark.functions.rounding import rnd
from danae_spark.profiling.profiler import (
    SIGNATURE_NAMES,
    SPATIAL_BBOX_NAMES,
    quantile_signatures,
    quantile_signatures_oracle,
    spatial_bboxes,
    spatial_bboxes_oracle,
    temporal_profile,
    temporal_profile_oracle,
)
from danae_spark.profiling.tfidf import (
    EMB_DIMS,
    categorical_column_embeddings,
    categorical_column_embeddings_oracle,
)

DECAY = 0.01

CATEGORICAL_NAMES = tuple(f"e{i}" for i in range(EMB_DIMS))

# default per-type weights for the matcher (reference: per-column weights
# from fields[col_name], content_search.py:200; surfaced here per type
# with all-1 defaults so unweighted behavior is unchanged)
TYPE_WEIGHTS = {"Numeric": 1.0, "Temporal": 1.0, "Categorical": 1.0, "Spatial": 1.0}


def typed_signatures(
    spark: SparkSession,
    sf_dir: str,
    embeddings: DataFrame | None = None,
    emb_dims: int | None = None,
) -> list[tuple[DataFrame, tuple[str, ...], str]]:
    """One signature DataFrame per column type (the four type indexes).

    `embeddings` plugs a real term→vector table (e.g. GloVe-50d) into
    the Categorical index in place of the md5 stand-in; `emb_dims` is
    its vector length (inferred from the first row when omitted).

    Each frame is `.cache()`d. The frames are schema-sized (one row per
    column — tiny at ANY data scale) but cost a full profiling pass, and
    every pair join reads them on BOTH sides. Spark's cache manager
    matches a re-issued frame by its canonicalized plan, so a later call
    in the same session with the same lake and embeddings reads the
    materialized frames instead of profiling the lake again. Dataset
    search does not call this per request: `DataLakeEngine` builds its
    driver-side `SearchIndex` (engine.py) from these frames once, the
    counterpart of the reference's one-time R-tree `train()`
    (content_search.py:219), and serves every request from it."""
    if embeddings is not None and emb_dims is None:
        emb_dims = len(embeddings.select("vector").head().vector)
    dims = emb_dims if embeddings is not None else EMB_DIMS
    cat_names = tuple(f"e{i}" for i in range(dims))
    # .coalesce(1): these frames are schema-sized (one row per column) —
    # leaving them at scan parallelism makes every downstream window /
    # join stage schedule 32 near-empty tasks, which is most of the
    # dataset_search wall-clock
    return [
        (quantile_signatures(spark, sf_dir).coalesce(1).cache(), SIGNATURE_NAMES, "Numeric"),
        (temporal_profile(spark, sf_dir).coalesce(1).cache(), SIGNATURE_NAMES, "Temporal"),
        (
            categorical_column_embeddings(spark, sf_dir, dims=dims, embeddings=embeddings)
            .drop("n_terms")
            .coalesce(1)
            .cache(),
            cat_names,
            "Categorical",
        ),
        (spatial_bboxes(spark, sf_dir).coalesce(1).cache(), SPATIAL_BBOX_NAMES, "Spatial"),
    ]


def _sig_pairs(sigs: DataFrame, names: tuple[str, ...], col_type: str) -> DataFrame:
    """Cross-table column pairs within ONE type index, with euclidean
    signature distance (the reference only compares columns inside one
    type's tree — content_search.py:72)."""
    q = sigs.select(
        F.col("table_name").alias("q_table"),
        F.col("column_name").alias("q_column"),
        *[F.col(n).alias(f"q_{n}") for n in names],
    )
    c = sigs.select(
        F.col("table_name").alias("cand_table"),
        F.col("column_name").alias("cand_column"),
        *[F.col(n).alias(f"c_{n}") for n in names],
    )
    sq = sum(
        (F.col(f"q_{n}") - F.col(f"c_{n}")) * (F.col(f"q_{n}") - F.col(f"c_{n}"))
        for n in names
    )
    return (
        q.join(F.broadcast(c), F.col("q_table") != F.col("cand_table"))
        .withColumn("dist", rnd(F.sqrt(sq), 4))
        .withColumn("col_type", F.lit(col_type))
        .select("q_table", "q_column", "col_type", "cand_table", "cand_column", "dist")
    )


def all_pair_distances(
    spark: SparkSession, sf_dir: str, embeddings: DataFrame | None = None
) -> DataFrame:
    parts = [
        _sig_pairs(sigs, names, t)
        for sigs, names, t in typed_signatures(spark, sf_dir, embeddings=embeddings)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def signature_knn(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    embeddings: DataFrame | None = None,
) -> DataFrame:
    """k nearest same-type columns (other tables) per query column —
    across all four type indexes."""
    pairs = all_pair_distances(spark, sf_dir, embeddings=embeddings)
    w = W.partitionBy("q_table", "q_column", "col_type").orderBy(
        "dist", "cand_table", "cand_column"
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_table", "q_column", "col_type", "cand_table", "cand_column", "dist", "rank")
        .orderBy("q_table", "q_column", "col_type", "rank")
    )


def content_similarity(
    spark: SparkSession,
    sf_dir: str,
    L: int = 5,
    M: int = 10,
    embeddings: DataFrame | None = None,
) -> DataFrame:
    """Ranked candidate columns with `exp(-decay·dist/kth)` similarity,
    for every query column of every type."""
    pairs = all_pair_distances(spark, sf_dir, embeddings=embeddings)
    w = W.partitionBy("q_table", "q_column", "col_type").orderBy(
        "dist", "cand_table", "cand_column"
    )
    wq = W.partitionBy("q_table", "q_column", "col_type")
    ranked = pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= M)
    # kth per content_search.py:88-95: min(L, list-length)-th smallest,
    # skipping leading zeros; all-zero ranked list → epsilon
    with_kth = (
        ranked.withColumn("n_cand", F.count("*").over(wq))
        .withColumn(
            "kth_l",
            F.max(
                F.when(F.col("rank") == F.least(F.lit(L), F.col("n_cand")), F.col("dist"))
            ).over(wq),
        )
        .withColumn(
            "min_nonzero", F.min(F.when(F.col("dist") > 0, F.col("dist"))).over(wq)
        )
        .withColumn(
            "kth",
            F.when(F.col("kth_l") > 0, F.col("kth_l")).otherwise(
                F.coalesce(F.col("min_nonzero"), F.lit(1e-12))
            ),
        )
    )
    return (
        with_kth.withColumn(
            "sim", rnd(F.exp(-F.lit(DECAY) * F.col("dist") / F.col("kth")), 6)
        )
        .select(
            "q_table", "q_column", "col_type", "cand_table", "cand_column",
            "dist", "sim", "rank",
        )
        .orderBy("q_table", "q_column", "col_type", "rank")
    )


# --------------------------------------------------------- oracle generators


def _typed_pairs_sql() -> str:
    """UNION of per-type cross-table pair CTE bodies (one branch per type
    index, each with its own signature width)."""

    def pair_branch(src_sql: str, names: tuple[str, ...], col_type: str) -> str:
        sq = " + ".join(f"(q.{n} - c.{n}) * (q.{n} - c.{n})" for n in names)
        return f"""
      SELECT q.table_name AS q_table, q.column_name AS q_column,
             '{col_type}' AS col_type,
             c.table_name AS cand_table, c.column_name AS cand_column,
             floor((sqrt({sq})) * power(10, 4) + 0.5001) / power(10, 4) AS dist
      FROM ({src_sql}) q JOIN ({src_sql}) c
        ON q.table_name <> c.table_name"""

    num_sql = quantile_signatures_oracle().rsplit(" ORDER BY ", 1)[0]
    tmp_sql = temporal_profile_oracle().rsplit(" ORDER BY ", 1)[0]
    cat_sql = categorical_column_embeddings_oracle().rsplit(" ORDER BY ", 1)[0]
    spat_sql = spatial_bboxes_oracle().rsplit(" ORDER BY ", 1)[0]
    branches = [
        pair_branch(num_sql, SIGNATURE_NAMES, "Numeric"),
        pair_branch(tmp_sql, SIGNATURE_NAMES, "Temporal"),
        pair_branch(cat_sql, CATEGORICAL_NAMES, "Categorical"),
        pair_branch(spat_sql, SPATIAL_BBOX_NAMES, "Spatial"),
    ]
    return "WITH pairs AS (" + " UNION ALL ".join(branches) + ")"


def signature_knn_oracle(k: int = 3) -> str:
    return f"""{_typed_pairs_sql()}
    SELECT q_table, q_column, col_type, cand_table, cand_column, dist, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY q_table, q_column, col_type
                                   ORDER BY dist, cand_table, cand_column) AS rank
      FROM pairs
    ) WHERE rank <= {k}
    ORDER BY q_table, q_column, col_type, rank
    """


def content_similarity_oracle(L: int = 5, M: int = 10) -> str:
    return f"""{_typed_pairs_sql()},
    ranked AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY q_table, q_column, col_type
                                     ORDER BY dist, cand_table, cand_column) AS rank
        FROM pairs
      ) WHERE rank <= {M}
    ), counted AS (
      SELECT *, count(*) OVER (PARTITION BY q_table, q_column, col_type) AS n_cand
      FROM ranked
    ), with_kth AS (
      SELECT *,
        max(CASE WHEN rank = least({L}, n_cand) THEN dist END)
          OVER (PARTITION BY q_table, q_column, col_type) AS kth_l,
        min(CASE WHEN dist > 0 THEN dist END)
          OVER (PARTITION BY q_table, q_column, col_type) AS min_nonzero
      FROM counted
    )
    SELECT q_table, q_column, col_type, cand_table, cand_column, dist,
           floor((exp(-{DECAY} * dist /
                 (CASE WHEN kth_l > 0 THEN kth_l
                       ELSE coalesce(min_nonzero, 1e-12) END))) * power(10, 6) + 0.5001) / power(10, 6) AS sim,
           rank
    FROM with_kth
    ORDER BY q_table, q_column, col_type, rank
    """
