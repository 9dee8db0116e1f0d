"""Dataset-to-dataset matching score.

Reference parity: `search/content_search.py:323-345` — for a candidate
dataset S, build the bipartite graph between the query dataset's columns
and S's columns with similarity-weighted edges, take the max-weight
matching (networkx), and score S as the sum of matched edge weights.

Spark-first redesign: the per-pair graphs are tiny (≤ #columns² edges),
so matching runs as an Arrow-batched `applyInPandas` per
(query_table, candidate_table) group — thousands of pairs match in
parallel across executors, vs the reference's sequential driver loop.
The matching itself is an exact max-weight bipartite matching via
bitmask DP (O(n·2^m) with m = candidate columns, m ≤ ~16), not a greedy
approximation — same optimum networkx finds.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from danae_spark.search.knn import TYPE_WEIGHTS, content_similarity


def _max_weight_matching(
    qcols: list, ccols: list, weights: dict
) -> tuple[float, int, list[tuple]]:
    """Exact max-weight bipartite matching by DP over candidate bitmask.
    Returns (score, n_matched, [(q, c, w), ...]) — the edge list is what
    the reference stores per candidate for its UI (content_search.py:333
    self.matchings[S]['edges'])."""
    m = len(ccols)
    w = [[weights.get((q, c), 0.0) for c in ccols] for q in qcols]
    memo: dict[tuple[int, int], tuple[float, int]] = {}

    def f(i: int, mask: int) -> tuple[float, int]:
        if i == len(qcols):
            return (0.0, 0)
        key = (i, mask)
        if key in memo:
            return memo[key]
        best = f(i + 1, mask)  # leave query column i unmatched
        for j in range(m):
            if mask & (1 << j) or w[i][j] <= 0.0:
                continue
            score, cnt = f(i + 1, mask | (1 << j))
            cand = (score + w[i][j], cnt + 1)
            if cand[0] > best[0]:
                best = cand
        memo[key] = best
        return best

    total, n = f(0, 0)
    # reconstruct one optimal assignment by replaying the DP decisions
    pairs: list[tuple] = []
    i, mask, remaining = 0, 0, total
    while i < len(qcols):
        skip = f(i + 1, mask)
        if abs(skip[0] - remaining) < 1e-12:
            i += 1
            remaining = skip[0]
            continue
        for j in range(m):
            if mask & (1 << j) or w[i][j] <= 0.0:
                continue
            sub = f(i + 1, mask | (1 << j))
            if abs(sub[0] + w[i][j] - remaining) < 1e-12:
                pairs.append((qcols[i], ccols[j], w[i][j]))
                mask |= 1 << j
                remaining = sub[0]
                break
        i += 1
    return total, n, pairs


def match_group(
    edges, type_weights: dict[str, float] | None = None
) -> tuple[float, list[tuple]]:
    """Max-weight matching of ONE (q_table, cand_table) group, given its
    (q_column, col_type, cand_column, sim) edges: (score rounded to 6dp,
    matched [((q_column, col_type), cand_column, w), ...]).

    Edge weights follow the reference: each edge carries `w·sim` where w
    is the per-type weight of the QUERY column producing the ranked list
    (content_search.py:311 `w = weights[no]`, :321
    `edges.append((.., w*sim, sim))`), and a candidate dataset scores the
    sum of matched WEIGHTED edges (:345). Types missing from
    `type_weights` weigh 1. Query columns are keyed by (name, type): a
    table may expose the same column name in two type indexes."""
    tw = TYPE_WEIGHTS if type_weights is None else type_weights
    qcols, ccols, weights = set(), set(), {}
    for q_column, col_type, cand_column, sim in edges:
        key = ((q_column, col_type), cand_column)
        qcols.add(key[0])
        ccols.add(cand_column)
        w = float(tw.get(col_type, 1.0)) * float(sim)
        if w > weights.get(key, 0.0):
            weights[key] = w
    score, _, pairs = _max_weight_matching(sorted(qcols), sorted(ccols), weights)
    return round(score, 6), pairs


def matching_scores_from_sims(
    sims: DataFrame, type_weights: dict[str, float] | None = None
) -> DataFrame:
    """Max-weight bipartite matching per (q_table, cand_table) group over
    a (q_table, q_column, col_type, cand_table, cand_column, sim) frame,
    one `match_group` call per group. All-1 defaults reproduce the
    unweighted behavior."""

    def match(pdf: pd.DataFrame) -> pd.DataFrame:
        score, pairs = match_group(
            zip(pdf["q_column"], pdf["col_type"], pdf["cand_column"], pdf["sim"]),
            type_weights,
        )
        matching = ";".join(
            f"{q[0]}~{c}@{w:.6f}" for (q, c, w) in sorted(pairs)
        )
        return pd.DataFrame(
            {
                "q_table": [pdf["q_table"].iloc[0]],
                "cand_table": [pdf["cand_table"].iloc[0]],
                "match_score": [score],
                "n_matched": [len(pairs)],
                "matching": [matching],
            }
        )

    return (
        sims.groupBy("q_table", "cand_table")
        .applyInPandas(
            match,
            schema="q_table string, cand_table string, match_score double,"
            " n_matched int, matching string",
        )
        .orderBy("q_table", "cand_table")
    )


def dataset_matching_scores(
    spark: SparkSession,
    sf_dir: str,
    type_weights: dict[str, float] | None = None,
    embeddings: DataFrame | None = None,
) -> DataFrame:
    """Score every (query_table, candidate_table) pair by max-weight
    matching over their column similarities (all four column types);
    `embeddings` feeds the Categorical index (knn.typed_signatures)."""
    from danae_spark.shipping import ensure_shipped

    ensure_shipped(spark)  # pandas-UDF closure needs the package on workers
    sims = content_similarity(spark, sf_dir, embeddings=embeddings).select(
        "q_table", "q_column", "col_type", "cand_table", "cand_column", "sim"
    )
    return matching_scores_from_sims(sims, type_weights)
