"""Exactness of the bitmask-DP max-weight bipartite matching
(danae_spark/search/matching.py) vs brute-force enumeration and
networkx, the reference system's matcher."""

from __future__ import annotations

import itertools
import random

import networkx as nx
from hypothesis import example, given, settings
from hypothesis import strategies as st

from danae_spark.search.knn import TYPE_WEIGHTS
from danae_spark.search.matching import _max_weight_matching, match_group


def brute_force(qcols, ccols, weights):
    best = 0.0
    for r in range(min(len(qcols), len(ccols)) + 1):
        for qs in itertools.combinations(qcols, r):
            for cs in itertools.permutations(ccols, r):
                s = sum(weights.get((q, c), 0.0) for q, c in zip(qs, cs))
                best = max(best, s)
    return best


def test_matching_matches_bruteforce():
    rng = random.Random(42)
    for _ in range(25):
        nq, nc = rng.randint(1, 5), rng.randint(1, 5)
        qcols = [f"q{i}" for i in range(nq)]
        ccols = [f"c{i}" for i in range(nc)]
        weights = {
            (q, c): round(rng.random(), 3)
            for q in qcols
            for c in ccols
            if rng.random() > 0.3
        }
        dp_score, n, pairs = _max_weight_matching(qcols, ccols, weights)
        bf_score = brute_force(qcols, ccols, weights)
        assert abs(dp_score - bf_score) < 1e-9, (qcols, ccols, weights)
        assert 0 <= n <= min(nq, nc)
        # the reconstructed edge list is a valid matching achieving the score
        assert len(pairs) == n
        assert len({q for q, _, _ in pairs}) == len(pairs)
        assert len({c for _, c, _ in pairs}) == len(pairs)
        assert abs(sum(w for _, _, w in pairs) - dp_score) < 1e-9


def test_matching_empty():
    assert _max_weight_matching(["q0"], ["c0"], {}) == (0.0, 0, [])


def test_type_weighted_matching_parity(spark):
    """Per-type weights change the optimum exactly as the reference's
    w·sim edges do (content_search.py:311,321) — hand-computed case:

    unweighted sims: (a1,b1)=0.9 (a1,b2)=0.8 [Numeric],
                     (a2,b1)=0.85 (a2,b2)=0.1 [Categorical]
    all-1 weights   → match a1→b2(0.8) + a2→b1(0.85) = 1.65
    Categorical w=5 → edges a2,* become 4.25/0.5;
                      optimum a1→b1? 0.9+0.5=1.4 vs a1→b2+a2→b1 0.8+4.25
                      = 5.05 (same pairing, weighted) — but with
                      (a2,b1)=0.1,(a2,b2)=0.85 flipped the pairing DOES
                      flip, so use that layout to prove the weight drives
                      assignment.
    """
    from danae_spark.search.matching import matching_scores_from_sims

    rows = [
        ("A", "a1", "Numeric", "B", "b1", 0.9),
        ("A", "a1", "Numeric", "B", "b2", 0.8),
        ("A", "a2", "Categorical", "B", "b1", 0.1),
        ("A", "a2", "Categorical", "B", "b2", 0.85),
    ]
    sims = spark.createDataFrame(
        rows, "q_table string, q_column string, col_type string,"
        " cand_table string, cand_column string, sim double"
    )
    # all-1: a1→b1 (0.9) + a2→b2 (0.85) = 1.75
    out = matching_scores_from_sims(sims).collect()[0]
    assert abs(out.match_score - 1.75) < 1e-9 and out.n_matched == 2
    # Numeric weight 10: a1's edges dominate → a1→b1 (9.0) + a2→b2 (0.85)
    out = matching_scores_from_sims(sims, {"Numeric": 10.0, "Categorical": 1.0}).collect()[0]
    assert abs(out.match_score - 9.85) < 1e-9
    # Categorical weight 10, but force the conflict: drop b2 so both query
    # columns compete for b1 — the weighted edge wins the node
    conflict = spark.createDataFrame(
        [r for r in rows if r[4] == "b1"],
        "q_table string, q_column string, col_type string,"
        " cand_table string, cand_column string, sim double",
    )
    out = matching_scores_from_sims(conflict, {"Numeric": 1.0, "Categorical": 100.0}).collect()[0]
    # a2→b1 (100·0.1 = 10.0) beats a1→b1 (0.9)
    assert abs(out.match_score - 10.0) < 1e-9 and out.n_matched == 1


_edge = st.tuples(
    st.integers(0, 5),
    st.sampled_from(sorted(TYPE_WEIGHTS)),
    st.integers(0, 5),
    st.just(0.0) | st.floats(0.0, 1.0, allow_nan=False),
)


@settings(max_examples=200, deadline=None)
@given(
    edges=st.lists(_edge, max_size=36),
    type_weights=st.none()
    | st.dictionaries(st.sampled_from(sorted(TYPE_WEIGHTS)), st.floats(0.0, 3.0)),
)
@example(  # one (q, c) pair under two column types, a zero similarity, a parallel edge
    edges=[
        (0, "Numeric", 0, 0.7), (0, "Categorical", 0, 0.9), (1, "Numeric", 0, 0.0),
        (1, "Numeric", 1, 0.8), (1, "Numeric", 1, 0.3),
    ],
    type_weights=None,
)
def test_match_group_equals_networkx(edges, type_weights):
    """The matcher's score is the weight sum of networkx's max-weight
    matching over the same w(type)·sim edges; a query column is a
    (name, type) node, and parallel edges keep their best weight."""
    rows = [(f"q{q}", t, f"c{c}", sim) for q, t, c, sim in edges]
    tw = TYPE_WEIGHTS if type_weights is None else type_weights
    g = nx.Graph()
    for q, t, c, sim in rows:
        w = tw.get(t, 1.0) * sim
        u, v = ("q", q, t), ("c", c)
        if w > 0.0 and w > g.get_edge_data(u, v, {"weight": 0.0})["weight"]:
            g.add_edge(u, v, weight=w)
    want = sum(g[u][v]["weight"] for u, v in nx.max_weight_matching(g))
    score, pairs = match_group(rows, type_weights)
    assert abs(score - want) <= 1e-6, (rows, score, want)
    assert len({q for q, _, _ in pairs}) == len({c for _, c, _ in pairs}) == len(pairs)
