"""Tests of the benchmark itself: its lake, seeded inputs, answer checks,
and the metric names it prints. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import oracle  # noqa: E402
import run  # noqa: E402
import workloads as wl  # noqa: E402


@pytest.fixture(scope="module")
def lake():
    return run.DATA_DIR


@pytest.fixture(scope="module")
def con(lake):
    return oracle.duck_lake(lake)


# -------------------------------------------------------- inputs and seeds


def test_lake_matches_its_checksums(lake):
    with open(os.path.join(lake, "SHA256SUMS")) as f:
        sums = dict(reversed(line.split()) for line in f)
    assert sorted(sums) == sorted(f"{t}.parquet" for t in wl.LAKE_TABLES)
    for name, digest in sums.items():
        with open(os.path.join(lake, name), "rb") as f:
            assert hashlib.sha256(f.read()).hexdigest() == digest, name


def test_request_streams_are_functions_of_the_seed(lake):
    assert wl.dataset_requests(5, 300) == wl.dataset_requests(5, 300)
    assert wl.dataset_requests(5, 300) != wl.dataset_requests(6, 300)
    vocab = wl.corpus_term_counts(lake)
    assert wl.keyword_requests(5, vocab, 300) == wl.keyword_requests(5, vocab, 300)
    assert wl.keyword_requests(5, vocab, 300) != wl.keyword_requests(6, vocab, 300)


def test_keyword_mix_has_the_configured_properties(lake):
    vocab = wl.corpus_term_counts(lake)
    head, tail = wl.split_vocabulary(vocab)
    assert head and tail and min(vocab[t] for t in head) > max(vocab[t] for t in tail)
    reqs = wl.keyword_requests(9, vocab, 250)
    # a query matches documents iff one of its terms is in the corpus
    hits = {r.key(): int(any(t in vocab for t in r.query.split())) for r in reqs}
    mix = wl.keyword_mix(reqs, hits)
    assert 0.15 < mix["repeated_share"] < 0.35
    assert 0.03 < mix["zero_hit_share"] < 0.2
    assert set(mix["term_kind_split"]) == {"head", "tail", "oov"}
    assert set(mix["k_mix"]) == {str(k) for k in wl.KEYWORD_KS}
    assert all(t not in vocab for r in reqs for t, kind in
               zip(r.query.split(), r.term_kinds) if kind == "oov")


def test_every_keyword_block_carries_the_same_mix(lake):
    vocab = wl.corpus_term_counts(lake)
    n = wl.KEYWORD_BLOCK
    for seed in (1, 2, 3):
        reqs = wl.keyword_requests(seed, vocab, 5 * n)
        # the first block may turn a leading repeat slot into a fresh query
        for b in range(1, 5):
            block = reqs[b * n:(b + 1) * n]
            assert sum(r.repeat for r in block) == round(n * wl.REPEAT_SHARE)
            fresh_zero = sum(not r.repeat and r.term_kinds[0] == "oov" for r in block)
            assert fresh_zero == round(n * wl.ZERO_HIT_SHARE)


# ---------------------------------------------------------------- checkers


def test_dataset_search_check_catches_a_perturbed_answer(lake, con):
    ref = oracle.DatasetSearchReference(lake, con)
    req = wl.DatasetRequest("orders", 5, 0.6, 0.4, None)
    rows = [
        (req.dataset, c, cs, ms, overall, i + 1)
        for i, (c, cs, ms, overall) in enumerate(
            ref.scores(req.dataset, req.w_content, req.w_metadata, req.type_weights)[:req.k]
        )
    ]
    assert oracle.check_dataset_search(ref, req, rows) == []

    nudged = list(rows[0])
    nudged[4] += 1e-4
    assert oracle.check_dataset_search(ref, req, [tuple(nudged)] + rows[1:])
    swapped = [rows[1][:5] + (1,), rows[0][:5] + (2,)] + rows[2:]
    assert oracle.check_dataset_search(ref, req, swapped)
    assert oracle.check_dataset_search(ref, req, rows[:-1])


def test_matching_reference_is_max_weight():
    sims = [
        ("q", "a", "Numeric", "c", "x", 0.9),
        ("q", "a", "Numeric", "c", "y", 0.8),
        ("q", "b", "Numeric", "c", "x", 0.85),
    ]
    # a-y + b-x (1.65) beats the greedy a-x (0.9)
    assert oracle.matching_scores(sims, None)[("q", "c")] == pytest.approx(1.65)
    assert oracle.matching_scores(sims, {"Numeric": 2.0})[("q", "c")] == pytest.approx(3.3)


def test_keyword_check_catches_a_perturbed_answer(con, lake):
    vocab = wl.corpus_term_counts(lake)
    head, _tail = wl.split_vocabulary(vocab)
    want = oracle.keyword_reference(con, " ".join(head[:2]), 10)
    assert len(want) == 10
    # the benchmark answers every k from one top-max(k) reference
    assert oracle.keyword_reference(con, " ".join(head[:2]), max(wl.KEYWORD_KS))[:10] == want
    assert oracle.check_topk("q", list(want), want) == []
    bumped = [(want[0][0], want[0][1] + 1e-3, want[0][2], 1)] + list(want[1:])
    assert oracle.check_topk("q", bumped, want)
    assert oracle.check_topk("q", list(want[:-1]), want)
    other = [(10**9, *want[0][1:])] + list(want[1:])
    if want[0][1] > want[-1][1] + oracle.TOL:
        assert oracle.check_topk("q", other, want)


def test_index_check_catches_a_perturbed_answer(con, lake):
    ref = oracle.index_reference(con)
    assert set(ref) == {"quantile_signatures", "temporal_profile",
                        "categorical_embeddings", "spatial_bboxes"}
    rows = ref["quantile_signatures"]
    assert oracle.check_rows("q", list(reversed(rows)), rows) == []
    bad = [rows[0][:2] + (rows[0][2] + 1.0,) + rows[0][3:]] + rows[1:]
    assert oracle.check_rows("q", bad, rows)
    cat = oracle.catalog_reference(lake)
    assert oracle.check_rows("catalog", cat, cat) == []
    assert oracle.check_rows("catalog", cat[1:], cat)


# ------------------------------------------------------------ metric names


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    values = {k: 1.5 for k in run.END_TO_END}
    line = json.loads(run.result_line(True, 3, 0, values, run.END_TO_END))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(run.END_TO_END)
    assert line["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}
