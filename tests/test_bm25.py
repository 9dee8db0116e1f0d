"""BM25 metadata search (search/metadata.py): the engine's served
keyword answers and catalog scores against independent references — the
DuckDB twin of document BM25 (`bm25_search_oracle`) and the plain-Python
catalog BM25 of the benchmark (perfbench/oracle.py) — and the
document index the engine builds once."""

from __future__ import annotations

import math
import os
import re
import sys
import threading
import time

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import oracle as perf_oracle  # noqa: E402
from conftest import SF_DIR  # noqa: E402

from danae_spark.api import DataLakeEngine  # noqa: E402
from danae_spark.search import metadata  # noqa: E402
from danae_spark.search.engine import _metadata_scores  # noqa: E402


def test_catalog_bm25_matches_the_independent_reference(spark, sf_dir):
    got = {
        (r.q_table, r.cand_table): r.metadata_score
        for r in _metadata_scores(spark, sf_dir).collect()
    }
    want = perf_oracle.pairwise_bm25(perf_oracle.catalog_fields(sf_dir))
    assert len(want) == 90
    assert got.keys() == want.keys()
    for pair, score in want.items():
        assert math.isclose(got[pair], score, abs_tol=1e-6), (pair, got[pair], score)


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return DataLakeEngine(spark, sf_dir)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{os.path.join(sf_dir, 'documents.parquet')}'"
    )
    yield con
    con.close()


def _vocabulary(sf_dir: str) -> list[str]:
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT text, source, lang FROM '{os.path.join(sf_dir, 'documents.parquet')}'"
        ).fetchall()
    finally:
        con.close()
    return sorted({t for row in rows for s in row for t in re.split(r"[^a-z0-9]+", s.lower()) if t})


_VOCAB = _vocabulary(SF_DIR)
_term = st.sampled_from(_VOCAB) | st.sampled_from(["qwertyzz", "x9x9", "nosuchterm"])
_cased = st.tuples(_term, st.sampled_from([str.lower, str.upper, str.title])).map(
    lambda tc: tc[1](tc[0])
)
_query = st.tuples(
    st.lists(_cased, min_size=1, max_size=4),
    st.sampled_from([" ", ", ", "-", " !? ", "."]),
).map(lambda parts: parts[1].join(parts[0]))


@settings(max_examples=40, deadline=None)
@given(query=_query, k=st.integers(1, 50))
def test_served_keyword_search_matches_the_duckdb_oracle(engine, duck, query, k):
    got = [tuple(r) for r in engine.metadata_search(query, k=k).collect()]
    want = duck.sql(metadata.bm25_search_oracle(query, k)).fetchall()
    assert len(got) == len(want), query
    assert [r[3] for r in got] == list(range(1, len(got) + 1))
    for g, w in zip(got, want):
        assert math.isclose(g[1], w[1], abs_tol=1e-6), (query, g, w)
        assert math.isclose(g[2], w[2], abs_tol=1e-6), (query, g, w)
    # rows tied with the last-ranked score may be cut differently
    if want:
        cutoff = want[-1][1] + 1e-6
        assert [r[0] for r in got if r[1] > cutoff] == [r[0] for r in want if r[1] > cutoff]


def test_warm_keyword_search_runs_no_spark_job(engine, spark):
    engine.metadata_search("spark join").collect()  # builds the index
    sc = spark.sparkContext
    sc.setJobGroup("warm-keyword", "warm keyword search")
    try:
        rows = engine.metadata_search("Stream, filter!", k=7).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert sc.statusTracker().getJobIdsForGroup("warm-keyword") == []


def test_concurrent_first_keyword_queries_build_one_index(spark, sf_dir, monkeypatch):
    builds = []

    class Served:
        def top_k(self, *args):
            return "served"

    def build(*args):
        builds.append(args)
        time.sleep(0.05)
        return Served()

    monkeypatch.setattr(metadata, "document_index", build)
    eng = DataLakeEngine(spark, sf_dir)
    answers = []
    threads = [
        threading.Thread(target=lambda: answers.append(eng.metadata_search("spark join")))
        for _ in range(8)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert answers == ["served"] * 8


@pytest.mark.parametrize(
    "kwargs, message",
    [
        ({"k": 0}, "k must be at least 1, got 0"),
        ({"k": -3}, "k must be at least 1, got -3"),
        ({"query": "?!"}, "no terms"),
    ],
)
def test_keyword_search_rejects_bad_requests(engine, spark, sf_dir, kwargs, message):
    request = {"query": "spark join", **kwargs}
    with pytest.raises(ValueError, match=message):
        engine.metadata_search(**request)
    with pytest.raises(ValueError, match=message):
        metadata.bm25_search(spark, sf_dir, **request)
