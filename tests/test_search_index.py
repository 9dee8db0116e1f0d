"""The engine's dataset search is served from a driver-side index that
`DataLakeEngine` builds once (search/engine.py `SearchIndex`). These
tests pin the served answers to the whole-lake batch plan
`dataset_search`, the index to the engine's own embeddings, the request
checks, and the keyword query analyzer."""

from __future__ import annotations

import math
import sys
import threading
import time

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from danae_spark.api import DataLakeEngine
from danae_spark.catalog import TABLES
from danae_spark.search import metadata
from danae_spark.search.engine import SearchIndex, dataset_search
from danae_spark.search.knn import TYPE_WEIGHTS
from test_embeddings_plug import _toy_embeddings


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return DataLakeEngine(spark, sf_dir)


def _rows(df, dataset=None):
    if dataset is not None:
        df = df.filter(F.col("q_table") == dataset)
    return [tuple(r) for r in df.collect()]


_weight = st.floats(0.0, 2.0, allow_nan=False, allow_infinity=False)


@settings(max_examples=10, deadline=None)
@given(
    dataset=st.sampled_from(TABLES),
    k=st.integers(1, 9),
    w_content=_weight,
    w_metadata=_weight,
    type_weights=st.none() | st.dictionaries(st.sampled_from(sorted(TYPE_WEIGHTS)), _weight),
)
def test_served_search_equals_batch_plan(
    engine, spark, sf_dir, dataset, k, w_content, w_metadata, type_weights
):
    args = dict(k=k, w_content=w_content, w_metadata=w_metadata, type_weights=type_weights)
    served = _rows(engine.search(dataset=dataset, **args))
    assert served, dataset
    assert served == _rows(dataset_search(spark, sf_dir, **args), dataset)


def test_served_search_for_every_dataset(engine, spark, sf_dir):
    assert _rows(engine.search(k=4)) == _rows(dataset_search(spark, sf_dir, k=4))


def test_warm_search_runs_at_most_one_job(engine, spark):
    engine.search(dataset="orders").collect()  # builds the index
    sc = spark.sparkContext
    sc.setJobGroup("warm-search", "warm search")
    try:
        engine.search(dataset="orders", k=5, type_weights={"Numeric": 2.0}).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("warm-search")) <= 1


def test_concurrent_first_searches_build_one_index(spark, sf_dir, monkeypatch):
    builds = []

    class Served:
        def search(self, *args):
            return "served"

    def build(*args):
        builds.append(args)
        time.sleep(0.05)
        return Served()

    monkeypatch.setattr(SearchIndex, "build", staticmethod(build))
    eng = DataLakeEngine(spark, sf_dir)
    answers = []
    threads = [
        threading.Thread(target=lambda: answers.append(eng.search(dataset="orders")))
        for _ in range(16)
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
    assert answers == ["served"] * 16


def _content(df, cand):
    return {r.cand_table: r.content_score for r in df.collect()}[cand]


def test_search_uses_the_engine_embeddings(spark, sf_dir):
    emb = _toy_embeddings(spark, sf_dir)
    served = _content(
        DataLakeEngine(spark, sf_dir, embeddings=emb).search(dataset="customer", k=9), "orders"
    )
    batch = _content(
        dataset_search(spark, sf_dir, k=9, embeddings=emb).filter(F.col("q_table") == "customer"),
        "orders",
    )
    stand_in = _content(DataLakeEngine(spark, sf_dir).search(dataset="customer", k=9), "orders")
    assert served == batch
    assert served != stand_in


def test_engines_with_different_embeddings_do_not_share_an_index(spark, sf_dir):
    """Two embeddings frames of the same shape, one session: each engine
    answers from its own index (a memo keyed on id(embeddings) could hand
    the second engine the first one's index once the id is reused)."""
    toy = _toy_embeddings(spark, sf_dir)
    # the synonym terms no longer share one vector
    apart = toy.select(
        "term",
        F.when(
            F.col("vector")[0] == 1.0,
            F.array(F.lit(-3.0), F.length("term").cast("double")),
        ).otherwise(F.col("vector")).alias("vector"),
    )
    a = DataLakeEngine(spark, sf_dir, embeddings=toy)
    b = DataLakeEngine(spark, sf_dir, embeddings=apart)
    got_a = _content(a.search(dataset="customer", k=9), "orders")
    got_b = _content(b.search(dataset="customer", k=9), "orders")
    want_b = _content(
        dataset_search(spark, sf_dir, k=9, embeddings=apart).filter(
            F.col("q_table") == "customer"
        ),
        "orders",
    )
    assert a._index is not b._index
    assert got_b == want_b
    assert got_a != got_b


@pytest.mark.parametrize(
    "kwargs, message",
    [
        ({"dataset": "no_such_table"}, "known datasets: region"),
        ({"k": 0}, "k must be at least 1"),
        ({"w_content": math.nan}, "w_content"),
        ({"w_content": math.inf}, "w_content"),
        ({"w_metadata": -0.5}, "w_metadata"),
        ({"type_weights": {"Numeric": -1.0}}, "Numeric"),
        ({"type_weights": {"Temporal": math.nan}}, "Temporal"),
        ({"type_weights": {"Text": 1.0}}, "unknown type_weights key 'Text'"),
    ],
)
def test_search_rejects_bad_requests(engine, kwargs, message):
    with pytest.raises(ValueError, match=message):
        engine.search(**{"dataset": "orders", **kwargs})


def test_keyword_query_analyzed_like_documents(engine):
    def answer(query):
        return [tuple(r) for r in engine.metadata_search(query, k=10).collect()]

    plain = answer("spark join")
    assert plain
    assert answer("Spark, JOIN!") == plain
    assert answer("stream-join") == answer("stream join")
    assert metadata.bm25_search_oracle("Spark, JOIN!") == metadata.bm25_search_oracle("spark join")
    assert metadata.query_terms("stream-join") == ["join", "stream"]


@pytest.mark.parametrize("query", ["", "  ", "?!,;"])
def test_keyword_query_without_terms_raises(engine, query):
    with pytest.raises(ValueError, match="no terms"):
        engine.metadata_search(query)
    with pytest.raises(ValueError, match="no terms"):
        metadata.bm25_search_oracle(query)
