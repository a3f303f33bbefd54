"""The query-result cache never keeps rows that straddle a commit.

A wave (or a `bm25_search` call) plans against the deletes snapshot of
its start; if a `delete_by_ids` commit lands before its rows are back,
those rows may hold a docid the commit deleted. They still answer their
own request (a read that began before the commit), but they must not
enter the cache, or every later repeat of the text would serve the
deleted doc. Each test forces the interleaving deterministically by
wrapping the planning call so the commit lands between plan and
collect.
"""

import pytest

from solr_spark.index.builder import build_index
from solr_spark.index.maintenance import delete_by_ids
from solr_spark.query import serving
from solr_spark.query.serving import QueryBatcher, bm25_search
from solr_spark.sources.corpus import synthesize_corpus

QTEXT = "return import"


@pytest.fixture
def index(spark, tmp_path):
    corpus = synthesize_corpus(spark, 300, seed=11, partitions=4)
    return build_index(
        spark, corpus, str(tmp_path / "index"), num_buckets=4,
        salt_threshold=100, num_salts=4,
    )


def _commit_after_planning(monkeypatch, index, name, victim):
    """Wrap `serving.<name>` so that a delete of `victim` commits after
    the query is planned and before its rows are collected."""
    real = getattr(serving, name)

    def planned_then_commit(*args, **kwargs):
        df = real(*args, **kwargs)
        delete_by_ids(index, [victim])
        return df

    monkeypatch.setattr(serving, name, planned_then_commit)


def test_batcher_does_not_cache_rows_planned_before_a_commit(index, monkeypatch):
    top = bm25_search(index, QTEXT, k=5, use_cache=False)[0]["docid"]
    _commit_after_planning(monkeypatch, index, "bm25_topk_batch", top)
    batcher = QueryBatcher(index, k=5, use_cache=True)
    try:
        straddling = batcher.search(QTEXT, timeout=120)
        # the wave was planned before the delete: its own answer may
        # (and here does) still hold the victim
        assert top in [r["docid"] for r in straddling]
        monkeypatch.undo()
        repeat = batcher.search(QTEXT, timeout=120)
    finally:
        batcher.close()
    assert top not in [r["docid"] for r in repeat]


def test_search_does_not_cache_rows_planned_before_a_commit(index, monkeypatch):
    top = bm25_search(index, QTEXT, k=5, use_cache=False)[0]["docid"]
    _commit_after_planning(monkeypatch, index, "bm25_topk", top)
    straddling = bm25_search(index, QTEXT, k=5)
    assert top in [r["docid"] for r in straddling]
    monkeypatch.undo()
    repeat = bm25_search(index, QTEXT, k=5)
    assert top not in [r["docid"] for r in repeat]
