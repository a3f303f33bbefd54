"""Driver-built side tables are LocalRelations, not list-built RDDs.

`session.local_frame` replaces `spark.createDataFrame(list, schema)` on
the query and commit paths. A list-built frame plans as a LogicalRDD
(`Scan ExistingRDD` in the physical plan), and each broadcast or
collect of it runs a Spark job with Python workers; these tests make a
regression back to that leaf fail loudly:

- the helper matches `createDataFrame(list, schema)` row for row and
  schema for schema, and its optimized plan is a LocalRelation, also
  for zero rows;
- neither a 3-query `bm25_topk_batch` plan nor a driver-path
  `bm25_topk_wand` result contains a list-built relation;
- a 3-query wave on a small pinned index runs no more Spark jobs than
  recorded here (this guard catches added jobs; the plan checks above
  catch a list-built leaf, whose broadcast job costs Python workers but
  counts the same).
"""

import pytest

from solr_spark.index.builder import build_index
from solr_spark.query.engine import bm25_topk, bm25_topk_batch
from solr_spark.query.wand import bm25_topk_wand
from solr_spark.session import local_frame
from solr_spark.sources.corpus import synthesize_corpus

#: Spark jobs a warm 3-query OR `bm25_topk_batch` wave may run on the
#: pinned index below (measured: 7, with either side-table leaf — the
#: broadcasts of the weight and label tables stay jobs, but a
#: LocalRelation's broadcast job runs no Python worker)
WAVE_MAX_JOBS = 7

WAVE = {"a": "return import", "b": "parseShard1 bufferSize", "c": "value data"}

SCHEMA = "a long, b int, c double, d string"
ROWS = [
    (1, 2, 3.5, "x"),
    (None, None, None, None),
    (2**62 + 1, -7, -0.0, ""),
]


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_no_list_relation(df) -> None:
    assert "LogicalRDD" not in _optimized(df)
    assert "Scan ExistingRDD" not in _physical(df)


@pytest.mark.parametrize("rows", [ROWS, ROWS[:1], []], ids=["3rows", "1row", "empty"])
def test_local_frame_matches_create_dataframe(spark, rows):
    ref = spark.createDataFrame(rows, SCHEMA)
    got = local_frame(spark, rows, SCHEMA)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()
    # Arrow silently falls back to the LogicalRDD path for some inputs
    # (a zero-row pandas frame); the plan leaf is the contract
    assert _optimized(got).lstrip().startswith("LocalRelation")


def test_local_frame_collect_runs_no_job(spark):
    sc = spark.sparkContext
    sc.setJobGroup("local_frame_collect", "local_frame_collect")
    try:
        local_frame(spark, [(i, float(i)) for i in range(10)], "x long, y double").collect()
        jobs = sc.statusTracker().getJobIdsForGroup("local_frame_collect")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    # same recipe as tests/test_wand.py: real tail terms and many blocks
    # per list, so the head+tail query below prunes on the driver path
    corpus = synthesize_corpus(spark, 500, seed=42, partitions=4, tail_card=5000)
    out = str(tmp_path_factory.mktemp("side_tables") / "index")
    idx = build_index(
        spark, corpus, out, num_buckets=4, salt_threshold=200, num_salts=4,
        block_size=16,
    )
    return idx.pin_memory()


def test_batch_plan_has_no_list_relation(index):
    for mode in ("OR", "AND"):
        _assert_no_list_relation(bm25_topk_batch(index, WAVE, k=10, mode=mode))


def test_wand_driver_result_has_no_list_relation(index):
    dbg: dict = {}
    qtext, k = "return parseShard1 bufferSize", 5
    df = bm25_topk_wand(index, qtext, k, debug=dbg)
    assert dbg.get("path") == "driver", dbg
    _assert_no_list_relation(df)
    flat = [(r.docid, round(r.score, 9)) for r in bm25_topk(index, qtext, k).collect()]
    assert [(r.docid, round(r.score, 9)) for r in df.collect()] == flat


def test_wave_job_count(spark, index):
    sc = spark.sparkContext
    bm25_topk_batch(index, WAVE, k=10).collect()  # warm the dictionary LRU
    sc.setJobGroup("side_table_wave", "side_table_wave")
    try:
        bm25_topk_batch(index, WAVE, k=10).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("side_table_wave")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) <= WAVE_MAX_JOBS, sorted(jobs)
