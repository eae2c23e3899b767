"""Plan shape of the query engine on a load_index-opened index: the query
table is a constant (no Python-RDD scan), single queries are collected by
TakeOrderedAndProject (no per-qid window), and one single query launches
a fixed number of Spark jobs."""

import uuid

import pytest

from lucene_solr_old_spark.operators import search as S
from lucene_solr_old_spark.operators.batch import batch_search
from lucene_solr_old_spark.operators.indexer import (build_index,
                                                     compress_index,
                                                     load_index)
from lucene_solr_old_spark.operators.wand import wand_search
from lucene_solr_old_spark.sources.pages import PAGES_SCHEMA, gen_pages

# jobs of one warm search_or(...).collect() on a loaded index: the
# partial-aggregate shuffle stage, the docmeta broadcast and the result
SINGLE_QUERY_JOBS = 3


@pytest.fixture(scope="module")
def loaded(spark, tmp_path_factory):
    df = spark.createDataFrame(gen_pages(200, seed=5), schema=PAGES_SCHEMA)
    root = tmp_path_factory.mktemp("plans")
    idx = build_index(df, num_segments=4)
    idx.save(str(root / "plain"))
    compress_index(idx).save(str(root / "comp"))
    return (load_index(spark, str(root / "plain")),
            load_index(spark, str(root / "comp")))


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def jobs(spark, action) -> int:
    sc = spark.sparkContext
    group = f"plan-shape-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan shape")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_batch_query_table_is_a_constant(loaded):
    idx, _comp = loaded
    text = plan(batch_search(idx, [(0, "running meetings", "OR"),
                                   (1, "caresses ponies", "AND")], k=5))
    assert "ExistingRDD" not in text
    assert "Window" in text


def test_single_query_plans_have_no_window(loaded):
    idx, comp = loaded
    assert "Window" not in plan(S.search_or(idx, "running meetings", k=5))
    assert "Window" not in plan(wand_search(comp, "running meetings", k=5))


def test_single_query_job_count(spark, loaded):
    idx, _comp = loaded
    q = "relational hopeful"
    S.search_or(idx, q, k=10).collect()   # warm the term-stats cache
    n = jobs(spark, lambda: S.search_or(idx, q, k=10).collect())
    assert n == SINGLE_QUERY_JOBS
