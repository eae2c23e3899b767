"""batch_search == the brute-force oracle per query, in one job."""

import pytest
from test_index_search import PyOracle

from lucene_solr_old_spark.operators.batch import batch_search
from lucene_solr_old_spark.operators.indexer import build_index
from lucene_solr_old_spark.sources.pages import PAGES_SCHEMA, gen_pages

CORPUS = gen_pages(250, seed=3)


@pytest.fixture(scope="module")
def idx(spark):
    df = spark.createDataFrame(CORPUS, schema=PAGES_SCHEMA)
    return build_index(df, num_segments=4).persist()


QUERIES = [
    (0, "running meetings", "OR"),
    (1, "caresses ponies", "AND"),
    (2, "relational", "OR"),
    (3, "zzznothing", "OR"),
    (4, "the hopeful of running", "OR"),   # stopwords dropped
    (5, "running running meetings", "OR"),  # duplicate terms
]


def test_batch_matches_individual(idx):
    oracle = PyOracle(CORPUS)
    batch = batch_search(idx, QUERIES, k=10)
    by_qid = {}
    for r in batch.collect():
        by_qid.setdefault(r["qid"], []).append(
            (r["rank"], r["key"], round(float(r["score"]), 5)))
    for qid, text, mode in QUERIES:
        exp = [(i + 1, key, round(score, 5)) for i, (key, score)
               in enumerate(oracle.topk(text, k=10, mode=mode))]
        got = sorted(by_qid.get(qid, []))
        assert got == exp, (qid, text, got, exp)


def test_batch_empty_queries(idx):
    out = batch_search(idx, [(0, "", "OR")], k=5)
    assert out.count() == 0


def test_percolate_match_sets(spark):
    """Percolator (MemoryIndex use-case): stored queries vs incoming docs
    in one broadcast-join job."""
    from lucene_solr_old_spark.operators.percolate import percolate

    docs = spark.createDataFrame(
        [("d1", "spark join merge"), ("d2", "spark only here"),
         ("d3", "join table"), ("d4", "nothing relevant")],
        "url STRING, text STRING")
    out = percolate(docs, [(0, "spark join", "OR"),
                           (1, "spark join", "AND"),
                           (2, "table", "OR")],
                    analyzer="ws_stop")
    got = {(r["key"], r["qid"]) for r in out.collect()}
    assert got == {("d1", 0), ("d2", 0), ("d3", 0),
                   ("d1", 1),
                   ("d3", 2)}
