"""Batch query execution: a whole query workload as ONE DataFrame job.

Per-query jobs pay Spark's scheduling floor (~0.5-2s) regardless of work;
the reference engine answers single queries in microseconds.  Where Spark
WINS is throughput: express the entire query set as data — a constant
(qid, term, weight) table probed by ONE postings scan — and the whole
workload costs one job: one term-pruned scan, one aggregation, one
per-query top-k window.  Amortized per-query cost drops by orders of
magnitude and scales with the cluster.  It is the single-query plan of
search.py over a bigger query table; only the collector differs.

Mapping: this is SURVEY.md §3.3's distributed query fan-out inverted —
instead of one query fanned to N shards, M queries share one pass; the
per-shard/leaf top-k heap becomes a window row_number per qid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .indexer import InvertedIndex
from .search import _match_frame, _top_per_query, parse_queries

__all__ = ["batch_search"]


def batch_search(index: InvertedIndex, queries: list[tuple],
                 k: int = 10, precision: str = "float32") -> DataFrame:
    """queries: [(qid, query_text, mode)] with mode in {"OR", "AND"}.
    Returns (qid, rank, key, score) — top-k per query, one Spark job.
    """
    return _top_per_query(
        _match_frame(index, parse_queries(index, queries), precision),
        index, k, precision)
