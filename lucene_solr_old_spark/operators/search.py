"""Query execution: the reference's scorer algebra as DataFrame plans.

Every term query — one query or a whole workload — runs through ONE front
end and one of two scoring plans (LCJoin/Koios: a batch of set queries is
a filtered join against the inverted index; a single query is a batch of
one):

  * parser            -> :func:`parse_queries`: ``[(qid, text, mode)]`` ->
    clause rows ``(qid, term, mult, required)``
  * query table       -> the clause rows as ONE constant map literal
    ``term -> [(qid, weight, mult, required)]``, probed once per
    (segment, term) postings row (a broadcast join without a broadcast job)
  * relational plan   -> :func:`_match_frame` ``(qid, seg, docid, score)``;
    the block-max plan (``wand.py``) produces the same frame
  * collectors        -> :func:`_top` (one query) and :func:`_top_per_query`
    (a batch)

Mapping (SURVEY.md §2.5, §2.7):

  * TermQuery/TermScorer        -> filter postings to term, explode, score
    (``search/TermQuery.java:161``, ``TermScorer.java:27-96``)
  * BooleanQuery SHOULD (OR)    -> groupBy(doc).sum over the per-clause
    term scores — term-at-a-time, exactly BooleanScorer's bucket
    accumulation (``search/BooleanScorer.java:61,143-156``); coord == 1 for
    BM25 so disjunction score is a plain sum (``Similarity.java:122-124``)
  * BooleanQuery MUST (AND)     -> same aggregate + HAVING matched clauses
    == n  (the leapfrog ConjunctionScorer's semantics,
    ``ConjunctionScorer.java:28-120`` — Catalyst's hash aggregate replaces
    the merge)
  * MUST_NOT                    -> left-anti join (``ReqExclScorer.java``)
  * minNrShouldMatch            -> HAVING count >= n
    (``MinShouldMatchSumScorer.java:36``)
  * DisjunctionMaxQuery         -> max(score) + tie*(sum-max)
    (``DisjunctionMaxQuery.java``)
  * PhraseQuery (slop=0)        -> positions-array intersection via a
    vectorized alignment kernel (``ExactPhraseScorer.java:26-33``); phrase
    freq feeds BM25 with summed idf (``BM25Similarity.idfExplain[]``)
  * top-k collector             -> ORDER BY score DESC, key ASC LIMIT k —
    Catalyst's TakeOrderedAndProject is the per-leaf PQ + merge
    (``TopScoreDocCollector.java:54-61``; ties favor lower doc order); a
    batch ranks per qid with a window
  * searchAfter                 -> WHERE (score,key) < (after) then top-k
    (``IndexSearcher.java:234-250``)

Scoring: per-term scores are computed in Spark float32 arithmetic (same IEEE
ops as the Java engine); the freq-independent norm factor is looked up from
the 256-entry cache (``BM25Similarity.java:206-210``) via an array literal.
Multi-term sums aggregate in float64 then round to float32 — the reference's
own sum order is scorer-implementation-dependent (BS1 vs BS2), so sums are
only reproducible up to addition order; ranks are tie-broken by doc key.
"""

from __future__ import annotations

import json
import math

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.bm25 import Bm25Stats
from ..functions.smallfloat import byte315_to_float
from ..functions.tokenizer import get_analyzer
from .indexer import InvertedIndex

__all__ = [
    "parse_queries", "term_score_frame", "phrase_score_frame",
    "search_terms", "search_or", "search_and", "search_dismax",
    "search_phrase", "count_query", "search_after", "ngram_phrase_search",
]


def _qterms(index: InvertedIndex, query_text: str) -> list[str]:
    """Analyze query text with the index's own analyzer (Lucene parses
    queries through the per-field analyzer)."""
    return [t.term for t in get_analyzer(index.analyzer)(query_text)]


def _qtokens(index: InvertedIndex, query_text: str):
    """Analyzed query tokens WITH positions — phrase queries use analyzed
    positions as term offsets (``QueryParser`` calls ``PhraseQuery.add(term,
    position)`` with position increments, so stopword holes in the query
    text widen the phrase — ``PhraseQuery.java:128-135``)."""
    return get_analyzer(index.analyzer)(query_text)


def parse_queries(index: InvertedIndex, queries: list[tuple],
                  min_should_match: int = 0) -> list[tuple]:
    """The query front end: ``[(qid, text, mode)]`` (mode "OR"/"AND") ->
    clause rows ``(qid, term, mult, required)``.

    A repeated term is a repeated BooleanQuery CLAUSE (``BooleanQuery.java``
    clause list: "a a b" scores a twice): ``mult`` scales the term's score
    and counts toward ``required``, the matched clauses a hit needs — all
    of them for AND, ``min_should_match`` (at least one) for OR
    (``MinShouldMatchSumScorer.java:36``).  A query with no analyzed term
    yields no rows, so every plan built over it is empty."""
    analyzer = get_analyzer(index.analyzer)
    clauses = []
    for qid, text, mode in queries:
        terms = [t.term for t in analyzer(text)]
        required = (len(terms) if mode.upper() == "AND"
                    else max(1, min_should_match))
        clauses += [(qid, t, terms.count(t), required)
                    for t in sorted(set(terms))]
    return clauses


def _json_lit(value, ddl: str) -> Column:
    """A constant of type ``ddl`` built in ONE py4j call: the value travels
    as a JSON string literal and ``from_json`` is constant-folded at
    planning.  ``F.lit(list)`` makes one call per element: ~0.13 s of
    driver time per query for the 256-entry norm cache on a 4-core VM.
    Doubles round-trip exactly (``repr`` -> Jackson)."""
    return F.from_json(F.lit(json.dumps(value)), ddl)


# --- float64 "oracle precision" variant ------------------------------------
# Same BM25 with the same norm QUANTIZATION (doc length still passes through
# the lossy byte), but all arithmetic in float64 with a fixed operation
# order, so an ANSI-SQL engine (the DuckDB correctness oracle) can reproduce
# scores bit-for-bit up to libm ulp differences.  The float32 path above is
# the rank-identity path vs the reference.

LQ64: list[float] = [
    float("inf") if b == 0 else 1.0 / (float(byte315_to_float(b)) * float(byte315_to_float(b)))
    for b in range(256)
]


def idf64(df: int, max_doc: int) -> float:
    return math.log(1.0 + (max_doc - df + 0.5) / (df + 0.5))


def cache64(avg_dl: float, k1: float = 1.2, b: float = 0.75) -> list[float]:
    # operation order mirrored in the oracle SQL: k1*((1-b) + (b*lq)/avgdl)
    return [k1 * ((1.0 - b) + (b * lq) / avg_dl) for lq in LQ64]


class _Scorer:
    """Per-query scoring state for either precision path."""

    def __init__(self, index: InvertedIndex, terms: list[str],
                 precision: str = "float32", boost: float = 1.0):
        max_doc, sum_ttf = index.collection_stats()
        self.precision = precision
        self.stats = Bm25Stats(max_doc, sum_ttf)
        self.tstats = index.term_stats(terms)
        self.terms = terms
        if precision == "float64":
            self.avgdl64 = sum_ttf / max_doc if max_doc else 1.0
            self._cache = cache64(self.avgdl64)
            self._weights = {
                t: boost * (idf64(self.tstats.get(t, (0, 0))[0], max_doc) * 2.2)
                for t in set(terms)
            }
            self._sqltype = "double"
        else:
            self._cache = [float(c) for c in self.stats.cache]
            self._weights = {
                t: float(self.stats.weight_value(self.tstats.get(t, (0, 0))[0],
                                                 boost))
                for t in set(terms)
            }
            self._sqltype = "float"

    def norm_factor(self) -> Column:
        # element_at is 1-based; norm byte is 0..255.  Parsed as doubles and
        # cast, exactly like a per-element double literal + cast.
        arr = _json_lit(self._cache, "array<double>").cast(
            f"array<{self._sqltype}>")
        return F.element_at(arr, F.col("norm") + 1)

    def phrase_weight(self) -> float:
        """Summed idf * (k1+1), accumulated in this precision, term order."""
        if self.precision == "float64":
            s = 0.0
            for t in self.terms:
                s = s + idf64(self.tstats.get(t, (0, 0))[0], self.stats.max_doc)
            return s * 2.2
        s32 = np.float32(0.0)
        for t in self.terms:
            s32 = s32 + self.stats.idf(self.tstats.get(t, (0, 0))[0])
        return float(s32 * (self.stats.k1 + np.float32(1.0)))


_QUERY_TABLE = ("map<string, array<struct<qid:int, weight:double, "
                "mult:int, required:int>>>")


def _term_rows(index: InvertedIndex, clauses: list[tuple],
               precision: str = "float32",
               boost: float = 1.0) -> tuple[DataFrame, _Scorer]:
    """(seg, term, docid, freq, norm, qid, weight, mult, required, score):
    one row per (posting, clause) — the postings scan joined to the query
    table.

    score = weightValue * freq / (freq + cache[norm])
    (``BM25Similarity.java:233-238``), weightValue per-term from global df,
    NOT yet scaled by the clause multiplicity.  The query table is a map
    literal probed once per (segment, term) row, so one query and a batch
    share one plan shape and neither pays a job to broadcast it."""
    terms = sorted({t for _q, t, _m, _r in clauses})
    scorer = _Scorer(index, terms, precision, boost)
    table: dict[str, list] = {}
    for qid, t, mult, required in clauses:
        table.setdefault(t, []).append({
            "qid": qid, "weight": scorer._weights[t], "mult": mult,
            "required": required})
    freq = F.col("freq").cast(scorer._sqltype)
    rows = (
        index.postings.where(F.col("term").isin(terms))
        .select("seg", "term",
                _json_lit(table, _QUERY_TABLE)[F.col("term")].alias("q"),
                F.explode("postings").alias("p"))
        .select("seg", "term",
                F.col("p.docid").alias("docid"),
                F.col("p.freq").alias("freq"),
                F.col("p.norm").alias("norm"),
                F.inline("q"))
        .withColumn("score", (F.col("weight").cast(scorer._sqltype) * freq)
                    / (freq + scorer.norm_factor()))
    )
    return rows, scorer


def term_score_frame(index: InvertedIndex, terms: list[str],
                     boost: float = 1.0,
                     precision: str = "float32") -> tuple[DataFrame, _Scorer]:
    """(seg, docid, term, freq, norm, score) for every posting of ``terms``
    (each distinct term once)."""
    rows, scorer = _term_rows(index, [(0, t, 1, 1) for t in set(terms)],
                              precision, boost)
    return rows.select("seg", "docid", "term", "freq", "norm", "score"), scorer


def _no_hits(index: InvertedIndex, precision: str = "float32") -> DataFrame:
    """The empty (qid, seg, docid, score) frame — the plan of a query with
    no analyzed term.  ``limit(0)`` folds to an empty relation at planning,
    so every plan above it is empty without a job."""
    return index.docmeta.select(
        F.lit(0).alias("qid"), "seg", "docid",
        F.lit(0.0).cast("double" if precision == "float64" else "float")
        .alias("score")).limit(0)


def _match_frame(index: InvertedIndex, clauses: list[tuple],
                 precision: str = "float32",
                 tie_breaker: float | None = None) -> DataFrame:
    """The relational scoring plan: (qid, seg, docid, score) for every hit
    of every query in ``clauses`` (:func:`parse_queries` rows) — one
    postings scan, one aggregate, BooleanQuery semantics: each clause adds
    its term score ``mult`` times, and a hit needs ``required`` matched
    clauses.  With ``tie_breaker`` the clauses are DisjunctionMaxQuery
    disjuncts instead: max(sub) + tie * (sum(sub) - max(sub))."""
    if not clauses:
        return _no_hits(index, precision)
    rows, scorer = _term_rows(index, clauses, precision)
    score = F.sum(F.col("score") * F.col("mult").cast(scorer._sqltype))
    if tie_breaker is not None:
        score = F.max("score") + F.lit(tie_breaker) * (score - F.max("score"))
    agg = rows.groupBy("qid", "required", "seg", "docid").agg(
        score.alias("score"), F.sum("mult").alias("nmatched"))
    return (agg.where(F.col("nmatched") >= F.col("required"))
            .select("qid", "seg", "docid", "score"))


def _with_keys(per_doc: DataFrame, index: InvertedIndex) -> DataFrame:
    """Late materialization: join back doc keys (the PURPOSE_GET_FIELDS
    second round of SURVEY.md §3.3)."""
    return per_doc.join(index.docmeta.select("seg", "docid", "key"),
                        ["seg", "docid"])


def _top(hits: DataFrame, k: int, precision: str = "float32",
         after: tuple | None = None) -> DataFrame:
    """One-query collector over (key, score): top-k (key, score), strictly
    after the ``(score, key)`` cursor when one is given."""
    score = F.col("score").cast("double" if precision == "float64"
                                else "float")
    if after is not None:
        hits = hits.where((score < F.lit(after[0])) | (
            (score == F.lit(after[0])) & (F.col("key") > F.lit(after[1]))))
    return (hits.select("key", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("key"))
            .limit(k))


def _topk(per_doc: DataFrame, index: InvertedIndex, k: int,
          precision: str = "float32") -> DataFrame:
    """Collector over a (seg, docid, score) frame: keys + top-k."""
    return _top(_with_keys(per_doc, index), k, precision)


def _top_per_query(per_doc: DataFrame, index: InvertedIndex, k: int,
                   precision: str = "float32") -> DataFrame:
    """Batch collector: (qid, rank, key, score), top-k per qid — the
    per-shard/leaf top-k heap as a window row_number."""
    score = F.col("score").cast("double" if precision == "float64"
                                else "float")
    w = Window.partitionBy("qid").orderBy(score.desc(), F.asc("key"))
    return (_with_keys(per_doc, index)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", "rank", "key", score.alias("score"))
            .orderBy("qid", "rank"))


def search_terms(index: InvertedIndex, query_text: str, mode: str = "OR",
                 k: int = 10, min_should_match: int = 0,
                 exclude_text: str | None = None,
                 precision: str = "float32") -> DataFrame:
    """OR/AND with optional MUST_NOT and minimum-should-match: a batch of
    one through the relational plan. Returns top-k (key, score)."""
    agg = _match_frame(index, parse_queries(
        index, [(0, query_text, mode)], min_should_match), precision)
    ex_terms = _qterms(index, exclude_text) if exclude_text else []
    if ex_terms:
        ex_docs = (
            index.postings.where(F.col("term").isin(ex_terms))
            .select("seg", F.explode("postings.docid").alias("docid"))
            .distinct()
        )
        agg = agg.join(ex_docs, ["seg", "docid"], "left_anti")
    return _topk(agg, index, k, precision)


def search_or(index: InvertedIndex, query_text: str, k: int = 10,
              precision: str = "float32") -> DataFrame:
    return search_terms(index, query_text, "OR", k, precision=precision)


def search_and(index: InvertedIndex, query_text: str, k: int = 10,
               precision: str = "float32") -> DataFrame:
    return search_terms(index, query_text, "AND", k, precision=precision)


def search_dismax(index: InvertedIndex, query_text: str, k: int = 10,
                  tie_breaker: float = 0.0,
                  precision: str = "float32") -> DataFrame:
    """score = max(sub) + tie * (sum(sub) - max(sub))
    (``search/DisjunctionMaxQuery.java``); a repeated disjunct counts in
    the sum once per clause."""
    hits = _match_frame(index, parse_queries(index, [(0, query_text, "OR")]),
                        precision, tie_breaker)
    return _topk(hits, index, k, precision)


def count_query(index: InvertedIndex, query_text: str, mode: str = "OR") -> int:
    """TotalHitCountCollector (``search/TotalHitCountCollector.java``)."""
    return _match_frame(index, parse_queries(
        index, [(0, query_text, mode)])).count()


def search_after(index: InvertedIndex, query_text: str, k: int,
                 after_score: float, after_key: str,
                 mode: str = "OR", precision: str = "float32") -> DataFrame:
    """Cursor pagination: hits strictly after (score, key) in rank order
    (``search/IndexSearcher.java:234-250,351-416``)."""
    hits = _match_frame(index, parse_queries(index, [(0, query_text, mode)]),
                        precision)
    return _top(_with_keys(hits, index), k, precision,
                after=(after_score, after_key))


def search_phrase(index: InvertedIndex, phrase_text: str, k: int = 10,
                  precision: str = "float32", boost: float = 1.0,
                  slop: int = 0) -> DataFrame:
    """Exact phrase (slop=0): per-doc alignment count of consecutive
    positions == phrase freq; BM25 with summed idf
    (``search/ExactPhraseScorer.java:26-33``; ``PhraseQuery.java:279-283``).
    """
    if not index.with_positions:
        raise ValueError("index built without positions")
    tokens = _qtokens(index, phrase_text)
    if not tokens:
        return index.docmeta.select(
            F.col("key"), F.lit(0.0).cast("float").alias("score")).limit(0)
    if len(tokens) == 1:
        return search_terms(index, phrase_text, "OR", k, precision=precision)
    terms = [t.term for t in tokens]
    offsets = [t.pos - tokens[0].pos for t in tokens]
    scored = phrase_score_frame(index, terms, precision, boost, slop,
                                offsets=offsets)
    return _topk(scored, index, k, precision)


def phrase_score_frame(index: InvertedIndex, terms: list[str],
                       precision: str = "float32",
                       boost: float = 1.0, slop: int = 0,
                       offsets: list[int] | None = None) -> DataFrame:
    """(seg, docid, score) for a phrase — the unsorted scoring frame
    (used directly by the boolean plan builder in plans/query.py).

    ``offsets[i]`` is term i's position within the phrase (analyzed query
    positions; defaults to 0..n-1).  slop=0 runs the columnar
    ExactPhraseScorer plan; slop>0 runs the EXACT SloppyPhraseScorer kernel
    (``search/SloppyPhraseScorer.java`` phraseFreq + repeating-term groups,
    ported in functions/phrasepos.py) over per-doc position arrays.
    """
    scorer = _Scorer(index, terms, precision, boost)
    # summed idf over the phrase's terms, accumulated in term order
    # (BM25Similarity.idfExplain(TermStatistics[]))
    weight_value = scorer.phrase_weight() * float(boost)
    stype = "double" if precision == "float64" else "float"
    if offsets is None:
        offsets = list(range(len(terms)))

    # per position-slot i: docs containing terms[i]; for the exact plan the
    # positions are shifted by -offset so the check becomes a plain
    # multi-set intersection (ExactPhraseScorer checks pos_i == base + off);
    # the sloppy kernel takes UNSHIFTED positions (it applies offsets
    # itself — repeat-collision detection needs absolute token positions)
    frames = []
    for i, t in enumerate(terms):
        # one-arg lambda: F.transform treats a two-arg lambda as
        # (element, index); bind the offset via an outer closure
        pos_col = ((lambda off: F.transform(F.col("p.positions"),
                                            lambda c: c - F.lit(off)))
                   (offsets[i])
                   if slop == 0 else F.col("p.positions"))
        f = (
            index.postings.where(F.col("term") == t)
            .select("seg", F.explode("postings").alias("p"))
            .select(
                "seg",
                F.col("p.docid").alias("docid"),
                F.col("p.norm").alias("norm"),
                pos_col.alias("pos"),
            )
            .withColumn("slot", F.lit(i))
        )
        frames.append(f)
    # duplicate terms in the phrase reuse the same postings rows, one per slot
    union = frames[0]
    for f in frames[1:]:
        union = union.unionByName(f)
    per_doc = union.groupBy("seg", "docid").agg(
        F.count("*").alias("nslots"),
        F.first("norm").alias("norm"),
        F.array_sort(F.collect_list(F.struct("slot", "pos"))).alias("slots"),
    ).where(F.col("nslots") == len(terms))
    if slop == 0:
        # exact: phrase freq = |intersection of shifted position arrays|
        inter = per_doc.withColumn(
            "common",
            F.aggregate(
                F.expr("slice(slots, 2, size(slots) - 1)"),
                F.col("slots")[0]["pos"],
                lambda acc, s: F.array_intersect(acc, s["pos"]),
            ),
        ).withColumn("pfreq", F.size("common").cast("double")) \
         .where(F.col("pfreq") > 0)
    else:
        inter = per_doc.withColumn(
            "pfreq", _sloppy_pfreq_udf(slop, terms, offsets,
                                       f32=(precision != "float64"))(
                F.col("slots"))
        ).where(F.col("pfreq") > 0)

    return inter.withColumn(
        "score",
        (F.lit(weight_value).cast(stype) * F.col("pfreq").cast(stype))
        / (F.col("pfreq").cast(stype) + scorer.norm_factor()),
    ).select("seg", "docid", "pfreq", "score")


def _sloppy_pfreq_udf(slop: int, terms: list[str], offsets: list[int],
                      f32: bool = True):
    """Arrow-batched wrapper over the exact SloppyPhraseScorer kernel
    (functions/phrasepos.py).  term_ids group equal terms so the kernel's
    repeating-term machinery mirrors ``gatherRptGroups``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.phrasepos import sloppy_phrase_freq

    first = {t: terms.index(t) for t in set(terms)}
    term_ids = [first[t] for t in terms]

    @pandas_udf("double")
    def pfreq(slots_series):  # pd.Series -> pd.Series (hints omitted: the
        # local pandas import makes string annotations unresolvable for
        # pandas_udf's signature inference)
        out = []
        for slots in slots_series:
            pos_lists = [s["pos"] for s in slots]  # slot-ordered
            out.append(sloppy_phrase_freq(pos_lists, offsets, slop,
                                          term_ids=term_ids, f32=f32))
        return pd.Series(out)

    return pfreq


def explain(index: InvertedIndex, query_text: str, key: str) -> list[dict]:
    """Score explanation for one document — the ``Explanation`` tree
    analogue (``search/similarities/BM25Similarity.java explainScore``):
    per matching term, the idf / tf / norm-cache components and the exact
    float32 partial, plus the summed total."""
    terms = _qterms(index, query_text)
    if not terms:
        return []
    scorer = _Scorer(index, terms)
    doc = index.docmeta.where(F.col("key") == key) \
        .select("seg", "docid", "doclen", "norm").collect()
    if not doc:
        return []
    seg, docid, doclen, normb = (doc[0]["seg"], doc[0]["docid"],
                                 doc[0]["doclen"], doc[0]["norm"])
    rows = (index.postings
            .where((F.col("seg") == seg) & F.col("term").isin(terms))
            .select("term", F.explode("postings").alias("p"))
            .where(F.col("p.docid") == docid)
            .select("term", "p.freq").collect())
    freq_by_term = {r["term"]: r["freq"] for r in rows}
    out = []
    total = np.float32(0.0)
    for t in sorted(set(terms)):
        tf = freq_by_term.get(t)
        if tf is None:
            continue
        df, _ttf = scorer.tstats.get(t, (0, 0))
        idf_v = scorer.stats.idf(df)
        cache_v = scorer.stats.cache[normb & 0xFF]
        partial = scorer.stats.score(df, np.array([tf]),
                                     np.array([normb]))[0]
        total = total + partial
        out.append({
            "term": t, "freq": int(tf), "docFreq": int(df),
            "idf": float(idf_v), "fieldLength": int(doclen),
            "normByte": int(normb), "normFactor": float(cache_v),
            "avgdl": float(scorer.stats.avgdl),
            "partial": float(partial),
            "formula": "idf * (k1+1) * freq / (freq + k1*((1-b) + "
                       "b*decode(norm)/avgdl))",
        })
    if out:
        out.append({"term": "<sum>", "partial": float(total)})
    return out


def ngram_phrase_search(index: InvertedIndex, query_text: str, n: int = 2,
                        k: int = 10,
                        precision: str = "float32") -> DataFrame:
    """NGramPhraseQuery (``search/NGramPhraseQuery.java:40-72``): a phrase
    over an n-gram-tokenized field only needs the grams at positions
    0, n, 2n, ... plus the LAST gram — overlapping grams at stride n cover
    every character, so the reduced phrase matches exactly the same docs
    while reading ~1/n of the posting lists.  Weight = summed idf over the
    KEPT grams (the rewrite scores with the reduced term set)."""
    text = query_text.lower()
    grams = [text[i:i + n] for i in range(max(0, len(text) - n + 1))]
    if not grams:
        return index.docmeta.select(
            "key", F.lit(0.0).cast("float").alias("score")).limit(0)
    if len(grams) == 1:
        return search_terms(index, grams[0], "OR", k, precision=precision)
    keep = list(range(0, len(grams), n))
    if keep[-1] != len(grams) - 1:
        keep.append(len(grams) - 1)
    terms = [grams[i] for i in keep]
    frame = phrase_score_frame(index, terms, precision, slop=0,
                               offsets=keep)
    return _topk(frame.select("seg", "docid", "score"), index, k, precision)


def custom_score_search(index: InvertedIndex, query_text: str,
                        boosts: DataFrame, k: int = 10,
                        boost_col: str = "boost",
                        precision: str = "float32") -> DataFrame:
    """CustomScoreQuery (``lucene/queries/.../CustomScoreQuery.java``,
    default ``CustomScoreProvider.customScore``): the BM25 subquery score
    MULTIPLIED by a per-document function-query value.  The boost frame
    (key, boost) joins in BEFORE the collector cut, so the top-k reflects
    the boosted order — rescoring an unboosted top-k would be wrong
    whenever a high-boost doc sits just past the unboosted cut.

    Scale shape: the boost side is a per-doc scalar column — broadcast
    when it is a small dim table; here it joins on the doc key AFTER the
    per-term scoring aggregate (so the join input is |matching docs|, not
    |postings|)."""
    hits = _match_frame(index, parse_queries(index, [(0, query_text, "OR")]),
                        precision)
    boosted = _with_keys(hits, index).join(boosts, "key").withColumn(
        "score", F.col("score") * F.col(boost_col))
    return _top(boosted, k, precision)


def rescore(index: InvertedIndex, first_query: str, second_query: str,
            n: int = 100, k: int = 10, weight: float = 2.0,
            mode: str = "OR", precision: str = "float32") -> DataFrame:
    """QueryRescorer (``search/QueryRescorer.java``): run ``first_query``,
    keep its top-``n``, add ``weight x`` the second query's score for every
    kept doc that matches it (the reference's default ``combine`` =
    firstPassScore + weight * secondPassScore when it matches), re-sort,
    return top-``k``.

    The second pass joins against the top-n frame (broadcastable for any
    practical n), so only the n retained docs are combined and ranked."""
    stype = "double" if precision == "float64" else "float"
    first = search_terms(index, first_query, mode, k=n,
                         precision=precision)
    second = _with_keys(_match_frame(
        index, parse_queries(index, [(0, second_query, "OR")]), precision),
        index).select("key", F.col("score").alias("second_score"))
    combined = first.join(second, "key", "left").withColumn(
        "score", F.col("score") + F.lit(weight).cast(stype)
        * F.coalesce(F.col("second_score"), F.lit(0.0).cast(stype)))
    return _top(combined, k, precision)
