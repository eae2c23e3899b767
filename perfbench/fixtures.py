"""Seeded inputs and the pure-Python BM25 oracle.

Everything here is a function of (seed, size) and of the engine's source:
the corpus of synthetic pages, the query pool, and the oracle's answers.
A fixture directory carries a manifest; a fixture whose manifest does not
match what is on disk, or was made from other engine or benchmark code,
is rebuilt, never reused.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
from collections import Counter

import numpy as np

FIXTURE_VERSION = 1
K = 10


def source_fingerprint(root: str) -> str:
    """Hash of the engine package and of the benchmark code that makes
    fixtures: a fixture (index files, oracle answers) is valid only for the
    code that made it."""
    paths = [os.path.join(dirpath, fn)
             for dirpath, _dirs, files in os.walk(
                 os.path.join(root, "lucene_solr_old_spark"))
             for fn in files if fn.endswith(".py")]
    paths += [os.path.join(root, "perfbench", fn)
              for fn in ("fixtures.py", "workloads.py")]
    h = hashlib.sha1()
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


class Fixture:
    """One fixture directory: ``<work>/fixtures/<name>-s<seed>-n<pages>``."""

    def __init__(self, work: str, name: str, seed: int, pages: int,
                 fingerprint: str):
        self.work, self.seed, self.pages = work, seed, pages
        self.dir = os.path.join(work, "fixtures",
                                f"{name}-s{seed}-n{pages}")
        self.fingerprint = fingerprint

    def path(self, rel: str) -> str:
        return os.path.join(self.dir, rel)

    def manifest(self) -> dict | None:
        try:
            with open(self.path("manifest.json")) as f:
                m = json.load(f)
        except (OSError, ValueError):
            return None
        if (m.get("version") != FIXTURE_VERSION
                or m.get("fingerprint") != self.fingerprint
                or m.get("seed") != self.seed or m.get("pages") != self.pages):
            return None
        return m

    def reset(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)

    def commit(self, manifest: dict) -> None:
        manifest.update(version=FIXTURE_VERSION, fingerprint=self.fingerprint,
                        seed=self.seed, pages=self.pages)
        tmp = self.path("manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self.path("manifest.json"))


def write_corpus(path: str, pages: int, seed: int) -> int:
    """Generate ``pages`` synthetic pages (sources.pages) to parquet;
    returns the html bytes written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lucene_solr_old_spark.sources.pages import gen_pages

    rows = gen_pages(pages, seed=seed)
    table = pa.table({"url": [r[0] for r in rows],
                      "html": [r[2] for r in rows],
                      "text": [r[3] for r in rows]})
    pq.write_table(table, path)
    return sum(len(r[2]) for r in rows)


def corpus_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def read_corpus(path: str) -> list[tuple[str, bytes, str]]:
    import pyarrow.parquet as pq

    t = pq.read_table(path).to_pydict()
    return list(zip(t["url"], t["html"], t["text"]))


class Oracle:
    """Pure-Python BM25 (Lucene float32 arithmetic, as in
    tests/test_rank_identity.py) over an incrementally grown document set."""

    def __init__(self):
        from lucene_solr_old_spark.functions.tokenizer import get_analyzer

        self.analyze = get_analyzer("english")
        self.post: dict[str, dict[str, list[int]]] = {}
        self.norm: dict[str, int] = {}
        self.sum_ttf = 0
        self.keys: list[str] = []        # doc number -> key
        self.num: dict[str, int] = {}    # key -> doc number
        # caches for topk, dropped as docs are added
        self._postings_arrays: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        self._norms: np.ndarray | None = None

    def add(self, key: str, text: str) -> None:
        from lucene_solr_old_spark.functions.smallfloat import doclen_to_norm

        toks = self.analyze(text)
        for t in toks:
            self.post.setdefault(t.term, {}).setdefault(key, []).append(t.pos)
            self._postings_arrays.pop(t.term, None)
        self.norm[key] = doclen_to_norm(len(toks))
        self.num[key] = len(self.keys)
        self.keys.append(key)
        self._norms = None
        self.sum_ttf += len(toks)

    @property
    def max_doc(self) -> int:
        return len(self.norm)

    def stats(self):
        from lucene_solr_old_spark.functions.bm25 import Bm25Stats

        return Bm25Stats(self.max_doc, self.sum_ttf)

    def _postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc numbers, term frequencies) of ``term``, cached until a doc
        with the term is added."""
        arr = self._postings_arrays.get(term)
        if arr is None:
            docs = self.post.get(term, {})
            arr = (np.array([self.num[k] for k in docs], dtype=np.int64),
                   np.array([len(p) for p in docs.values()]))
            self._postings_arrays[term] = arr
        return arr

    def topk(self, text: str, mode: str, k: int = K) -> list[list]:
        """Top-k [key, score] for mode in or / and / dismax / phrase."""
        st = self.stats()
        if mode == "phrase":
            toks = self.analyze(text)
            if len(toks) > 1:
                return self._phrase(st, toks, k)
            mode = "or"
        mult = Counter(t.term for t in self.analyze(text))
        if not mult:
            return []
        if self._norms is None:
            self._norms = np.array([self.norm[key] for key in self.keys])
        # per doc: float32 term scores summed (or maxed) in float64, term
        # by term in query order, as Python floats would be
        acc = np.zeros(self.max_doc)
        hits = np.zeros(self.max_doc, dtype=np.int64)
        for t, m in mult.items():
            docs, tf = self._postings(t)
            if not len(docs):
                continue
            s = st.score(len(docs), tf, self._norms[docs]).astype(np.float64)
            if mode == "dismax":
                acc[docs] = np.maximum(acc[docs], s)
            else:
                acc[docs] += s * m
            hits[docs] += 1
        sel = np.flatnonzero(hits == len(mult) if mode == "and"
                             else hits > 0)
        return _top({self.keys[i]: acc[i] for i in _near_top(acc, sel, k)},
                    k)

    def _phrase(self, st, toks, k: int) -> list[list]:
        terms = [t.term for t in toks]
        offs = [t.pos - toks[0].pos for t in toks]
        w = np.float32(0.0)
        for t in terms:
            w = w + st.idf(len(self.post.get(t, {})))
        w = w * (st.k1 + np.float32(1.0))
        docs = set(self.post.get(terms[0], {}))
        for t in terms[1:]:
            docs &= set(self.post.get(t, {}))
        acc = {}
        for d in docs:
            pos = [set(self.post[t][d]) for t in terms]
            shifted = set.intersection(*({p - o for p in ps}
                                         for ps, o in zip(pos, offs)))
            if shifted:
                pf = np.float32(len(shifted))
                acc[d] = float((w * pf) / (pf + st.cache[self.norm[d]]))
        return _top(acc, k)


def _top(acc: dict[str, float], k: int) -> list[list]:
    """Top-k [key, score] by (score desc, key), extended by every further
    doc whose score ties the k-th within REL_TOL: any of them may fill the
    last places when float32 sums differ by addition order."""
    ranked = sorted(((key, float(np.float32(s))) for key, s in acc.items()),
                    key=lambda x: (-x[1], x[0]))
    n = min(k, len(ranked))
    while n < len(ranked) and _tied(ranked[n][1], ranked[k - 1][1]):
        n += 1
    return [list(x) for x in ranked[:n]]


REL_TOL = 2e-6  # float32 scores that differ only by addition order


def _near_top(acc: np.ndarray, sel: np.ndarray, k: int) -> np.ndarray:
    """The entries of ``sel`` whose score in ``acc`` could make the top-k
    or tie with its k-th (a superset of what :func:`_top` keeps)."""
    if len(sel) <= k:
        return sel
    scores = acc[sel].astype(np.float32).astype(np.float64)
    kth = np.partition(scores, len(scores) - k)[len(scores) - k]
    return sel[scores >= kth - 2 * REL_TOL * max(1.0, abs(kth))]


def _tied(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def same_topk(got: list, want: list, k: int = K,
              want_complete: bool = True) -> bool:
    """``got`` (an engine top-k) agrees with ``want``.

    Scores must match position by position within REL_TOL.  Keys must
    match as tie classes: runs of ``want`` whose scores tie form a class,
    and order inside a class is free (the engine sums float32 partials in
    an order of its own).  ``want_complete`` says ``want`` carries every
    doc tied with its k-th (an oracle answer); otherwise (another engine
    result, cut at k) the keys of a class reaching the cut are not
    compared, since either side may have kept other members of it.
    """
    n = min(k, len(want))
    if len(got) != n or len({g[0] for g in got}) != n:
        return False
    if not all(_tied(g[1], w[1]) for g, w in zip(got, want)):
        return False
    a = 0
    while a < n:
        b = a + 1
        while b < len(want) and _tied(want[b][1], want[a][1]):
            b += 1
        gk = {g[0] for g in got[a:min(b, n)]}
        wk = {w[0] for w in want[a:b]}
        if b <= n:
            if gk != wk:
                return False
        elif want_complete and not gk <= wk:
            return False
        a = b
    return True


def zipf_ranks(rng: random.Random, n: int, size: int) -> list[int]:
    """``n`` ranks in [0, size) drawn Zipf-like (s=1: log-uniform rank),
    stratified: draw j falls in the j-th n-quantile, then the draws are
    shuffled.  About a third land on the top ten of 2000 ranks and repeat
    (term-stats cache hits); the rest mostly do not.  Stratifying makes
    every batch of draws cost alike, whatever the seed."""
    ranks = [int(math.exp((j + rng.random()) / n * math.log(size))) - 1
             for j in range(n)]
    rng.shuffle(ranks)
    return ranks


def phrase_text(docs: list[tuple[str, bytes, str]], rng: random.Random,
                analyze) -> str:
    """2-3 consecutive words of a random page that keep at least two terms
    after analysis, so the phrase occurs and is a phrase."""
    while True:
        words = rng.choice(docs)[2].split()
        n = rng.choice((2, 3))
        i = rng.randrange(max(1, len(words) - n + 1))
        text = " ".join(words[i:i + n])
        if len(analyze(text)) >= 2:
            return text


def query_pool(oracle: Oracle, docs, seed: int, n_terms: int,
               n_phrase: int, batch: int) -> list[dict]:
    """The serve workload's queries, each with its oracle answer for every
    mode it may run in.  ``terms`` queries (1, 2, 3 terms in turn) run as
    or / and / dismax singles, as wand singles, and inside batches of
    ``batch``; phrases run as singles.  Each batch-sized window of terms
    queries is drawn from its own stratified Zipf sample.
    """
    rng = random.Random(seed * 7919 + 1)
    # the vocabulary a query can reach: a stem such as "by" (from "bys")
    # is a stopword when typed, and its query has no terms at all
    ranked = [t for t in sorted(oracle.post,
                                key=lambda t: (-len(oracle.post[t]), t))
              if oracle.analyze(t)][:2000]
    lengths = [1 + i % 3 for i in range(n_terms)]
    pool = []
    for w in range(0, n_terms, batch):
        draws = iter(zipf_ranks(rng, sum(lengths[w:w + batch]), len(ranked)))
        for i in range(w, min(w + batch, n_terms)):
            text = " ".join(ranked[next(draws)] for _ in range(lengths[i]))
            pool.append({"id": i, "text": text, "kind": "terms",
                         "answers": {m: oracle.topk(text, m)
                                     for m in ("or", "and", "dismax")}})
    for i in range(n_phrase):
        text = phrase_text(docs, rng, oracle.analyze)
        pool.append({"id": n_terms + i, "text": text, "kind": "phrase",
                     "answers": {"phrase": oracle.topk(text, "phrase")}})
    return pool


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total
