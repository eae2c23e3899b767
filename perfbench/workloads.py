"""The two workloads: ingest (bulk build, then NRT appends) and serve.

Each workload names the fixtures it needs (``kinds``) and has

  * ``open(run)`` -- the index opens that belong to set-up;
  * ``measure(run)`` -- a discarded warm-up, then the closed measuring loop
    (one client thread; each call waits for the previous one) for
    ``run.seconds``; it returns the workload's detailed figures, and
    ``e2e`` names the ones reported as end-to-end metrics;
  * ``reset(fxs)`` -- per-run state outside Spark (ingest: the fresh copy
    of the base index the run appends to).

Fixtures are made by a process of their own that runs only when one is
missing or stale, so the measuring process starts from a JVM that has done
nothing else.  Index fixtures are built once per size from a fixed corpus
seed (a Spark build per seed would not fit the per-run budget); the
workload seed drives everything else: the bulk corpus, serve's query
stream, the appended pages and the NRT queries.

Every timed call goes through :meth:`Run.call`, which wraps it in a span
and counts it as an attempted operation.  Answers are checked against the
oracle outside the timed windows; every mismatch or exception is a failure
in the ledger.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable

from fixtures import (Fixture, Oracle, corpus_rows, dir_bytes, query_pool,
                      read_corpus, same_topk, write_corpus)
from stats import median, tail

# sizes: a run, JVM start-up and warm-up included, takes about a minute
# on a 4-core host, so that comparing two commits over ten seeds per
# workload, twice, fits in an hour; small inputs give a run more calls to
# take medians over (at 1000 pages over half of a bulk cycle is per-job
# fixed cost, the rest analysis, sink and codec)
BULK_PAGES = 1000
SERVE_PAGES, SERVE_TERM_QUERIES, SERVE_PHRASES = 2000, 240, 40
BATCH = 60
# the NRT phase is a fixed NRT_BATCHES flush rounds (about half of a run's
# measuring time), so every run's fresh latency is a median over the same
# rounds: a time-bound loop fitted fewer rounds into a slow run, and the
# median of fewer rounds kept more of the still-warming first ones
NRT_BASE, NRT_BATCH, NRT_BATCHES, NRT_BASE_SEGS = 2000, 250, 4, 4
# at least this many measured build cycles (and serve rounds, below)
# however slow they are: the first of each is still getting faster, and
# the median of three leaves it out
MIN_CYCLES = 3
BULK_SHARE = 0.5    # of ingest's measuring time, before the NRT phase
# serve measures in rounds: one batch_search and one batch_wand_search
# batch, then SINGLES_PER_ROUND single queries; at least MIN_ROUNDS
SINGLES_PER_ROUND, MIN_ROUNDS = 4, 4
FIXTURE_SEED = 0  # corpus seed of the index fixtures shared by all seeds
SINGLE_MIX = ("or", "and", "phrase", "dismax", "wand_or", "wand_and",
              "or", "wand_or")
WARM_KINDS = ("or", "phrase", "wand_or")  # one per distinct query plan


class OpFailed(Exception):
    """A timed call raised; it is already recorded in the ledger."""


class Run:
    """State of one measuring process."""

    def __init__(self, spark, tracer, ledger, fxs: dict, seed: int,
                 seconds: float, work: str):
        self.spark, self.tracer, self.ledger = spark, tracer, ledger
        self.fxs, self.seed, self.seconds, self.work = fxs, seed, seconds, work
        self.samples: dict[str, list[float]] = {}
        self.indexes: dict = {}
        self.warming = False

    @contextmanager
    def warmup(self):
        """Calls in this block are checked like any other, but their
        timings are discarded: the first run of each plan pays JIT and
        Python-worker start-up."""
        self.warming = True
        try:
            yield
        finally:
            self.warming = False

    def call(self, name: str, op: int, fn, *args, **kwargs):
        """Run one timed engine call in a span -> (result, span)."""
        self.ledger.attempt()
        try:
            with self.tracer.span(name, op, self.warming) as sp:
                out = fn(*args, **kwargs)
        except Exception as exc:  # an engine failure is a measured outcome
            self.ledger.error(name, exc)
            raise OpFailed(name) from exc
        return out, sp

    def sample(self, key: str, value: float) -> None:
        if not self.warming:
            self.samples.setdefault(key, []).append(value)

    def check_stats(self, idx, want: tuple[int, int], what: str) -> bool:
        with self.tracer.untimed():
            got = tuple(idx.collection_stats())
        return self.ledger.check(got == tuple(want),
                                 f"{what}: collection_stats {got} != {want}")

    def check_fixture(self, idx, fx: Fixture, what: str) -> None:
        """A fixture index that disagrees with its manifest fails this run
        and is marked stale, so the next run rebuilds it."""
        m = fx.manifest()
        if not self.check_stats(idx, (m["max_doc"], m["sum_ttf"]), what):
            os.remove(fx.path("manifest.json"))

    def check_topk(self, got: list, want: list, what: str) -> bool:
        return self.ledger.check(same_topk(got, want),
                                 f"{what}: top-k {got} != {want}")


def _rows(df_rows) -> list[list]:
    return [[r["key"], float(r["score"])] for r in df_rows]


def _ratio(a: float, b: float) -> float:
    return a / b if b else float("nan")


def _med(xs: list[float] | None) -> float:
    return median(xs) if xs else float("nan")


def _oracle(docs) -> Oracle:
    o = Oracle()
    for key, _html, text in docs:
        o.add(key, text)
    return o


# ----------------------------------------------------------------- fixtures

@dataclass(frozen=True)
class Kind:
    """A kind of fixture: ``make(fx, spark, fxs)`` fills ``fx.dir`` and
    returns its manifest; ``rows`` in the manifest maps each parquet file
    to its row count, re-checked on every run."""
    name: str
    pages: int
    per_seed: bool
    needs_spark: bool
    make: Callable


def fixtures_for(workload, work: str, seed: int, fingerprint: str) -> dict:
    return {k.name: Fixture(work, k.name, seed if k.per_seed else
                            FIXTURE_SEED, k.pages, fingerprint)
            for k in workload.kinds}


def fixture_ok(fx: Fixture) -> bool:
    """The manifest is for this seed, size and source, and every parquet
    file it lists has its row count.  Index fixtures are checked against
    it when the measuring process opens them (Run.check_fixture)."""
    m = fx.manifest()
    if m is None:
        return False
    try:
        return all(corpus_rows(fx.path(f)) == n for f, n in m["rows"].items())
    except OSError:
        return False


def prepare(workload, spark_factory, fxs: dict) -> None:
    """Make every missing or stale fixture of ``workload``, in order."""
    missing = [k for k in workload.kinds if not fixture_ok(fxs[k.name])]
    spark = spark_factory() if any(k.needs_spark for k in missing) else None
    try:
        for k in missing:
            fx = fxs[k.name]
            fx.reset()
            fx.commit(k.make(fx, spark, fxs))
    finally:
        if spark is not None:
            spark.stop()


def _make_bulk_corpus(fx, _spark, _fxs) -> dict:
    html = write_corpus(fx.path("corpus.parquet"), fx.pages, fx.seed)
    o = _oracle(read_corpus(fx.path("corpus.parquet")))
    return {"rows": {"corpus.parquet": fx.pages}, "html_bytes": html,
            "max_doc": o.max_doc, "sum_ttf": o.sum_ttf}


def _make_serve_index(fx, spark, _fxs) -> dict:
    from lucene_solr_old_spark.operators.indexer import (build_index,
                                                         compress_index,
                                                         load_index)

    html = write_corpus(fx.path("corpus.parquet"), fx.pages, fx.seed)
    o = _oracle(read_corpus(fx.path("corpus.parquet")))
    idx = build_index(spark.read.parquet(fx.path("corpus.parquet")),
                      key_col="url", html_col="html")
    idx.save(fx.path("plain"))
    compress_index(idx).save(fx.path("comp"))
    spark.catalog.clearCache()
    for n in ("plain", "comp"):
        got = tuple(load_index(spark, fx.path(n)).collection_stats())
        if got != (o.max_doc, o.sum_ttf):
            raise RuntimeError(f"serve fixture: {n} index stats {got} "
                               "differ from the oracle's")
    return {"rows": {"corpus.parquet": fx.pages}, "html_bytes": html,
            "max_doc": o.max_doc, "sum_ttf": o.sum_ttf,
            "plain_bytes": dir_bytes(fx.path("plain")),
            "comp_bytes": dir_bytes(fx.path("comp"))}


def _make_serve_queries(fx, _spark, fxs) -> dict:
    docs = read_corpus(fxs["serve-index"].path("corpus.parquet"))
    pool = query_pool(_oracle(docs), docs, fx.seed, SERVE_TERM_QUERIES,
                      SERVE_PHRASES, BATCH)
    with open(fx.path("queries.json"), "w") as f:
        json.dump(pool, f)
    return {"rows": {}, "queries": len(pool)}


def _make_nrt_base(fx, spark, _fxs) -> dict:
    from lucene_solr_old_spark.streaming.incremental import (
        flush_index_batch, open_nrt_reader)

    write_corpus(fx.path("base.parquet"), fx.pages, fx.seed)
    # the base is itself a flush: the layout appends write
    flush_index_batch(spark.read.parquet(fx.path("base.parquet")), 0,
                      fx.path("base"), key_col="url", html_col="html",
                      segments_per_batch=NRT_BASE_SEGS)
    o = _oracle(read_corpus(fx.path("base.parquet")))
    got = tuple(open_nrt_reader(spark, fx.path("base")).collection_stats())
    if got != (o.max_doc, o.sum_ttf):
        raise RuntimeError(f"nrt fixture: base index stats {got} differ "
                           "from the oracle's")
    return {"rows": {"base.parquet": fx.pages}, "max_doc": o.max_doc,
            "sum_ttf": o.sum_ttf}


def _make_nrt_appends(fx, _spark, _fxs) -> dict:
    import pyarrow.parquet as pq

    # pages NRT_BASE.. of this seed: urls never collide with the base's
    write_corpus(fx.path("all.parquet"), NRT_BASE + NRT_BATCH * NRT_BATCHES,
                 fx.seed)
    table = pq.read_table(fx.path("all.parquet"))
    rows = {}
    for b in range(NRT_BATCHES):
        name = f"batch-{b:04d}.parquet"
        pq.write_table(table.slice(NRT_BASE + b * NRT_BATCH, NRT_BATCH),
                       fx.path(name))
        rows[name] = NRT_BATCH
    os.remove(fx.path("all.parquet"))
    return {"rows": rows}


class Workload:
    kinds: tuple[Kind, ...] = ()

    @staticmethod
    def reset(fxs: dict) -> None:
        pass

    @staticmethod
    def open(run: Run) -> None:
        pass


# ------------------------------------------------------------ queries

def _single_kinds():
    from lucene_solr_old_spark.operators import search as S
    from lucene_solr_old_spark.operators.wand import wand_search

    def wand_and(idx, text, k):
        return wand_search(idx, text, k=k, mode="AND")

    # kind -> (span name, engine call, serve index, oracle mode)
    return {
        "or": ("search.search_or", S.search_or, "plain", "or"),
        "and": ("search.search_and", S.search_and, "plain", "and"),
        "phrase": ("search.search_phrase", S.search_phrase, "plain",
                   "phrase"),
        "dismax": ("search.search_dismax", S.search_dismax, "plain",
                   "dismax"),
        "wand_or": ("wand.wand_search", wand_search, "comp", "or"),
        "wand_and": ("wand.wand_search", wand_and, "comp", "and"),
    }


def single_query(run: Run, kind: str, q: dict, idx,
                 want: list | None = None) -> tuple[list | None, float]:
    """One timed single query (call + collect), checked against ``want``
    (default: the pool's oracle answer) -> (top-k or None, wall s)."""
    name, fn, _ix, mode = _single_kinds()[kind]
    layer = name.split(".")[0]
    op = run.tracer.new_op()
    try:
        df, call = run.call(name, op, fn, idx, q["text"], k=10)
        rows, col = run.call(f"{layer}.collect", op, df.collect)
    except OpFailed:
        return None, 0.0
    got = _rows(rows)
    want = q["answers"][mode] if want is None else want
    run.check_topk(got, want, f"{kind} {q['text']!r}")
    run.sample("single_s", call.wall + col.wall)
    run.sample(f"{layer}.call_ms", call.wall * 1000)
    run.sample(f"{layer}.collect_ms", col.wall * 1000)
    if layer == "search":
        run.sample(f"search.{mode}_ms", (call.wall + col.wall) * 1000)
    return got, call.wall + col.wall


# ------------------------------------------------------------------- ingest

def _bulk_phase(run: Run, seconds: float) -> dict:
    """build_index(html) -> save -> load_index cycles over the seed's
    pages, after one discarded warm-up cycle over the same pages (each
    cycle starts from an empty cache).  The first measured cycle also runs
    compress_index -> save -> load_index, outside the phase's time: once
    per run keeps the build cycles short, so that a run has more of them."""
    fx = run.fxs["bulk-corpus"]
    m = fx.manifest()
    out = os.path.join(run.work, "runs", "bulk")
    with run.tracer.untimed():   # the benchmark's input, not engine work
        docs = run.spark.read.parquet(fx.path("corpus.parquet"))
    want = (m["max_doc"], m["sum_ttf"])
    with run.warmup():
        _bulk_cycle(run, docs, want, out, compress=False)
    t_end, n = run.tracer.now() + seconds, 0
    while run.tracer.now() < t_end or n < MIN_CYCLES:
        # the phase's time is for build cycles: the compress is extra
        t_end += _bulk_cycle(run, docs, want, out, compress=n == 0)
        n += 1
    s = run.samples
    pages = m["max_doc"]
    return {
        "build_docs_per_s": _ratio(pages, _med(s.get("build_s"))),
        "compress_docs_per_s": _ratio(pages, _med(s.get("compress_s"))),
        "build_p50_ms": _med(s.get("build_s")) * 1000,
        "index_bytes_per_input_byte":
            _med(s.get("plain_bytes")) / m["html_bytes"],
        "compressed_bytes_per_input_byte":
            _med(s.get("comp_bytes")) / m["html_bytes"],
        "cycles": len(s.get("build_s", [])),
        "pages_per_cycle": m["max_doc"],
    }


def _bulk_cycle(run: Run, docs, want: tuple[int, int], out: str,
                compress: bool) -> float:
    """One build cycle -> the wall time of its compress steps."""
    from lucene_solr_old_spark.operators.indexer import (build_index,
                                                         compress_index,
                                                         load_index)

    plain, comp = os.path.join(out, "plain"), os.path.join(out, "comp")
    op = run.tracer.new_op()
    try:
        idx, b = run.call("indexer.build_index", op, build_index, docs,
                          key_col="url", html_col="html")
        # the build is lazy: this action materializes it (and is the
        # stats check every build gets)
        stats, st = run.call("indexer.collection_stats", op,
                             idx.collection_stats)
        _, sv = run.call("indexer.save", op, idx.save, plain)
        lp, lpl = run.call("indexer.load_index", op, load_index, run.spark,
                           plain)
        if compress:
            cidx, c = run.call("indexer.compress_index", op, compress_index,
                               idx)
            _, csv = run.call("indexer.save", op, cidx.save, comp)
            lc, lcl = run.call("indexer.load_index", op, load_index,
                               run.spark, comp)
    except OpFailed:
        run.spark.catalog.clearCache()
        return 0.0
    run.ledger.check(tuple(stats) == tuple(want),
                     f"build: collection_stats {stats} != {want}")
    run.check_stats(lp, want, "load_index(plain)")
    run.sample("build_s", b.wall + st.wall + sv.wall)
    run.sample("indexer.build_s", b.wall + st.wall)
    run.sample("indexer.save_s", sv.wall)
    run.sample("indexer.load_ms", lpl.wall * 1000)
    plain_bytes = dir_bytes(plain)
    run.sample("plain_bytes", plain_bytes)
    run.sample("indexer.bytes_written", plain_bytes)
    if compress:
        run.check_stats(lc, want, "load_index(compressed)")
        run.sample("compress_s", c.wall + csv.wall)
        run.sample("indexer.compress_s", c.wall)
        run.sample("indexer.compress_save_s", csv.wall)
        run.sample("indexer.load_ms", lcl.wall * 1000)
        run.sample("comp_bytes", dir_bytes(comp))
    # the next cycle starts cold: drop the build's cached analysis output
    run.spark.catalog.clearCache()
    shutil.rmtree(out, ignore_errors=True)
    return c.wall + csv.wall + lcl.wall if compress else 0.0


def _segments(path: str) -> list:
    """SegmentMeta per ``seg=N`` directory: postings + docmeta bytes."""
    from lucene_solr_old_spark.operators.merge import SegmentMeta

    sizes: dict[int, int] = {}
    for table in ("postings", "docmeta"):
        base = os.path.join(path, table)
        for d in os.listdir(base):
            if d.startswith("seg="):
                seg = int(d[4:])
                sizes[seg] = sizes.get(seg, 0) + dir_bytes(
                    os.path.join(base, d))
    return [SegmentMeta(seg, n) for seg, n in sorted(sizes.items())]


def _two_terms(o: Oracle, rng: random.Random, text: str) -> str:
    """Two words of a page that each analyze to a term: a query whose
    words were all stopwords would answer without running a job."""
    words = sorted({w for w in text.split() if o.analyze(w)})
    return " ".join(rng.sample(words, 2))


def _nrt_dir(work: str) -> str:
    return os.path.join(work, "runs", "nrt")


def _nrt_phase(run: Run) -> dict:
    """Micro-batch flushes beside reads on a fresh copy of the base index:
    flush -> reopen -> one verified query, NRT_BATCHES rounds, then one
    tiered merge round; one discarded warm-up query first."""
    base = read_corpus(run.fxs["nrt-base"].path("base.parquet"))
    o = _oracle(base)
    run.check_fixture(run.indexes["reader"], run.fxs["nrt-base"],
                      "open_nrt_reader(base)")
    rng = random.Random(run.seed * 13 + 5)
    # a warm-up query and a query checked before and after the merge
    pool = [_two_terms(o, rng, d[2]) for d in rng.sample(base, 2)]
    state = {"reader": run.indexes["reader"], "o": o, "rng": rng,
             "pool": pool, "html": 0,
             "live": os.path.join(_nrt_dir(run.work), "live")}
    # the bulk phase has warmed the build and save paths; one query warms
    # the search path
    with run.warmup():
        single_query(run, "or", {"text": pool[-1]}, state["reader"],
                     want=o.topk(pool[-1], "or"))
    n_docs = 0
    for b in range(NRT_BATCHES):
        if _nrt_round(run, state, b):
            n_docs += NRT_BATCH
    _merge_round(run, state)
    s = run.samples
    base_html = sum(len(d[1]) for d in base)
    return {
        "nrt_docs_per_s": _ratio(n_docs, sum(s.get("loop_busy_s", []))),
        "flush_docs_per_s": _ratio(n_docs, sum(s.get("flush_s", []))),
        "fresh_p50_ms": _med(s.get("fresh_s")) * 1000,
        "nrt_index_bytes_per_input_byte":
            dir_bytes(state["live"]) / (base_html + state["html"]),
        "flushes": len(s.get("fresh_s", [])),
        "merges": len(s.get("merge.merge_s", [])),
    }


def _nrt_round(run: Run, state: dict, b: int) -> bool:
    """Flush micro-batch ``b``, reopen, answer one verified query; True
    when the flush round succeeded."""
    from lucene_solr_old_spark.operators import search as S
    from lucene_solr_old_spark.streaming.incremental import (
        flush_index_batch, open_nrt_reader)

    o, rng = state["o"], state["rng"]
    path = run.fxs["nrt-appends"].path(f"batch-{b:04d}.parquet")
    new = read_corpus(path)
    with run.tracer.untimed():
        batch_df = run.spark.read.parquet(path)
    text = _two_terms(o, rng, rng.choice(new)[2])
    op = run.tracer.new_op()
    # flush ids start past the base's segments (its flush wrote 0..3)
    bid = NRT_BASE_SEGS // 2 + b
    try:
        _, fl = run.call("streaming.flush_index_batch", op, flush_index_batch,
                         batch_df, bid, state["live"], key_col="url",
                         html_col="html")
        reader, ro = run.call("streaming.open_nrt_reader", op,
                              open_nrt_reader, run.spark, state["live"])
        df, qc = run.call("search.search_or", op, S.search_or, reader, text,
                          k=10)
        rows, qr = run.call("search.collect", op, df.collect)
    except OpFailed:
        return False
    for key, html, t in new:
        o.add(key, t)
        state["html"] += len(html)
    state["reader"] = reader
    run.check_stats(reader, (o.max_doc, o.sum_ttf), f"flush {b}")
    run.check_topk(_rows(rows), o.topk(text, "or"), f"fresh query {text!r}")
    walls = [x.wall for x in (fl, ro, qc, qr)]
    run.sample("fresh_s", sum(walls))
    run.sample("flush_s", walls[0])
    run.sample("loop_busy_s", sum(walls))
    run.sample("streaming.flush_ms", walls[0] * 1000)
    run.sample("streaming.reopen_ms", walls[1] * 1000)
    run.sample("streaming.first_query_ms", (walls[2] + walls[3]) * 1000)
    return True


def _merge_round(run: Run, state: dict) -> None:
    """TieredMergePlanner.find_merges -> merge_many -> save as a new
    generation -> reopen; answers must be identical before and after."""
    from lucene_solr_old_spark.operators import search as S
    from lucene_solr_old_spark.operators.merge import (TieredMergePlanner,
                                                       merge_many)
    from lucene_solr_old_spark.streaming.incremental import open_nrt_reader

    reader, o = state["reader"], state["o"]
    checks = state["pool"][:1]

    def answers(idx):
        with run.tracer.untimed():
            return [_rows(S.search_or(idx, q, k=10).collect())
                    for q in checks]

    op = run.tracer.new_op()
    try:
        plan, pl = run.call("merge.find_merges", op,
                            TieredMergePlanner().find_merges,
                            _segments(state["live"]))
        if not plan:
            return
        before = answers(reader)
        merged, mm = run.call("merge.merge_many", op, merge_many, reader,
                              plan)
        # a new generation: flushing into a save()d index would drop the
        # saved segments from segstats (see METRICS.md)
        gen = os.path.join(_nrt_dir(run.work), "merged")
        _, sv = run.call("merge.save", op, merged.save, gen)
        greader, ro = run.call("merge.open_nrt_reader", op, open_nrt_reader,
                               run.spark, gen)
    except OpFailed:
        return
    run.check_stats(greader, (o.max_doc, o.sum_ttf), "merge generation")
    after = answers(greader)
    for q, a, b in zip(checks, before, after):
        run.ledger.check(same_topk(b, a, want_complete=False),
                         f"merge changed the answer to {q!r}: {a} -> {b}")
        run.check_topk(b, o.topk(q, "or"), f"after merge {q!r}")
    run.sample("loop_busy_s", pl.wall + mm.wall + sv.wall + ro.wall)
    run.sample("merge.plan_ms", pl.wall * 1000)
    run.sample("merge.merge_s", mm.wall + sv.wall)
    run.sample("merge.bytes_rewritten", dir_bytes(gen))
    run.sample("merge.segments_after", len(_segments(gen)))


class Ingest(Workload):
    """The write paths: bulk build cycles, then NRT appends with merges."""

    kinds = (Kind("bulk-corpus", BULK_PAGES, True, False, _make_bulk_corpus),
             Kind("nrt-base", NRT_BASE, False, True, _make_nrt_base),
             Kind("nrt-appends", NRT_BASE, True, False, _make_nrt_appends))
    e2e = {"throughput_per_s": "build_docs_per_s",
           "latency_p50_ms": "fresh_p50_ms"}

    @staticmethod
    def reset(fxs: dict) -> None:
        """Every measured run appends to a fresh copy of the base index."""
        work = fxs["nrt-base"].work
        shutil.rmtree(_nrt_dir(work), ignore_errors=True)
        shutil.copytree(fxs["nrt-base"].path("base"),
                        os.path.join(_nrt_dir(work), "live"))

    @staticmethod
    def open(run: Run) -> None:
        from lucene_solr_old_spark.streaming.incremental import open_nrt_reader

        run.indexes["reader"], _ = run.call(
            "streaming.open_nrt_reader", 0, open_nrt_reader, run.spark,
            os.path.join(_nrt_dir(run.work), "live"))

    @staticmethod
    def measure(run: Run) -> dict:
        bulk = _bulk_phase(run, run.seconds * BULK_SHARE)
        return {**bulk, **_nrt_phase(run)}


# -------------------------------------------------------------------- serve

def _batch(run: Run, kind: str, queries: list[dict], idx,
           singles: dict) -> float | None:
    """One timed batch (call + collect), every answer checked -> its wall
    time, or None when a call raised."""
    from lucene_solr_old_spark.operators.batch import batch_search
    from lucene_solr_old_spark.operators.wand import batch_wand_search

    name, fn = {"batch": ("batch.batch_search", batch_search),
                "wand": ("wand.batch_wand_search", batch_wand_search)}[kind]
    layer = name.split(".")[0]
    spec = [(j, q["text"], "AND" if j % 2 else "OR")
            for j, q in enumerate(queries)]
    op = run.tracer.new_op()
    try:
        df, call = run.call(name, op, fn, idx, spec, k=10)
        rows, col = run.call(f"{layer}.collect", op, df.collect)
    except OpFailed:
        return None
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r["qid"], []).append(r)
    for (j, text, mode), q in zip(spec, queries):
        res = _rows(sorted(got.get(j, []), key=lambda r: r["rank"]))
        run.check_topk(res, q["answers"][mode.lower()],
                       f"{name} {mode} {text!r}")
        # the same query answered by single-query calls earlier in the run
        for single_kind in (mode.lower(), "wand_" + mode.lower()):
            prev = singles.get((q["id"], single_kind))
            if prev is not None:
                run.ledger.check(same_topk(res, prev, want_complete=False),
                                 f"{name} vs {single_kind} on {text!r}")
    prefix = "wand.batch_" if kind == "wand" else "batch."
    run.sample(f"{kind}_s", call.wall + col.wall)
    run.sample(f"{kind}_queries", len(spec))
    run.sample(prefix + "call_ms", call.wall * 1000)
    run.sample(prefix + "collect_ms", col.wall * 1000)
    return call.wall + col.wall


class Serve(Workload):
    """Read-only serving on load_index-opened indexes, in rounds: the
    same 60 queries through batch_search and batch_wand_search, then
    single queries of every kind."""

    kinds = (Kind("serve-index", SERVE_PAGES, False, True, _make_serve_index),
             Kind("serve-queries", SERVE_PAGES, True, False,
                  _make_serve_queries))
    e2e = {"throughput_per_s": "batch_pair_qps",
           "latency_p50_ms": "single_p50_ms"}

    @staticmethod
    def open(run: Run) -> None:
        from lucene_solr_old_spark.operators.indexer import load_index

        for name in ("plain", "comp"):
            idx, sp = run.call("indexer.load_index", 0, load_index,
                               run.spark, run.fxs["serve-index"].path(name))
            run.indexes[name] = idx
            run.sample("indexer.load_ms", sp.wall * 1000)

    @staticmethod
    def measure(run: Run) -> dict:
        fx = run.fxs["serve-index"]
        m = fx.manifest()
        with open(run.fxs["serve-queries"].path("queries.json")) as f:
            pool = json.load(f)
        terms = [q for q in pool if q["kind"] == "terms"]
        phrases = [q for q in pool if q["kind"] == "phrase"]
        kinds = _single_kinds()
        singles: dict = {}
        n_phrase = SINGLE_MIX.count("phrase")

        def one(i: int) -> None:
            # the pool in order: its windows are stratified samples
            kind = SINGLE_MIX[i % len(SINGLE_MIX)]
            if kind == "phrase":
                q = phrases[i // len(SINGLE_MIX) * n_phrase % len(phrases)]
            else:
                q = terms[i % len(terms)]
            got, _ = single_query(run, kind, q, run.indexes[kinds[kind][2]])
            if got is not None:
                singles[(q["id"], kind)] = got

        def batches(r: int) -> None:
            """One batch_search and one batch_wand_search over the r-th
            window of BATCH queries."""
            start = (r * BATCH) % len(terms)
            qs = (terms + terms)[start:start + BATCH]
            a = _batch(run, "batch", qs, run.indexes["plain"], singles)
            b = _batch(run, "wand", qs, run.indexes["comp"], singles)
            if a is not None and b is not None:
                run.sample("pair_s", a + b)

        def round_(r: int) -> None:
            batches(r)
            for j in range(SINGLES_PER_ROUND):
                one(len(SINGLE_MIX) + (r - 1) * SINGLES_PER_ROUND + j)

        with run.warmup():   # one single query per plan, one batch of each
            for kind in WARM_KINDS:
                one(SINGLE_MIX.index(kind))
            batches(0)
        # the queries have already read the collection stats: free here
        for name in ("plain", "comp"):
            run.check_fixture(run.indexes[name], fx, f"load_index({name})")
        # measured rounds start past the warm-up's queries (whose terms
        # have filled the term-stats cache), and end on a whole number of
        # single-query mixes, so every run times the same mix of kinds;
        # the first rounds are still getting faster, and the medians
        # leave them out
        r = 1
        rounds_per_mix = len(SINGLE_MIX) // SINGLES_PER_ROUND
        t_end = run.tracer.now() + run.seconds
        while run.tracer.now() < t_end or (r - 1) % rounds_per_mix \
                or r <= MIN_ROUNDS:
            round_(r)
            r += 1
        s = run.samples
        single = s.get("single_s", [])
        t = tail(single)
        return {
            "batch_pair_qps": _ratio(2 * BATCH, _med(s.get("pair_s"))),
            "batch_qps": _ratio(BATCH, _med(s.get("batch_s"))),
            "batch_wand_qps": _ratio(BATCH, _med(s.get("wand_s"))),
            "batch_pairs": len(s.get("pair_s", [])),
            "single_p50_ms": _med(single) * 1000,
            "single_tail_ms": t[1] * 1000 if t else None,
            "single_tail_level": t[0] if t else None,
            "single_samples": len(single),
            "index_bytes_per_input_byte": m["plain_bytes"] / m["html_bytes"],
            "compressed_bytes_per_input_byte":
                m["comp_bytes"] / m["html_bytes"],
        }


WORKLOADS = {"ingest": Ingest, "serve": Serve}

# per-layer metrics read from the workloads' own per-call samples (median
# over the run); the remaining per-layer metrics come from tracing.py
LAYER_SAMPLES = (
    "indexer.build_s", "indexer.save_s", "indexer.compress_s",
    "indexer.compress_save_s", "indexer.load_ms", "indexer.bytes_written",
    "search.call_ms", "search.collect_ms", "search.or_ms", "search.and_ms",
    "search.phrase_ms", "search.dismax_ms",
    "wand.call_ms", "wand.collect_ms",
    "wand.batch_call_ms", "wand.batch_collect_ms",
    "batch.call_ms", "batch.collect_ms",
    "merge.plan_ms", "merge.merge_s", "merge.bytes_rewritten",
    "merge.segments_after",
    "streaming.flush_ms", "streaming.reopen_ms", "streaming.first_query_ms",
)
