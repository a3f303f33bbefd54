"""The `search` and `serve` workloads, their set-up, and the layer probes
of a traced run. Both query a copy of the checkout's index fixture
(fixture.py); the seed chooses the query texts and the delete schedule.

- search: one closed-loop client sends queries in six shapes through
  `bm25_topk`, `bm25_topk_wand` and `phrase_docids` against an unpinned
  index.
- serve: three closed-loop clients go through `QueryBatcher` (result
  cache off, FAIR scheduler) against an index pinned with
  `Index.pin_memory()`, about a fifth of requests repeating a recent
  text, while a writer thread commits small `delete_by_ids` batches
  every COMMIT_EVERY_S seconds.

Set-up is timed as `setup_s`: session start, opening (and for serve
pinning) the index, and a warm-up: every word of the corpus through the
term dictionary, then every query shape (search) or batched waves
(serve) on texts the window never sends. Reference answers are prepared
between those steps, outside every timed span. The fixture's build is
timed once per checkout and printed as the `fixture_build_s` info line,
outside `setup_s`.
"""

from __future__ import annotations

import random
import shutil
import threading
import time
from dataclasses import dataclass, field

import fixture
from harness import median, nproc, pct, start_spark
from oracle import PhraseOracle, RankOracle, rank_mismatch
from trace import JobTable, Tracer

SERVE_CLIENTS = 3
SERVE_REPEAT_P = 0.2
#: a commit costs about 1.5 s of Spark jobs and slows the waves it
#: overlaps; at one every 4 s most waves overlapped one, and the p50
#: swung with how commits and waves happened to interleave
COMMIT_EVERY_S = 8.0
COMMIT_BATCH = 3
REQUEST_TIMEOUT_S = 60.0
DELTA_SHARE = 0.02  # new keys added by the add_documents probe
#: blocks of the six shapes (search) and batched waves of SERVE_CLIENTS
#: texts (serve) run before the window: the first of each plan shape pays
#: code generation, and latencies settle after a few
WARMUP_SEARCH_BLOCKS = 3
WARMUP_SERVE_WAVES = 6
FRESH_TRIES = 200  # draws of a shape before its unsent texts count as used up

SHAPES = ("flat_head", "and_head", "tail", "wand", "mid4", "phrase")
ROUTE = {
    "flat_head": "flat", "and_head": "flat", "tail": "flat", "mid4": "flat",
    "wand": "wand", "phrase": "phrase",
}
OPERATORS = ("phrase_inline", "phrase_sloppy", "dup_spans", "lsh", "facet")


@dataclass
class Query:
    shape: str
    text: str
    k: int = 10
    mode: str = "OR"
    words: list[str] = field(default_factory=list)
    slop: int = 0

    @property
    def route(self) -> str:
        return ROUTE[self.shape]


class Vocab:
    """Query texts drawn from term tiers read off the reference index, and
    phrases from the token streams of sampled documents.

    The corpus has 60 distinct words, each in most documents; its other
    terms are numeric. By total frequency the top 40 words are the head
    tier and the other 20 the mid tier. Numeric terms in 10..60 documents
    (at least k, so WAND can seed a threshold from them) pair with a head
    word in the WAND shape; those in 2..8 documents are the rare tail.

    Every text handed out is new in the run, so the window never sends a
    warm-up text. Warm-up loads every word into the term dictionary's
    cache, so in the window words are cache hits and the numeric terms
    (tail, WAND's selective term) take the dictionary seek. A shape
    whose texts run out within FRESH_TRIES draws repeats one, counted in
    `repeats`."""

    def __init__(self, rank: RankOracle, docs: list[tuple[int, str]]):
        from solr_spark.analysis.analyzer import tokenize_py

        postings = rank.index.postings
        by_ttf = sorted(postings, key=lambda t: (-sum(postings[t].values()), t))
        words = [t for t in by_ttf if not t.isdigit()]
        self.head = words[:40]
        self.mid = words[40:]
        self.selective = sorted(t for t in postings if 10 <= len(postings[t]) <= 60)
        self.tail = sorted(t for t in postings if 2 <= len(postings[t]) <= 8)
        self.streams = [tokenize_py(c) for _, c in docs[:: max(1, len(docs) // 64)]]
        self.sent: set = set()
        self.repeats = 0

    def _fresh(self, draw, key):
        for _ in range(FRESH_TRIES):
            item = draw()
            if key(item) not in self.sent:
                break
        else:
            self.repeats += 1
        self.sent.add(key(item))
        return item

    def phrase(self, rnd: random.Random, slop: int) -> list[str]:
        toks = rnd.choice(self.streams)
        p = rnd.randrange(0, len(toks) - 3)
        return [toks[p], toks[p + 1]] if slop == 0 else [toks[p], toks[p + 2]]

    def query(self, rnd: random.Random, shape: str) -> Query:
        return self._fresh(lambda: self._draw(rnd, shape), lambda q: (q.shape, q.text, q.slop))

    def mixed_text(self, rnd: random.Random) -> str:
        return self._fresh(lambda: self._mixed(rnd), lambda t: ("mixed", t))

    def _draw(self, rnd: random.Random, shape: str) -> Query:
        if shape == "flat_head":
            return Query(shape, rnd.choice(self.head))
        if shape == "and_head":
            return Query(shape, " ".join(rnd.sample(self.head, 2)), mode="AND")
        if shape == "tail":
            return Query(shape, rnd.choice(self.tail))
        if shape == "wand":
            return Query(shape, f"{rnd.choice(self.head)} {rnd.choice(self.selective)}")
        if shape == "mid4":
            return Query(shape, " ".join(rnd.sample(self.mid, 4)), k=100)
        slop = rnd.choice((0, 2))
        words = self.phrase(rnd, slop)
        return Query(shape, " ".join(words), words=words, slop=slop)

    def _mixed(self, rnd: random.Random) -> str:
        n = rnd.choice((1, 2, 2, 3, 4))
        tiers = rnd.choices((self.head, self.mid, self.tail), weights=(3, 5, 2), k=n)
        return " ".join(rnd.choice(t) for t in tiers)


class Run:
    """One benchmark run: session, index copy, references, checks, spans."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, dirs, fx):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.dirs = dirs
        self.fx = fx
        self.tr = Tracer(None, trace)
        self.attempted = 0
        self.failures: list[str] = []
        self.info: dict = {}
        self.e2e: dict = {}
        self.layers: dict = {}
        self.samples: list = []
        self.commits: list = []

    def check(self, what: str, problem: str | None) -> bool:
        self.attempted += 1
        if problem is not None:
            self.failures.append(f"{what}: {problem}")
        return problem is None

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        from solr_spark.index.builder import Index
        from solr_spark.query.engine import bm25_topk_batch

        conf = {}
        if self.workload == "serve":
            conf["spark.scheduler.mode"] = "FAIR"
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.dirs.eventlog,
                "spark.eventLog.compress": "false",
            })
        tr = self.tr
        with tr.span("session.start", label=False):
            self.spark = start_spark(self.dirs, f"perfbench-{self.workload}", conf)
        tr.sc = self.spark.sparkContext
        self.index_root = self.dirs.path("index")
        shutil.copytree(self.fx.index, self.index_root)
        with tr.span("index.open"):
            self.idx = Index.load(self.spark, self.index_root)
            if self.workload == "serve":
                self.idx.pin_memory()

        with tr.span("bench.reference", label=False):
            self.docs = self.fx.docs()
            n = self.fx.meta["report_n_docs"]
            self.check("build n_docs", None if n == fixture.N_DOCS else f"{n}")
            self.rank = RankOracle(self.docs)
            self.phrases = PhraseOracle(self.docs)
            self.vocab = Vocab(self.rank, self.docs)

        with tr.span("warmup"):
            # preload the term dictionary with every word (a searcher
            # warming query): a word's first seek is a Spark job and later
            # ones are LRU hits, so without this the window's latencies
            # fall as words get cached. Numeric terms stay cold.
            self.idx.term_stats_for(self.vocab.head + self.vocab.mid)
            rnd = random.Random(f"warmup-{self.seed}")
            if self.workload == "search":
                for _ in range(WARMUP_SEARCH_BLOCKS):
                    for shape in SHAPES:
                        self.run_query(self.vocab.query(rnd, shape), "warmup")
            else:
                for _ in range(WARMUP_SERVE_WAVES):
                    texts = {f"w{i}": self.vocab.mixed_text(rnd) for i in range(SERVE_CLIENTS)}
                    bm25_topk_batch(self.idx, texts, k=10).collect()
        names = ("session.start", "index.open", "warmup")
        parts = {n: sum(s.dur for s in tr.spans if s.name == n) for n in names}
        self.e2e["setup_s"] = sum(parts.values())
        self.info["setup_parts_s"] = {n: round(v, 3) for n, v in parts.items()}
        self.info["fixture_build_s"] = round(self.fx.build_s, 3)

    # -- one query through the public API -----------------------------------
    def run_query(self, q: Query, prefix: str = "query", debug: dict | None = None):
        from solr_spark.query.engine import bm25_topk
        from solr_spark.query.positions import phrase_docids
        from solr_spark.query.wand import bm25_topk_wand

        tr = self.tr
        with tr.span(f"{prefix}.{q.route}") as sp:
            with tr.span("plan", label=False):
                if q.route == "phrase":
                    df = phrase_docids(self.idx, q.words, slop=q.slop)
                elif q.route == "wand":
                    df = bm25_topk_wand(self.idx, q.text, k=q.k, mode=q.mode, debug=debug)
                else:
                    df = bm25_topk(self.idx, q.text, k=q.k, mode=q.mode)
            with tr.span("exec", label=False):
                rows = df.collect()
        if q.route == "phrase":
            got = {int(r["docid"]): int(r["phrase_freq"]) for r in rows}
        else:
            got = [(int(r["docid"]), float(r["score"])) for r in rows]
        return sp, got

    def check_query(self, q: Query, got, deleted: frozenset = frozenset()) -> bool:
        if q.route == "phrase":
            want = self.phrases.expected(q.words, q.slop)
            problem = None if got == want else (
                f"{len(got)} docs vs {len(want)}, "
                f"diff {sorted(set(got.items()) ^ set(want.items()))[:4]}"
            )
        else:
            problem = rank_mismatch(got, self.rank.expected(q.text, q.k, q.mode, deleted))
        return self.check(f"{q.shape} {q.text!r} slop={q.slop}", problem)

    def _latency(self, lat: list[float], window_s: float) -> None:
        self.e2e["query_p50_s"] = pct(lat, 50)
        self.e2e["query_p90_s"] = pct(lat, 90)
        self.e2e["qps"] = len(lat) / window_s
        self.info["queries"] = len(lat)

    # -- the timed window ------------------------------------------------------
    def window(self) -> None:
        if self.workload == "search":
            self.window_search()
        else:
            self.window_serve()
        self.info["repeated_texts"] = self.vocab.repeats

    def window_search(self) -> None:
        """One closed-loop client. Shapes come in blocks holding each shape
        once in seeded order, so the shape mix, which sets the latency
        distribution, barely varies between seeds."""
        rnd = random.Random(f"search-{self.seed}")
        order: list[str] = []
        done = []
        deadline = time.time() + self.seconds
        with self.tr.span("window", label=False) as win:
            while time.time() < deadline:
                if not order:
                    order = rnd.sample(SHAPES, len(SHAPES))
                q = self.vocab.query(rnd, order.pop())
                sp, got = self.run_query(q)
                done.append((q, sp, got))
        self.win = win
        self._latency([sp.dur for _, sp, _ in done], win.dur)
        self.samples = [(q.shape, round(sp.dur, 4)) for q, sp, _ in done]
        for q, _, got in done:
            self.check_query(q, got)

    def window_serve(self) -> None:
        """Readers and one writer for `seconds`. A response to a request sent
        after a commit returned must not hold a docid that commit deleted,
        and every answer must equal the oracle's under some delete state
        the request could have observed."""
        from solr_spark.index.maintenance import delete_by_ids
        from solr_spark.query.serving import QueryBatcher

        rnd = random.Random(f"serve-{self.seed}")
        streams = []
        for _ in range(SERVE_CLIENTS):
            texts: list[str] = []
            for _ in range(400):
                if len(texts) >= 2 and rnd.random() < SERVE_REPEAT_P:
                    texts.append(rnd.choice(texts[-10:]))
                else:
                    texts.append(self.vocab.mixed_text(rnd))
            streams.append(texts)
        # delete docs the readers rank highly, so a stale answer shows
        n_commits = int(self.seconds // COMMIT_EVERY_S)
        pool = sorted({d for s in streams for t in s[:30] for d, _ in self.rank.expected(t, 10)})
        victims = rnd.sample(pool, min(len(pool), COMMIT_BATCH * n_commits))
        batches = [victims[i::n_commits] for i in range(n_commits)]

        # result cache off: QueryBatcher._run fills the cache with no check
        # of the index generation, so a wave that straddles a commit puts
        # pre-commit rows back and a later repeat is served a deleted docid
        # (see README, "A defect the serve checks found")
        batcher = QueryBatcher(self.idx, k=10, mode="OR", use_cache=False)
        records: list[tuple] = []
        lock = threading.Lock()
        t0 = time.time()
        deadline = t0 + self.seconds

        def reader(texts):
            for text in texts:
                if time.time() >= deadline:
                    return
                t_send = time.time()
                try:
                    rows = batcher.search(text, timeout=REQUEST_TIMEOUT_S)
                    got, err = [(int(r["docid"]), float(r["score"])) for r in rows], None
                except Exception as e:  # a failed request is a counted failure
                    got, err = None, f"{type(e).__name__}: {e}"
                with lock:
                    records.append((text, t_send, time.time(), got, err))

        def writer():
            for j, ids in enumerate(batches):
                time.sleep(max(0.0, t0 + (j + 0.5) * COMMIT_EVERY_S - time.time()))
                with self.tr.span("maintenance.commit") as sp:
                    try:
                        n, err = delete_by_ids(self.idx, ids), None
                    except Exception as e:  # reported as a failed commit
                        n, err = 0, f"{type(e).__name__}: {e}"
                self.commits.append((sp, frozenset(ids), n, err))

        threads = [threading.Thread(target=reader, args=(s,)) for s in streams]
        threads.append(threading.Thread(target=writer))
        try:
            with self.tr.span("window", label=False) as win:
                for t in threads:
                    t.start()
                for t in threads:
                    t.join()
        finally:
            batcher.close()
        self.win = win
        ok = [r for r in records if r[3] is not None]
        self._latency([t_recv - t_send for _, t_send, t_recv, _, _ in ok], win.dur)
        self.samples = [(round(r[1] - t0, 3), round(r[2] - r[1], 4)) for r in ok]
        self.info["commits_at_s"] = [(round(sp.start - t0, 2), round(sp.dur, 2))
                                     for sp, *_ in self.commits]

        cum = [frozenset()]  # deleted set after the first j commits
        for sp, ids, n, err in self.commits:
            cum.append(cum[-1] | ids)
            self.check(f"commit {sorted(ids)}", err or (None if n == len(ids) else f"{n} new"))
        stale = 0
        for text, t_send, t_recv, got, err in records:
            if got is None:
                self.check(f"serve {text!r}", err)
                continue
            lo = sum(sp.end <= t_send for sp, *_ in self.commits)
            hi = sum(sp.start <= t_recv for sp, *_ in self.commits)
            stale += any(d in cum[lo] for d, _ in got)
            problems = [rank_mismatch(got, self.rank.expected(text, 10, "OR", cum[m]))
                        for m in range(lo, hi + 1)]
            self.check(f"serve {text!r} after commit {lo}",
                       None if None in problems else problems[0])
        self.info["stale_reads"] = stale
        self.info["commit_p50_s"] = median([sp.dur for sp, *_ in self.commits])

    # -- traced run: layer probes after the window ---------------------------------
    def probes(self) -> None:
        """Per-layer probes, run after the window in a traced run only; each
        engine call is timed once per session. Both workloads probe the
        index layers (serve with its window's deletes pending) and the
        corpus-scan operators; search also commits deletes and rebuilds
        the fixture's index under a label, serve adds documents."""
        from solr_spark.query.engine import analyze_query
        from solr_spark.sources.corpus import synthesize_corpus

        rnd = random.Random(f"probe-{self.seed}")
        texts = [self.vocab.mixed_text(rnd) for _ in range(400)]
        with self.tr.span("analysis.query", label=False) as sp:
            for t in texts:
                analyze_query(t, self.idx)
        self.layers["analysis.query_ms"] = sp.dur * 1e3 / len(texts)
        with self.tr.span("sources.synth"):
            synthesize_corpus(
                self.spark, fixture.N_DOCS, seed=self.seed, tail_card=fixture.TAIL_CARD,
                partitions=nproc(),
            ).count()
        self._probe_index(rnd, texts[:64])
        self._probe_operators()
        if self.workload == "search":
            self._probe_commits(rnd)
            self._probe_build()
        else:
            self._probe_add()

    def _probe_index(self, rnd, batch_texts) -> None:
        from solr_spark.index.blocks import decode_block
        from solr_spark.index.builder import Index
        from solr_spark.query.engine import bm25_topk_batch

        tr, L = self.tr, self.layers
        deleted = frozenset().union(*(ids for _, ids, *_ in self.commits))
        h = Index.load(self.spark, self.index_root)
        with tr.span("index.dict_seek.cold"):
            h.term_stats_for(rnd.sample(self.vocab.mid, 3))
        with tr.span("index.dict_seek.warm"):
            h.term_stats_for(rnd.sample(self.vocab.tail, 3))
        h.invalidate_caches()

        with tr.span("bench.sample_blocks", label=False):
            blocks = self.idx.blocks().limit(4000).collect()
        n_post, reps = sum(int(r["n_docs"]) for r in blocks), 0
        with tr.span("index.blocks.decode", label=False) as sp:
            while reps < 3 or time.time() - sp.start < 0.2:
                for r in blocks:
                    decode_block(r)
                reps += 1
        L["index.blocks.decode_mpostings_per_s"] = n_post * reps / (time.time() - sp.start) / 1e6

        batch = {f"q{i}": t for i, t in enumerate(batch_texts)}
        with tr.span("query.batch") as sp:
            out = bm25_topk_batch(self.idx, batch, k=10).collect()
        L["query.batch_ms_per_query"] = sp.dur * 1e3 / len(batch)
        for qid, text in batch.items():
            rows = sorted((r for r in out if r["qid"] == qid), key=lambda r: r["rank"])
            self.check(f"batch {text!r}", rank_mismatch(
                [(int(r["docid"]), float(r["score"])) for r in rows],
                self.rank.expected(text, 10, "OR", deleted)))

        decoded, fallback, paths = [], [], []
        for _ in range(3):
            q = self.vocab.query(rnd, "wand")
            dbg: dict = {}
            _, got = self.run_query(q, "bench.wand_debug", debug=dbg)
            self.check_query(q, got, deleted)
            # only the pruning paths record "driver"/"distributed"; every
            # return to the flat path (pending deletes, nothing prunable)
            # leaves another value or none
            paths.append(dbg.get("path"))
            fallback.append(paths[-1] not in ("driver", "distributed"))
            if dbg.get("blocks_total"):
                decoded.append(dbg["blocks_decoded"] / dbg["blocks_total"])
        if not deleted:
            # no deletes pending: the selective term seeds a threshold, so
            # the WAND layer is measured only if some probe prunes
            self.check("wand probes reach a pruning path",
                       None if not all(fallback) else f"paths {paths}")
        L["query.wand.blocks_decoded_frac"] = median(decoded)
        L["query.wand.flat_fallback_frac"] = sum(fallback) / len(fallback)

    def _probe_commits(self, rnd) -> None:
        from solr_spark.index.maintenance import delete_by_ids

        ids = [d for d, _ in rnd.sample(self.docs, 2 * COMMIT_BATCH)]
        for i in range(2):
            batch = ids[i * COMMIT_BATCH:(i + 1) * COMMIT_BATCH]
            with self.tr.span("maintenance.commit") as sp:
                n = delete_by_ids(self.idx, batch)
            self.commits.append((sp, frozenset(batch), n, None))
            self.check(f"commit {batch}", None if n == len(batch) else f"{n} newly deleted")

    def _probe_build(self) -> None:
        """The fixture's build once more, in this warm session, so its jobs
        carry a label and their task metrics reach the layer numbers."""
        from solr_spark.index.builder import build_index
        from solr_spark.sources.corpus import synthesize_corpus

        corpus = synthesize_corpus(
            self.spark, fixture.N_DOCS, seed=fixture.CORPUS_SEED,
            tail_card=fixture.TAIL_CARD, partitions=nproc(),
        )
        with self.tr.span("index.build"):
            build_index(
                self.spark, corpus, self.dirs.path("index-rebuilt"),
                num_buckets=fixture.NUM_BUCKETS, build_positions=True,
            )

    def _probe_add(self) -> None:
        from pyspark.sql import functions as F

        from solr_spark.index.builder import Index
        from solr_spark.index.maintenance import add_documents
        from solr_spark.query.engine import bm25_topk
        from solr_spark.sources.corpus import synthesize_corpus

        n_delta = int(fixture.N_DOCS * DELTA_SHARE)
        delta = synthesize_corpus(
            self.spark, n_delta, seed=self.seed + 7919, tail_card=fixture.TAIL_CARD
        ).withColumn("path", F.concat(F.lit("delta/"), F.col("path")))
        # merging needs an index without pending deletes: use a fresh copy
        shutil.copytree(self.fx.index, self.dirs.path("index-pristine"))
        base = Index.load(self.spark, self.dirs.path("index-pristine"))
        with self.tr.span("index.add"):
            merged = add_documents(base, delta, self.dirs.path("index-added"))
        with self.tr.span("bench.check_add", label=False):
            n = merged.build_report()["n_docs"]
            self.check("add n_docs", None if n == fixture.N_DOCS + n_delta else f"{n}")
            added = [
                (r.docid, r.content)
                for r in merged.docs().select("docid", *fixture.KEYS).join(delta, fixture.KEYS)
                .select("docid", "content").collect()
            ]
            oracle = RankOracle(self.docs + added)
            rnd = random.Random(f"add-{self.seed}")
            for text in [self.vocab.mixed_text(rnd) for _ in range(3)]:
                got = [(int(r["docid"]), float(r["score"]))
                       for r in bm25_topk(merged, text, k=10).collect()]
                self.check(f"after add {text!r}", rank_mismatch(got, oracle.expected(text, 10)))
        merged.invalidate_caches()
        base.invalidate_caches()

    def _probe_operators(self) -> None:
        """Each corpus-scan operator once into a noop sink (a repeat in the
        same session would reuse what an earlier call left persisted),
        recording how many persisted RDDs the pass leaves behind."""
        from solr_spark.analysis.analyzer import tokens_col
        from solr_spark.operators.dedup import dup_span_stats, lsh_candidate_pairs
        from solr_spark.operators.facets import terms_facet
        from solr_spark.operators.phrase import phrase_match
        from solr_spark.query.inline import doc_tokens

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        sc = self.spark.sparkContext
        rnd = random.Random(f"ops-{self.seed}")
        docs = self.spark.createDataFrame(self.docs, "docid long, content string").join(
            self.idx.docs().select("docid", "lang"), "docid")
        exact = " ".join(self.vocab.phrase(rnd, 0))
        sloppy = " ".join(self.vocab.phrase(rnd, 2))
        with self.tr.span("analysis.tokenize"):
            noop(docs.select(tokens_col("content").alias("toks")))
        ops = {
            "phrase_inline": lambda: noop(phrase_match(docs, exact)),
            "phrase_sloppy": lambda: noop(phrase_match(docs, sloppy, slop=2, ordered=False)),
            "dup_spans": lambda: noop(dup_span_stats(doc_tokens(docs), n=8)),
            "lsh": lambda: noop(lsh_candidate_pairs(doc_tokens(docs), ordered=False)),
            "facet": lambda: noop(terms_facet(docs, "lang", limit=10)),
        }
        before = sc._jsc.getPersistentRDDs().size()
        for name, fn in ops.items():
            with self.tr.span(f"operators.{name}"):
                fn()
        self.layers["operators.persisted_rdds_left"] = sc._jsc.getPersistentRDDs().size() - before
        with self.tr.span("bench.check_facet", label=False):
            got = [(r["value"], r["cnt"]) for r in terms_facet(docs, "lang", limit=10).collect()]
            ref = docs.groupBy("lang").count().collect()
        want = sorted(((r["lang"], r["count"]) for r in ref), key=lambda x: (-x[1], x[0]))[:10]
        self.check("terms_facet lang", None if got == want else f"{got} != {want}")

    # -- traced run: per-layer numbers from spans and the event log -------------
    def layer_metrics(self, untraced: dict | None, names: list[str]) -> dict:
        """Every per-layer metric in `names`; a layer this workload does not
        exercise did no work and reports 0."""
        tr, L, meta = self.tr, self.layers, self.fx.meta
        jobs = JobTable(self.dirs.eventlog)

        def spans(name):
            return [s for s in tr.spans if s.name == name]

        def wall(name):
            return sum(s.dur for s in spans(name))

        def sums(name):
            return JobTable.sums(jobs.for_spans(spans(name)))

        L["session.start_s"] = wall("session.start")
        L["sources.synth_s"] = wall("sources.synth")
        L["index.open_s"] = wall("index.open")
        L["analysis.tokenize_s"] = wall("analysis.tokenize")
        b = sums("index.build")
        for k in ("run_s", "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
                  "fetch_wait_s", "spill_mb", "tasks"):
            L[f"index.build.{k}"] = b[k]
        if spans("index.build"):
            L["index.build_docs_per_s"] = fixture.N_DOCS / wall("index.build")
        for k, v in meta["bytes"].items():
            L[f"index.bytes.{k}"] = v
        L["index.bytes_per_source_byte"] = sum(meta["bytes"].values()) / meta["source_bytes"]
        a = sums("index.add")
        L["index.add_s"] = wall("index.add")
        L["index.add.run_s"] = a["run_s"]
        L["index.add.shuffle_write_mb"] = a["shuffle_write_mb"]
        L["index.dict_seek_cold_ms"] = wall("index.dict_seek.cold") * 1e3
        L["index.dict_seek_warm_ms"] = wall("index.dict_seek.warm") * 1e3

        allq = []
        for route in ("flat", "wand", "phrase"):
            qs = spans(f"query.{route}")
            sids = {q.sid for q in qs}
            L[f"query.{route}.plan_ms"] = median(
                [c.dur for c in tr.spans if c.name == "plan" and c.parent in sids]) * 1e3
            L[f"query.{route}.exec_ms"] = median(
                [c.dur for c in tr.spans if c.name == "exec" and c.parent in sids]) * 1e3
            allq += qs
        qj = jobs.for_spans(allq)
        L["query.jobs_per_query"] = len(qj) / max(1, len(allq))
        L["query.tasks_per_query"] = sum(j["tasks"] for j in qj) / max(1, len(allq))
        L["query.positions.phrase_ms"] = median([q.dur for q in spans("query.phrase")]) * 1e3

        c = [sp for sp, *_ in self.commits]
        commit_jobs = jobs.for_spans(c)
        if self.workload == "serve":
            served = [j for j in jobs.submitted_in(self.win.start, self.win.end)
                      if j not in commit_jobs]
            L["query.serving.jobs_per_query"] = len(served) / self.info["queries"]
        cs = JobTable.sums(commit_jobs)
        L["maintenance.commit_p50_s"] = median([s.dur for s in c])
        L["maintenance.commit.run_s"] = cs["run_s"] / max(1, len(c))
        L["maintenance.commit.jobs"] = cs["jobs"] / max(1, len(c))
        for name in OPERATORS:
            s = sums(f"operators.{name}")
            L[f"operators.{name}_s"] = wall(f"operators.{name}")
            L[f"operators.{name}.run_s"] = s["run_s"]
            L[f"operators.{name}.shuffle_write_mb"] = s["shuffle_write_mb"]
        L["operators.scan_s"] = sum(wall(f"operators.{n}") for n in OPERATORS)
        for k in ("setup_s", "query_p50_s", "qps"):
            ref = (untraced or {}).get(k)
            L[f"trace.overhead.{k}"] = self.e2e[k] - ref if ref is not None else 0.0
        return {n: float(L.get(n, 0.0)) for n in names}
