"""The two workloads: one pipeline, two regimes.

Each run starts Spark, builds an index (the set-up), then measures:

1. a Spark ``search_batch`` over a set of plain queries;
2. a closed loop with one client serving the request stream, after a
   warm-up pass that loads the term buckets the serving cache can hold;
3. an ingest cycle: append a batch (10% unchanged re-sends),
   ``refresh()`` and serve more requests on the two-generation index;
   ``compact`` workloads then compact under the ``"auto"`` policy,
   refresh and serve again.

Every operation's output is kept in a log while the run measures; the
oracle is built and the log is checked only after the measurement, so
the oracle's memory and time are not in the driver's figures.

``serve_hot`` sends search-box traffic through the use case to an index
whose term buckets all fit the serving cache; ``serve_wide`` sends
uniform vocabulary traffic with filters, ranges, msm, exclusions and
cursors to ``search_local`` on an index with more buckets than the cache
holds.  Every operation is checked against the oracle.
"""

from __future__ import annotations

import math
import os
import resource
import shutil
import subprocess
import time
from collections import Counter
from dataclasses import dataclass
from statistics import median

from perfbench import traffic
from perfbench.check import (
    UseCaseModel,
    compare_hits,
    compare_response,
    digest,
    tie_order_only,
)
from perfbench.oracle import Oracle
from perfbench.stats import percentile
from perfbench.trace import Recorder

SPARK_GROUPS = ("build", "batch", "append", "compact")
HOT_SHAPES = ("hot_plain", "hot_language")
WIDE_SHAPES = tuple(s for s, _ in traffic.WIDE_SHAPES)
OP_SHAPES = ("build", "batch", "append", "compact") + HOT_SHAPES + WIDE_SHAPES

# Sizes: 48 cold-JVM runs must fit in 3,420 s, which sets the corpus at
# 2,000 documents (README "Scope and sizes").
N_DOCS = 2000
SLABS = 2
K = 10
BATCH_QUERIES = 96
BATCH_REPEATS = 3
MIN_SERVED = 1000  # steady-loop requests, so at least ten lie beyond p99
SERVED_PER_SECOND = 100  # --seconds scales the steady loop
POST_REFRESH = 50  # requests served after each refresh


@dataclass(frozen=True)
class Spec:
    term_buckets: int
    api: str  # "usecase" or "local"
    compact: bool  # compact after the append
    # untraced runs serve the steady stream this many times, each from
    # the state after the warm-up, and report the median pass: serve_hot's
    # ~4 s loop is short enough for a burst of load on a shared host to
    # move its p99 by half
    passes: int


WORKLOADS = {
    "serve_hot": Spec(term_buckets=16, api="usecase", compact=False, passes=3),
    "serve_wide": Spec(term_buckets=32, api="local", compact=True, passes=1),
}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def read_chars() -> int:
    """Bytes this process has read through read() calls so far."""
    with open("/proc/self/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    raise RuntimeError("/proc/self/io has no rchar line")


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def host_cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine since boot: the
    share stolen by the hypervisor tells a slow host from a slow run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def _day(iso: str | None) -> int | None:
    import datetime

    from search_engine_spark.ops.ranking import PUBLISH_EPOCH

    if iso is None:
        return None
    epoch = datetime.date.fromisoformat(PUBLISH_EPOCH)
    return (datetime.date.fromisoformat(iso) - epoch).days


def hot_shape(req: dict) -> str:
    return "hot_language" if req.get("language") else "hot_plain"


class Ledger:
    """Operations attempted and failed, failures by request shape."""

    def __init__(self):
        self.attempted = 0
        self.failed = Counter()  # shape -> failures
        self.known = Counter()  # defect -> failures
        self.unknown: list[str] = []

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, shape: str, reason: str, defect: str | None = None) -> None:
        self.attempted += 1
        self.failed[shape] += 1
        if defect is not None:
            self.known[defect] += 1
        else:
            self.unknown.append(f"{shape}: {reason}")

    @property
    def n_failed(self) -> int:
        return sum(self.failed.values())


class Run:
    def __init__(self, name: str, seed: int, seconds: int, traced: bool,
                 work_dir: str, t_process: float):
        self.name, self.spec = name, WORKLOADS[name]
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.work_dir, self.t_process = work_dir, t_process
        self.index_dir = os.path.join(work_dir, "index")
        self.rec = Recorder()
        self.ledger = Ledger()
        # (operation, *outputs) in the order they happened, checked
        # against the oracle after the measurement
        self.log: list[tuple] = []
        self.latencies: list[float] = []  # seconds, every served request
        self.first_after_refresh: list[float] = []
        self.post_lat: list[float] = []  # seconds, requests after a refresh
        self.served = 0
        self.build_metrics: dict = {}

    # -- lifecycle -------------------------------------------------------
    def start_spark(self):
        from search_engine_spark.session import get_spark

        local = os.path.join(self.work_dir, "spark-local")
        os.makedirs(local, exist_ok=True)
        nproc = len(os.sched_getaffinity(0))
        self.spark = get_spark(
            app_name="perfbench",
            parallelism=nproc,
            driver_memory="2g",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.path.join(self.work_dir, 'tmp')} "
                    "-XX:-UsePerfData"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext

    def stop_spark(self) -> None:
        """Stop Spark and wait for its JVM, which exits when its stdin
        closes; the JVM's python workers end with it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, f"perfbench {name}")

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        from search_engine_spark import corpus
        from search_engine_spark.config import EngineConfig
        from search_engine_spark.engine import SearchEngine

        spec = self.spec
        if self.traced:
            import search_engine_spark.engine as engine_mod

            build_index = engine_mod.build_index

            def capture(*a, **kw):
                self.build_metrics = build_index(*a, **kw)
                return self.build_metrics

            # keep the phase stamps build_index returns, inside a span
            self.rec.patch(engine_mod, "build_index", capture)
            self.rec.wrap(engine_mod, "build_index", "indexer.build_index")
        self.start_spark()
        cfg = EngineConfig(slab_size=N_DOCS // SLABS, term_buckets=spec.term_buckets)
        docs_df = corpus.corpus_df(self.spark, N_DOCS, seed=self.seed)
        self.group("build")
        t = time.perf_counter()
        self.engine = SearchEngine.build(self.spark, docs_df, self.index_dir, cfg)
        self.build_s = time.perf_counter() - t
        self.setup_s = time.perf_counter() - self.t_process

    def prepare_inputs(self) -> None:
        spec = self.spec
        meta = self.engine.meta
        self.log.append(("build", int(meta["n_docs"]), float(meta["avgdl"])))
        if spec.api == "usecase":
            from search_engine_spark.usecase import SearchDocumentsUseCase

            self.uc = SearchDocumentsUseCase(self.engine)
        # the steady loop, then POST_REFRESH requests after each refresh
        refreshes = 2 if spec.compact else 1
        n_steady = max(MIN_SERVED, SERVED_PER_SECOND * self.seconds)
        if spec.api == "usecase":
            stream = traffic.hot_requests(self.seed, n_steady + POST_REFRESH * refreshes)
            self.steady, self.post = stream[:n_steady], stream[n_steady:]
        else:
            repos, cuts = traffic.filter_values(N_DOCS, self.seed)

            # an "after" request is served as two, the page its cursor
            # comes from and the cursor request; one spare request covers
            # the rounding of the stratified mix
            def n_requests(n_served):
                return math.ceil(n_served / (1.0 + dict(traffic.WIDE_SHAPES)["after"])) + 1

            self.steady = traffic.wide_requests(
                self.seed, n_requests(n_steady), N_DOCS, repos, cuts
            )
            post = traffic.wide_requests(
                self.seed, n_requests(POST_REFRESH), N_DOCS, repos, cuts, stream="wide-post"
            )
            # the same requests after the append and after the compaction
            self.post = post * refreshes
        self.post_requests = len(self.post) // refreshes
        queries = traffic.batch_queries(self.seed, BATCH_QUERIES)
        self.batch = {f"q{i:03d}": q for i, q in enumerate(queries)}

    # -- measured phases -------------------------------------------------
    def run_batch(self) -> None:
        """The same Spark batch ``BATCH_REPEATS`` times; every result is
        logged and the median wall time is reported."""
        self.group("batch")
        times = []
        for _ in range(BATCH_REPEATS):
            t = time.perf_counter()
            rows = self.engine.search_batch(self.batch, K).collect()
            times.append(time.perf_counter() - t)
            got: dict[str, list] = {qid: [] for qid in self.batch}
            for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
                got[r["qid"]].append((r["docid"], r["score"]))
            self.log.append(("batch", got))
        self.batch_s = median(times)

    def warm(self) -> None:
        """Untimed: query the whole vocabulary, so the serving cache holds
        as many term buckets as it can before the steady loop starts."""
        from search_engine_spark.corpus import VOCAB

        for i in range(0, len(VOCAB), 50):
            self.engine.search_local(" ".join(VOCAB[i:i + 50]), K)

    def serve(self, reqs: list[dict]) -> list[tuple[str, float]]:
        """Closed loop, one client: send, wait for the reply, log it,
        send the next.  Returns (shape, seconds) per served request."""
        timed: list[tuple[str, float]] = []
        last_hits: list = []
        for req in reqs:
            if self.spec.api == "usecase":
                self.rec.request = self.served
                self.served += 1
                t = time.perf_counter()
                try:
                    resp = self.uc.execute_local(req)
                except Exception as e:  # a failed request is a checked outcome
                    resp = e
                timed.append((hot_shape(req), time.perf_counter() - t))
                if not isinstance(resp, Exception):
                    resp = digest(resp)
                self.log.append(("usecase", req, resp))
            else:
                if req["shape"] == "after":
                    # a client pages with the cursor its previous page
                    # ended on: fetch that page first, as its own request
                    last_hits = self._local({"shape": "plain", "query": req["query"]}, None, timed)
                cursor = None
                if req["shape"] == "after" and last_hits:
                    cursor = (float(last_hits[-1][1]), int(last_hits[-1][0]))
                last_hits = self._local(req, cursor, timed)
        self.rec.request = None
        self.latencies.extend(s for _, s in timed)
        return timed

    def _local(self, req: dict, cursor, timed: list):
        kw = {k: req[k] for k in ("exclude", "filter", "date_from", "date_to",
                                  "min_quality", "min_should_match") if k in req}
        self.rec.request = self.served
        self.served += 1
        t = time.perf_counter()
        try:
            hits = self.engine.search_local(req["query"], K, after=cursor, **kw)
        except Exception as e:  # a failed request is a checked outcome
            hits = e
        timed.append((req["shape"], time.perf_counter() - t))
        self.log.append(("local", req, cursor, hits))
        return hits if isinstance(hits, list) else []

    def refresh(self) -> None:
        t = time.perf_counter()
        self.engine.refresh()
        self.refresh_s.append(time.perf_counter() - t)
        self.generations = max(
            self.generations, int(self.engine.meta.get("max_gen", 0)) + 1
        )

    def serve_after_refresh(self, reqs: list[dict]) -> None:
        lat = [s for _, s in self.serve(reqs)]
        self.first_after_refresh.append(lat[0])
        self.post_lat.extend(lat)

    def ingest(self) -> None:
        """Append one batch, refresh and serve; on ``compact`` workloads
        then compact, refresh and serve again."""
        from search_engine_spark.corpus import DOCUMENT_SCHEMA
        from search_engine_spark.indexer.build import (
            append_documents,
            compact_index,
            resolve_compact_mode,
        )

        self.refresh_s: list[float] = []
        self.compact_s = 0.0
        self.generations = 1
        post = iter(self.post)
        docs = traffic.append_batch(self.seed, N_DOCS)
        df = self.spark.createDataFrame(
            [tuple(d[f] for f in ("repo", "path", "commit", "lang", "content")) for d in docs],
            DOCUMENT_SCHEMA,
        )
        before = dir_bytes(self.index_dir)
        self.group("append")
        t = time.perf_counter()
        with self.rec.span("indexer.append"):
            m = append_documents(self.spark, self.index_dir, df)
        self.append_s = time.perf_counter() - t
        self.refresh()
        write_s = time.perf_counter() - t
        self.batch_bytes = dir_bytes(self.index_dir) - before
        self.append_kept = int(m.get("n_new", 0)) / len(docs)
        self.log.append(("append", docs, int(m.get("n_new", -1)), int(self.engine.meta["n_docs"])))
        self.serve_after_refresh([next(post) for _ in range(self.post_requests)])
        if self.spec.compact:
            mode = resolve_compact_mode("auto", self.engine.meta)
            self.group("compact")
            t = time.perf_counter()
            with self.rec.span("indexer.compact"):
                compact_index(self.spark, self.index_dir, mode=mode)
            self.compact_s = time.perf_counter() - t
            self.refresh()
            write_s += time.perf_counter() - t
            self.log.append(("compact", int(self.engine.meta["n_docs"])))
            self.serve_after_refresh([next(post) for _ in range(self.post_requests)])
        self.append_docs_per_s = len(docs) / write_s

    # -- tracing ---------------------------------------------------------
    def wrap_layers(self) -> None:
        import search_engine_spark.engine as engine_mod
        import search_engine_spark.query.wand as wand
        import search_engine_spark.usecase as usecase_mod
        from search_engine_spark.indexer.codec import TermChunk

        rec, eng = self.rec, self.engine
        for attr in ("search_local", "count_matches_local", "did_you_mean_local", "refresh"):
            rec.wrap(eng, attr, f"engine.{attr}")
        if self.spec.api == "usecase":
            rec.wrap(self.uc, "execute_local", "usecase.execute_local")
        rec.wrap(engine_mod, "tokenize_query", "tokenizer.tokenize_query")
        rec.wrap(usecase_mod, "tokenize_query", "tokenizer.tokenize_query")
        rec.wrap(wand, "slab_topk", "query.wand.kernel")
        rec.wrap(wand, "fused_dense_topk", "query.wand.kernel")
        # _decode_full is where the serving cache primes a term's
        # chunks; the public methods reach it too (counted once)
        for attr in ("decode_blocks", "decode_all", "factor_all", "_decode_full"):
            rec.wrap(TermChunk, attr, "indexer.codec.decode")

    def reset_serving_state(self) -> None:
        """Drop every serving cache, as after set-up, so a second pass
        over the same stream starts from the same state."""
        self.engine.refresh()
        if self.spec.api == "usecase":
            self.uc.cache.invalidate()
        self.log.append(("reset",))

    def spark_group_metrics(self) -> dict:
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = {}
        for g in SPARK_GROUPS:
            stages = set()
            for jid in st.getJobIdsForGroup(g):
                info = st.getJobInfo(jid)
                if info is not None:
                    stages.update(int(s) for s in info.stageIds)
            tasks = failed = run_ms = shuffle = 0
            for sid in stages:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # stage never submitted
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                tasks += sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks()
                failed += sd.numFailedTasks()
                run_ms += sd.executorRunTime()
                shuffle += sd.shuffleWriteBytes()
            out[f"spark.{g}.tasks"] = (tasks, "count")
            out[f"spark.{g}.failed_tasks"] = (failed, "count")
            out[f"spark.{g}.executor_run_s"] = (run_ms / 1000.0, "s")
            out[f"spark.{g}.shuffle_write_bytes"] = (shuffle, "B")
        return out

    # -- checks against the oracle ------------------------------------------
    def check(self) -> None:
        """Build the oracle and check every logged operation in order;
        the outcome goes to the ledger."""
        base = traffic.base_docs(N_DOCS, self.seed)
        self.input_bytes = traffic.input_bytes(base)
        self.oracle = Oracle(base)
        if self.spec.api == "usecase":
            self.model = UseCaseModel(self.oracle, self.uc.cache.max_entries)
        # every batch repeat ran on the index as built; every match is
        # kept for the tie-order attribution
        self.batch_want = {qid: self.oracle.ranked(q) for qid, q in self.batch.items()}
        for op, *outputs in self.log:
            getattr(self, f"check_{op}")(*outputs)

    def check_build(self, n_docs: int, avgdl: float) -> None:
        if n_docs != self.oracle.n_docs:
            self.ledger.fail("build", f"n_docs {n_docs} != {self.oracle.n_docs}")
        elif not math.isclose(avgdl, self.oracle.avgdl, rel_tol=1e-12):
            self.ledger.fail("build", f"avgdl {avgdl} != {self.oracle.avgdl}")
        else:
            self.ledger.ok()

    def check_batch(self, got: dict) -> None:
        for qid, q in self.batch.items():
            matches = self.batch_want[qid]
            reason = compare_hits(got[qid], matches[:K])
            if not reason:
                self.ledger.ok()
            elif reason == "docids" and tie_order_only(got[qid], matches[:K], dict(matches)):
                self.ledger.fail("batch", reason, "batch_tie_order")
            else:
                self.ledger.fail("batch", f"{q!r}: {reason}")

    def check_local(self, req: dict, cursor, hits) -> None:
        shape = req["shape"]
        if isinstance(hits, Exception):
            self.ledger.fail(shape, f"{type(hits).__name__}: {hits}")
            return
        want = self.oracle.ranked(
            req["query"],
            filters=req.get("filter"),
            day_from=_day(req.get("date_from")),
            day_to=_day(req.get("date_to")),
            min_quality=req.get("min_quality"),
            msm=req.get("min_should_match", 0),
            exclude=req.get("exclude"),
            after=None if cursor is None else cursor[1],
            limit=K,
        )
        reason = compare_hits(hits, want)
        if reason:
            self.ledger.fail(shape, f"{req}: {reason}")
        else:
            self.ledger.ok()

    def check_usecase(self, req: dict, resp) -> None:
        shape = hot_shape(req)
        correct, model, defect = self.model.expected(req)
        if isinstance(resp, Exception):
            self.ledger.fail(shape, f"{type(resp).__name__}: {resp}")
            return
        reason = compare_response(resp, digest(correct))
        if reason is None:
            self.ledger.ok()
        elif defect is not None and compare_response(resp, digest(model)) is None:
            self.ledger.fail(shape, reason, defect)
        else:
            self.ledger.fail(shape, f"{req}: {reason}")

    def check_append(self, docs: list[dict], n_new: int, n_docs: int) -> None:
        """An append followed by a refresh."""
        self.input_bytes += traffic.input_bytes(docs)
        want_new = self.oracle.append(docs)
        if n_new != want_new or n_docs != self.oracle.n_docs:
            self.ledger.fail("append", f"n_new {n_new} != {want_new} or n_docs {n_docs}")
        else:
            self.ledger.ok()
        self._refreshed()

    def check_compact(self, n_docs: int) -> None:
        """A compaction followed by a refresh."""
        if n_docs != self.oracle.n_docs:
            self.ledger.fail("compact", f"n_docs {n_docs} != {self.oracle.n_docs}")
        else:
            self.ledger.ok()
        self._refreshed()

    def check_reset(self) -> None:
        """The serving caches were dropped; the index is unchanged."""
        if self.spec.api == "usecase":
            self.model.invalidate()

    def _refreshed(self) -> None:
        if self.spec.api == "usecase":
            self.model.refresh()

    # -- the whole run ---------------------------------------------------
    def execute(self) -> dict:
        self.setup()
        self.rss_setup_mb = peak_rss_mb()
        t = time.perf_counter()
        self.prepare_inputs()
        self.phases = {"setup": self.setup_s, "inputs": time.perf_counter() - t}
        t = time.perf_counter()
        self.run_batch()
        self.phases["batch"] = time.perf_counter() - t
        t = time.perf_counter()
        self.warm()
        if self.traced:
            self.wrap_layers()
        io0 = read_chars()
        steady = self.serve(self.steady)
        steady_reads = read_chars() - io0
        steady_served = self.served
        passes = [steady]
        untraced = None
        if not self.traced:
            for _ in range(self.spec.passes - 1):
                # the next pass starts from the state after the warm-up:
                # every term bucket is still loaded and decoded (they
                # fit the serving caches), only the use case's result
                # cache holds the last pass
                self.uc.cache.invalidate()
                self.log.append(("reset",))
                passes.append(self.serve(self.steady))
        if self.traced:
            # the same stream again from the same cache state, with the
            # wrappers off: the difference is the tracing overhead
            self.rec.unwrap()
            self.reset_serving_state()
            self.warm()
            cache = getattr(getattr(self, "uc", None), "cache", None)
            counts = (cache.hits, cache.misses) if cache is not None else None
            untraced = self.serve(self.steady)
            if cache is not None:
                cache.hits, cache.misses = counts
            self.latencies = self.latencies[:-len(untraced)]
            self.served -= len(untraced)
            # the caches now hold what the traced pass left in them
            self.wrap_layers()
        self.steady_passes = [[s for _, s in p] for p in passes]
        self.phases["serve"] = time.perf_counter() - t
        t = time.perf_counter()
        self.ingest()
        self.phases["ingest"] = time.perf_counter() - t
        self.index_bytes = dir_bytes(self.index_dir)
        # the measurement ends here: the oracle does not exist yet
        self.rss_measured_mb = peak_rss_mb()
        spark = self.spark_group_metrics() if self.traced else {}
        t = time.perf_counter()
        self.check()
        self.phases["check"] = time.perf_counter() - t
        if not self.traced:
            return self.end_to_end()
        return self.per_layer(steady, untraced, spark, steady_reads, steady_served)

    def end_to_end(self) -> dict:
        passes = [[x * 1000.0 for x in p] for p in self.steady_passes]
        return {
            "setup_s": (self.setup_s, "s"),
            "build_docs_per_s": (N_DOCS / self.build_s, "1/s"),
            "batch_qps": (len(self.batch) / self.batch_s, "1/s"),
            "query_p50_ms": (median(median(p) for p in passes), "ms"),
            "query_p99_ms": (median(percentile(p, 99.0) for p in passes), "ms"),
            "serve_qps": (median(len(p) * 1000.0 / sum(p) for p in passes), "1/s"),
            "append_docs_per_s": (self.append_docs_per_s, "1/s"),
            "index_bytes_per_input_byte": (self.index_bytes / self.input_bytes, "ratio"),
            "peak_rss_mb": (self.rss_measured_mb, "MB"),
        }

    def per_layer(self, traced: list, untraced: list, spark: dict,
                  steady_reads: int, steady_served: int) -> dict:
        rec = self.rec
        bm = self.build_metrics
        served = len(self.latencies)

        def mean_ms(name):
            d = rec.durations(name)
            return (sum(d) / len(d) * 1000.0) if d else 0.0

        selfs = rec.self_times()
        uc_calls = rec.count("usecase.execute_local")
        cache = getattr(getattr(self, "uc", None), "cache", None)
        lookups = (cache.hits + cache.misses) if cache is not None else 0
        t_ms = [x * 1000.0 for _, x in traced]
        u_ms = [x * 1000.0 for _, x in untraced]
        out = {
            "indexer.docmap.s": (bm["t_docmap"], "s"),
            "indexer.stats.s": (bm["t_stats"] - bm["t_docmap"], "s"),
            "indexer.postings.s": (bm["t_df"] - bm["t_stats"], "s"),
            "indexer.segments.s": (bm["t_segments"] - bm["t_df"], "s"),
            "indexer.docmap.kept_ratio": (bm["n_docs"] / N_DOCS, "ratio"),
            "indexer.append.kept_ratio": (self.append_kept, "ratio"),
        }
        for t in ("docmap", "segments", "df", "term_slabs"):
            out[f"catalog.bytes.{t}"] = (dir_bytes(os.path.join(self.index_dir, t)), "B")
        out.update(spark)
        out.update({
            "usecase.execute_local.self_ms": (
                selfs.get("usecase.execute_local", 0.0) / uc_calls * 1000.0 if uc_calls else 0.0, "ms"),
            "cache.hit_ratio": (cache.hits / lookups if lookups else 0.0, "ratio"),
            "engine.search_local.ms": (mean_ms("engine.search_local"), "ms"),
            "engine.count_matches_local.ms": (mean_ms("engine.count_matches_local"), "ms"),
            "engine.did_you_mean_local.ms": (mean_ms("engine.did_you_mean_local"), "ms"),
            "tokenizer.tokenize_query.ms": (mean_ms("tokenizer.tokenize_query"), "ms"),
            "query.wand.kernel_ms": (rec.total("query.wand.kernel") * 1000.0 / served, "ms"),
            "query.wand.kernel_calls": (rec.count("query.wand.kernel") / served, "count"),
            "indexer.codec.decode_ms": (rec.total("indexer.codec.decode") * 1000.0 / served, "ms"),
            "indexer.codec.decode_calls": (rec.count("indexer.codec.decode") / served, "count"),
            "engine.read_bytes_per_query": (steady_reads / steady_served, "B"),
            "indexer.append.s": (self.append_s, "s"),
            "engine.refresh.s": (median(self.refresh_s), "s"),
            "indexer.compact.s": (self.compact_s, "s"),
            "catalog.bytes_written_per_batch": (self.batch_bytes, "B"),
            "indexer.generations": (self.generations, "count"),
            "engine.post_refresh_ms": (sum(self.post_lat) / len(self.post_lat) * 1000.0, "ms"),
            "engine.first_query_after_refresh_ms": (
                sum(self.first_after_refresh) / len(self.first_after_refresh) * 1000.0, "ms"),
            "trace.overhead.query_p50_ms": (median(t_ms) - median(u_ms), "ms"),
            "trace.overhead.query_p99_ms": (percentile(t_ms, 99.0) - percentile(u_ms, 99.0), "ms"),
            "trace.overhead.serve_qps": (
                len(t_ms) * 1000.0 / sum(t_ms) - len(u_ms) * 1000.0 / sum(u_ms), "1/s"),
            "check.error_rate": (self.ledger.n_failed / self.ledger.attempted, "ratio"),
            "check.known_defect_failures": (sum(self.ledger.known.values()), "count"),
        })
        for shape in OP_SHAPES:
            out[f"check.failed.{shape}"] = (self.ledger.failed.get(shape, 0), "count")
        # untraced latency by request shape, so that a change in the
        # end-to-end figures can be traced to the shapes it moved
        # whatever their shares in the mix (0 for another workload's)
        by_shape: dict[str, list[float]] = {}
        for shape, x in untraced:
            by_shape.setdefault(shape, []).append(x * 1000.0)
        for shape in HOT_SHAPES + WIDE_SHAPES:
            xs = by_shape.get(shape, [])
            out[f"latency.{shape}.p50_ms"] = (median(xs) if xs else 0.0, "ms")
            out[f"latency.{shape}.mean_ms"] = (sum(xs) / len(xs) if xs else 0.0, "ms")
        return out

    def cleanup(self) -> None:
        shutil.rmtree(self.work_dir, ignore_errors=True)

