"""The benchmark workloads and their correctness gate.

Every workload runs in one process: set up (session, inputs), one
untimed warm iteration, timed iterations until ``seconds`` of timed
work have run, then the correctness checks. Checks run outside the
timed sections and every mismatch counts as a failed check.

Metric vocabulary shared by all workloads (so every end-to-end metric
exists on every workload):

- iteration: one crawl, stopped after round 0 and resumed on the same
  dir (two ``crawl()`` calls), or one pass over the query set;
- step: one crawl round, or one query;
- item: one visited URL, or one query.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import resource
import shutil
import statistics
import time

from perfbench import oracles
from perfbench.tracing import LAYER_METRICS, Tracer, per_layer

_NULL = contextlib.nullcontext()
SETUP_REPS = 3          # input builds per run; setup reports their median
N_BUCKETS = 16          # url_bucket partitions of the crawl corpus
# Driver heap, fixed (-Xms = -Xmx) so the JVM's peak RSS does not depend
# on when the collector last ran (a 3g heap grown on demand peaked
# anywhere in 1.5-2.9 GB from run to run).
DRIVER_HEAP = "1g"

# Corpus shape: a Zipf-host corpus with a 50% mega-host and a wide link
# tree, so a few large rounds make the extract UDF and the seen layer do
# most of the work. ``n_pages`` gets a seed-derived offset of 0..127
# pages, so seeds vary the inputs without changing the work much.
CORPUS = dict(n_pages=1500, n_hosts=100, fanout=64, paras=40)

# Crawl config, mirroring bench.py's _bench_cfg where they overlap:
# politeness window active but never binding. Each timed iteration is
# stopped after ``stop_after`` rounds and resumed on the same dir up to
# ``max_rounds``: round 0 holds the 100 host roots, round 1 ~550 pages.
CRAWL = dict(
    round_seconds=1e6, salt_buckets=32, corpus_buckets=N_BUCKETS,
    bloom_update_min_batch=20_000, fetch_pushdown_limit=4096,
)
MAX_ROUNDS, STOP_AFTER = 2, 1
# bench.py's crawl_hotdist settings (traced runs only)
HOTDIST = dict(bloom_mode="distributed", hot_hosts=8, hot_host_min_new=256)

# query_mix: a subset of bench.HEADLINE covering the TPC-H-ish joins,
# windows, the text-dedup and ANN operators, and a query that reads
# crawl output.
QUERIES = (
    "q1_pricing_summary",
    "q5_region_revenue",
    "events_sessionized",
    "docs_minhash_arrow",
    "docs_lsh_buckets",
    "ann_ivf_topk",
    "crawl_line_dedup",
)


def _m(value, unit):
    return {"value": float(value), "unit": unit}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """State of one benchmark invocation: session, dirs, checks."""

    def __init__(self, name, seed, seconds, trace, work, cache):
        self.name = name
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.cache = cache
        # bench.py's sizing: every task thread pairs with a Python worker,
        # so local[nproc] oversubscribes the box. On a 4-vCPU box the
        # run-to-run spread of work_s was 0.31 at local[4] and 0.16-0.25
        # at local[2], at about the same speed.
        self.cores = max(1, (os.cpu_count() or 1) // 2)
        self.tracer = Tracer(work) if trace else None
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.layer: dict = {}
        self.timed_windows: list[tuple[float, float]] = []
        self.iterations = 0
        self.rounds = 0          # crawl rounds over the timed iterations
        self.corpus_dir = None
        self.t0 = time.perf_counter()
        self.phases: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        """Record the wall time since the run started at a phase end."""
        self.phases[phase] = round(time.perf_counter() - self.t0, 3)

    # ---- session lifecycle ----

    def start_session(self, cores: int, event_log: bool = False) -> float:
        from sparkcrawler.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            # bench.py measured AQE off faster at this scale
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.memory": DRIVER_HEAP,
            "spark.driver.extraJavaOptions":
                f"-Dderby.system.home={self.work}/derby -Xms{DRIVER_HEAP}",
        }
        if event_log:
            conf.update(self.tracer.event_log_conf())
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and the JVM it runs in, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)

    def peak_rss_mb(self) -> float:
        """Driver JVM VmHWM plus driver Python ru_maxrss."""
        from pyspark import SparkContext

        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        jvm = 0.0
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            try:
                with open(f"/proc/{proc.pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            jvm = int(line.split()[1]) / 1024.0
            except OSError:
                pass
        return py + jvm

    # ---- checks ----

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    # ---- timing ----

    def timed(self, fn):
        """Run one timed iteration; returns (wall seconds, result)."""
        t0 = time.perf_counter()
        e0 = time.time()
        out = fn()
        wall = time.perf_counter() - t0
        self.timed_windows.append((e0, time.time()))
        return wall, out

    def loop(self, fn):
        """Timed iterations for about ``seconds``: another iteration
        starts while at least half of one more (as long as the last)
        fits in the window; at least one always runs."""
        results, spent = [], 0.0
        while True:
            wall, out = self.timed(fn)
            results.append((wall, out))
            spent += wall
            if spent + wall / 2 >= self.seconds:
                return results


# ------------------------------------------------------------ crawl side --


def _seed_offset(seed: int) -> int:
    return int(hashlib.sha256(str(seed).encode()).hexdigest(), 16) % 128


def corpus_params(seed: int) -> dict:
    return dict(CORPUS, n_pages=CORPUS["n_pages"] + _seed_offset(seed))


def build_corpus(run: Run, params: dict, path: str):
    """Generate the synthetic corpus and write it url_bucket-partitioned
    (bench.py's layout); returns (layout, pages DataFrame)."""
    from pyspark.sql import functions as F

    from sparkcrawler.sources.synth import synth_pages_df

    layout, pages = synth_pages_df(
        run.spark, params["n_pages"], params["n_hosts"], with_sitemaps=False,
        fanout=params["fanout"], extra_paras=params["paras"],
    )
    (
        pages.withColumn("url_bucket", F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)))
        .repartition(N_BUCKETS, "url_bucket")
        .write.mode("overwrite")
        .partitionBy("url_bucket")
        .parquet(path)
    )
    return layout, run.spark.read.parquet(path)


def _crawl_digest(run: Run, out_dir: str) -> dict:
    from sparkcrawler.plans.crawl import read_crawl_log, read_seen

    log = [
        (r["url"], r["depth"], r["crawl_status"], r["status_code"])
        for r in read_crawl_log(run.spark, out_dir)
        .select("url", "depth", "crawl_status", "status_code").collect()
    ]
    seen = [r["url"] for r in read_seen(run.spark, out_dir).select("url").collect()]
    return oracles.crawl_digest(log, seen)


def _crawl_counts(run: Run, out_dir: str, pages) -> dict:
    """Traced runs: per-crawl counts the round stats do not carry."""
    from pyspark.sql import functions as F

    from sparkcrawler.plans.crawl import read_crawl_log

    log = read_crawl_log(run.spark, out_dir)
    row = log.agg(
        F.sum(F.when(F.col("crawl_status") == 2, F.size("links"))).alias("cand"),
        F.sum(F.when(F.col("crawl_status") == -1, 1)).alias("dis"),
    ).collect()[0]
    html = (
        log.where("crawl_status = 2").select("url")
        .join(pages.select("url", "html"), "url")
        .agg(F.sum(F.length("html"))).collect()[0][0]
    )
    return {"candidates": row["cand"] or 0, "disallowed": row["dis"] or 0,
            "html_bytes": html or 0}


def _py_compute_s(run: Run, out_dir: str, pages) -> float:
    """Single-thread driver-side time of the extract UDF's Python body
    over the pages one crawl parses: the compute share of the UDF, with
    no Arrow transfer and no worker start."""
    from sparkcrawler.functions.extract import extract_page_py
    from sparkcrawler.plans.crawl import read_crawl_log

    rows = (
        read_crawl_log(run.spark, out_dir).where("crawl_status = 2")
        .select("url").join(pages.select("url", "html"), "url").collect()
    )
    t0 = time.perf_counter()
    for r in rows:
        extract_page_py(r["url"], r["html"])
    return time.perf_counter() - t0


def _step_best(iterations: list[dict]) -> float:
    """Median over steps of each step's best wall across iterations
    (``iterations``: one {step: wall} dict per iteration)."""
    return _median([min(it[k] for it in iterations) for k in iterations[0]])


def _steady(stats: list[dict], visited: int) -> float:
    """URLs/s over the rounds that each process >=10% of visited."""
    heavy = [s for s in stats if s["processed"] >= 0.1 * max(visited, 1)]
    wall = sum(s["wall"] for s in heavy)
    return sum(s["processed"] for s in heavy) / wall if wall else 0.0


class CrawlJob:
    """The crawl workload's inputs: corpus, robots, seeds, config."""

    def __init__(self, run: Run, params: dict, pages, layout):
        from sparkcrawler.sources.synth import page_url, robots_df

        self.run, self.params, self.pages = run, params, pages
        self.robots = robots_df(run.spark, layout)
        self.seeds = [page_url(h, 0) for h in range(layout.n_hosts)]
        self.expected, self.expected_hot = oracles.crawl_oracle(
            run.cache, params,
            [self.config(MAX_ROUNDS), self.config(MAX_ROUNDS + 1)], self.seeds)
        self.n_out = 0

    def config(self, max_rounds: int, **overrides):
        from sparkcrawler.plans.crawl import CrawlConfig

        return CrawlConfig(max_pages=2 * self.params["n_pages"],
                           max_rounds=max_rounds, **CRAWL, **overrides)

    def crawl(self, caps, fs=None, **overrides):
        """Crawl into a fresh dir, one ``crawl()`` call per entry of
        ``caps`` (max_rounds; more than one = stop, then resume)."""
        from sparkcrawler.plans.crawl import crawl

        tracer = fs.tracer if fs is not None else None
        out = os.path.join(self.run.work, "crawl", str(self.n_out))
        self.n_out += 1
        calls = []
        for cap in caps:
            t0 = time.perf_counter()
            with tracer.maybe_span("crawl") if tracer else _NULL:
                res = crawl(
                    self.run.spark, self.pages, self.robots, self.seeds, out,
                    run_id="bench", config=self.config(cap, **overrides), fs=fs,
                )
            calls.append({
                "wall": time.perf_counter() - t0,
                "visited": res.visited, "round_stats": res.round_stats,
            })
        return out, calls

    def verify(self, out: str, tag: str, expected=None) -> dict:
        got = _crawl_digest(self.run, out)
        self.run.check(got == (expected or self.expected),
                       f"{tag}: crawl differs from oracle.simulate")
        return got

    def uninterrupted(self) -> dict:
        """Digest of an uninterrupted crawl of the full config, which
        every stopped-and-resumed crawl must equal. Cached per corpus and
        engine sources; a miss runs (and oracle-checks) the crawl."""
        def build():
            out, _ = self.crawl([MAX_ROUNDS])
            got = self.verify(out, "uninterrupted")
            shutil.rmtree(out, ignore_errors=True)
            return got

        return oracles.engine_digest(
            self.run.cache, [self.params, self.seeds, repr(self.config(MAX_ROUNDS))],
            build)


def run_crawl(run: Run) -> dict:
    params = corpus_params(run.seed)
    tracer = run.tracer
    session_s = run.start_session(run.cores, event_log=tracer is not None)

    corpus_s = []
    for i in range(SETUP_REPS):
        run.corpus_dir = os.path.join(run.work, f"corpus{i}")
        t0 = time.perf_counter()
        layout, pages = build_corpus(run, params, run.corpus_dir)
        corpus_s.append(time.perf_counter() - t0)
    run.mark("setup")
    job = CrawlJob(run, params, pages, layout)
    run.mark("oracle")
    caps = [STOP_AFTER, MAX_ROUNDS]

    # warm iteration (untimed), like the timed ones. A second one was
    # tried and did not narrow the run-to-run spread.
    t0 = time.perf_counter()
    out, _ = job.crawl(caps)
    warm_s = time.perf_counter() - t0
    resumed = [job.verify(out, "warm")]
    run.mark("warm")
    extra = {"candidates": 0, "disallowed": 0, "html_bytes": 0}
    if tracer:
        extra["py_compute_s"] = _py_compute_s(run, out, pages)
    shutil.rmtree(out, ignore_errors=True)

    fs = tracer.fs() if tracer else None
    if tracer:
        tracer.install(run.spark)
    iters = []
    for wall, (out, calls) in run.loop(lambda: job.crawl(caps, fs=fs)):
        iters.append((wall, calls))
        if tracer:
            tracer.pause()
        resumed.append(job.verify(out, f"iteration {len(iters)}"))
        if tracer:
            for key, val in _crawl_counts(run, out, pages).items():
                extra[key] += val
            tracer.resume()
        shutil.rmtree(out, ignore_errors=True)
    if tracer:
        tracer.uninstall()
    run.iterations = len(iters)
    run.mark("timed")
    uninterrupted = job.uninterrupted()
    for got in resumed:
        run.check(got == uninterrupted,
                  "resumed crawl differs from the uninterrupted crawl")

    rounds = [s for _, calls in iters for c in calls for s in c["round_stats"]]
    run.rounds = len(rounds)
    walls = [w for w, _ in iters]
    best = min(range(len(iters)), key=lambda i: walls[i])
    visited = iters[best][1][-1]["visited"]
    steady = _median([
        _steady([s for c in calls for s in c["round_stats"]], calls[-1]["visited"])
        for _, calls in iters
    ])
    resume = _median([
        calls[-1]["wall"] - sum(s["wall"] for s in calls[-1]["round_stats"])
        for _, calls in iters
    ])
    step_best = _step_best(
        [{s["round"]: s["wall"] for c in calls for s in c["round_stats"]}
         for _, calls in iters])

    result = {
        "setup": {"session_s": session_s, "corpus_s": corpus_s, "warm_s": warm_s},
        "e2e": {
            "setup_s": _m(session_s + _median(corpus_s), "s"),
            "work_s": _m(walls[best], "s"),
            "step_p50_s": _m(step_best, "s"),
            "items_per_s": _m(visited / walls[best], "1/s"),
        },
        "named": {
            "crawl_s": _m(walls[best], "s"),
            "urls_per_s": _m(visited / walls[best], "URL/s"),
            "steady_urls_per_s": _m(steady, "URL/s"),
            "round_p50_s": _m(step_best, "s"),
            "rounds": _m(len(rounds) / len(iters), "count"),
            "resume_s": _m(resume, "s"),
            "visited": _m(visited, "URL"),
            "iterations": _m(len(iters), "count"),
        },
        "detail": {"iterations": [calls for _, calls in iters]},
    }
    if tracer:
        run.layer.update(tracer.crawl_layers(iters, resume, steady, extra))
        run.layer["trace.work_s"] = _m(walls[best], "s")
        run.layer.update(hotdist_phase(
            job, statistics.fmean(s["wall"] for s in rounds)))
        run.layer.update(scale_phase(job))
    return result


def hotdist_phase(job: CrawlJob, default_round_s: float) -> dict:
    """Traced crawl runs only: an uninterrupted crawl with the distributed
    Bloom and executor-side hot-host cuckoo filters (bench.py's
    crawl_hotdist settings), one round longer than the default crawl so
    the promoted hot-host filter is consulted. It has its own span
    recorder, so the default crawl's layer sums stay clean.
    ``hotdist.ratio`` is its mean round wall over the default crawl's."""
    run = job.run
    rounds = MAX_ROUNDS + 1
    out, _ = job.crawl([rounds], **HOTDIST)   # warm
    job.verify(out, "hotdist warm", job.expected_hot)
    shutil.rmtree(out, ignore_errors=True)
    tracer = Tracer(run.work)
    tracer.install(run.spark)
    t0 = time.perf_counter()
    out, calls = job.crawl([rounds], fs=tracer.fs(), **HOTDIST)
    wall = time.perf_counter() - t0
    tracer.uninstall()
    job.verify(out, "hotdist", job.expected_hot)
    shutil.rmtree(out, ignore_errors=True)
    walls = [s["wall"] for s in calls[0]["round_stats"]]
    out = {
        "hotdist.crawl_s": _m(wall, "s"),
        "hotdist.round_p50_s": _m(_median(walls), "s"),
        "hotdist.ratio": _m(statistics.fmean(walls) / default_round_s, "ratio"),
        "hot.active": _m(max((s.get("hot_active", 0)
                              for s in calls[0]["round_stats"]), default=0),
                         "count"),
    }
    for metric, span in (("hot.update_s", "hot.update"), ("hot.ensure_s", "hot.ensure"),
                         ("hot.tag_s", "hot.tag"), ("bloom.update_s", "bloom.update"),
                         ("bloom.tag_s", "bloom.tag")):
        out[metric] = _m(tracer.span_sum(span), "s")
    return out


def scale_phase(job: CrawlJob) -> dict:
    """Traced crawl runs only: for N = nproc and then max(1, N/4) cores,
    a new session runs the raw extract UDF over the corpus and one crawl
    (both sessions start cold alike). Gives ``scale.eff``, the crawl's
    steady-throughput efficiency from N/4 to N, next to
    ``extract.ceiling_eff``, the same ratio for the bare UDF scan."""
    from sparkcrawler.sources.synth import CorpusLayout, robots_df

    run, p = job.run, job.params
    n = os.cpu_count() or 1
    rates = {}
    for cores in (n, max(1, n // 4)):
        run.stop_session()
        run.start_session(cores)
        job.pages = run.spark.read.parquet(run.corpus_dir)
        job.robots = robots_df(run.spark, CorpusLayout.build(
            p["n_pages"], p["n_hosts"], p["fanout"], p["paras"]))
        udf = _raw_udf_rate(run, job.pages)
        out, calls = job.crawl([MAX_ROUNDS])
        job.verify(out, f"scale local[{cores}]")
        shutil.rmtree(out, ignore_errors=True)
        rates[cores] = (_steady(calls[0]["round_stats"], calls[0]["visited"]), udf)
    (crawl_n, udf_n), (crawl_m, udf_m) = rates[n], rates[max(1, n // 4)]
    ratio = n / max(1, n // 4)
    return {
        "scale.steady_n_urls_per_s": _m(crawl_n, "URL/s"),
        "scale.steady_n4_urls_per_s": _m(crawl_m, "URL/s"),
        "scale.eff": _m(crawl_n / crawl_m / ratio if crawl_m else 0.0, "ratio"),
        "extract.ceiling_n_pages_per_s": _m(udf_n, "page/s"),
        "extract.ceiling_n4_pages_per_s": _m(udf_m, "page/s"),
        "extract.ceiling_eff": _m(udf_n / udf_m / ratio if udf_m else 0.0, "ratio"),
    }


def _raw_udf_rate(run: Run, pages) -> float:
    """Pages/s of the extract UDF over the whole corpus with no crawl
    machinery (best of two passes; the first also warms the workers)."""
    from pyspark.sql import functions as F

    from sparkcrawler.functions.extract import extract_page_udf

    n = pages.count()
    best = math.inf
    for _ in range(2):
        t0 = time.perf_counter()
        pages.select(
            F.size(extract_page_udf("url", "html").getField("links")).alias("k")
        ).agg(F.sum("k")).collect()
        best = min(best, time.perf_counter() - t0)
    return n / best


# ------------------------------------------------------------ query side --


def run_queries(run: Run) -> dict:
    from perfbench import qdata
    from sparkcrawler import analytics as A
    from sparkcrawler.analytics import CATALOG

    session_s = run.start_session(run.cores, event_log=run.tracer is not None)
    # one-off inputs the crawl-family queries read (the demo crawl and
    # its outdegree oracle): cached across runs under the cache dir,
    # built here only when missing or stale, and not part of setup_s
    demo_root = os.path.join(run.cache, "demo")
    old_root = A._DEMO_ROOT
    A._DEMO_ROOT = demo_root
    A.DEMO_DIR = f"{demo_root}/crawl_{A._DEMO_NAME}"
    A._DEMO_CRAWL = f"{A.DEMO_DIR}/crawl"
    A._DEMO_CORPUS = f"{A.DEMO_DIR}/corpus"
    A._OUTDEG_DIR = f"{demo_root}/outdeg_{A._DEMO_NAME}"
    t0 = time.perf_counter()
    A._demo_crawl_dir(run.spark)
    A._outdegree_expected_dir()
    oneoff_s = time.perf_counter() - t0
    # per-run inputs: seeded tables plus the ANN index over them (kept
    # in the run's work dir, so every run builds it)
    A._DEMO_ROOT = os.path.join(run.work, "annidx")
    prep_s = []
    for i in range(SETUP_REPS):
        sf_dir = os.path.join(run.work, f"qdata{i}")
        t0 = time.perf_counter()
        qdata.write_tables(sf_dir, run.seed)
        prep_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    A._ann_index_dir(run.spark, sf_dir)
    ann_s = time.perf_counter() - t0

    run.mark("setup")
    expected = oracles.query_oracle(sf_dir, QUERIES, old_root, demo_root)
    run.mark("oracle")

    def one_pass():
        walls, rows = {}, {}
        for name in QUERIES:
            t0 = time.perf_counter()
            with run.tracer.maybe_span(f"query.{name}") if run.tracer else _NULL:
                df = CATALOG[name].spark(run.spark, sf_dir)
                rows[name] = (df.columns, [tuple(r) for r in df.collect()])
            walls[name] = time.perf_counter() - t0
        return walls, rows

    def verify(rows, tag):
        for name in QUERIES:
            cols, got = rows[name]
            run.check(oracles.rows_digest(cols, got) == expected[name],
                      f"{tag}: {name} differs from its DuckDB oracle")

    t0 = time.perf_counter()
    _, rows = one_pass()
    warm_s = time.perf_counter() - t0
    verify(rows, "warm")
    run.mark("warm")
    if run.tracer:
        run.tracer.install(run.spark)
    passes = []
    for wall, (walls, rows) in run.loop(one_pass):
        passes.append((wall, walls))
        verify(rows, f"pass {len(passes)}")
    if run.tracer:
        run.tracer.uninstall()
    run.iterations = len(passes)
    run.mark("timed")

    pass_walls = [w for w, _ in passes]
    best = min(pass_walls)
    step_best = _step_best([walls for _, walls in passes])
    totals = [sum(walls.values()) for _, walls in passes]
    geo = [
        math.exp(statistics.fmean(math.log(w) for w in walls.values()))
        for _, walls in passes
    ]
    result = {
        "setup": {"session_s": session_s, "corpus_s": prep_s,
                  "ann_index_s": ann_s, "oneoff_s": oneoff_s, "warm_s": warm_s},
        "e2e": {
            "setup_s": _m(session_s + _median(prep_s) + ann_s, "s"),
            "work_s": _m(best, "s"),
            "step_p50_s": _m(step_best, "s"),
            "items_per_s": _m(len(QUERIES) / best, "1/s"),
        },
        "named": {
            "query_total_s": _m(min(totals), "s"),
            "query_geomean_s": _m(min(geo), "s"),
            "iterations": _m(len(passes), "count"),
        },
        "detail": {"passes": [walls for _, walls in passes]},
    }
    if run.tracer:
        for name in QUERIES:
            run.layer[f"query.{name}_s"] = _m(
                _median([walls[name] for _, walls in passes]), "s")
        run.layer["ann.index_build_s"] = _m(ann_s, "s")
        run.layer["trace.work_s"] = _m(best, "s")
    return result


# ------------------------------------------------------------------ entry --


def layer_names() -> dict:
    """Per-layer metric name -> unit, before time-to-share conversion."""
    names = dict(LAYER_METRICS)
    names.update({f"query.{q}_s": "s" for q in QUERIES})
    return names


def run(name, seed, seconds, trace, work, cache) -> dict:
    r = Run(name, seed, seconds, trace, work, cache)
    try:
        res = run_queries(r) if name == "query_mix" else run_crawl(r)
        res["e2e"]["peak_rss_mb"] = _m(r.peak_rss_mb(), "MB")
        res["named"]["peak_rss_mb"] = res["e2e"]["peak_rss_mb"]
    finally:
        r.shutdown()
        r.mark("shutdown")
    res["named"]["error_rate"] = _m(
        len(r.failures) / max(r.attempted, 1), "ratio")
    if r.tracer:
        layer = r.tracer.finish(r)
        layer.update(r.layer)
        s = res["setup"]
        layer["setup.session_s"] = _m(s["session_s"], "s")
        layer["setup.corpus_s"] = _m(_median(s["corpus_s"]), "s")
        layer["setup.warm_s"] = _m(s["warm_s"], "s")
        r.tracer.write_spans(os.path.join(
            os.path.dirname(work), "last", f"{name}.spans.json"))
        res["layer_seconds"] = layer
        res["layer"] = per_layer(layer, layer_names())
    res.update(attempted=r.attempted, failed=len(r.failures),
               failures=r.failures, phases=r.phases)
    return res

