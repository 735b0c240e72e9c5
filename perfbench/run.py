"""Filtered vector-search benchmark.

    python3 perfbench/run.py --workload filtered_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run generates its inputs from ``--seed``
under ``.bench_work/`` in the current directory, starts a local Spark
session sized to the host, sets the workload up three times (the median is
``setup_s``), then drives a closed loop with one client for ``--seconds``
seconds. Every answer is checked against the NumPy oracle in
``oracle.py``; a failed check or an error counts as a failed operation.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1`` every
Spark job runs under a job group named after the layer call that issued it,
the event log is on, and the metrics are the per-layer counters. The line
before it is a JSON object of run details: seed, nproc, driver heap, the
set-up samples, the end-to-end figures and, in a traced run, the host
calibration. A traced run's end-to-end figures set against an untraced
run's on the same seed give the tracing overhead; ``overhead.py`` does the
comparison.

Workloads (see README.md for why each exists and which layer metric should
move which end-to-end metric):

* ``filtered_batch``: in-memory IVF (Arrow/BLAS scoring) and IVFPQ (ADC plus
  exact rerank) indexes; each operation is one large query batch through
  ``plan_filtered_search`` under one of three named filters.
* ``filtered_online``: the serving layout (``write_bucketed`` then
  ``IVFIndex.load``); each operation is a small request whose filter
  rotates, and the ``mid_rated`` requests take the exact tier.

Traced runs also profile, after the measured loop, the write-side calls no
end-to-end metric covers: the IVFPQ layout write (``filtered_batch``), and a
delta ``append_to_layout`` plus ``compact_layout`` and ``curate_corpus``
(``filtered_online``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402

import gen  # noqa: E402
from oracle import Oracle, check_answer  # noqa: E402
from spans import RssSampler, Tracer, event_log_conf, layer_metrics  # noqa: E402

from filtered_ads_vector_search_spark.calibration import host_calibration  # noqa: E402
from filtered_ads_vector_search_spark.operators.ann import (  # noqa: E402
    IVFIndex,
    plan_filtered_search,
)
from filtered_ads_vector_search_spark.operators.filters import named_filter_predicate  # noqa: E402
from filtered_ads_vector_search_spark.operators.ivfpq import IVFPQIndex  # noqa: E402
from filtered_ads_vector_search_spark.pipeline.curate import curate_corpus  # noqa: E402
from filtered_ads_vector_search_spark.session import get_spark  # noqa: E402

# Inputs. Sized so one run, set-up included, takes about a minute on a
# 4-core host. At this scale both workloads are bound by fixed costs per
# call; README.md gives the measured layer split.
N_CORPUS = 20_000
N_DELTA = 1_000
N_FILES = 8
N_CENTROIDS = 32
NPROBE = 2
K = 10
PQ_M, PQ_CODES, PQ_RERANK = 8, 16, 100
BATCH_QUERIES = 500
ONLINE_POOL = 240
ONLINE_REQUEST = 8
SETUP_REPS = 3
N_DOCS, N_EXACT_DUPS, N_NEAR_DUPS, N_SHORT_DOCS = 1_000, 50, 50, 20
FILTERS = ("low_rated", "high_rated", "mid_rated")
# Mean recall@10 an ANN-tier answer must reach to count as correct.
RECALL_FLOOR = {"ivf": 0.6, "ivfpq": 0.4}

LAYERS = [
    "session.get_spark",
    "operators.ann.IVFIndex.build",
    "operators.ivfpq.IVFPQIndex.build",
    "operators.ann.IVFIndex.write_bucketed",
    "operators.ivfpq.IVFPQIndex.write_bucketed",
    "operators.ann.IVFIndex.load",
    "operators.ann.IVFIndex.append_to_layout",
    "operators.ann.IVFIndex.compact_layout",
    "operators.ann.plan_filtered_search",
    # the three tiers' result DataFrames, executed by collect()
    "operators.ann.IVFIndex.search",
    "operators.ivfpq.IVFPQIndex.search",
    "operators.topk.knn_scalable",
    "pipeline.curate.curate_corpus",
]
# curate_corpus's stage_seconds laps, reported as pipeline.curate.<stage>.wall_s
CURATE_STAGES = ("input_docs", "after_quality_gate", "pii_redaction",
                 "after_exact_dedup", "after_near_dedup", "after_decontaminate",
                 "persist_survivors", "packed_rows", "write_artifacts")
PLAN = "operators.ann.plan_filtered_search"


def driver_heap() -> str:
    """Driver heap for local mode (driver JVM = the executor): an eighth of
    host memory, within 1-4 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{min(4096, max(1024, total_kb // 1024 // 8))}m"


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.tracer = Tracer(job_groups=bool(args.trace))
        self.nproc = len(os.sched_getaffinity(0))
        self.heap = driver_heap()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.latencies: list[float] = []
        self.queries_answered = 0
        self.recall_sum = 0.0
        self.recall_queries = 0
        self.measuring = False
        self.plans = 0
        self.exact_plans = 0
        self.probe_fractions: list[float] = []
        self.details: dict = {"latency_by_op": {}}
        self.spark = None
        self.rss = None
        self.curate_stages: dict[str, float] = {}

    # -- session ---------------------------------------------------------
    def session(self):
        conf = {
            "spark.local.dir": f"{self.work}/spark-local",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update(event_log_conf(f"{self.work}/events"))
        spark = self.tracer.call(
            "session.get_spark", get_spark, app_name="perfbench",
            cpus=self.nproc, extra_conf=conf,
        )
        if self.spark is None:
            spark.sparkContext.setLogLevel("ERROR")
        self.spark = self.tracer.spark = spark
        return spark

    def stop(self) -> None:
        """Stop Spark, then the JVM the gateway launched, and wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def calibrate(self) -> None:
        """Host calibration probes. They take seconds, so they run in traced
        runs only, after the measured loop."""
        with self.rss.paused():
            self.details["calibration"] = host_calibration(self.spark)

    # -- operations ------------------------------------------------------
    def record(self, name: str, ok: bool, reason: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 10:
                self.failures.append(f"{name}: {reason}")

    def search(self, index, kind: str, queries_df, qids, filter_name: str,
               oracle: Oracle, qvecs: dict, expected: dict, count: bool = True) -> None:
        """One closed-loop operation: plan, execute and collect one filtered
        top-k answer, then check it. ``count=False`` only checks: the answer
        leaves the tier, recall and latency figures alone."""
        name = f"{kind}/{filter_name}/{len(qids)}q"
        try:
            t0 = time.perf_counter()
            with self.tracer.span(PLAN):
                plan = plan_filtered_search(
                    index, queries_df, k=K, nprobe=NPROBE,
                    predicate=named_filter_predicate(filter_name),
                    rerank=PQ_RERANK if kind == "ivfpq" else 0,
                    arrow="blas" if kind == "ivf" else True,
                )
            exact = plan.tier == "exact_filtered"
            layer = ("operators.topk.knn_scalable" if exact else
                     "operators.ivfpq.IVFPQIndex.search" if kind == "ivfpq" else
                     "operators.ann.IVFIndex.search")
            with self.tracer.span(layer):
                rows = plan.result.collect()
            dt = time.perf_counter() - t0
        except Exception:
            traceback.print_exc()
            self.record(name, False, "raised")
            return
        res = check_answer(oracle, rows, qids, qvecs, expected, filter_name,
                           exact=exact, recall_floor=RECALL_FLOOR[kind])
        self.record(name, res.ok, "; ".join(res.reasons))
        if not count:
            return
        # tier routing and answer quality count warm-up answers too; timings
        # only the measured rounds
        self.plans += 1
        if exact:
            self.exact_plans += 1
        else:
            self.recall_sum += res.recall_sum
            self.recall_queries += res.n_queries
            self.probe_fractions.append(plan.nprobe_effective / index.n_centroids)
        if self.measuring:
            self.latencies.append(dt)
            self.details["latency_by_op"].setdefault(name, []).append(round(dt, 4))
            self.queries_answered += len(qids)

    def loop(self, ops, warm_up) -> None:
        """The unmeasured ``warm_up`` operations (first calls pay one-off
        costs), then whole measured rounds of ``ops`` (so every round has
        the same mix): the number of rounds whose total comes closest to
        ``--seconds``, at least one."""
        for op in warm_up:
            op()
        self.measuring = True
        t0 = time.perf_counter()
        rounds = 0
        while True:
            for op in ops:
                op()
            rounds += 1
            elapsed = time.perf_counter() - t0
            if elapsed + 0.5 * elapsed / rounds >= self.args.seconds:
                break
        self.measuring = False
        self.details["loop_s"] = elapsed
        self.details["loop_rounds"] = rounds

    # -- results ---------------------------------------------------------
    def end_to_end(self, setup: list[float], peak_mb: float) -> dict:
        lat = sorted(self.latencies)
        return {
            "setup_s": {"value": statistics.median(setup), "unit": "s"},
            "qps": {"value": self.queries_answered / sum(lat) if lat else 0.0,
                    "unit": "queries/s"},
            "latency_p50_s": {"value": statistics.median(lat) if lat else 0.0,
                              "unit": "s"},
            "recall_at_10": {"value": self.recall_sum / max(1, self.recall_queries),
                             "unit": "ratio"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }

    def per_layer(self) -> dict:
        out = layer_metrics(self.tracer, LAYERS, f"{self.work}/events")
        out[f"{PLAN}.exact_tier_share"] = {
            "value": self.exact_plans / self.plans if self.plans else 0.0, "unit": "ratio"}
        out[f"{PLAN}.probe_fraction"] = {
            "value": float(np.mean(self.probe_fractions)) if self.probe_fractions else 0.0,
            "unit": "ratio"}
        for stage in CURATE_STAGES:
            out[f"pipeline.curate.{stage}.wall_s"] = {
                "value": self.curate_stages.get(stage, 0.0), "unit": "s"}
        return out


# -- inputs ----------------------------------------------------------------
def make_inputs(seed: int, work: str):
    corpus, queries, delta = gen.vectors(
        seed, N_CORPUS, max(BATCH_QUERIES, ONLINE_POOL), N_DELTA)
    gen.write_parquet(gen.corpus_table(corpus), f"{work}/corpus", N_FILES)
    gen.write_parquet(gen.queries_table(queries), f"{work}/queries", 2)
    gen.write_parquet(gen.corpus_table(delta), f"{work}/delta", 2)
    return corpus, queries, delta


def expected_answers(oracle: Oracle, queries, n: int) -> dict:
    """filter -> {query_id: (ids, dists)} for the first ``n`` queries."""
    out = {}
    for f in FILTERS:
        ids, d = oracle.topk(queries.vecs[:n], f, K)
        out[f] = {int(q): (ids[i], d[i]) for i, q in enumerate(queries.ids[:n])}
    return out


# -- workloads -------------------------------------------------------------
def filtered_batch(run: Run, seed: int) -> list[float]:
    corpus, queries, _ = make_inputs(seed, run.work)
    oracle = Oracle(corpus.ids, corpus.vecs, corpus.buckets)
    expected = expected_answers(oracle, queries, BATCH_QUERIES)
    qids = [int(q) for q in queries.ids[:BATCH_QUERIES]]
    qvecs = {q: queries.vecs[i].astype(np.float64) for i, q in enumerate(qids)}

    setup, ivf, pq = [], None, None
    for _ in range(SETUP_REPS):
        for idx in (ivf, pq):
            if idx is not None:
                idx.unpersist()
        t0 = time.perf_counter()
        spark = run.session()
        cdf = spark.read.parquet(f"{run.work}/corpus")
        qdf = spark.read.parquet(f"{run.work}/queries")
        ivf = run.tracer.call("operators.ann.IVFIndex.build", IVFIndex.build,
                              cdf, n_centroids=N_CENTROIDS)
        pq = run.tracer.call("operators.ivfpq.IVFPQIndex.build", IVFPQIndex.build,
                             cdf, n_centroids=N_CENTROIDS, m=PQ_M, n_codes=PQ_CODES)
        setup.append(time.perf_counter() - t0)

    ops = [
        (lambda idx=idx, kind=kind, f=f: run.search(
            idx, kind, qdf, qids, f, oracle, qvecs, expected[f]))
        for f in FILTERS for kind, idx in (("ivf", ivf), ("ivfpq", pq))
    ]
    # the first IVF and IVFPQ searches pay one-off costs
    run.loop(ops, warm_up=ops[:2])
    if run.args.trace:
        run.calibrate()
        with run.rss.paused():
            write_ivfpq(run, pq)
    return setup


def write_ivfpq(run: Run, pq) -> None:
    """Traced runs only: profile the IVFPQ layout write, which no
    end-to-end metric covers, after the measured loop."""
    path = f"{run.work}/ivfpq-layout"
    run.tracer.call("operators.ivfpq.IVFPQIndex.write_bucketed", pq.write_bucketed, path)
    n_rows = IVFPQIndex.load(run.spark, path).coded.count()
    run.record("ivfpq_layout_rows", n_rows == N_CORPUS,
               f"{n_rows} rows in the written IVFPQ layout, expected {N_CORPUS}")


def curate(run: Run, seed: int) -> None:
    """Traced runs only: profile ``curate_corpus`` on generated documents,
    after the measured loop, and check the funnel removed exactly the
    planted short documents and exact duplicates and at least 90 % (never
    more than all) of the planted near duplicates."""
    docs = gen.documents(seed, N_DOCS, N_EXACT_DUPS, N_NEAR_DUPS, N_SHORT_DOCS)
    gen.write_parquet(docs, f"{run.work}/docs", 4)
    stages: dict[str, float] = {}
    funnel = run.tracer.call(
        "pipeline.curate.curate_corpus", curate_corpus, run.spark,
        run.spark.read.parquet(f"{run.work}/docs"), f"{run.work}/curated",
        stage_seconds=stages)
    run.curate_stages = stages
    total = docs.num_rows
    near_removed = funnel["after_exact_dedup"] - funnel["after_near_dedup"]
    ok = (funnel["input_docs"] == total
          and funnel["after_quality_gate"] == total - N_SHORT_DOCS
          and funnel["after_exact_dedup"] == total - N_SHORT_DOCS - N_EXACT_DUPS
          and 0.9 * N_NEAR_DUPS <= near_removed <= N_NEAR_DUPS)
    run.record("curate_corpus", ok, json.dumps(funnel))


def filtered_online(run: Run, seed: int) -> list[float]:
    corpus, queries, delta = make_inputs(seed, run.work)
    # the oracle's distance matrices are benchmark memory: make them before
    # the JVM starts, so they do not add to the sampled peak RSS
    oracle = Oracle(corpus.ids, corpus.vecs, corpus.buckets)
    expected = expected_answers(oracle, queries, ONLINE_POOL)
    layout = f"{run.work}/layout"
    # offline: build and write the serving layout once
    spark = run.session()
    cdf = spark.read.parquet(f"{run.work}/corpus")
    built = run.tracer.call("operators.ann.IVFIndex.build", IVFIndex.build,
                            cdf, n_centroids=N_CENTROIDS)
    run.tracer.call("operators.ann.IVFIndex.write_bucketed", built.write_bucketed, layout)
    built.unpersist()

    # serving set-up: open the layout
    setup, index = [], None
    for _ in range(SETUP_REPS):
        if index is not None:
            index.unpersist()
        t0 = time.perf_counter()
        spark = run.session()
        index = run.tracer.call("operators.ann.IVFIndex.load", IVFIndex.load,
                                spark, layout)
        setup.append(time.perf_counter() - t0)

    qdf = spark.read.parquet(f"{run.work}/queries")
    n_requests = ONLINE_POOL // ONLINE_REQUEST
    counter = {"i": 0}

    def request(f: str) -> None:
        i = counter["i"] % n_requests
        counter["i"] += 1
        lo = i * ONLINE_REQUEST
        qids = [int(q) for q in queries.ids[lo:lo + ONLINE_REQUEST]]
        qvecs = {q: queries.vecs[lo + j].astype(np.float64) for j, q in enumerate(qids)}
        req = qdf.filter(f"query_id >= {qids[0]} AND query_id <= {qids[-1]}")
        run.search(index, "ivf", req, qids, f, oracle, qvecs, expected[f])

    ops = [lambda f=f: request(f) for f in FILTERS]
    # request latencies keep falling through the second round
    run.loop(ops, warm_up=ops * 2)
    if run.args.trace:
        run.calibrate()
        with run.rss.paused():
            index.unpersist()
            append_compact(run, layout, corpus, queries, delta)
            curate(run, seed)
    return setup


def append_compact(run: Run, layout: str, corpus, queries, delta) -> None:
    """Traced runs only: land one delta batch on the serving layout, compact
    it, reopen it, and check it holds corpus + delta rows and answers one
    request per filter correctly over both."""
    run.tracer.call("operators.ann.IVFIndex.append_to_layout",
                    IVFIndex.append_to_layout, run.spark, layout,
                    run.spark.read.parquet(f"{run.work}/delta"))
    run.tracer.call("operators.ann.IVFIndex.compact_layout",
                    IVFIndex.compact_layout, run.spark, layout)
    index = run.tracer.call("operators.ann.IVFIndex.load", IVFIndex.load,
                            run.spark, layout)
    n_rows = index.assigned.count()
    run.record("layout_rows", n_rows == N_CORPUS + N_DELTA,
               f"{n_rows} rows after append+compact, expected {N_CORPUS + N_DELTA}")
    oracle = Oracle(np.concatenate([corpus.ids, delta.ids]),
                    np.concatenate([corpus.vecs, delta.vecs]),
                    np.concatenate([corpus.buckets, delta.buckets]))
    expected = expected_answers(oracle, queries, ONLINE_REQUEST)
    qids = [int(q) for q in queries.ids[:ONLINE_REQUEST]]
    qvecs = {q: queries.vecs[j].astype(np.float64) for j, q in enumerate(qids)}
    req = run.spark.read.parquet(f"{run.work}/queries").filter(
        f"query_id <= {qids[-1]}")
    for f in FILTERS:
        run.search(index, "ivf", req, qids, f, oracle, qvecs, expected[f], count=False)
    index.unpersist()


WORKLOADS = {"filtered_batch": filtered_batch, "filtered_online": filtered_online}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.abspath(os.path.join(".bench_work", f"{args.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "events", "spark-local"):
        os.makedirs(f"{work}/{sub}")
    run = Run(args, work)
    # the engine's Python workers import the package; temp files stay in
    # the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    # every JVM spark-submit starts (launcher and driver) keeps its temp
    # files there too, and writes no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = run.heap
    os.environ["SPARK_GRAFT_CPUS"] = str(run.nproc)
    try:
        with RssSampler() as rss:
            run.rss = rss
            try:
                setup = WORKLOADS[args.workload](run, args.seed)
            finally:
                if run.spark is not None:
                    run.stop()
        e2e = run.end_to_end(setup, rss.peak_mb)
        metrics = run.per_layer() if args.trace else e2e
        run.details.update(
            workload=args.workload, seed=args.seed, trace=args.trace,
            nproc=run.nproc, driver_memory=run.heap, setup_samples_s=setup,
            latency_samples=len(run.latencies), failures=run.failures,
            end_to_end=e2e)
        print(json.dumps(run.details, default=float))
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    return 0


if __name__ == "__main__":
    sys.exit(main())
