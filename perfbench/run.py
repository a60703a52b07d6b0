#!/usr/bin/env python3
"""GraphRAFT question benchmark.

    python3 perfbench/run.py --workload online_qa --seed 0 --seconds 10 --trace 0

Run from the root of a checkout.  One run:

1. writes a fixed synthetic TPC-H-shaped corpus (``corpus.py``) and the
   seeded question sets with gold answers (``questions.py``) into a
   private work directory under ``perfbench/.work``;
2. sets up: starts a Spark session with the engine's own defaults
   (``graphraft_spark.session.get_spark``), ingests the graph cold with
   ``tpch_graph`` (a fresh source path, so no earlier materialization is
   reused);
3. runs the workload through the engine's public entry points until the
   timed operations add up to ``--seconds``;
4. checks every output (invariants for any seed, recorded digests for
   the default seed); a failed check counts the question as failed;
5. prints host facts and overrides as ``#`` lines, then one JSON line.

Workloads (one client, ``local[nproc]``, reference defaults: 20 nodes,
beam 5, ``TrieConstrainedRanker``, ``EchoGenerator``):

* ``online_qa`` - a closed loop of ``GraphRAFTEngine.run``, one question
  at a time; each question names one customer and one supplier (unique,
  low-degree anchors), which reach the engine through its chat seam.
  One operation = one question.  Gold answers are the nodes the
  templates can reach from the anchors, so ``recall_at_20`` depends on
  the node budget and the template semantics, not on the placeholder
  ranker's hash order, and stays steady across seeds.
* ``train_sft`` - the training-data export: ``enumerate_paths_batch``
  with gold over 128 unique low-degree anchor pairs (all three
  templates, 2path included; no ranker, no budget, no hubs), then
  ``llm1_sft_table`` and ``write_sft`` to parquet.  One operation = one
  export of the whole set.  Its ``recall_at_20`` is the share of each
  question's gold answers that its best candidate query (the one the
  exported completion names) reaches.

Every run is one cold process with no warm-up, and a run times
operations until they add up to ``--seconds`` (at least one).  On a
4-core host one operation takes longer than the default second, so a
default run times exactly one: the first question or export a fresh
process completes.  More operations per run would not steady the
figures (their spread comes from run-to-run host variation, shared by
every operation of a run) and would not fit both workloads' runs into
the time a benchmark session has.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the
same loop with every engine layer wrapped in a named span (see
``trace.py``) and prints the per-layer split parsed from a Spark event
log written under the work directory.  A second, untraced loop would
not fit a run's time, so ``tracing.overhead_ratio`` is the traced wall
time over that wall time minus the tracer's own bookkeeping (its span
book-keeping and Spark job-group calls); the event log's listener runs
off the driver thread and is not in it.

Set-up is measured once per run (a second Spark session or a second cold
ingest in the same process would not be cold).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("online_qa", "train_sft")
MAX_NODES = 20
BEAM = 5
DRIVER_MEM = "2g"
TAIL_MARGIN = 10       # samples that must lie beyond the tail percentile
E2E_UNITS = {"setup_s": "s", "questions_per_s": "1/s", "latency_p50_s": "s",
             "latency_tail_s": "s", "peak_rss_mb": "MB", "recall_at_20": "ratio"}


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    with open("/proc/loadavg") as fh:
        load = " ".join(fh.read().split()[:3])
    commit = "unknown"
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            path = os.path.join(ROOT, ".git", ref[5:])
            commit = open(path).read().strip() if os.path.exists(path) else ref
        else:
            commit = ref
    return {"nproc": _nproc(), "ram_gb": round(mem_kb / 2**20, 1),
            "loadavg": load, "commit": commit}


# ---------------------------------------------------------------- processes

def _children_map() -> dict[int, list[int]]:
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class PeakRss(threading.Thread):
    """Samples the resident memory of this process's descendants (the
    driver JVM and its Python workers) and keeps the peak of their sum.

    The Python workers are forked from one daemon and share most of their
    pages with it, so each is counted by its proportional share (Pss);
    summing their RSS would count the shared pages once per worker.  The
    JVM shares nothing with them and its page walk is slow over a 2 GB
    heap, so it is counted by its RSS."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.parts: dict[str, int] = {}   # per process kind: peak bytes
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _resident(self, pid: int, kind: str) -> int:
        if kind == "java":
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * self._page
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    def sample(self) -> int:
        parts = defaultdict(int)
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    kind = fh.read().strip()
                parts[kind] += self._resident(pid, kind)
            except OSError:  # the process ended while it was read
                continue
        for k, v in parts.items():
            self.parts[k] = max(self.parts.get(k, 0), v)
        return sum(parts.values())

    def run(self):
        while not self._halt.is_set():
            self.peak = max(self.peak, self.sample())
            self._halt.wait(self.interval)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak / 2**20


def shutdown_spark(spark) -> None:
    """Stop the session, close the JVM gateway, and wait until every
    process this run started has exited (killing stragglers)."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - gateway may already be gone
                pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + 30
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        while alive and time.time() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        for p in alive:
            while os.path.exists(f"/proc/{p}"):
                try:
                    if os.waitpid(p, os.WNOHANG) != (0, 0):
                        break
                except ChildProcessError:
                    pass
                time.sleep(0.05)


# ---------------------------------------------------------------- metrics

def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least
    TAIL_MARGIN samples beyond it; the maximum when there are fewer."""
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_MARGIN:
        return xs[-1], 100.0
    return xs[n - TAIL_MARGIN - 1], 100.0 * (n - TAIL_MARGIN) / n


class Seams:
    """The ranker and generator the engine receives, wrapped to count
    calls (all runs) and to flag non-verbatim rankings (an output check)."""

    def __init__(self, sc):
        from graphraft_spark.llm.protocols import (
            EchoGenerator,
            TrieConstrainedRanker,
        )

        from perfbench.trace import CheckingRanker, CountingGenerator

        self.rank_calls = sc.accumulator(0)
        self.rank_candidates = sc.accumulator(0)
        self.violations = sc.accumulator(0)
        self.generate_calls = sc.accumulator(0)
        self.ranker = CheckingRanker(TrieConstrainedRanker(), self.rank_calls,
                                     self.rank_candidates, self.violations)
        self.generator = CountingGenerator(EchoGenerator(),
                                           self.generate_calls)


class Outcome:
    """What a loop measured and what its checks found."""

    def __init__(self):
        self.latencies: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.digests: dict = {}
        self.recall: float | None = None
        self.counts: dict[str, float] = {}

    @property
    def timed_s(self) -> float:
        return sum(self.latencies)


# ---------------------------------------------------------------- workloads

class OnlineQA:
    def __init__(self, ctx, seed: int):
        from graphraft_spark.api import GraphRAFTEngine

        from perfbench.questions import online_questions

        self.ctx = ctx
        self.pool = online_questions(ctx.qgraph, seed)
        self.next = 0
        self.stats = {"online": ctx.shape_stats(self.pool)}
        chat = {q.text: "|".join(q.entities) for q in self.pool}
        self.engine = GraphRAFTEngine(ctx.spark, ctx.graph,
                                      chat_fn=chat.__getitem__,
                                      ranker=ctx.seams.ranker,
                                      generator=ctx.seams.generator)
        self.driver_ranked: list[str] = []

    def install_tracing(self, tracer) -> None:
        import graphraft_spark.api as api
        import graphraft_spark.pipeline as pipeline

        ctx = self.ctx
        tracer.wrap(api, "match_entities", "search.match",
                    on_result=ctx.on_match)
        tracer.wrap(pipeline, "enumerate_paths_batch", "patterns.enumerate")
        tracer.wrap(pipeline, "run_pattern_nodes", "patterns.execute")
        tracer.wrap(pipeline, "budgeted_accumulate", "retrieve.budget",
                    on_result=ctx.on_budget)
        tracer.wrap(api, "answer_questions", "llm.generate")
        inner, ranked = self.engine.ranker, self.driver_ranked

        class SpanRanker:
            def rank(self, question, candidates, k=5):
                with tracer.span("llm.rank"):
                    out = inner.rank(question, candidates, k)
                ranked.extend(out)
                return out

        self.engine.ranker = SpanRanker()

    def loop(self, seconds: float, tracer) -> Outcome:
        from perfbench.checks import retrieval_digest

        ctx, out = self.ctx, Outcome()
        expected = (ctx.expected or {}).get("online_qa")
        evaluated = []
        while not out.latencies or out.timed_s < seconds:
            q = self.pool[self.next % len(self.pool)]
            self.next += 1
            bad_before = ctx.seams.violations.value
            t0 = time.perf_counter()
            try:
                with tracer.span("pipeline.run"):
                    retrieved, answers = self.engine.run(q.text, qid=q.qid)
                ok = True
            except Exception:  # noqa: BLE001 - counted, not fatal
                traceback.print_exc()
                ok = False
            out.latencies.append(time.perf_counter() - t0)
            out.attempted += 1
            if ok:
                with tracer.span("bench.check"):
                    rows = retrieved.select("nodeId", "queryIdx",
                                            "rank").collect()
                rows.sort(key=lambda r: (r["queryIdx"], r["rank"]))
                ids = [r["nodeId"] for r in rows]
                d = retrieval_digest(answers, ids)
                out.digests[str(q.qid)] = d
                ok = (len(ids) <= MAX_NODES - 1 and len(set(ids)) == len(ids)
                      and ctx.seams.violations.value == bad_before
                      and (expected is None
                           or expected.get(str(q.qid), d) == d))
                evaluated.append((q, ids))
            out.failed += 0 if ok else 1
        out.recall = ctx.recall(evaluated, tracer)
        if self.driver_ranked:
            out.counts["patterns.distinct_specs_per_ranked"] = (
                len(set(self.driver_ranked)) / len(self.driver_ranked))
        return out


class TrainSFT:
    def __init__(self, ctx, seed: int):
        from perfbench.questions import train_questions

        self.ctx = ctx
        self.train = train_questions(ctx.qgraph, seed)
        self.stats = {"train": ctx.shape_stats(self.train)}
        self.reps = 0

    def install_tracing(self, tracer) -> None:
        """The export calls the engine directly; its spans are in _rep."""

    def _rep(self, tracer):
        from pyspark.sql import functions as F

        from graphraft_spark.llm.sft import llm1_sft_table, write_sft
        from graphraft_spark.patterns.enumerate import enumerate_paths_batch
        from graphraft_spark.pipeline import text_pattern_col

        ctx, spark, graph = self.ctx, self.ctx.spark, self.ctx.graph
        anchors = spark.createDataFrame(
            [(q.qid, e) for q in self.train for e in q.entities],
            "qid bigint, name string")
        gold = spark.createDataFrame(
            [(q.qid, n) for q in self.train for n in q.gold],
            "qid bigint, nodeId bigint")
        info = spark.createDataFrame(
            [(q.qid, q.text, len(q.gold)) for q in self.train],
            "qid bigint, question string, n_answers bigint")
        with tracer.span("patterns.enumerate"):
            sigs = enumerate_paths_batch(graph, anchors, gold=gold)
        # candidate arrays in query-text order, so the export's stable
        # best-query tie-break is deterministic
        cands = sigs.select(
            "qid", F.struct(text_pattern_col().alias("query"),
                            F.col("correctCnt").cast("bigint").alias("hits"),
                            F.col("totalCnt").cast("bigint")
                            .alias("num_results")).alias("c"))
        qa = (cands.groupBy("qid")
              .agg(F.array_sort(F.collect_list("c")).alias("c"))
              .select("qid", F.col("c.query").alias("cypher_queries"),
                      F.col("c.hits").alias("hits"),
                      F.col("c.num_results").alias("num_results"))
              .join(info, "qid"))
        path = os.path.join(ctx.work, "sft", f"rep-{self.reps}")
        self.reps += 1
        with tracer.span("llm.sft_write"):
            write_sft(llm1_sft_table(qa, F.col("n_answers")), path)
        return qa, path

    def best_query_recall(self, qa, tracer) -> float:
        """Mean share of a question's gold answers that its best candidate
        query (the one the export's completion names) reaches."""
        from pyspark.sql import functions as F

        from graphraft_spark.data import sort_parallel_arrays

        best = F.element_at(sort_parallel_arrays(
            F.col("cypher_queries"), F.col("hits"), F.col("num_results")), 1)
        with tracer.span("bench.check"):
            return qa.agg(F.avg(F.least(
                best["hits"] / F.col("n_answers"), F.lit(1.0)))).first()[0]

    def loop(self, seconds: float, tracer) -> Outcome:
        from graphraft_spark.llm.prompts import END_OF_GENERATION

        from perfbench.checks import digest

        ctx, out = self.ctx, Outcome()
        want = ((ctx.expected or {}).get("train_sft") or {}).get("sft")
        recalls = []
        while not out.latencies or out.timed_s < seconds:
            t0 = time.perf_counter()
            try:
                qa, path = self._rep(tracer)
                ok = True
            except Exception:  # noqa: BLE001 - counted, not fatal
                traceback.print_exc()
                ok = False
            out.latencies.append(time.perf_counter() - t0)
            out.attempted += len(self.train)
            if not ok:
                out.failed += len(self.train)
                continue
            # the export as written: read back and check every row
            with tracer.span("bench.check"):
                sft = ctx.spark.read.parquet(path).select(
                    "qid", "completion").collect()
            ctx.counts["llm.sft_rows"] += len(sft)
            ctx.counts["llm.sft_questions"] += len(self.train)
            ctx.counts["llm.sft_bytes"] += sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(path) for f in fs
                if not f.startswith((".", "_")))
            comp = {r["qid"]: r["completion"] for r in sft}
            for q in self.train:
                c = comp.get(q.qid)
                d = digest(c)
                out.digests[str(q.qid)] = d
                good = ((c is None or c.endswith(END_OF_GENERATION))
                        and (want is None or want.get(str(q.qid), d) == d))
                out.failed += 0 if good else 1
            recalls.append(self.best_query_recall(qa, tracer))
        out.recall = statistics.median(recalls) if recalls else None
        return out


class Context:
    """Shared state of one run: session, graph, seams, inputs, counters."""

    def __init__(self, spark, graph, qgraph, work, expected):
        from perfbench.questions import shape_stats

        self.spark = spark
        self.graph = graph
        self.qgraph = qgraph
        self.work = work
        self.expected = expected
        self.shape_stats = shape_stats
        self.seams = Seams(spark.sparkContext)
        self.counts: dict[str, float] = defaultdict(float)
        self.budget_calls: list = []

    def on_match(self, args, kwargs, names) -> None:
        entities = args[2] if len(args) > 2 else kwargs["entities"]
        self.counts["search.entities"] += len(entities)
        self.counts["search.anchors"] += len(names)

    def on_budget(self, args, kwargs, result) -> None:
        self.budget_calls.append((args[0], result))

    def recall(self, evaluated, tracer) -> float | None:
        """Macro recall@20 of gold node ids among retrieved node ids,
        in retrieval order, through the engine's compute_metrics."""
        if not evaluated:
            return None
        from graphraft_spark.metrics.ir_metrics import compute_metrics

        with tracer.span("metrics.score"):
            df = self.spark.createDataFrame(
                [(q.qid, [str(i) for i in ids], [str(g) for g in q.gold])
                 for q, ids in evaluated],
                "qid bigint, preds array<string>, labels array<string>")
            return compute_metrics(df, ["recall@20"]).collect()[0][0]

    def kept_per_input(self, tracer) -> float:
        """Rows kept by the first traced budgeted_accumulate call over the
        rows it was given (counted after the timed loop)."""
        if not self.budget_calls:
            return 0.0
        results, kept = self.budget_calls[0]
        with tracer.span("bench.check"):
            n_in, n_out = results.count(), kept.count()
        return n_out / max(1, n_in)


# ---------------------------------------------------------------- entry point

def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true",
                   help="write this run's digests to expected.json "
                        "(default seed only)")
    return p.parse_args(argv)


def configure(work: str, trace: bool) -> tuple[dict, dict]:
    """Environment and Spark overrides this host forces, plus a fixed
    driver heap so memory reads the same from run to run; everything
    else stays at graphraft_spark.session defaults.  Sets the environment
    overrides in this process and returns (env, conf)."""
    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    env = {
        # the engine default (48g) exceeds this host class's memory
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(_nproc()),
        # Python workers import the engine and the seam wrappers
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        # keep every temporary file inside the checkout
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    # the engine reads SPARK_GRAFT_* when its session module is imported
    os.environ.update(env)
    from graphraft_spark.session import DEFAULT_CONFS

    java_opts = "spark.driver.extraJavaOptions"
    conf = {
        "spark.local.dir": local,
        # commit and touch the whole driver heap at start: G1 otherwise
        # grows it as its GC-time heuristics decide, which moved the
        # JVM's resident memory by 400 MB between runs of the same code
        java_opts: " ".join(filter(None, (
            DEFAULT_CONFS.get(java_opts, ""),
            f"-Xms{DRIVER_MEM}", "-XX:+AlwaysPreTouch"))),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # task metrics are logged once; skip their accumulator copies
            "spark.eventLog.includeTaskMetricsAccumulators": "false",
        })
    return env, conf


def layer_metrics(ctx, stats_all, stats_timed, traced: Outcome,
                  bookkeeping_s: float, trace_mod) -> dict:
    metrics = {}
    units = dict(trace_mod.SPAN_STATS)
    for span in trace_mod.SPANS:
        src = stats_all if span == "graph.ingest" else stats_timed
        s = src.get(span, {})
        for stat, unit in trace_mod.SPAN_STATS:
            metrics[f"{span}.{stat}"] = (float(s.get(stat, 0.0)), units[stat])
    c, seams = ctx.counts, ctx.seams
    q = max(1, traced.attempted)
    calls = seams.rank_calls.value
    engine_jobs = sum(stats_timed.get(s, {}).get("jobs", 0)
                      for s in trace_mod.SPANS if s != "graph.ingest")
    bench_jobs = sum(v.get("jobs", 0) for k, v in stats_timed.items()
                     if k and k.startswith("bench."))
    metrics.update({
        "search.anchors_per_entity": (
            c["search.anchors"] / max(1, c["search.entities"]), "ratio"),
        "patterns.signatures": (
            seams.rank_candidates.value / max(1, calls), "count"),
        "patterns.distinct_specs_per_ranked": (
            traced.counts.get("patterns.distinct_specs_per_ranked", 0.0),
            "ratio"),
        "llm.rank_calls": (calls, "count"),
        "llm.rank_candidates": (seams.rank_candidates.value, "count"),
        "llm.generate_calls": (seams.generate_calls.value, "count"),
        "retrieve.kept_per_input": (traced.counts.get(
            "retrieve.kept_per_input", 0.0), "ratio"),
        "llm.sft_rows_per_question": (
            c["llm.sft_rows"] / max(1, c["llm.sft_questions"]), "ratio"),
        "llm.sft_bytes_written": (c["llm.sft_bytes"], "bytes"),
        "pipeline.jobs_per_question": (engine_jobs / q, "count"),
        "bench.check_jobs": (bench_jobs, "count"),
        "unattributed.jobs": (stats_timed.get(None, {}).get("jobs", 0),
                              "count"),
        "tracing.overhead_ratio": (
            traced.timed_s / max(1e-9, traced.timed_s - bookkeeping_s),
            "ratio"),
    })
    return metrics


def run(args, work: str) -> dict:
    env, conf = configure(work, bool(args.trace))

    from graphraft_spark.graph.tpch import tpch_graph
    from graphraft_spark.session import get_spark

    from perfbench import checks, corpus, questions, trace

    facts = host_facts()
    for k, v in facts.items():
        print(f"# host {k}={v}")
    for k, v in sorted({**env, **conf}.items()):
        print(f"# override {k}={v}")
    tables = corpus.make_tables()
    data_dir = corpus.write_tables(tables, os.path.join(work, "source"))
    qgraph = questions.Graph(tables)
    expected = None if args.record else checks.load_expected(args.seed)

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        sc = spark.sparkContext
        tracer = trace.Tracer(sc, enabled=bool(args.trace))
        t0 = time.perf_counter()
        with tracer.span("graph.ingest"):
            graph = tpch_graph(spark, data_dir)
        ingest_s = time.perf_counter() - t0
        ctx = Context(spark, graph, qgraph, work, expected)
        wl = (OnlineQA if args.workload == "online_qa" else TrainSFT)(
            ctx, args.seed)
        for shape, st in wl.stats.items():
            print(f"# shape {shape} " + " ".join(
                f"{k}={round(v, 4) if isinstance(v, float) else v}"
                for k, v in st.items()))
        setup_s = session_s + ingest_s
        print(f"# setup session_s={session_s:.3f} ingest_s={ingest_s:.3f}")

        rss = PeakRss()
        rss.start()
        if args.trace:
            wl.install_tracing(tracer)
        loop_start = time.time()
        out = wl.loop(args.seconds, tracer)
        peak_mb = rss.stop()
        print("# peak_mb_by_process " + " ".join(
            f"{k}={v / 2**20:.0f}" for k, v in sorted(rss.parts.items())))
        if args.trace:
            out.counts["retrieve.kept_per_input"] = ctx.kept_per_input(tracer)
            tracer.unwrap_all()
    finally:
        shutdown_spark(spark)

    if args.record:
        record(args, out)

    n = out.attempted
    lat_p50 = statistics.median(out.latencies)
    lat_tail, pct = tail(out.latencies)
    print("# latencies_s " + " ".join(f"{x:.3f}" for x in out.latencies))
    print(f"# latency_p50_s samples={len(out.latencies)}")
    print(f"# latency_tail_s percentile={pct:.1f} "
          f"samples={len(out.latencies)}")
    values = {
        "setup_s": setup_s,
        "questions_per_s": n / out.timed_s,
        "latency_p50_s": lat_p50,
        "latency_tail_s": lat_tail,
        "peak_rss_mb": peak_mb,
        "recall_at_20": out.recall if out.recall is not None else 0.0,
    }
    e2e = {k: (values[k], unit) for k, unit in E2E_UNITS.items()}
    if args.trace:
        log = trace.find_event_log(os.path.join(work, "eventlog"))
        stats_all = trace.span_stats(log, tracer.intervals, 0.0)
        stats_timed = trace.span_stats(log, tracer.intervals, loop_start)
        metrics = layer_metrics(ctx, stats_all, stats_timed, out,
                                tracer.bookkeeping_s, trace)
        for k, (v, u) in e2e.items():
            print(f"# end_to_end {k}={v:.6g} {u}")
    else:
        metrics = e2e
    if ctx.seams.violations.value:
        print(f"# ranker returned non-candidates "
              f"{ctx.seams.violations.value} times")
    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def record(args, out: Outcome) -> None:
    from perfbench import checks

    if args.seed != checks.DEFAULT_SEED:
        raise SystemExit("--record is only meaningful for the default seed")
    data = {}
    if os.path.exists(checks.EXPECTED):
        with open(checks.EXPECTED) as fh:
            data = json.load(fh)
    data["seed"] = checks.DEFAULT_SEED
    if args.workload == "online_qa":
        data.setdefault("online_qa", {}).update(out.digests)
    else:
        data["train_sft"] = {"sft": out.digests}
    with open(checks.EXPECTED, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"# recorded {len(out.digests)} digests to {checks.EXPECTED}")


def cleanup(work: str) -> None:
    """Remove this run's work directory and the graph materialization
    that ingesting its source directory left in the checkout."""
    from graphraft_spark.graph.tpch import _materialize_dir

    shutil.rmtree(_materialize_dir(os.path.join(work, "source")),
                  ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    for d in (os.path.join(HERE, ".work"), os.path.join(ROOT, ".graph_cache")):
        try:
            os.rmdir(d)  # only when empty
        except OSError:
            pass


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    sys.path.insert(0, ROOT)
    try:
        import graphraft_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT} "
              f"({exc}); run from the root of a checkout", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        cleanup(work)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
