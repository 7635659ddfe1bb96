"""Runs one workload of the jq-engine benchmark: Spark set-up, the timed
closed loop and the check of every result against the generator's
expectations.  The engine is reached only through its public entry
points: ``jq_explode``, SQL ``LATERAL jq(...)`` after ``udtf.register``,
and, for the traced layer timings, the calls in ``trace.layer_timings``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

from . import corpus as C
from .trace import Tracer, layer_timings, walk_plan, worker_peak_rss_mb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".jqbench_work")

# One client thread against local[k], k <= nproc.
CORES = max(1, min(2, os.cpu_count() or 1))
ETL_DOCS = 20_000
ADHOC_DOCS = 4_000
COLD_DOCS = 512  # the small table of the set-up's cold queries
LAYER_DOCS = 2_000  # the corpus sample of the in-process layer timings
SETUP_ROUNDS = 3
BUILD_PROBES = 3  # native builds timed after the loop when no query was native
FILES = 8  # parquet files per corpus: one input partition each


@dataclass(frozen=True)
class Program:
    tier: str  # "native" or "python": where jq_explode must run it
    text: str
    decls: tuple

    @property
    def mode(self) -> str:
        return "require" if self.tier == "native" else "never"


NATIVE = Program("native", C.NATIVE_PROGRAM, C.NATIVE_DECLS)
PYTHON = Program("python", C.PYTHON_PROGRAM, C.PYTHON_DECLS)
DIRTY = Program("python", C.DIRTY_PROGRAM, C.DIRTY_DECLS)

# name -> (dirty corpus?, programs run on each pass)
ETL = {
    "etl_native": (False, (NATIVE,)),
    "etl_python": (False, (PYTHON,)),
    "etl_dirty": (True, (NATIVE, DIRTY)),
}
WORKLOADS = tuple(ETL) + ("adhoc_mixed",)


def expected(prog: Program, docs: list) -> tuple:
    if prog is NATIVE:
        return C.expect_native(docs)
    return C.expect_python(docs, substitute=prog is DIRTY)


def _crc(col: str):
    from pyspark.sql import functions as F

    return F.sum(F.crc32(F.col(col).cast("binary")))


def etl_query(df, prog: Program):
    """``prog`` over ``df`` through ``jq_explode``, then the small
    aggregate that ``corpus.expect_*`` predicts."""
    from pyspark.sql import functions as F

    from hive_jq_udtf_spark.udtf import jq_explode

    out = jq_explode(df, "json", prog.text, *prog.decls, native=prog.mode)
    if prog is NATIVE:
        return out.agg(F.count(F.lit(1)), F.sum("qty"), _crc("sku"),
                       F.sum(F.round(F.col("price") * 100).cast("long")))
    return out.agg(F.count(F.lit(1)),
                   F.sum(F.round(F.col("amt") * 100).cast("long")), _crc("sku"))


def adhoc_query(spark, table, q: C.Query):
    from pyspark.sql import functions as F

    from hive_jq_udtf_spark.udtf import jq_explode

    if q.sql:
        lit = "'%s'" % q.program.replace("\\", "\\\\").replace("'", "\\'")
        decls = ", ".join("'%s'" % d for d in C.ADHOC_DECLS)
        return spark.sql(
            "SELECT count(1), sum(t.n), sum(crc32(cast(t.s AS binary))) "
            "FROM adhoc_docs, LATERAL jq(adhoc_docs.json, %s, %s) t" % (lit, decls))
    out = jq_explode(table, "json", q.program, *C.ADHOC_DECLS, native="auto")
    return out.agg(F.count(F.lit(1)), F.sum("n"), _crc("s"))


def _write_corpus(name: str, docs: list, files: int) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(WORK, "corpus", name)
    os.makedirs(path)
    texts = [d.text for d in docs]
    step = -(-len(texts) // files)
    for i in range(files):
        pq.write_table(pa.table({"json": pa.array(texts[i * step:(i + 1) * step],
                                                  pa.string())}),
                       os.path.join(path, "part-%d.parquet" % i))
    return path


def _session():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[%d]" % CORES)
        .appName("jqbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        # the JVM keeps its perf-data and temporary files out of the system temp dir
        .config("spark.driver.extraJavaOptions",
                "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(WORK, "tmp"))
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # one input partition per corpus file (files are ~1 MB)
        .config("spark.sql.files.openCostInBytes", "1")
        .config("spark.sql.files.maxPartitionBytes", str(4 << 20))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _prepare_env() -> None:
    """Python workers import the engine from the checkout; every
    temporary file Spark or the workers write stays under ``WORK``."""
    for sub in ("corpus", "tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # takes precedence over spark.local.dir when set by the environment
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


def _stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it; it exits when its
    stdin closes, and its Python workers end with it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def tail(latencies: list) -> tuple:
    """(value, label): the highest percentile with at least ten samples
    beyond it; the maximum when there are fewer than eleven samples."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 11:
        return xs[-1], "max"
    return xs[n - 11], "p%d" % (100 * (n - 10) // n)


class Run:
    """One invocation: ``--workload --seed --seconds --trace``."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.tracer = Tracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list = []
        self.rss_mb = 0.0
        self.records: list = []
        self.query_log: list = []  # (qid, seconds) of every query after set-up

    # -- inputs ------------------------------------------------------------

    def make_inputs(self) -> None:
        if self.workload == "adhoc_mixed":
            self.docs = C.make_docs(self.seed, ADHOC_DOCS)
            self.programs = ()
            self.stream = C.QueryStream(self.seed, self.docs)
        else:
            dirty, self.programs = ETL[self.workload]
            self.docs = C.make_docs(self.seed, ETL_DOCS, dirty=dirty)
            self.expect = {p: expected(p, self.docs) for p in self.programs}
        self.corpus_path = _write_corpus("main", self.docs, FILES)
        head = self.docs[:COLD_DOCS]
        # one file per task slot: the last set-up round starts every
        # Python worker the timed loop uses, so no warm-up pass is needed
        self.cold_path = _write_corpus("cold", head, CORES)
        dirty = self.workload == "etl_dirty"
        self.cold = [(p, expected(p, head)) for p in (NATIVE, DIRTY if dirty else PYTHON)]

    # -- set-up --------------------------------------------------------------

    def setup_round(self) -> float:
        """One set-up on a new SparkContext; returns its seconds.  The
        first round also launches the JVM and is the only cold one: later
        rounds reuse the JVM's loaded classes and codegen cache and the
        driver's compile caches."""
        from hive_jq_udtf_spark import udtf

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = _session()
        udtf.register(self.spark)
        self.table = self.spark.read.parquet(self.corpus_path)
        self.table.createOrReplaceTempView("adhoc_docs")
        cold = self.spark.read.parquet(self.cold_path)
        for prog, want in self.cold:
            self._check("cold:" + prog.tier, etl_query(cold, prog).collect(), want)
        return time.perf_counter() - t0

    # -- the timed loop --------------------------------------------------------

    def _check(self, what: str, rows: list, want: tuple) -> None:
        got = tuple(0 if v is None else v for v in rows[0])
        self.attempted += 1
        if got != tuple(want):
            self.failed += 1
            self.failures.append("%s: got %s, expected %s" % (what, got, want))

    def _query(self, qid: str, build, want: tuple, traced: bool, native: bool) -> float:
        """Issue one query and wait for its collected result.  Returns the
        seconds from issue to result; the check, the RSS probe and, when
        traced, the plan walk happen after the clock stops."""
        sc = self.spark.sparkContext
        if not traced:
            t0 = time.perf_counter()
            try:
                rows = build().collect()
            except Exception as ex:  # a failed query is counted, not fatal
                rows, err = None, ex
            lat = time.perf_counter() - t0
        else:
            sc.setJobGroup(qid, qid)
            t0 = time.perf_counter()
            try:
                with self.tracer.span("query", qid):
                    with self.tracer.span("build", qid):
                        df = build()
                    with self.tracer.span("plan", qid):
                        df._jdf.queryExecution().executedPlan()
                    with self.tracer.span("exec", qid):
                        rows = df.collect()
            except Exception as ex:
                rows, err = None, ex
            lat = time.perf_counter() - t0
        self.query_log.append((qid, lat))
        if rows is None:
            self.attempted += 1
            self.failed += 1
            self.failures.append("%s raised %s: %s" % (qid, type(err).__name__, err))
        else:
            self._check(qid, rows, want)
        self.rss_mb = max(self.rss_mb, worker_peak_rss_mb(sc._gateway.proc.pid))
        if traced and rows is not None:
            with self.tracer.span("metrics_walk", qid):
                rec = walk_plan(df)
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(qid))
            rec["qid"], rec["native"] = qid, native
            rec.update(self._span_ms(qid))
            self.records.append(rec)
        return lat

    def _span_ms(self, qid: str) -> dict:
        return {s.name + "_ms": (s.end - s.start) * 1e3
                for s in self.tracer.spans if s.qid == qid}

    def _op(self, tag: str, traced: bool) -> float:
        """One operation of the closed loop: a pass of every program over
        the corpus (ETL) or the stream's next query (ad hoc)."""
        if self.workload == "adhoc_mixed":
            q = self.stream.next()
            qid = "%s-q%d-%s%s" % (tag, q.qid, q.template, "-sql" if q.sql else "")
            return self._query(qid, lambda: adhoc_query(self.spark, self.table, q),
                               q.expect, traced, q.native and not q.sql)
        return sum(self._query("%s-%s" % (tag, prog.tier), lambda: etl_query(self.table, prog),
                               self.expect[prog], traced, prog.tier == "native")
                   for prog in self.programs)

    def measure(self, lats: dict, seconds: float) -> None:
        """One stretch of the closed loop: operations for ``seconds`` and
        at least one, appended to ``lats[traced]``.  In a traced run every
        other operation is traced, so both kinds see the same host load;
        the difference of their medians is the tracing overhead.  A traced
        run goes on until it has one operation of each kind."""
        start = time.perf_counter()
        first = True
        while (first or time.perf_counter() - start < seconds
               or (self.traced and not lats[True])):
            n = len(lats[False]) + len(lats[True])
            traced = self.traced and n % 2 == 1
            lats[traced].append(self._op("op%d" % n, traced))
            first = False

    # -- metrics -------------------------------------------------------------

    def end_to_end(self, setup_times: list, lats: list) -> dict:
        t, label = tail(lats)
        docs = ADHOC_DOCS if self.workload == "adhoc_mixed" else ETL_DOCS
        return {
            "setup_s": statistics.median(setup_times),
            "cold_start_s": setup_times[0],
            # the median operation: a burst of host load that slows one
            # operation moves a mean, not the median
            "docs_per_s": docs / statistics.median(lats),
            "query_p50_s": statistics.median(lats),
            "query_tail_s": t,
            "worker_rss_mb": self.rss_mb,
            "_tail_label": "%s of %d" % (label, len(lats)),
        }

    def per_layer(self, untraced: list, traced: list) -> dict:
        """Every per-layer metric that applies to the workload; one that
        does not (no query of its kind ran) is None, not 0."""
        recs = self.records

        def mean(key, only=None):
            xs = [r[key] for r in recs if only is None or r["native"] == only]
            return statistics.fmean(xs) if xs else None

        def med(key, only=None):
            xs = [r[key] for r in recs if only is None or r["native"] == only]
            return statistics.median(xs) if xs else None

        def per_op(v):  # per operation: summed over an operation's queries
            return None if v is None else v * len(recs) / len(traced)

        builds = [r["build_ms"] for r in recs if r["native"]] or self.build_probe()
        out = dict(self.layers)
        out.update({
            "native.build_ms": statistics.median(builds),
            # plan sizes and generated rows per pass (ETL) or per query (ad hoc)
            "spark.plan_chars": per_op(mean("plan_chars")),
            "spark.json_readers": per_op(mean("json_readers")),
            "spark.plan_ms": med("plan_ms"),
            "spark.exec_ms": med("exec_ms"),
            "spark.jobs_per_query": mean("jobs"),
            "spark.metrics_walk_ms": med("metrics_walk_ms"),
            "generate.rows_out": per_op(mean("rows_out")),
            "arrow.python_boot_ms": mean("python_boot_ms", False),
            "arrow.python_init_ms": mean("python_init_ms", False),
            "arrow.python_total_ms": mean("python_total_ms", False),
            "arrow.data_sent_mb": mean("data_sent_mb", False),
            "arrow.data_returned_mb": mean("data_returned_mb", False),
            "trace.overhead_pct": 100 * (statistics.median(traced)
                                         / statistics.median(untraced) - 1),
        })
        return out

    def build_probe(self) -> list:
        """ms of BUILD_PROBES ``jq_explode`` calls of the native ETL
        program over the table, none executed: ``native.build_ms`` on a
        workload whose traced queries held no native one."""
        from hive_jq_udtf_spark.udtf import jq_explode

        times = []
        for i in range(BUILD_PROBES):
            with self.tracer.span("build", "probe%d-native" % i) as s:
                jq_explode(self.table, "json", NATIVE.text, *NATIVE.decls, native="require")
            times.append((s.end - s.start) * 1e3)
        return times

    def layer_inputs(self):
        """(texts, programs, compile_set) for ``trace.layer_timings``."""
        texts = [d.text for d in self.docs[:LAYER_DOCS]]
        pairs = [(p.text, p.decls) for p in self.programs]
        # four distinct fresh instances of each ad-hoc template, on every
        # workload, so the compile timings cover half native-compilable
        # programs; on adhoc_mixed the first instance of each is evaluated
        fresh = C.fresh_programs(self.seed * 31 + 7, 4, exclude=pairs)
        if self.workload == "adhoc_mixed":
            return texts, fresh[:len(C.TEMPLATES)], fresh
        programs = [x for x, p in zip(pairs, self.programs) if p.tier == "python"]
        return texts, programs or pairs, pairs + fresh

    # -- entry point -------------------------------------------------------------

    def run(self) -> dict:
        _prepare_env()
        self.make_inputs()
        try:
            return self._run()
        finally:
            if self.spark is not None:
                self.spark.stop()
                _stop_jvm()

    def _run(self) -> dict:
        if self.traced:
            # first, so every program in the compile set is new to the process
            self.layers = layer_timings(self.tracer, *self.layer_inputs())
        # The timed window is split in one stretch after each set-up
        # round, so a run samples the host's speed over most of its
        # length instead of over its last seconds.
        setup_times, lats = [], {False: [], True: []}
        for i in range(SETUP_ROUNDS):
            setup_times.append(self.setup_round())
            if i == 0:
                # One untimed operation on the whole corpus first: the
                # first native pass, still being compiled by the JIT,
                # takes about 1.5x a later one.
                self._op("warmup", False)
            self.measure(lats, self.seconds / SETUP_ROUNDS)
        out = {"setup_rounds_s": setup_times,
               "end_to_end": self.end_to_end(setup_times, lats[False]),
               "latencies": lats[False]}
        if self.traced:
            out["per_layer"] = self.per_layer(lats[False], lats[True])
            out["queries"] = self.records
            out["spans"] = self.tracer.dump()
        out["query_log"] = self.query_log
        out["attempted"], out["failed"] = self.attempted, self.failed
        out["failures"] = self.failures[:20]
        return out
