"""Tracing for the benchmark: spans recorded around each call into a
layer, the post-clock walk of a query's executed plan, the Python
workers' peak RSS, and in-process timings of the Python tier's layers.

Spans live in the benchmark's own files, around the calls it makes into
the engine; nothing here reaches inside the package.
"""

from __future__ import annotations

import os
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Optional


@dataclass
class Span:
    name: str
    start: float  # seconds since the tracer started
    end: float
    parent: Optional[int]  # index of the enclosing span
    qid: str


class Tracer:
    """Spans kept in memory; ``dump()`` hands them out at the end."""

    def __init__(self):
        self.spans: list = []
        self._open: list = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, qid: str):
        parent = self._open[-1] if self._open else None
        s = Span(name, time.perf_counter() - self._t0, 0.0, parent, qid)
        self.spans.append(s)
        self._open.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._open.pop()
            s.end = time.perf_counter() - self._t0

    def dump(self) -> list:
        return [asdict(s) for s in self.spans]


# ---------------------------------------------------------------------------
# Executed-plan walk (after the timed collect has returned)
# ---------------------------------------------------------------------------

# Calls that read a JSON document inside the native tier's plan, with
# their try_ forms.
JSON_READERS = ("get_json_object", "from_json", "parse_json", "variant_get")
_READER_RE = re.compile(r"\b(?:try_)?(?:%s)\(" % "|".join(JSON_READERS))


def _children(node):
    """Physical children, looking through AQE wrappers and query stages."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    if name == "ReusedExchange":
        return [node.child()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def walk_plan(df) -> dict:
    """Read the final AQE executed plan of a collected DataFrame: its
    text size, the JSON readers in it, the output rows of the top
    generator and the Python boundary's SQL metrics.  Reads values the
    query already accumulated; starts no Spark job."""
    plan = df._jdf.queryExecution().executedPlan()
    # the final plan only; the AQE node's own text repeats the initial one
    final = plan.executedPlan() if plan.nodeName() == "AdaptiveSparkPlan" else plan
    text = final.toString()
    nodes = []
    todo = [plan]
    while todo:
        node = todo.pop()
        nodes.append((node.nodeName(), _metrics(node)))
        todo.extend(reversed(_children(node)))
    rec = {
        "plan_chars": len(text),
        "json_readers": len(_READER_RE.findall(text)),
        "rows_out": 0,
        "python_nodes": 0,
        "python_boot_ms": 0.0,
        "python_init_ms": 0.0,
        "python_total_ms": 0.0,
        "data_sent_mb": 0.0,
        "data_returned_mb": 0.0,
    }
    top_gen = None
    for name, m in nodes:  # pre-order: the first generator is the top one
        is_py = "Python" in name
        if top_gen is None and (name == "Generate" or (is_py and "UDTF" in name)):
            top_gen = m.get("numOutputRows", 0)
        if is_py:
            rec["python_nodes"] += 1
            rec["python_boot_ms"] += m.get("pythonBootTime", 0)
            rec["python_init_ms"] += m.get("pythonInitTime", 0)
            rec["python_total_ms"] += m.get("pythonTotalTime", 0)
            rec["data_sent_mb"] += m.get("pythonDataSent", 0) / 2 ** 20
            rec["data_returned_mb"] += m.get("pythonDataReceived", 0) / 2 ** 20
    rec["rows_out"] = top_gen or 0
    rec["nodes"] = [n for n, _ in nodes]
    return rec


# ---------------------------------------------------------------------------
# Python worker memory
# ---------------------------------------------------------------------------


def _descendants(root: int) -> list:
    kids: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % entry) as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def worker_peak_rss_mb(jvm_pid: int) -> float:
    """Largest ``VmHWM`` among the Python processes the Spark JVM
    started (the daemon and its forked workers), in MiB."""
    peak = 0
    for pid in _descendants(jvm_pid):
        try:
            with open("/proc/%d/cmdline" % pid, "rb") as f:
                if b"python" not in f.read():
                    continue
            with open("/proc/%d/status" % pid) as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
                        break
        except OSError:
            continue
    return peak / 1024


# ---------------------------------------------------------------------------
# In-process layer timings on a corpus sample
# ---------------------------------------------------------------------------


def _timed(fn, repeats: int = 3) -> tuple:
    """(median seconds, result) over ``repeats`` calls of ``fn``."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def layer_timings(tracer: Tracer, texts: list, programs: list, compile_set: list) -> dict:
    """Time the Python tier's layers one at a time, by calling them as
    the UDTF does: ``udtf.parse_document``, ``JQProgram.iter`` with
    ``$error`` bound, and ``RowMarshaller.marshal``.  ``compile_set``
    holds (program, decls) pairs not compiled before in this process,
    so ``jq_compile`` and ``compile_native`` both miss their caches."""
    from hive_jq_udtf_spark.jqlib import jq_compile
    from hive_jq_udtf_spark.native import compile_native
    from hive_jq_udtf_spark.udtf import compile_query, parse_document

    jq_s = nat_s = 0.0
    accepted = 0
    with tracer.span("compile", "layers"):
        for text, decls in compile_set:
            t0 = time.perf_counter()
            jq_compile(text)
            t1 = time.perf_counter()
            accepted += compile_native(text, tuple(decls)) is not None
            nat_s += time.perf_counter() - t1
            jq_s += t1 - t0

    with tracer.span("parse", "layers"):
        parse_s, parsed = _timed(lambda: [parse_document(t) for t in texts])

    eval_s = marshal_s = 0.0
    rows = 0
    for text, decls in programs:
        prog, marshaller = compile_query(text, tuple(decls))
        with tracer.span("eval", "layers"):
            t, results = _timed(lambda: [list(prog.iter(doc, vars={"error": err}))
                                         for doc, err in parsed])
            eval_s += t
        flat = [r for rs in results for r in rs]
        rows += len(flat)
        with tracer.span("marshal", "layers"):
            marshal_s += _timed(lambda: [marshaller.marshal(r) for r in flat])[0]

    n = len(texts) * len(programs)
    return {
        "udtf.parse_us_per_doc": parse_s / len(texts) * 1e6,
        "jqlib.eval_us_per_doc": eval_s / n * 1e6,
        "jqlib.outputs_per_doc": rows / n,
        "jqlib.compile_ms": jq_s / len(compile_set) * 1e3,
        "marshal.us_per_row": marshal_s / max(rows, 1) * 1e6,
        "native.compile_ms": nat_s / len(compile_set) * 1e3,
        "native.accept_ratio": accepted / len(compile_set),
    }
