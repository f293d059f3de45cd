"""Measurement from outside the engine: Spark plan metrics, kernel spans,
process memory.

- ``PlanRecorder`` registers a JVM ``QueryExecutionListener`` (through the
  py4j callback server) and, after a job, walks the executed plan of every
  SQL execution the job ran — including the writes and lineage queries
  inside ``run_checkpointed_build`` — summing Spark's own SQL metrics.
- ``KernelTracer`` wraps the per-document kernel functions as
  ``operators.tagger`` looks them up, in the driver process only, and
  records one span per call (name, start, end, parent, doc).
- ``RssProbe`` reads ``VmHWM`` from ``/proc`` for the driver JVM and its
  Python worker processes.
"""

from __future__ import annotations

import os
import threading
import time
from collections import Counter


# --- Spark executed-plan metrics ----------------------------------------

class _Listener:
    """JVM-side ``QueryExecutionListener``; keeps each successful query."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.done: list = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM API)
        with self.lock:
            self.done.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (JVM API)
        pass  # a failed query has no executed plan to read

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


_PY_METRICS = {
    "pythonDataSent": "arrow_udf.data_sent_mb",
    "pythonDataReceived": "arrow_udf.data_received_mb",
    "pythonNumRowsReceived": "arrow_udf.rows_received",
    "pythonTotalTime": "arrow_udf.python_total_s",
    "pythonBootTime": "arrow_udf.python_boot_s",
    "pythonInitTime": "arrow_udf.python_init_s",
}
# every plan metric ``collect`` reports, 0 when the job has no such node
PLAN_KEYS = (
    "plan.lambdafunctions", "plan.exchanges", "plan.joins", "plan.sort_aggregates",
    "plan.arrow_eval_python", "exchange.shuffle_mb", "exchange.shuffle_records",
    "sources.scan_rows", "sources.scan_mb", *_PY_METRICS.values(),
)
_JOINS = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")


def _metric(node, key: str):
    """One SQL metric of a plan node, sizes in MB and times in s; None
    when the node has no such metric."""
    metrics = node.metrics()
    if not metrics.contains(key):
        return None
    m = metrics.apply(key)
    value, kind = m.value(), m.metricType()
    if kind == "size":
        return value / 1e6
    if kind == "timing":
        return value / 1e3
    if kind == "nsTiming":
        return value / 1e9
    return value


class PlanRecorder:
    """Sums plan-shape counts and SQL metrics over a job's executions."""

    def __init__(self, spark, docs_dir: str) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.docs_dir = docs_dir
        gw = spark.sparkContext._gateway
        ensure_callback_server_started(gw)
        self._listener = _Listener()
        self._jmanager = spark._jsparkSession.listenerManager()
        self._jmanager.register(self._listener)

    def close(self) -> None:
        self._jmanager.unregister(self._listener)

    def reset(self) -> None:
        self._drain()
        with self._listener.lock:
            self._listener.done.clear()

    def _drain(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def collect(self) -> dict:
        """Metrics of every execution finished since the last reset."""
        self._drain()
        with self._listener.lock:
            done, self._listener.done = self._listener.done, []
        out: Counter = Counter(dict.fromkeys(PLAN_KEYS, 0))
        for qe in done:
            self._walk(qe.executedPlan(), out)
        return dict(out)

    def _walk(self, node, out: Counter) -> None:
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            self._walk(node.executedPlan(), out)
            return
        if name.endswith("QueryStage"):
            self._walk(node.plan(), out)
            return
        if name == "ReusedExchange":
            return  # its work is counted where the exchange first ran
        desc = node.simpleString(100000)
        out["plan.lambdafunctions"] += desc.count("lambdafunction(")
        if name == "Exchange":
            out["plan.exchanges"] += 1
            out["exchange.shuffle_mb"] += _metric(node, "shuffleBytesWritten") or 0
            out["exchange.shuffle_records"] += _metric(node, "shuffleRecordsWritten") or 0
        elif name in _JOINS:
            out["plan.joins"] += 1
        elif name == "SortAggregate":
            out["plan.sort_aggregates"] += 1
        elif name == "ArrowEvalPython":
            out["plan.arrow_eval_python"] += 1
            for key, metric in _PY_METRICS.items():
                value = _metric(node, key)
                if value is None:
                    raise KeyError(f"ArrowEvalPython has no SQL metric {key!r} in this Spark")
                out[metric] += value
        elif name.startswith("Scan") and self.docs_dir in desc:
            out["sources.scan_rows"] += _metric(node, "numOutputRows") or 0
            out["sources.scan_mb"] += _metric(node, "filesSize") or 0
        children = node.children()
        for i in range(children.size()):
            self._walk(children.apply(i), out)


# --- kernel spans (driver-side replay) -------------------------------------

# (metric prefix, attribute on operators.tagger)
KERNEL_FUNCS = (
    ("textnorm.clean_linebreaks", "clean_linebreaks"),
    ("tokenizer.tokenize_raw", "tokenize_raw"),
    ("sentencizer.sentence_token_spans", "sentence_token_spans"),
    ("textnorm.normalize_text", "normalize_text"),
    ("lemmas.lemmatize_tokens", "lemmatize_tokens"),
)

SPAN_NAMES = (
    "tagger.process_document", "automaton.find_all", *(name for name, _attr in KERNEL_FUNCS)
)


class KernelTracer:
    """Spans around the kernel calls of ``tagger.process_document``.

    Use as a context manager: while active, the functions named in
    ``KERNEL_FUNCS`` and ``TokenAutomaton.find_all`` are wrapped where
    ``operators.tagger`` looks them up; on exit the originals are back.
    """

    def __init__(self) -> None:
        from dss_plugin_nlp_analysis_spark.operators import automaton, tagger

        self._tagger = tagger
        self._automaton_cls = automaton.TokenAutomaton
        self.spans: list[list] = []  # [name, start, end, parent, doc]
        self._stack: list[int] = []
        self.doc = None
        self.counts: Counter = Counter()
        self._saved: list[tuple] = []

    def _wrap(self, name: str, fn, on_result):
        spans, stack, perf = self.spans, self._stack, time.perf_counter

        def traced(*args, **kwargs):
            idx = len(spans)
            spans.append([name, 0.0, 0.0, stack[-1] if stack else -1, self.doc])
            stack.append(idx)
            t0 = perf()
            try:
                return_value = fn(*args, **kwargs)
            finally:
                t1 = perf()
                stack.pop()
                spans[idx][1] = t0
                spans[idx][2] = t1
            if on_result is not None:
                on_result(args, return_value)
            return return_value

        return traced

    def _on_tokens(self, args, toks) -> None:
        self.counts["tokenizer.calls"] += 1
        self.counts["tokenizer.tokens"] += len(toks)

    def _on_norm(self, args, norm) -> None:
        self.counts["textnorm.sentences"] += 1
        self.counts["textnorm.identity"] += norm == args[0]

    def _on_probe(self, args, hits) -> None:
        self.counts["automaton.probes"] += 1
        self.counts["automaton.hit_probes"] += bool(hits)

    def __enter__(self) -> "KernelTracer":
        hooks = {"tokenize_raw": self._on_tokens, "normalize_text": self._on_norm}
        for name, attr in KERNEL_FUNCS:
            fn = getattr(self._tagger, attr)
            self._saved.append((self._tagger, attr, fn))
            setattr(self._tagger, attr, self._wrap(name, fn, hooks.get(attr)))
        fn = self._automaton_cls.find_all
        self._saved.append((self._automaton_cls, "find_all", fn))
        self._automaton_cls.find_all = self._wrap("automaton.find_all", fn, self._on_probe)
        self.process_document = self._wrap(
            "tagger.process_document", self._tagger.process_document, None
        )
        return self

    def __exit__(self, *exc) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()

    def self_times(self) -> dict[str, float]:
        """Per-name self time: span duration minus its children's."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, _doc in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = dict.fromkeys(SPAN_NAMES, 0.0)
        for i, (name, t0, t1, _parent, _doc) in enumerate(self.spans):
            out[name] += (t1 - t0) - child[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            f.write("name\tstart_s\tend_s\tparent\tdoc\n")
            for name, t0, t1, parent, doc in self.spans:
                f.write(f"{name}\t{t0:.9f}\t{t1:.9f}\t{parent}\t{doc}\n")


# --- memory -------------------------------------------------------------------

def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(root: int) -> list[int]:
    """All live descendants of ``root`` (from ``/proc/<pid>/stat``)."""
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        parent_of[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        kids = [c for c, p in parent_of.items() if p == pid]
        out.extend(kids)
        frontier.extend(kids)
    return out


class RssProbe:
    """Peak resident memory of the driver JVM plus its Python workers.

    Workers come and go, so ``sample()`` after each job keeps each pid's
    highest ``VmHWM``. A new session starts new workers: ``new_session()``
    closes the current set, and ``peak_mb()`` is the JVM's ``VmHWM`` plus
    the largest per-session worker total.
    """

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.workers: dict[int, int] = {}
        self.worker_peak_kb = 0

    def sample(self) -> None:
        for pid in _children(self.jvm_pid):
            hwm = _status_kb(pid, "VmHWM")
            if hwm:
                self.workers[pid] = max(self.workers.get(pid, 0), hwm)
        self.worker_peak_kb = max(self.worker_peak_kb, sum(self.workers.values()))

    def new_session(self) -> None:
        self.workers = {}

    def peak_mb(self) -> float:
        return (_status_kb(self.jvm_pid, "VmHWM") + self.worker_peak_kb) / 1024
