"""Python daemon for the traced run.

Spark starts it in place of ``pyspark.daemon`` when the session sets
``spark.python.daemon.module=perfbench.tracedaemon``. Before the
daemon forks its workers it wraps, inside
``newspaper_spark.kernel.article``, every name ``extract_article``
calls, ``extract_article`` itself and the pandas UDF body
(``_extract_batch``), and it times each task's Python work: from the
task's first bytes reaching the worker to its ``report_times`` call,
the interval Spark's own "time to run Python workers" metric covers.
The forked workers inherit the wrappers.

Spans are kept in memory and appended to ``spans-<pid>.tsv`` in
``$PERFBENCH_TRACE_DIR`` when each task ends. Tracing is on for a task
only if the file ``on`` exists in that directory when the task's first
bytes arrive, so one session can time traced and untraced iterations
side by side.
"""
from __future__ import annotations

import itertools
import os
import time

from perfbench import trace

_on = False
_spans: list = []
_stack: list = []
_turn = [None]
_ids = itertools.count()


def _wrap(fn, name: str, starts_turn: bool = False):
    def traced(*args, **kwargs):
        if not _on:
            return fn(*args, **kwargs)
        sid = next(_ids)
        parent = _stack[-1] if _stack else None
        if starts_turn:
            _turn[0] = sid
        _stack.append(sid)
        t0 = time.perf_counter_ns()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter_ns()
            _stack.pop()
            _spans.append((sid, parent, _turn[0], name, t0, t1))

    return traced


def _flush(trace_dir: str) -> None:
    if not _spans:
        return
    lines = "".join(
        f"{sid}\t{'-' if parent is None else parent}\t"
        f"{'-' if turn is None else turn}\t{name}\t{t0}\t{t1}\n"
        for sid, parent, turn, name, t0, t1 in _spans
    )
    with open(os.path.join(trace_dir, f"spans-{os.getpid()}.tsv"), "a") as f:
        f.write(lines)
    _spans.clear()


def install(trace_dir: str) -> None:
    import pyspark.daemon as daemon
    import pyspark.worker as worker
    from newspaper_spark.kernel import article, urlutils
    from newspaper_spark.operators import extract

    for name, layer in trace.KERNEL_CALLS.items():
        setattr(article, name, _wrap(getattr(article, name), layer))
    for name, layer in trace.URLUTILS_CALLS.items():
        setattr(urlutils, name, _wrap(getattr(urlutils, name), layer))
    article.extract_article = _wrap(
        article.extract_article, trace.ARTICLE, starts_turn=True
    )
    extract._extract_batch = _wrap(extract._extract_batch, trace.BATCH)

    task_main = daemon.worker_main
    read_int = worker.read_int
    report_times = worker.report_times
    flag = os.path.join(trace_dir, "on")
    task = {"waiting": False, "start": 0}

    def worker_main(infile, outfile):
        # a reused worker enters main() while idle and blocks on its
        # first read until the next task arrives
        task["waiting"] = True
        try:
            return task_main(infile, outfile)
        finally:
            _flush(trace_dir)

    def traced_read_int(stream):
        global _on
        value = read_int(stream)
        if task["waiting"]:  # the task's first bytes: it starts now
            task["waiting"] = False
            task["start"] = time.perf_counter_ns()
            _on = os.path.exists(flag)
        return value

    def traced_report_times(outfile, boot, init, finish):
        # main() reports its times once the task's rows are processed:
        # the interval Spark's "time to run Python workers" covers
        if _on:
            _spans.append((next(_ids), None, None, trace.PYTHON,
                           task["start"], time.perf_counter_ns()))
        return report_times(outfile, boot, init, finish)

    worker.read_int = traced_read_int
    worker.report_times = traced_report_times
    daemon.worker_main = worker_main


if __name__ == "__main__":
    import pyspark.daemon

    install(os.environ["PERFBENCH_TRACE_DIR"])
    pyspark.daemon.manager()
