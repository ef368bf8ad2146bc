"""Spans for the traced run: recording, self time, per-layer totals.

A span is ``(span_id, parent_id, turn_id, name, start_ns, end_ns)``.
Driver spans are recorded by :class:`Tracer` around the benchmark's
calls into the program; worker spans are recorded by
``perfbench.tracedaemon`` around the calls ``extract_article`` makes
and written to one file per Python worker process.

A span's self time is its duration minus the part of its interval
that its child spans cover (overlapping children count once).
"""
from __future__ import annotations

import glob
import itertools
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# names ``newspaper_spark.kernel.article`` calls → the layer they belong to
KERNEL_CALLS = {
    "fromstring": "dom.parse",
    "MetaIndex": "kernel.metadata",
    "get_title": "kernel.metadata",
    "get_authors": "kernel.metadata",
    "get_meta_lang": "kernel.metadata",
    "get_favicon": "kernel.metadata",
    "get_meta_site_name": "kernel.metadata",
    "get_meta_description": "kernel.metadata",
    "get_canonical_link": "kernel.metadata",
    "extract_tags": "kernel.metadata",
    "get_meta_keywords": "kernel.metadata",
    "get_meta_type": "kernel.metadata",
    "get_meta_data": "kernel.metadata",
    "get_publishing_date": "kernel.metadata",
    "get_meta_img_url": "kernel.metadata",
    "get_img_urls": "kernel.metadata",
    "get_movies": "kernel.metadata",
    "get_first_img_url": "kernel.metadata",
    "clean_document": "kernel.cleaner",
    "calculate_best_node": "kernel.scorer",
    "post_cleanup": "kernel.scorer",
    "get_formatted": "kernel.formatter",
}
# ``extract_article`` imports this one inside its body, from urlutils
URLUTILS_CALLS = {"extract_meta_refresh": "kernel.metadata"}
ARTICLE = "kernel.article"  # the extract_article span, one per turn
PYTHON = "worker.python"  # a task's Python work, one per task
BATCH = "udf.batch"  # one _extract_batch call: the pandas UDF body

SPAN_FILE_GLOB = "spans-*.tsv"


def self_times(spans) -> dict:
    """span_id → self time in ns: duration minus the union of the
    children's intervals, clipped to the parent's interval."""
    children = defaultdict(list)
    for s in spans:
        children[s[1]].append(s)
    out = {}
    for sid, _parent, _turn, _name, t0, t1 in spans:
        covered, cur_start, cur_end = 0, None, None
        for c in sorted(children.get(sid, ()), key=lambda c: c[4]):
            a, b = max(c[4], t0), min(c[5], t1)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[sid] = (t1 - t0) - covered
    return out


def layer_self_seconds(spans) -> dict:
    """layer name → summed self time in seconds."""
    st = self_times(spans)
    out = defaultdict(float)
    for s in spans:
        out[s[3]] += st[s[0]] / 1e9
    return dict(out)


def read_worker_spans(trace_dir: str) -> list:
    """All spans the traced workers wrote, with ids made unique by
    the worker's pid (the file name)."""
    spans = []
    for path in sorted(glob.glob(os.path.join(trace_dir, SPAN_FILE_GLOB))):
        pid = os.path.basename(path)[len("spans-") : -len(".tsv")]
        with open(path) as f:
            for line in f:
                sid, parent, turn, name, t0, t1 = line.rstrip("\n").split("\t")
                spans.append(
                    (
                        f"{pid}.{sid}",
                        f"{pid}.{parent}" if parent != "-" else None,
                        f"{pid}.{turn}" if turn != "-" else None,
                        name,
                        int(t0),
                        int(t1),
                    )
                )
    return spans


class Tracer:
    """Driver-side spans, kept in memory. A tracer starts disabled; a
    disabled tracer records nothing and costs one branch per span."""

    def __init__(self):
        self.enabled = False
        self.spans: list = []
        self._stack: list = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, turn=None):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter_ns()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append((sid, parent, turn, name, t0, time.perf_counter_ns()))

    def total_seconds(self, name: str) -> float:
        return sum(s[5] - s[4] for s in self.spans if s[3] == name) / 1e9
