"""The benchmark's tracer, off by default.

Everything here wraps the program from outside; nothing inside it changes.

* Spans (name, start, end, parent, request id) are kept in memory and
  written out once, when the run ends.  A span's self time is its duration
  minus the time its child spans cover.  Each thread keeps its own span
  stack, so writes the program issues from its own thread pools become
  root spans instead of corrupting the caller's nesting.
* Spark work is attributed per call by the job-id watermark: every job with
  an id between the marks taken before and after the call belongs to it
  (one client, so nothing else submits jobs).  This also catches jobs the
  program submits from its thread pools, which do not inherit the caller's
  job group.  Job, stage and task counts and executor run/CPU time,
  shuffle-write and spill bytes come from the status store, which works
  with ``spark.ui.enabled=false``.
* py4j round trips are counted by wrapping the gateway client's
  ``send_command``.
* Driver-side kernel calls (``operators.wand`` scorers,
  ``TermList.decode_block``, ``codec.varint_decode``), the term-stats memo,
  the staleness check and searcher refreshes are wrapped to time them and
  count their work.  Executors run their own, unwrapped copies.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
import weakref
from collections import Counter, defaultdict

_KERNELS = ("score_topk", "score_phrase", "score_boolean", "score_mixed")


class SparkWork:
    """Counts for the Spark jobs one call ran (filled when its block ends)."""

    __slots__ = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "shuffle_write_bytes", "spill_bytes", "job_ms")

    def __init__(self):
        self.jobs = self.stages = self.tasks = 0
        self.run_ms = self.cpu_ms = self.job_ms = 0.0
        self.shuffle_write_bytes = self.spill_bytes = 0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[tuple[str, float, float, int | None, str | None]] = []
        self.counts: Counter = Counter()
        self.touched: dict[int, weakref.ref] = {}
        self._local = threading.local()
        self._req: str | None = None
        self._undo: list = []

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def request(self, req_id: str):
        """Tag the spans and Spark jobs of one request."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._req = req_id
        sc.setJobGroup(req_id, req_id)
        try:
            yield
        finally:
            self._req = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0, stack[-1] if stack else None, self._req))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            n, s, _e, p, r = self.spans[idx]
            self.spans[idx] = (n, s, time.perf_counter(), p, r)

    def spans_since(self, first: int, prefix: str) -> list[tuple[str, float]]:
        """(name, seconds) of the spans opened since index ``first`` whose
        name starts with ``prefix``."""
        return [(n, e - s) for n, s, e, _p, _r in self.spans[first:] if n.startswith(prefix)]

    def self_times(self) -> dict[str, float]:
        """Total self time (s) per span name."""
        child: dict[int, float] = defaultdict(float)
        for _n, s, e, p, _r in self.spans:
            if p is not None:
                child[p] += e - s
        out: dict[str, float] = defaultdict(float)
        for i, (n, s, e, _p, _r) in enumerate(self.spans):
            out[n.split(":", 1)[0]] += (e - s) - child[i]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({
                "spans": [{"name": n, "start": s, "end": e, "parent": p, "request": r}
                          for n, s, e, p, r in self.spans],
                "self_s": self.self_times(),
                "counts": dict(self.counts),
            }, f)

    # -- Spark work -------------------------------------------------------
    @contextlib.contextmanager
    def spark_work(self):
        """Yield a :class:`SparkWork` filled with the jobs run inside the block."""
        work = SparkWork()
        if not self.enabled:
            yield work
            return
        jsc = self.spark.sparkContext._jsc.sc()
        first = jsc.dagScheduler().nextJobId()
        try:
            yield work
        finally:
            last = jsc.dagScheduler().nextJobId()
            if last > first:
                jsc.listenerBus().waitUntilEmpty(30_000)
                self._fill(work, jsc, range(first, last))

    def _fill(self, work: SparkWork, jsc, job_ids) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        store = jsc.statusStore()
        seen = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            work.jobs += 1
            jd = store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                work.job_ms += jd.completionTime().get().getTime() - jd.submissionTime().get().getTime()
            for s in info.stageIds:
                if s in seen:
                    continue
                seen.add(s)
                sd = store.lastStageAttempt(s)
                if sd.status().toString() == "SKIPPED":
                    continue
                work.stages += 1
                work.tasks += sd.numCompleteTasks()
                work.run_ms += sd.executorRunTime()
                work.cpu_ms += sd.executorCpuTime() / 1e6
                work.shuffle_write_bytes += sd.shuffleWriteBytes()
                work.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

    # -- wrappers ---------------------------------------------------------
    def _patch(self, owner, name: str, make) -> None:
        orig = getattr(owner, name)
        setattr(owner, name, make(orig))
        self._undo.append((owner, name, orig))

    def _timed(self, key: str, span: str | None = None):
        """Wrapper factory: count calls of the wrapped function under
        ``key`` and add its time (ns) to ``key + '_ns'``.  A call made while
        another call under the same key is running (``score_phrase`` calls
        ``score_mixed``) is not counted again."""
        counts, tracer = self.counts, self
        active = [0]

        def make(orig):
            def timed(*a, **kw):
                if active[0]:
                    return orig(*a, **kw)
                active[0] += 1
                t0 = time.perf_counter()
                try:
                    if span is None:
                        return orig(*a, **kw)
                    with tracer.span(span):
                        return orig(*a, **kw)
                finally:
                    active[0] -= 1
                    counts[key + "_ns"] += int((time.perf_counter() - t0) * 1e9)
                    counts[key] += 1
            return timed
        return make

    def install(self) -> None:
        """Install every wrapper; a no-op when tracing is off."""
        if not self.enabled:
            return
        from pyspark.sql import DataFrameWriter

        from goobi_viewer_indexer_spark.functions import codec
        from goobi_viewer_indexer_spark.operators import search, wand

        counts, tracer, touched = self.counts, self, self.touched

        def count_send(orig):
            def send_command(*a, **kw):
                counts["py4j_calls"] += 1
                return orig(*a, **kw)
            return send_command

        self._patch(self.spark.sparkContext._gateway._gateway_client, "send_command", count_send)

        kernel = self._timed("kernel")
        for name in _KERNELS:
            self._patch(wand, name, kernel)
        self._patch(codec, "varint_decode", self._timed("varint_decode"))
        is_stale, refresh = self._timed("is_stale"), self._timed("refresh", span="refresh")
        for cls in (search.InvertedIndex, search.FieldedIndex):
            self._patch(cls, "is_stale", is_stale)
        for cls in (search.LocalSearcher, search.LocalFieldedSearcher):
            self._patch(cls, "refresh", refresh)

        def count_blocks(orig):
            def decode_block(self_, i):
                seen = touched.get(id(self_))
                if seen is None or seen() is not self_:
                    touched[id(self_)] = weakref.ref(self_)
                    counts["blocks_in_touched_lists"] += self_.n_blocks()
                if i not in self_._cache:
                    counts["blocks_decoded"] += 1
                return orig(self_, i)
            return decode_block

        self._patch(wand.TermList, "decode_block", count_blocks)

        def count_stats(orig):
            def term_stats_for(self_, terms):
                memo = getattr(self_, "_stats_memo", None) or {}
                counts["term_stats_misses"] += sum(1 for t in terms if t not in memo)
                return orig(self_, terms)
            return term_stats_for

        term_stats = self._timed("term_stats", span="term_stats_for")
        for cls in (search.InvertedIndex, search.FieldedIndex):
            self._patch(cls, "term_stats_for", count_stats)
            self._patch(cls, "term_stats_for", term_stats)

        def span_write(orig):
            def parquet(self_, path, *a, **kw):
                with tracer.span("write:" + path):
                    return orig(self_, path, *a, **kw)
            return parquet

        self._patch(DataFrameWriter, "parquet", span_write)

    def uninstall(self) -> None:
        while self._undo:
            owner, name, orig = self._undo.pop()
            setattr(owner, name, orig)
