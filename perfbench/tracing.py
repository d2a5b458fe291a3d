"""Spans and Spark job counts recorded from outside the program.

Tracing never edits the program: it replaces, for the duration of one traced
unit, the module attributes through which the program reaches a layer
(``SnapshotStore`` methods, the ``functions.*`` kernels the engine and the
schedule workload call, the ``seen`` shard factories) with wrappers that
record a span and call the original. ``Tracer.restore`` puts every original
back.

Driver-side spans stay in memory and are written out by ``Tracer.dump``
when the run ends. Kernels and seen shard functions run inside Python worker
processes, which share no memory with the driver: their wrappers are shipped
with the task (closures pickle by value) and append one JSON line per call
to ``<worker_dir>/<pid>.jsonl``; ``Tracer.worker_spans`` reads them back.

``Tracer.overhead_s`` is the time spent in the tracer's own code: span
bookkeeping (job-id queries included) in the driver plus the span writes of
every worker. Worker writes run in parallel, so it bounds from above the wall
time tracing adds to a traced unit.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


class JobCounter:
    """Spark job and task counts from ``SparkContext.statusTracker()``.

    Counts are deltas of the largest job id, never list lengths: the tracker
    keeps only the most recent ``spark.ui.retainedJobs`` jobs, and a run can
    launch more than that."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()
        self._arrays = sc._jvm.java.util.Arrays

    def last_job(self) -> int:
        # the max is taken in the JVM: iterating the id array from Python
        # costs one Py4J call per retained job (about 0.1 s at 1000 jobs)
        ids = self.tracker._jtracker.getJobIdsForGroup(None)
        return self._arrays.stream(ids).max().orElse(-1)

    def tasks(self, first_job: int, last_job: int) -> int:
        """Tasks completed by jobs ``first_job < id <= last_job``."""
        n = 0
        for j in range(first_job + 1, last_job + 1):
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    n += st.numCompletedTasks
        return n


_emit_s = 0.0  # this worker process's time spent in _emit so far


def _emit(sink_dir: str, rec: dict) -> None:
    """Append one worker-side span (runs inside a Python worker); ``emit_s``
    is the process's time spent writing spans before this one."""
    global _emit_s
    t0 = time.perf_counter()
    rec["emit_s"] = _emit_s
    with open(os.path.join(sink_dir, f"{os.getpid()}.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")
    _emit_s += time.perf_counter() - t0


_shard_load_patched = False


def _patch_shard_load(sink_dir: str) -> None:
    """Time ``SeenShard.load`` inside this worker process (once per process)."""
    global _shard_load_patched
    if _shard_load_patched:
        return
    from twitter_crawler_spark.crawl import seen

    orig = seen.SeenShard.load.__func__

    def load(cls, path):
        t0 = time.time()
        out = orig(cls, path)
        _emit(sink_dir, {"name": "seen.shard_load", "start": t0, "end": time.time(),
                         "rows": 1, "pid": os.getpid()})
        return out

    seen.SeenShard.load = classmethod(load)
    _shard_load_patched = True


def traced_kernel(fn, name: str, sink_dir: str):
    """Wrap a function that runs in a Python worker; ``rows`` is the length
    of its first argument (a pandas Series or DataFrame)."""

    @functools.wraps(fn)
    def run(*args):
        t0 = time.time()
        out = fn(*args)
        _emit(sink_dir, {"name": name, "start": t0, "end": time.time(),
                         "rows": len(args[0]), "pid": os.getpid()})
        return out

    return run


def traced_group_fn(fn, name: str, sink_dir: str):
    """Wrap an applyInPandas function (one argument: the group's rows) and
    time the shard loads it makes."""

    def run(pdf):
        _patch_shard_load(sink_dir)
        t0 = time.time()
        out = fn(pdf)
        _emit(sink_dir, {"name": name, "start": t0, "end": time.time(),
                         "rows": len(pdf), "pid": os.getpid()})
        return out

    return run


class Tracer:
    """In-memory span recorder for one traced unit of work."""

    def __init__(self, sc, worker_dir: str):
        self.jobs = JobCounter(sc)
        self.worker_dir = worker_dir
        os.makedirs(worker_dir, exist_ok=True)
        self.spans: list[dict] = []
        self.round: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stack = threading.local()
        self._round_span: int | None = None
        self._undo: list[tuple[object, str, object]] = []
        self.driver_overhead_s = 0.0

    # --- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        t_in = time.perf_counter()
        stack = self._stack.__dict__.setdefault("ids", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else self._round_span
        rec = {"id": sid, "name": name, "parent": parent,
               "thread": threading.get_ident(), "round": self.round, **attrs}
        if jobs:
            rec["job0"] = self.jobs.last_job()
        stack.append(sid)
        if name == "engine.round":
            self._round_span = sid
        t_body = time.perf_counter()
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t_out = time.perf_counter()
            stack.pop()
            if name == "engine.round":
                self._round_span = None
            if jobs:
                rec["job1"] = self.jobs.last_job()
            with self._lock:
                self.spans.append(rec)
                self.driver_overhead_s += (t_body - t_in) + (time.perf_counter() - t_out)

    # --- wrapping ------------------------------------------------------------

    def _replace(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str, jobs: bool = False, attrs=None) -> None:
        """Record a driver-side span around every call of ``owner.attr``;
        ``attrs(args)`` adds fields (e.g. the table written) to the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def call(*args, **kwargs):
            extra = attrs(args) if attrs else {}
            with self.span(name, jobs=jobs, **extra):
                return orig(*args, **kwargs)

        self._replace(owner, attr, call)

    def wrap_pandas_udf(self, owner, attr: str, name: str) -> None:
        """Swap a scalar pandas UDF for one whose body records worker spans."""
        from pyspark.sql.functions import pandas_udf

        udf = getattr(owner, attr)
        body = traced_kernel(udf.func, name, self.worker_dir)
        self._replace(owner, attr, pandas_udf(body, udf.returnType))

    def wrap_worker_fn(self, owner, attr: str, name: str) -> None:
        """Wrap a plain function the program calls inside Python workers."""
        self._replace(owner, attr, traced_kernel(getattr(owner, attr), name, self.worker_dir))

    def wrap_seen_factory(self, owner, attr: str, name: str, count_geom: bool = False) -> None:
        """Wrap a ``seen.make_*_fn`` factory: its product (an applyInPandas
        function) records a worker span per bucket group, and the factory
        call itself is a driver span (``buckets`` = shards rebuilt)."""
        factory = getattr(owner, attr)
        sink = self.worker_dir

        @functools.wraps(factory)
        def make(*args):
            extra = {"buckets": len(args[1])} if count_geom else {}
            with self.span(name + ".factory", **extra):
                fn = factory(*args)
            return traced_group_fn(fn, name, sink)

        self._replace(owner, attr, make)

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # --- output ------------------------------------------------------------

    def worker_spans(self) -> list[dict]:
        out = []
        for fn in sorted(os.listdir(self.worker_dir)):
            with open(os.path.join(self.worker_dir, fn)) as f:
                out.extend(json.loads(line) for line in f if line.strip())
        return out

    def overhead_s(self) -> float:
        """Driver bookkeeping plus every worker's span writes (``emit_s`` of
        a process's last span; that span's own write is left out)."""
        worker: dict[int, float] = {}
        for rec in self.worker_spans():
            worker[rec["pid"]] = max(worker.get(rec["pid"], 0.0), rec["emit_s"])
        return self.driver_overhead_s + sum(worker.values())

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
            for rec in self.worker_spans():
                f.write(json.dumps({"worker": True, **rec}) + "\n")


def install_crawl_layers(tr: Tracer) -> None:
    """Wrap the layers a crawl round reaches: SnapshotStore I/O, the
    functions.* kernels the engine calls, and the seen shard functions."""
    from twitter_crawler_spark.crawl import engine, state

    store = state.SnapshotStore
    tr.wrap(store, "write_round", "state.write_round", jobs=True,
            attrs=lambda a: {"table": a[2], "rnd": a[3]})
    tr.wrap(store, "write_gen", "state.write_gen", attrs=lambda a: {"table": a[2]})
    tr.wrap(store, "read_rounds", "state.read_rounds", attrs=lambda a: {"table": a[2]})
    tr.wrap(store, "read_log", "state.read_log", attrs=lambda a: {"table": a[2]})
    tr.wrap(store, "commit", "state.commit")
    for gc in ("gc_bloom", "gc_rounds_below", "gc_gens_below"):
        tr.wrap(store, gc, f"state.{gc}")
    tr.wrap(engine.CrawlEngine, "init_state", "engine.init_state", jobs=True)
    tr.wrap_pandas_udf(engine, "murmur3_64_udf", "hashing.murmur3_64")
    tr.wrap_pandas_udf(engine, "canonicalize_udf", "urls.canonicalize")
    tr.wrap_worker_fn(engine, "decode_html", "html.decode_html")
    tr.wrap_worker_fn(engine, "extract_links", "html.extract_links")
    tr.wrap_seen_factory(engine, "make_seen_check_fn", "seen.check")
    tr.wrap_seen_factory(engine, "make_seen_update_fn", "seen.update")
    tr.wrap_seen_factory(engine, "make_shard_rebuild_fn", "seen.rebuild", count_geom=True)


def install_schedule_layers(tr: Tracer) -> None:
    """Wrap the two Arrow UDF kernels of the scheduling dataflow."""
    from twitter_crawler_spark.crawl import schedule_bench

    tr.wrap_pandas_udf(schedule_bench, "murmur3_64_udf", "hashing.murmur3_64")
    tr.wrap_pandas_udf(schedule_bench, "canonicalize_udf", "urls.canonicalize")
