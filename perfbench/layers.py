"""Per-layer tracing from outside the engine.

``Tracer.install`` swaps the names ``frontier/rounds.py`` calls into
each layer (``url_filter``, ``robots_filter``, ``filter_unseen``,
``schedule``, ``extract_records``, ``_expand_children``) and the crawl
manifest writer for wrappers, and ``traced_store`` wraps the store's
``commit_round``/``read_table``.  Each wrapper materializes (persist +
count) its DataFrame inputs under the caller's span, then calls the
layer and ``localCheckpoint``s its outputs under its own span, with the
Spark job group set to the span name.  So every Spark job a layer
causes runs inside that layer's span, and the next layer neither
recomputes nor re-plans its inputs.  ``extract_records`` materializes
its input (the scheduled ⋈ pages join) under a ``fetch`` span of its
own, and the store wrapper materializes the commit's tables under a
``checkpoint.tables`` span.  The round's cached and checkpointed frames
are released after each commit.

Spans (name, start, end, parent) stay in memory; ``self_times`` turns
them into per-layer self time.  ``stage_metrics`` reads the task
metrics of every stage from the driver's status store (its retention
is raised from outside the engine) and groups them by job group, that
is by layer.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Dict, List, Optional

ROOT = "crawl.loop"   # run_crawl's own work outside every wrapped layer


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: List[dict] = []
        self.stack: List[int] = []
        self.counts: Dict[str, float] = defaultdict(float)
        self.cached: list = []
        self.checkpoints: list = []
        self._restore: list = []

    # -- spans ----------------------------------------------------------------

    def _group(self, name: Optional[str]) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", name)

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        rec = {"name": name, "parent": parent, "start": time.perf_counter()}
        self.spans.append(rec)
        self.stack.append(len(self.spans) - 1)
        self._group(name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            self._group(self.spans[parent]["name"] if parent is not None
                        else None)

    def self_times(self) -> Dict[str, float]:
        """Span duration minus the time its direct children cover,
        summed per span name."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: Dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    # -- materialization ------------------------------------------------------

    def materialize(self, df) -> int:
        """Compute an input frame into the cache; returns its rows."""
        df.persist()
        self.cached.append(df)
        return df.count()

    def checkpoint(self, df):
        """Compute an output frame into executor blocks and hand the
        caller a frame whose plan is just those blocks, so later layers
        neither recompute nor re-plan it.  Returns (frame, rows)."""
        out = df.localCheckpoint(eager=True)
        if hasattr(df, "_expand_cache"):   # run_crawl releases it later
            out._expand_cache = df._expand_cache
        self.checkpoints.append(out)
        return out, out.count()

    def release(self) -> None:
        """Drop the round's cached inputs and checkpointed outputs."""
        for df in self.cached:
            df.unpersist()
        for df in self.checkpoints:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        self.cached, self.checkpoints = [], []

    # -- wrappers ---------------------------------------------------------------

    def _layer(self, name, fn, inputs, count):
        """Wrap ``fn``: materialize ``inputs(args)`` under the caller's
        span, then run it and checkpoint its DataFrame outputs under span
        ``name``; ``count(rows_in, rows_out)`` adds counters."""
        def wrapped(*args, **kwargs):
            rows_in = [self.materialize(df) for df in inputs(args)
                       if df is not None]
            with self.span(name):
                res = fn(*args, **kwargs)
                outs = list(res) if isinstance(res, tuple) else [res]
                rows_out = []
                for k, df in enumerate(outs):
                    if df is not None:
                        outs[k], rows = self.checkpoint(df)
                        rows_out.append(rows)
                for key, val in count(rows_in, rows_out).items():
                    self.counts[f"{name}.{key}"] += val
            return tuple(outs) if isinstance(res, tuple) else outs[0]
        return wrapped

    def install(self) -> None:
        from pyspark.sql import functions as F

        import hepcrawl_spark.extract as extract_mod
        import hepcrawl_spark.frontier.rounds as rounds
        import hepcrawl_spark.sinks.manifest as manifest_mod

        def df_args(*idx):
            return lambda a: [a[i] for i in idx if i < len(a)]

        wrappers = {
            "url_filter": self._layer(
                "frontier.urlfilter", rounds.url_filter, df_args(0),
                lambda i, o: {}),
            "robots_filter": self._layer(
                "frontier.robots", rounds.robots_filter, df_args(0, 1),
                lambda i, o: {"blocked": o[1]}),
            "filter_unseen": self._layer(
                "frontier.seen", rounds.filter_unseen, df_args(0, 1),
                lambda i, o: {"candidates": i[0], "admitted": o[0]}),
            "schedule": self._layer(
                "frontier.politeness", rounds.schedule, df_args(0, 1, 2),
                lambda i, o: {"scheduled": o[0], "deferred": o[1]}),
            "_expand_children": self._layer(
                "expand", rounds._expand_children, df_args(0, 1),
                lambda i, o: {"children": o[0]}),
        }
        orig_extract = rounds.extract_records

        def extract_records(pages, *args, **kwargs):
            with self.span("fetch"):
                self.counts["extract.pages"] += self.materialize(pages)
            with self.span("extract"):
                out, rows = self.checkpoint(
                    orig_extract(pages, *args, **kwargs))
                errors = out.agg(F.count("error")).first()[0]
                self.counts["extract.errors"] += errors
                self.counts["extract.records"] += rows - errors
            return out
        wrappers["extract_records"] = extract_records

        # Python time inside the extraction UDF, summed over tasks
        acc = self.sc.accumulator(0.0)
        self.python_s = acc
        orig_batches = extract_mod._extract_batches

        def timed_batches(batches):
            it = orig_batches(batches)
            spent = 0.0
            while True:
                t0 = time.perf_counter()
                try:
                    pdf = next(it)
                except StopIteration:
                    spent += time.perf_counter() - t0
                    break
                spent += time.perf_counter() - t0
                yield pdf
            acc.add(spent)

        orig_manifest = manifest_mod.write_crawl_manifest

        def write_crawl_manifest(*args, **kwargs):
            with self.span("manifest"):
                return orig_manifest(*args, **kwargs)

        for name, fn in wrappers.items():
            self._restore.append((rounds, name, getattr(rounds, name)))
            setattr(rounds, name, fn)
        self._restore.append((extract_mod, "_extract_batches", orig_batches))
        extract_mod._extract_batches = timed_batches
        self._restore.append(
            (manifest_mod, "write_crawl_manifest", orig_manifest))
        manifest_mod.write_crawl_manifest = write_crawl_manifest

    def uninstall(self) -> None:
        for mod, name, fn in reversed(self._restore):
            setattr(mod, name, fn)
        self._restore = []


def traced_store(base_cls, tracer: Tracer):
    """A ``base_cls`` subclass whose commit and read-back are spans."""

    class TracedStore(base_cls):
        def commit_round(self, n, tables, meta=None):
            # run_crawl assembles these from the round's frames: the
            # next queue, the merged offsets, the lineage aggregate
            with tracer.span("checkpoint.tables"):
                for df in tables.values():
                    tracer.materialize(df)
            with tracer.span("checkpoint.commit"):
                super().commit_round(n, tables, meta)
                tracer.counts["checkpoint.commit.bytes"] += _du(
                    self._round_dir(n))
            tracer.release()

        def read_table(self, n, name):
            with tracer.span("checkpoint.read"):
                df = super().read_table(n, name)
                if df is not None:
                    df, _ = tracer.checkpoint(df)
            return df

    return TracedStore


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# -- Spark status store -----------------------------------------------------------

def stage_metrics(spark) -> Dict[str, dict]:
    """Task metrics of every stage that ran, grouped by job group (=
    layer span name), read from the driver's status store.

    Per group: ``gc_s``, ``shuffle_bytes`` (read + written),
    ``spill_bytes`` (memory + disk) and ``task_skew``: the largest
    per-stage ratio of max to median task duration, over stages with at
    least four tasks.
    """
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stage_group: Dict[int, str] = {}
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group = job.jobGroup()
        name = group.get() if group.isDefined() else "none"
        ids = job.stageIds()
        for k in range(ids.size()):
            stage_group.setdefault(int(ids.apply(k)), name)
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    stages = store.stageList(None, False, False, empty, None)
    out: Dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.numCompleteTasks() == 0:
            continue   # skipped: its shuffle output was reused
        g = out[stage_group.get(st.stageId(), "none")]
        g["gc_s"] += st.jvmGcTime() / 1e3
        g["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        g["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        if st.numCompleteTasks() >= 4:
            dist = store.taskSummary(st.stageId(), st.attemptId(), quantiles)
            if dist.isDefined():
                dur = dist.get().duration()
                med, top = float(dur.apply(0)), float(dur.apply(1))
                g["task_skew"] = max(g["task_skew"], top / max(med, 1.0))
    return {name: dict(g) for name, g in out.items()}
