"""Crawl-loop benchmark: ``run_crawl`` → committed ``RoundStore``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload crawl-deep --seed 1 --seconds 20 --trace 0

One process per run: it starts a Spark session on ``local[nproc]``,
generates the workload's inputs from ``--seed``, then calls
``run_crawl`` on the generated seeds until ``--seconds`` would be
exceeded (at least once), checks every committed store against the
generator's oracle and prints one JSON line.  The first crawl of a run
is cold: there is no untimed warm-up.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs an untraced, a traced and a
second untraced crawl and reports the per-layer metrics.  See
perfbench/README.md.

Everything the run writes lives under ``.bench_work/`` in the
repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass
from typing import Dict, List

import layers
from check import check_store, compare, read_store
from gen import BLOCKED_EXTENSIONS, Spec, generate, write_inputs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MAX_DEPTH = 64          # deeper than any generated graph: never cuts
NUM_SHARDS = 16         # cuckoo seen-filter shards


@dataclass(frozen=True)
class Workload:
    spec: Spec
    resume: bool = False   # resume after a set-up round 0 (crawl-resume)


_DEEP = Spec(levels=(40, 480, 4800), hosts=200, zipf_s=1.1,
             forward_links=10, back_links=20, text_words=30,
             dead_links=0.05, blocked_ext_links=0.05, robots_hosts=5,
             robots_links=0.05)
WORKLOADS = {
    # small rounds: per-round fixed cost, politeness on hot hosts,
    # child expansion and commits; extraction is light
    # two levels, so two rounds: a cold round costs 30-50 s on a
    # 4-CPU host and a warm one 10-15 s, whatever its size
    "crawl-deep": Workload(dataclasses.replace(_DEEP, levels=(40, 800))),
    # one round over the whole corpus: the extraction UDF, the fetch
    # join, the cuckoo insert path and the records commit
    "extract-bulk": Workload(
        Spec(levels=(8000,), hosts=200, zipf_s=0.0, forward_links=0,
             back_links=0, text_words=420)),
    # the crawl-deep graph resumed after round 0: most candidates are
    # back-links the restored seen state rejects, and the state is read
    # back instead of built
    "crawl-resume": Workload(_DEEP, resume=True),
}
# Input preparation (generate, write, load) is repeated this many times
# in set-up and its median counted in ``setup_s``; the session starts
# once.
SETUP_REPS = 3


# -- environment -------------------------------------------------------------

def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp"))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the status store must keep every job, stage and task of a run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"


class MemorySampler:
    """Peak summed proportional set size (PSS) of every descendant
    process (the driver JVM and its Python workers), sampled every
    100 ms while running.  PSS splits pages shared between the forked
    Python workers among them instead of counting them once per
    process, as summed RSS would."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = None

    @staticmethod
    def _descendants_pss_kb() -> int:
        children: Dict[int, List[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, list(children.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._descendants_pss_kb())
            self._stop.wait(0.1)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# -- one crawl ---------------------------------------------------------------

def _timed_store_cls(base):
    class TimedStore(base):
        """Records when each ``commit_round`` returns."""

        def commit_round(self, n, tables, meta=None):
            super().commit_round(n, tables, meta)
            self.commit_times.append(time.perf_counter())
    return TimedStore


def _crawl(spark, inputs, store_dir, store_cls, max_rounds, group):
    from hepcrawl_spark.frontier.rounds import CrawlConfig, run_crawl

    store = store_cls(spark, store_dir)
    store.commit_times = []
    start_round = (store.last_committed_round() or -1) + 1
    config = CrawlConfig(
        seen_mode="cuckoo", num_shards=NUM_SHARDS, horizon=None,
        max_rounds=max_rounds, max_depth=MAX_DEPTH,
        blocked_extensions=BLOCKED_EXTENSIONS, job_id=group,
    )
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)
    try:
        t0 = time.perf_counter()
        totals = run_crawl(spark, inputs["seeds"], inputs["pages"],
                           politeness=inputs["politeness"],
                           robots=inputs["robots"], store=store,
                           config=config)
        wall = time.perf_counter() - t0
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    marks = [t0] + store.commit_times
    return {
        "totals": totals, "wall": wall, "start_round": start_round,
        "rounds": [b - a for a, b in zip(marks, marks[1:])],
        "first_commit": marks[1] - t0 if len(marks) > 1 else wall,
    }


def _spark_counts(spark, group: str) -> Dict[str, int]:
    """Jobs, stages and tasks that ran under one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        stages.update(info.stageIds if info else ())
    n_stages = n_tasks = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            n_stages += 1
            n_tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": n_stages, "tasks": n_tasks}


def _seen_probe(spark, blobs):
    """``contains(urls)`` against the committed cuckoo shards; the
    fingerprint and shard are computed by Spark's own xxhash64.  The
    generated URLs are already canonical, so the URL is its own
    ``canon_url``."""
    from pyspark.sql import functions as F

    from hepcrawl_spark.frontier.cuckoo import CuckooShard

    shards = {s: CuckooShard.from_bytes(bytes(b)) for s, b in blobs}

    def contains(urls):
        rows = spark.createDataFrame(
            [(u, u.split("/")[2]) for u in urls], "url string, host string"
        ).select(
            F.xxhash64("url").alias("fp"),
            F.pmod(F.xxhash64("host"), F.lit(NUM_SHARDS)).alias("shard"),
        ).collect()
        return [r.shard in shards and shards[r.shard].contains(int(r.fp))
                for r in rows]
    return contains


def _check(spark, corpus, store_dir):
    """(report, facts) for one committed store.  Raises if the check
    cannot catch a corrupted record."""
    from hepcrawl_spark.frontier.cuckoo import CuckooShard

    view = read_store(store_dir)
    rep, expected = check_store(
        corpus, view, MAX_DEPTH,
        _seen_probe(spark, view.seen_blobs))
    # the check must have teeth: one corrupted record has to fail it
    if view.records:
        url, title, abstract = view.records[0]
        bad = [(url, title, abstract + " corrupted")] + view.records[1:]
        if compare(expected, bad, view.errors).failed == 0:
            raise RuntimeError("output check missed a corrupted record")
    shards = [CuckooShard.from_bytes(bytes(b)) for _, b in view.seen_blobs]
    facts = {
        "queue_rows": view.queue_rows,
        "overflow": sum(s.overflow for s in shards),
        "state_bytes": sum(len(b) for _, b in view.seen_blobs),
        "fetch_miss": sum(1 for _, e in view.errors
                          if e.startswith("FetchMiss")),
    }
    return rep, facts


def _frontier_urls(n_seeds: int, start_round: int, queue_rows) -> int:
    """URLs that entered the queue of a round this call processed:
    the round's input queue is the seeds (round 0) or the previous
    round's committed queue."""
    first = n_seeds if start_round == 0 else queue_rows[start_round - 1]
    return first + sum(n for r, n in queue_rows.items() if r >= start_round)


# -- main ----------------------------------------------------------------------

def _metric(value, unit):
    return {"value": value, "unit": unit}


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)   # unwind: stop Spark, remove the work dir


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hepcrawl_spark",
                                       "frontier", "rounds.py")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGTERM, _terminate)
    try:
        return _run(args, wl, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):   # still in use by another run
            os.rmdir(os.path.dirname(work))


def _load_inputs(spark, paths):
    import pyarrow.parquet as pq

    from hepcrawl_spark.frontier.rounds import make_seeds

    seeds = pq.read_table(paths["seeds"]).to_pylist()
    return {
        "seeds": make_seeds(spark, [(r["url"], r["source"], r["priority"])
                                    for r in seeds]),
        "n_seeds": len(seeds),
        "pages": spark.read.parquet(paths["pages"]),
        "robots": spark.read.parquet(paths["robots"]),
        "politeness": spark.read.parquet(paths["politeness"]),
    }


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it every Python
    worker it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _run(args, wl, work) -> int:
    t_setup = time.perf_counter()
    from hepcrawl_spark.frontier.checkpoint import RoundStore
    from hepcrawl_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))   # what nproc prints
    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_setup

    try:
        prep = []
        for k in range(SETUP_REPS):
            t_gen = time.perf_counter()
            corpus = generate(wl.spec, args.seed)
            paths = write_inputs(corpus, os.path.join(work, f"inputs{k}"))
            inputs = _load_inputs(spark, paths)
            prep.append(time.perf_counter() - t_gen)
        prep_s = statistics.median(prep)
        # crawl-resume: round 0 into a store every timed crawl resumes
        t_pre = time.perf_counter()
        pristine = None
        if wl.resume:
            pristine = os.path.join(work, "pristine")
            _crawl(spark, inputs, pristine, RoundStore, 1, "precrawl")
        pre_s = time.perf_counter() - t_pre
        setup_s = session_s + prep_s + pre_s
        _log(f"setup {setup_s:.2f}s: session {session_s:.2f}s, "
             f"inputs {prep_s:.2f}s (median of {SETUP_REPS}), "
             f"round 0 {pre_s:.2f}s")

        timed_cls = _timed_store_cls(RoundStore)
        runs, failed, attempted, fp_dropped = [], 0, 0, 0
        # memory is a per-layer figure: sample it only in traced runs
        mem = MemorySampler() if args.trace else contextlib.nullcontext()

        def untraced_crawl():
            nonlocal failed, attempted, fp_dropped
            i = len(runs)
            store_dir = os.path.join(work, f"crawl{i}")
            if pristine:
                shutil.copytree(pristine, store_dir)
            group = f"crawl{i}"
            with mem:
                res = _crawl(spark, inputs, store_dir, timed_cls, 64, group)
            res["spark"] = _spark_counts(spark, group)
            _log(f"crawl {i}: {res['wall']:.2f}s, rounds "
                 + " ".join(f"{r:.2f}" for r in res["rounds"])
                 + f", {res['totals']['scheduled']} pages, {res['spark']}")
            t_check = time.perf_counter()
            rep, facts = _check(spark, corpus, store_dir)
            _log(f"check {i}: {time.perf_counter() - t_check:.2f}s")
            if rep.failed:
                print(f"output check failed on crawl {i}: "
                      f"{dict(rep.problems)} e.g. {rep.examples}",
                      file=sys.stderr)
            failed += rep.failed
            attempted += res["totals"]["scheduled"]
            fp_dropped += rep.fp_dropped
            res["facts"] = facts
            runs.append(res)
            shutil.rmtree(store_dir, ignore_errors=True)
            return res

        t_window = time.perf_counter()
        while True:
            res = untraced_crawl()
            elapsed = time.perf_counter() - t_window
            if args.trace or elapsed + res["wall"] > args.seconds:
                break

        traced = None
        if args.trace:
            # the untraced crawl above was cold; the traced crawl and
            # the untraced one its overhead is measured against are not
            traced = _traced_crawl(spark, inputs, corpus, work, pristine)
            failed += traced["report"].failed
            attempted += traced["scheduled"]
            untraced_crawl()
    finally:
        _stop(spark)

    if args.trace:
        metrics = _layer_metrics(runs, traced, failed, attempted,
                                 fp_dropped, mem.peak_kb)
    else:
        metrics = _e2e_metrics(runs, inputs["n_seeds"], setup_s)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def _e2e_metrics(runs, n_seeds, setup_s):
    med = statistics.median
    pages = [r["totals"]["scheduled"] / r["wall"] for r in runs]
    urls = [_frontier_urls(n_seeds, r["start_round"],
                           r["facts"]["queue_rows"]) / r["wall"]
            for r in runs]
    return {
        "pages_per_s": _metric(med(pages), "pages/s"),
        "frontier_urls_per_s": _metric(med(urls), "urls/s"),
        "round_s.p50": _metric(
            med([med(r["rounds"]) for r in runs]), "s"),
        "setup_s": _metric(setup_s, "s"),
    }


def _traced_crawl(spark, inputs, corpus, work, pristine):
    from hepcrawl_spark.frontier.checkpoint import RoundStore

    tracer = layers.Tracer(spark)
    store_cls = _timed_store_cls(layers.traced_store(RoundStore, tracer))
    store_dir = os.path.join(work, "traced")
    if pristine:
        shutil.copytree(pristine, store_dir)
    tracer.install()
    try:
        with tracer.span(layers.ROOT):
            res = _crawl(spark, inputs, store_dir, store_cls, 64, layers.ROOT)
    finally:
        tracer.uninstall()
    rep, facts = _check(spark, corpus, store_dir)
    _log("spans " + json.dumps(tracer.spans))
    return {"tracer": tracer, "res": res, "report": rep, "facts": facts,
            "scheduled": res["totals"]["scheduled"],
            "stages": layers.stage_metrics(spark),
            "python_s": tracer.python_s.value}


NAMED_LAYERS = ("frontier.urlfilter", "frontier.robots", "frontier.seen",
                "frontier.politeness", "fetch", "extract", "expand",
                "checkpoint.tables", "checkpoint.commit", "checkpoint.read",
                "manifest")
LAYERS = NAMED_LAYERS + (layers.ROOT,)


def _layer_metrics(runs, traced, failed, attempted, fp_dropped, peak_kb):
    """``runs``: the cold untraced crawl, then the untraced crawl that
    followed the traced one."""
    cold, untraced = runs
    tracer, res, facts = traced["tracer"], traced["res"], traced["facts"]
    selfs = tracer.self_times()
    counts = tracer.counts
    spark_layers = traced["stages"]
    n_rounds = max(len(untraced["rounds"]), 1)
    m = {}

    def put(name, value, unit):
        m[name] = _metric(float(value), unit)

    for layer in LAYERS:
        put(f"{layer}.s", selfs.get(layer, 0.0), "s")
        sl = spark_layers.get(layer, {})
        put(f"{layer}.spill_bytes", sl.get("spill_bytes", 0), "bytes")
        put(f"{layer}.gc_s", sl.get("gc_s", 0), "s")
    put("frontier.urlfilter.dropped", res["totals"]["url_filtered"], "count")
    put("frontier.robots.blocked", counts["frontier.robots.blocked"],
        "count")
    cand = counts["frontier.seen.candidates"]
    adm = counts["frontier.seen.admitted"]
    put("frontier.seen.candidates", cand, "count")
    put("frontier.seen.admitted", adm, "count")
    put("frontier.seen.admit_ratio", adm / cand if cand else 0.0, "ratio")
    put("frontier.seen.overflow", facts["overflow"], "count")
    put("frontier.seen.state_bytes", facts["state_bytes"], "bytes")
    put("frontier.seen.fp_dropped", fp_dropped + traced["report"].fp_dropped,
        "count")
    pol = spark_layers.get("frontier.politeness", {})
    put("frontier.politeness.scheduled",
        counts["frontier.politeness.scheduled"], "count")
    put("frontier.politeness.deferred",
        counts["frontier.politeness.deferred"], "count")
    put("frontier.politeness.task_skew", pol.get("task_skew", 1.0), "ratio")
    put("frontier.politeness.shuffle_bytes", pol.get("shuffle_bytes", 0),
        "bytes")
    put("fetch.miss", facts["fetch_miss"], "count")
    put("fetch.shuffle_bytes",
        spark_layers.get("fetch", {}).get("shuffle_bytes", 0), "bytes")
    put("extract.python_s", traced["python_s"], "s")
    for k in ("pages", "records", "errors"):
        put(f"extract.{k}", counts[f"extract.{k}"], "count")
    put("expand.children", counts["expand.children"], "count")
    put("checkpoint.commit.bytes", counts["checkpoint.commit.bytes"],
        "bytes")
    sc = untraced["spark"]
    for k in ("jobs", "stages", "tasks"):
        put(f"spark.{k}_per_round", sc[k] / n_rounds, "count")
    wall = res["wall"]
    put("trace.wall_s", wall, "s")
    put("trace.overhead_s", wall - untraced["wall"], "s")
    # share of the traced wall the named layers cover; the rest is
    # crawl.loop's own self time
    put("trace.layer_coverage",
        sum(selfs.get(layer, 0.0) for layer in NAMED_LAYERS) / wall, "ratio")
    put("error_ratio", failed / attempted if attempted else 0.0, "ratio")
    # of the cold untraced crawl, like the end-to-end metrics
    put("first_commit_s", cold["first_commit"], "s")
    put("peak_pss_mb", peak_kb / 1024.0, "MB")
    return m


if __name__ == "__main__":
    sys.exit(main())
