#!/usr/bin/env python3
"""Benchmark of the spark-graft engine, end to end and layer by layer.

    python3 perfbench/run.py --workload taxi_replay --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. Each run is one fresh process: it makes
its inputs from ``--seed``, starts the engine's own session
(``session.get_spark()`` with ``SPARK_GRAFT_CPUS`` = the cores this process
may use, and local dirs inside the checkout), warms it up, measures, checks
the outputs untimed, and prints one JSON object as its last line::

    {"correct": true, "attempted": 6, "failed": 0, "metrics": {...}}

``attempted`` counts the operations run (queries or micro-batches, plus the
attribution check of a traced registry run); ``failed`` counts those that
raised or whose output did not match. The engine is driven only through its
public surface: ``session.get_spark``, ``registry.build_queries`` /
``build_oracles``, ``sources.taxi_csv`` and ``streaming.jobs``, plus
Spark's own progress and status APIs. The benchmark sets no Spark conf.

Workloads
---------
taxi_replay
    Closed-loop catch-up replay of 14 hours (840 minute-files) of a seeded
    taxi day at a steady arrival rate (``taxi.py``), ``maxFilesPerTrigger=60``
    so one micro-batch is one clock hour, through ``stream_taxi_csv`` →
    ``normalize_trips`` → ``geofence_10min_counts`` → a ``foreachBatch`` sink
    that collects the batch's window counts and the alerts of
    ``detect_trends_in_batch``. Batches 0-5 are the warm-up (the first
    batches of a fresh JVM run up to twice as long as later ones, and the
    JIT settles at a run-dependent pace over about ten seconds); the 8
    after them are timed in every run, however fast the engine is.
registry_dedup_ann
    One pass over registry queries on seeded tables: a connected-component
    dedup and a second consumer of the same cluster labels, semantic ANN
    pairs, SimHash fingerprints and a streaming drain. The seed permutes the
    order. Each query is built (``build_queries()[name]``) and its result
    collected with ``toPandas()``.

Both workloads time a fixed amount of work, so both sides of an A/B do the
same work. It is sized to measure for about ``--seconds`` on 4 cores (taxi
about 20 s, registry about 11 s); the run does not stretch or cut it to
that time.

End-to-end metrics (``--trace 0``)
----------------------------------
setup_s
    Process start → inputs generated → session → warm-up.
pass_s
    Registry: wall time of the pass. Taxi: catch-up time of one hour of
    backlog, the median over the timed batches of the time from one batch's
    end to the next one's.
rows_per_s
    Taxi: input rows per second, the median over the timed batches.
batch_ms
    Taxi: the median ``triggerExecution`` of the timed micro-batches, the
    result delay a live stream sees at this batch size.

Every metric is printed on every workload, but on the registry workload
only ``setup_s`` and ``pass_s`` are measured: ``rows_per_s`` is the result
rows (pinned by the output check) over ``pass_s`` and ``batch_ms`` is
``pass_s`` over the number of queries. On the taxi workload ``pass_s`` and
``rows_per_s`` come from the same batch gaps.

Per-layer metrics (``--trace 1``, a separate run)
-------------------------------------------------
Spans are recorded around every layer call made from this file and written
with the run's environment to ``.perfbench_out/`` at exit. Spark counts come
from the application status store, read once the listener bus is drained;
each registry query runs under its own job tag, and untagged jobs (those a
streaming query submits from its own thread) are attributed to the query
running when they were submitted. The run checks that per-query task time
sums to the application total within 1%.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from datetime import datetime  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "streamming_processing_pyspark_spark"

#: registry tables are fixed (the seed only permutes the query order), so
#: rows-only queries can be checked against recorded hashes
TABLE_SEED = 20151201
#: sf0.01: lineitem 60k rows, 500 documents, 500 vectors; a pass of the
#: lists below then fits in a run
REGISTRY_SF = 0.01
WARMUP_SF = 0.001
#: hours 06-11 are the warm-up batches; the 8 hours after them are timed
#: in every run, so a faster engine times the same batches as a slower one
TAXI_FIRST_HOUR = 6
TAXI_HOURS = 14
TAXI_WARMUP_BATCHES = 6
#: a stalled stream ends the replay well inside the 180 s a run may take
REPLAY_TIMEOUT_S = 120
EXPECTED_HASHES = os.path.join(HERE, "expected_rows.json")

#: dedup_clusters and dedup_canonical_docs cluster the same corpus: the
#: one the seed puts second reuses the labels the first one converged
REGISTRY_QUERIES = [
    "dedup_clusters",
    "dedup_canonical_docs",
    "semantic_dedup_pairs",
    "simhash_fingerprints",
    "streaming_hourly_counts",
]
WORKLOADS = ("taxi_replay", "registry_dedup_ann")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
#: metric name → unit, as BENCHMARK.json declares them
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
#: physical operators (and RDDs) whose tasks run Python workers
PYTHON_OPS = re.compile(r"Python|Pandas|InArrow")
MB = 1024.0 * 1024.0


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id); a no-op when
    tracing is off, so the timed runs pay nothing for it."""

    def __init__(self, on: bool, run_id: str) -> None:
        self.on = on
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        rec = self.add(name, time.time(), None, self._stack[-1] if self._stack else None, **attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float | None, parent: int | None, **attrs) -> dict:
        rec = {"id": len(self.spans), "name": name, "start": start, "end": end,
               "parent": parent, "run": self.run_id, **attrs}
        self.spans.append(rec)
        return rec

    @contextmanager
    def overhead(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            lo, hi = s["start"], s["end"]
            covered, cursor = 0.0, lo
            for a, b in sorted((max(c["start"], lo), min(c["end"], hi)) for c in kids.get(s["id"], [])):
                a = max(a, cursor)
                if b > a:
                    covered += b - a
                    cursor = b
            out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, hi - lo - covered)
        return out


# ---------------------------------------------------------------------------
# Spark status store: exact per-query counts
# ---------------------------------------------------------------------------


class SparkCounters:
    """Reads jobs and stages from the application status store once the
    listener bus has drained; the store's records come over as JSON."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$").__getattr__("MODULE$")
        )

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def _json(self, records) -> list[dict]:
        return json.loads(self.mapper.writeValueAsString(records))

    def jobs(self, since: float) -> list[dict]:
        """Jobs submitted at or after ``since`` (epoch seconds)."""
        self.drain()
        return [
            {"id": j["jobId"], "tags": j["jobTags"], "submitted": j["submissionTime"] / 1000.0,
             "stages": j["stageIds"]}
            for j in self._json(self.jsc.statusStore().jobsList(None))
            if j.get("submissionTime") is not None and j["submissionTime"] / 1000.0 >= since
        ]

    def stages(self, since: float) -> dict[tuple[int, int], dict]:
        """Stage attempts that ran, submitted at or after ``since``."""
        self.drain()
        jvm = self.sc._jvm
        store = self.jsc.statusStore()
        none = self.sc._gateway.new_array(jvm.double, 0)
        out = {}
        for s in self._json(store.stageList(None, False, False, none, jvm.java.util.ArrayList())):
            if s["status"] in ("SKIPPED", "PENDING") or (s.get("submissionTime") or 0) / 1000.0 < since:
                continue
            dot = jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile(
                store.operationGraphForStage(s["stageId"])
            )
            # operator scopes, and RDD class names without their call sites
            names = re.findall(r'label="([^"<\[]*)', dot)
            out[(s["stageId"], s["attemptId"])] = {
                "stage": s["stageId"],
                "tasks": s["numCompleteTasks"] + s["numFailedTasks"] + s["numKilledTasks"],
                "task_s": s["executorRunTime"] / 1000.0,
                "shuffle_read": s["shuffleReadBytes"],
                "shuffle_write": s["shuffleWriteBytes"],
                "spill": s["memoryBytesSpilled"] + s["diskBytesSpilled"],
                "python": any(PYTHON_OPS.search(n) for n in names),
            }
        return out

    def cached_mb(self) -> float:
        return sum(i.memSize() + i.diskSize() for i in self.jsc.getRDDStorageInfo()) / MB

    def jvm_peak_rss_mb(self) -> float:
        try:
            with open(f"/proc/{self.sc._gateway.proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except (OSError, AttributeError):
            pass
        return 0.0


def attribute(jobs: list[dict], stages: dict, items: list[dict]) -> tuple[dict, dict]:
    """Sum stage counters per work item. A job carrying an item's tag
    belongs to it; an untagged job belongs to the item running when it was
    submitted. Each executed stage counts once, for the first job that
    lists it; the application total counts every stage given, owned or not.
    Returns (per-item sums, application total)."""
    def zero():
        return {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "python_tasks": 0,
                "python_task_s": 0.0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0}

    per = {it["name"]: zero() for it in items}
    total = zero()
    owner_of_stage: dict[int, str | None] = {}
    for j in sorted(jobs, key=lambda j: j["id"]):
        owner = None
        for it in items:
            if any(t.endswith("-" + it["tag"]) for t in j["tags"]):
                owner = it["name"]
                break
        if owner is None:
            for it in items:
                if it["start"] <= j["submitted"] <= it["end"]:
                    owner = it["name"]
                    break
        total["jobs"] += 1
        if owner is not None:
            per[owner]["jobs"] += 1
        for sid in j["stages"]:
            owner_of_stage.setdefault(sid, owner)
    for st in stages.values():
        owner = owner_of_stage.get(st["stage"])
        for acc in (total, per[owner]) if owner is not None else (total,):
            acc["stages"] += 1
            acc["tasks"] += st["tasks"]
            acc["task_s"] += st["task_s"]
            acc["shuffle_read"] += st["shuffle_read"]
            acc["shuffle_write"] += st["shuffle_write"]
            acc["spill"] += st["spill"]
            if st["python"]:
                acc["python_tasks"] += st["tasks"]
                acc["python_task_s"] += st["task_s"]
    return per, total


class ProgressLog:
    """Streaming progress of every query in the session, through Spark's
    public StreamingQueryListener (traced runs only)."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.events: list[dict] = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


def _p50(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def streaming_layers(progress: list[dict]) -> dict[str, float]:
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in data]
    states = [p.get("stateOperators", []) for p in data]
    first: dict[str, dict] = {}
    for p in data:
        if p["runId"] not in first or p["batchId"] < first[p["runId"]]["batchId"]:
            first[p["runId"]] = p
    return {
        "sources.getBatch_ms": _p50(d.get("getBatch", 0) for d in dur),
        "sources.latestOffset_ms": _p50(d.get("latestOffset", 0) for d in dur),
        "streaming.queryPlanning_ms": _p50(d.get("queryPlanning", 0) for d in dur),
        "streaming.walCommit_ms": _p50(d.get("walCommit", 0) for d in dur),
        "streaming.commitOffsets_ms": _p50(d.get("commitOffsets", 0) for d in dur),
        "streaming.addBatch_ms": _p50(d.get("addBatch", 0) for d in dur),
        "streaming.first_batch_ms": _p50(
            p["durationMs"].get("triggerExecution", 0) for p in first.values()
        ),
        "streaming.batches": float(len(data)),
        "state.rows": max((sum(o.get("numRowsTotal", 0) for o in s) for s in states), default=0),
        "state.mem_mb": max((sum(o.get("memoryUsedBytes", 0) for o in s) for s in states), default=0) / MB,
        "state.commit_ms": _p50(sum(o.get("commitTimeMs", 0) for o in s) for s in states if s),
    }


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def canonical(df):
    """Order-insensitive form: columns by name, datetimes → epoch micros,
    floats → repr strings, rows sorted."""
    import numpy as np
    import pandas as pd

    out = {}
    for c in sorted(df.columns):
        s = df[c]
        if np.issubdtype(s.dtype, np.datetime64):
            s = s.astype("datetime64[us]").astype("int64")
        elif s.dtype == object:
            s = s.astype(str)
        elif np.issubdtype(s.dtype, np.floating):
            s = s.map(lambda v: "nan" if pd.isna(v) else repr(float(v)))
        out[c] = s
    r = pd.DataFrame(out).fillna("<null>")
    return r.sort_values(by=list(r.columns), kind="mergesort").reset_index(drop=True)


def rows_hash(df) -> str:
    c = canonical(df)
    return hashlib.md5(c.to_csv(index=False).encode()).hexdigest()


class RegistryChecker:
    """Oracle-backed queries are compared with DuckDB running the
    registry's own oracle SQL; rows-only queries with recorded hashes."""

    def __init__(self, sf_dir: str, record: bool = False) -> None:
        import duckdb

        from streamming_processing_pyspark_spark.registry import build_oracles

        self.oracles = build_oracles()
        self.con = duckdb.connect()
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                self.con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(sf_dir, f)}'"
                )
        with open(EXPECTED_HASHES) as f:
            self.hashes = json.load(f)
        self.record = record

    def check(self, name: str, pdf) -> str | None:
        """None when the result is right, else what is wrong."""
        if name in self.oracles:
            odf = self.con.execute(self.oracles[name]).df()
            if sorted(pdf.columns) != sorted(odf.columns):
                return f"columns {sorted(pdf.columns)} vs oracle {sorted(odf.columns)}"
            if len(pdf) != len(odf):
                return f"{len(pdf)} rows vs oracle {len(odf)}"
            if not canonical(pdf).equals(canonical(odf)):
                return "values differ from oracle"
            return None
        got = rows_hash(pdf)
        if self.record:
            self.hashes[name] = got
            with open(EXPECTED_HASHES, "w") as f:
                json.dump(dict(sorted(self.hashes.items())), f, indent=1)
                f.write("\n")
            return None
        want = self.hashes.get(name)
        if want is None:
            return "no oracle and no recorded row hash"
        return None if got == want else f"row hash {got} != recorded {want}"


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def prepare_registry(work: str) -> dict:
    import tables

    dirs = {"sf": os.path.join(work, "tables"), "warm": os.path.join(work, "warm_tables")}
    tables.write_tables(dirs["sf"], REGISTRY_SF, TABLE_SEED)
    tables.write_tables(dirs["warm"], WARMUP_SF, TABLE_SEED + 1)
    return dirs


def warm_registry(spark, dirs: dict) -> None:
    from streamming_processing_pyspark_spark.registry import build_queries

    # the same queries, once, on the warm-up tables (other data, so nothing
    # the pass could reuse): the first run of a query in a fresh process
    # otherwise pays seconds of JVM, JIT and Python-worker start-up
    queries = build_queries()
    for name in REGISTRY_QUERIES:
        queries[name](spark, dirs["warm"]).toPandas()


def measure_registry(spark, seed, dirs, tracer, traced, out, record=False):
    from streamming_processing_pyspark_spark.registry import build_queries

    queries = build_queries()
    names = list(REGISTRY_QUERIES)
    random.Random(seed).shuffle(names)
    sf_dir = dirs["sf"]
    counters = progress = None
    if traced:
        with tracer.overhead():
            counters, progress = SparkCounters(spark), ProgressLog(spark)
            counters.drain()
    items, results, errors = [], {}, {}
    cached = 0.0
    pass_start_wall = time.time()
    t_pass = time.perf_counter()
    with tracer.span("pass"):
        for i, name in enumerate(names):
            item = {"name": name, "tag": f"perfbench-q{i}", "start": time.time()}
            t0 = time.perf_counter()
            with tracer.span("op", query=name):
                if traced:
                    spark.addTag(item["tag"])
                try:
                    with tracer.span("build", query=name):
                        df = queries[name](spark, sf_dir)
                    t1 = time.perf_counter()
                    with tracer.span("sink", query=name):
                        results[name] = df.toPandas()
                    item["build_s"], item["sink_s"] = t1 - t0, time.perf_counter() - t1
                except Exception as e:  # a failing query is counted, the pass goes on
                    errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
                finally:
                    if traced:
                        with tracer.overhead():
                            spark.removeTag(item["tag"])
                            counters.drain()
                            cached = max(cached, counters.cached_mb())
            item["wall_s"] = time.perf_counter() - t0
            item["end"] = time.time()
            items.append(item)
    pass_s = time.perf_counter() - t_pass

    with tracer.span("check"):
        checker = RegistryChecker(sf_dir, record)
        for name, pdf in results.items():
            try:
                bad = checker.check(name, pdf)
            except Exception as e:
                bad = f"check raised {type(e).__name__}: {e}"
            if bad:
                errors[name] = bad
    for name, why in errors.items():
        print(f"FAILED {name}: {why}", file=sys.stderr)
    attempted, failed = len(names), len(errors)

    n_rows = sum(len(p) for n, p in results.items() if n not in errors)
    out["pass_s"] = pass_s
    out["rows_per_s"] = n_rows / pass_s
    out["batch_ms"] = 1000.0 * pass_s / len(names)
    out["queries"] = [
        {k: it.get(k) for k in ("name", "build_s", "sink_s", "wall_s")} for it in items
    ]
    if not traced:
        return attempted, failed

    with tracer.overhead():
        per, total = attribute(
            counters.jobs(pass_start_wall), counters.stages(pass_start_wall), items
        )
        progress.close()
        peak_rss = counters.jvm_peak_rss_mb()
    attributed = sum(p["task_s"] for p in per.values())
    attempted += 1
    if abs(attributed - total["task_s"]) > 0.01 * total["task_s"]:
        failed += 1
        print(f"FAILED attribution: per-query task time {attributed:.3f} s "
              f"vs application {total['task_s']:.3f} s", file=sys.stderr)
    for q in out["queries"]:
        q["spark"] = per[q["name"]]
    out["layers"] = {
        **spark_layers(total),
        **streaming_layers(progress.events),
        "query.build_s": sum(it.get("build_s") or 0.0 for it in items),
        "query.sink_s": sum(it.get("sink_s") or 0.0 for it in items),
        "tables.cached_mb": cached,
        "jvm_peak_rss_mb": peak_rss,
        "trace.pass_s": pass_s,
        "trace.overhead_s": tracer.overhead_s,
    }
    return attempted, failed


def spark_layers(total: dict) -> dict[str, float]:
    return {
        "spark.jobs": total["jobs"],
        "spark.stages": total["stages"],
        "spark.tasks": total["tasks"],
        "spark.task_s": total["task_s"],
        "spark.python_tasks": total["python_tasks"],
        "spark.python_task_s": total["python_task_s"],
        "spark.shuffle_read_mb": total["shuffle_read"] / MB,
        "spark.shuffle_write_mb": total["shuffle_write"] / MB,
        "spark.spill_mb": total["spill"] / MB,
    }


def _epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def replay(spark, data_dir, checkpoint, n_batches):
    """Stream ``data_dir`` through the Task4 pipeline until ``n_batches``
    micro-batches are done, the stream fails or it stalls. Returns
    per-batch records, the query's progress, its error if any, whether all
    batches were done, its start time and the time taken to build its
    DataFrame."""
    from pyspark.sql import functions as F

    from streamming_processing_pyspark_spark.sources.taxi_csv import (
        normalize_trips,
        stream_taxi_csv,
    )
    from streamming_processing_pyspark_spark.streaming.jobs import (
        detect_trends_in_batch,
        geofence_10min_counts,
        run_foreach_batch,
    )

    start = time.time()
    batches: dict[int, dict] = {}
    done = threading.Event()

    def sink(batch_df, batch_id):
        t0 = time.time()
        batch_df.persist()
        counts = batch_df.select(
            F.col("window_start").cast("long"), "headquarters", "cnt"
        ).collect()
        alerts = detect_trends_in_batch(batch_df).select(
            "headquarters", F.col("window_start").cast("long"), "cnt", "prev_cnt"
        ).collect()
        batch_df.unpersist()
        batches[batch_id] = {
            "counts": [tuple(r) for r in counts],
            "alerts": [tuple(r) for r in alerts],
            "sink_start": t0,
            "sink_end": time.time(),
            "done": time.perf_counter(),
        }
        if len(batches) >= n_batches:
            done.set()

    t_build = time.perf_counter()
    agg = geofence_10min_counts(normalize_trips(stream_taxi_csv(spark, data_dir, 60)))
    build_s = time.perf_counter() - t_build
    q = run_foreach_batch(agg, sink, "update", checkpoint)
    give_up = time.perf_counter() + REPLAY_TIMEOUT_S
    while not done.wait(0.02):
        if not q.isActive or time.perf_counter() > give_up:
            break
    # let the last recorded batch commit and report its progress
    last = max(batches, default=-1)
    deadline = time.perf_counter() + 30
    while q.isActive and time.perf_counter() < deadline:
        lp = q.lastProgress
        if lp is not None and (lp["batchId"] if isinstance(lp, dict) else lp.batchId) >= last:
            break
        time.sleep(0.01)
    progress = [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]
    q.stop()
    return batches, progress, q.exception(), done.is_set(), start, build_s


def replay_failures(expected: int, completed: int, err, finished: bool) -> int:
    """Failed operations of a replay before its outputs are checked: every
    batch that did not complete, and at least one when the stream raised or
    stalled."""
    missing = expected - completed
    if err is not None or not finished:
        return max(1, missing)
    return missing


def timed_figures(done: dict, rows: list, trig: dict, warmup: int) -> dict | None:
    """``pass_s``, ``rows_per_s`` and ``batch_ms`` of the batches after the
    first ``warmup``, from each batch's end time, its input rows and its
    ``triggerExecution``. Medians, so that a stall of the shared host during
    one or two batches does not move a run's figures. None unless every
    batch is there."""
    if sorted(done) != list(range(len(rows))) or any(b not in trig for b in done):
        return None
    gaps = {b: done[b] - done[b - 1] for b in range(warmup, len(rows))}
    return {
        "pass_s": statistics.median(gaps.values()),
        "rows_per_s": statistics.median(rows[b] / g for b, g in gaps.items()),
        "batch_ms": statistics.median(trig[b] for b in gaps),
    }


def check_batches(batches: dict, truth: dict) -> int:
    """Every completed batch is one clock hour, with exactly that hour's
    window counts and alerts. Returns the number of failed checks."""
    import taxi

    failed = 0
    day0 = datetime.fromisoformat(taxi.DATE + "T00:00:00+00:00").timestamp()
    for b in sorted(batches):
        hour = TAXI_FIRST_HOUR + b
        want_counts = {k: c for k, c in truth["counts"].items() if k[0] // 3600 == hour}
        got_counts = {(int(w - day0), h): c for w, h, c in batches[b]["counts"]}
        want_alerts = {a for a in truth["alerts"] if a[1] // 3600 == hour}
        got_alerts = {(h, int(w - day0), c, p) for h, w, c, p in batches[b]["alerts"]}
        problems = []
        if got_counts != want_counts:
            problems.append("window counts differ from the ground truth")
        if got_alerts != want_alerts:
            problems.append(f"alerts {sorted(got_alerts)} != expected {sorted(want_alerts)}")
        if problems:
            failed += 1
            print(f"FAILED batch {b}: {'; '.join(problems)}", file=sys.stderr)
    if not any(a[1] // 3600 - TAXI_FIRST_HOUR in batches for a in truth["alerts"]):
        failed += 1
        print("FAILED replay: the replayed hours hold no expected alert", file=sys.stderr)
    return failed


def prepare_taxi(work: str, seed: int) -> dict:
    import taxi

    dirs = {"day": os.path.join(work, "taxi_day"), "ckpt": os.path.join(work, "ckpt")}
    dirs["truth"] = taxi.generate_day(
        dirs["day"], seed, first_hour=TAXI_FIRST_HOUR, hours=TAXI_HOURS
    )
    return dirs


def run_taxi(spark, dirs, tracer, traced, out, setup_span):
    """The replay; its first ``TAXI_WARMUP_BATCHES`` hour-batches are the
    warm-up and end set-up."""
    truth = dirs["truth"]
    counters = None
    if traced:
        with tracer.overhead():
            counters = SparkCounters(spark)
            counters.drain()
    since = time.time()
    attempted = len(truth["rows_per_batch"])
    batches, progress, err, finished, stream_start, build_s = replay(
        spark, dirs["day"], dirs["ckpt"], attempted
    )
    if err is not None:
        print(f"FAILED stream: {err}", file=sys.stderr)
    elif not finished:
        print(f"FAILED stream: {len(batches)} of {attempted} batches done", file=sys.stderr)
    ids = sorted(batches)
    if len(ids) < TAXI_WARMUP_BATCHES:
        raise RuntimeError(f"the replay did not complete its warm-up: {err}")
    warm_end = batches[ids[TAXI_WARMUP_BATCHES - 1]]
    out["setup_s"] = warm_end["done"] - _T_START

    failed = replay_failures(attempted, len(ids), err, finished)
    with tracer.span("check"):
        failed += check_batches(batches, truth)

    timed = ids[TAXI_WARMUP_BATCHES:]
    trig = {p["batchId"]: p["durationMs"]["triggerExecution"] for p in progress
            if p.get("numInputRows", 0) > 0}
    figures = timed_figures(
        {b: batches[b]["done"] for b in ids}, truth["rows_per_batch"], trig, TAXI_WARMUP_BATCHES
    )
    if finished and figures is not None:
        out.update(figures)
    else:
        out["pass_s"] = out["rows_per_s"] = out["batch_ms"] = float("nan")
    out["batches"] = [
        {"batch": b, "rows": truth["rows_per_batch"][b], "trigger_ms": trig.get(b),
         "sink_s": batches[b]["sink_end"] - batches[b]["sink_start"],
         "alerts": len(batches[b]["alerts"])}
        for b in ids
    ]
    if not traced:
        return attempted, failed

    # spans: warm-up = stream start .. end of the warm-up batches (inside
    # set-up); pass = from there to the end of the last batch
    setup_span["end"] = warm_end["sink_end"]
    with tracer.overhead():
        warm = tracer.add("warmup", stream_start, warm_end["sink_end"], setup_span["id"])
        pass_span = tracer.add("pass", warm_end["sink_end"], batches[ids[-1]]["sink_end"], None)
        for p in progress:
            if p.get("numInputRows", 0) <= 0 or p["batchId"] not in batches:
                continue
            start = _epoch_s(p["timestamp"])
            parent = warm["id"] if p["batchId"] not in timed else pass_span["id"]
            op = tracer.add("op", start, start + p["durationMs"]["triggerExecution"] / 1000.0,
                            parent, batch=p["batchId"])
            rec = batches[p["batchId"]]
            tracer.add("sink", rec["sink_start"], rec["sink_end"], op["id"], batch=p["batchId"])
        _per, total = attribute(counters.jobs(since), counters.stages(since), [])
        cached, peak_rss = counters.cached_mb(), counters.jvm_peak_rss_mb()
    out["layers"] = {
        **spark_layers(total),
        **streaming_layers(progress),
        "query.build_s": build_s,
        "query.sink_s": sum(batches[b]["sink_end"] - batches[b]["sink_start"] for b in timed),
        "tables.cached_mb": cached,
        "jvm_peak_rss_mb": peak_rss,
        "trace.pass_s": out["pass_s"],
        "trace.overhead_s": tracer.overhead_s,
    }
    return attempted, failed


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-hashes", action="store_true",
                    help="store the row hashes of the pass's rows-only queries in "
                         "expected_rows.json instead of checking them")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, ENGINE, "session.py")):
        print(f"perfbench: engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    sys.path[:0] = [ROOT, HERE]

    tracer = Tracer(bool(args.trace), run_id)
    taxi_run = args.workload == "taxi_replay"
    out: dict = {}
    spark = None
    try:
        with tracer.span("setup") as setup_span:
            with tracer.span("generate"):
                dirs = prepare_taxi(work, args.seed) if taxi_run else prepare_registry(work)
            with tracer.span("session"):
                import pyspark

                from streamming_processing_pyspark_spark.session import get_spark

                spark = get_spark()
            if not taxi_run:
                with tracer.span("warmup"):
                    warm_registry(spark, dirs)
        if taxi_run:
            attempted, failed = run_taxi(spark, dirs, tracer, args.trace, out, setup_span)
        else:
            out["setup_s"] = time.perf_counter() - _T_START
            attempted, failed = measure_registry(
                spark, args.seed, dirs, tracer, args.trace, out, args.record_hashes
            )
        env = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": cpus, "master": spark.sparkContext.master,
            "pyspark": pyspark.__version__, "python": sys.version.split()[0],
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        selfs = tracer.self_times()
        for name in ("setup", "generate", "session", "warmup", "pass", "op", "check"):
            out["layers"][f"self.{name}_s"] = selfs.get(name, 0.0)
        metrics = {k: {"value": float(out["layers"][k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(out[k]), "unit": u} for k, u in END_TO_END.items()}

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        detail = {k: v for k, v in out.items() if k != "layers"}
        json.dump({"env": env, "metrics": metrics, "detail": detail, "spans": tracer.spans},
                  f, indent=1, default=str)
    print("env " + json.dumps(env))
    correct = failed == 0 and all(m["value"] == m["value"] for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
