"""Per-layer tracing from the benchmark's own code.

Two sources, both outside the package:

* Spans. :class:`Tracer` rebinds the public entry points of each layer
  module (every module attribute that *is* the original function, so
  ``from x import f`` copies are caught too) to a wrapper that records
  the outermost call of each layer and tags Spark jobs submitted inside
  it with the span path (a SparkContext local property).
* Spark's own accounting. The session writes an uncompressed event log;
  after each operation the listener bus is drained and the new events
  are folded into per-operation job, stage, task, executor, shuffle and
  Python-worker counts.

:meth:`Tracer.remove` restores every rebound attribute.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

OP_PROP = "perfbench.op"
SPAN_PROP = "perfbench.span"

# layer name -> (module, public entry points). Names that a later
# refactor removes are reported on stderr and skipped.
LAYERS: dict[str, tuple[str, list[str]]] = {
    "sources": ("etl_pack_spark.sources.reader", ["read_table", "windowed_read"]),
    "operators.dedup": ("etl_pack_spark.operators.dedup",
                        ["snapshot_hashes", "incremental_filter", "exact_dedup"]),
    "operators.hashing": ("etl_pack_spark.operators.hashing", ["with_row_hash"]),
    "plans.curate": ("etl_pack_spark.plans.curate", ["curate_corpus"]),
    "operators.neardup": ("etl_pack_spark.operators.neardup",
                          ["simhash_neardup_pairs", "hamming_neardup_pairs"]),
    "operators.components": ("etl_pack_spark.operators.components",
                             ["neardup_clusters", "cluster_dedup"]),
    "operators.packing": ("etl_pack_spark.operators.packing", ["pack_sequences"]),
    "plans.pretrain": ("etl_pack_spark.plans.pretrain", ["prepare_pretraining_corpus"]),
    "operators.retrieval": ("etl_pack_spark.operators.retrieval",
                            ["bm25_topk_batch", "rrf_fuse"]),
    "operators.similarity": ("etl_pack_spark.operators.similarity",
                             ["cosine_topk", "ivf_topk", "_collect_centroids"]),
    "operators.quantize": ("etl_pack_spark.operators.quantize",
                           ["ivf_pq_quantizers", "ivf_assign_encode", "ivf_pq_topk"]),
    "plans.merge": ("etl_pack_spark.plans.merge", ["scd2_build", "snapshot_diff"]),
    "sinks": ("etl_pack_spark.sinks.writers", ["append_table"]),
}
# hashing and dedup report as one layer, as the dedup key is the row hash
LAYER_ALIAS = {"operators.hashing": "operators.dedup"}
# layers reported by call time, and by the jobs submitted inside them
CALL_LAYERS = [
    "sources", "operators.dedup", "plans.curate", "operators.neardup",
    "operators.components", "operators.packing", "plans.pretrain",
    "operators.retrieval", "operators.similarity", "operators.quantize",
    "plans.merge", "sinks",
]
JOB_LAYERS = ["operators.dedup", "plans.curate", "operators.neardup",
              "operators.components", "operators.packing", "plans.pretrain"]
CATALYST_PHASES = ["analysis", "optimization", "planning"]
PYTHON_ACCUMS = {"data sent to Python workers", "data returned from Python workers"}


@dataclass
class OpTrace:
    """What one traced operation did, driver side and Spark side."""

    op: int
    kind: str
    wall_s: float = 0.0
    call_s: dict[str, float] = field(default_factory=dict)
    top_s: float = 0.0                  # sum of depth-0 span durations
    counts: dict[str, float] = field(default_factory=dict)


class Tracer:
    def __init__(self, spark, eventlog_dir: str):
        self.sc = spark.sparkContext
        self.eventlog_dir = eventlog_dir
        self._rebound: list[tuple[object, str, object]] = []
        self._stack: list[str] = []
        self._cur: OpTrace | None = None
        self._log_pos = 0
        self._log_file: str | None = None

    # -- spans ---------------------------------------------------------

    def install(self) -> None:
        missing = []
        for layer, (mod_name, names) in LAYERS.items():
            mod = importlib.import_module(mod_name)
            for name in names:
                orig = getattr(mod, name, None)
                if orig is None:
                    missing.append(f"{mod_name}.{name}")
                    continue
                self._rebind(orig, self._wrap(LAYER_ALIAS.get(layer, layer), orig))
        if missing:
            print(f"perfbench: untraced (not found): {missing}", file=sys.stderr)

    def _rebind(self, orig, wrapper) -> None:
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if not (name.startswith("etl_pack_spark") or name in ("bench", "__spark_entry__")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)
                    self._rebound.append((mod, attr, orig))

    def remove(self) -> None:
        for mod, attr, orig in reversed(self._rebound):
            setattr(mod, attr, orig)
        self._rebound.clear()

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer._cur is None or layer in tracer._stack:
                return fn(*args, **kwargs)
            with tracer.span(layer):
                hook = _HOOKS.get(layer)
                if hook is None:
                    return fn(*args, **kwargs)
                return hook(tracer, fn, args, kwargs)

        return wrapper

    def span(self, name: str):
        return _Span(self, name)

    def add(self, key: str, value: float) -> None:
        if self._cur is not None:
            self._cur.counts[key] = self._cur.counts.get(key, 0.0) + value

    def catalyst(self, df) -> None:
        """Catalyst phase times of ``df``'s query execution (forces its
        physical plan, so the phases exist before the action runs)."""
        if self._cur is None:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for p in CATALYST_PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                self.add(f"catalyst.{p}_s", opt.get().durationMs() / 1e3)

    # -- operations ----------------------------------------------------

    def begin(self, op: int, kind: str) -> None:
        self._cur = OpTrace(op, kind)
        self._stack = []
        self.sc.setLocalProperty(OP_PROP, str(op))
        self.sc.setLocalProperty(SPAN_PROP, "")

    def end(self, wall_s: float) -> OpTrace:
        cur, self._cur = self._cur, None
        self.sc.setLocalProperty(OP_PROP, None)
        self.sc.setLocalProperty(SPAN_PROP, None)
        cur.wall_s = wall_s
        cur.counts["operators.cache.storage_mb_after"] = _storage_mb(self.sc)
        self._fold_events(cur)
        return cur

    def _fold_events(self, cur: OpTrace) -> None:
        # every event posted so far reaches the event log before we read it
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs, stages, tasks = {}, {}, []
        for ev in self._new_events():
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if props.get(OP_PROP) == str(cur.op):
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"], "end": None,
                        "stages": set(ev["Stage IDs"]),
                        "span": props.get(SPAN_PROP) or "",
                    }
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[info["Stage ID"]] = info
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
        mine = set().union(*(j["stages"] for j in jobs.values())) if jobs else set()
        stages = {sid: s for sid, s in stages.items() if sid in mine}
        tasks = [t for t in tasks if t["Stage ID"] in stages]
        c = cur.counts
        c["spark.jobs"] = len(jobs)
        c["spark.stages"] = len(stages)
        c["spark.tasks"] = len(tasks)
        c["spark.job_s"] = _union_s([(j["start"], j["end"]) for j in jobs.values()
                                     if j["end"] is not None])
        c["spark.driver_idle_s"] = cur.wall_s - c["spark.job_s"]
        for layer in JOB_LAYERS:
            c[f"{layer}.jobs"] = sum(layer in j["span"].split("/") for j in jobs.values())
        for key in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes", "python_bytes"):
            c[f"spark.{key}"] = 0.0
        for key in ("sources.rows_read", "sources.bytes_read", "sinks.bytes_written"):
            c.setdefault(key, 0.0)
        for t in tasks:
            m = t.get("Task Metrics") or {}
            c["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            c["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["spark.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            im = m.get("Input Metrics") or {}
            c["sources.rows_read"] += im.get("Records Read", 0)
            c["sources.bytes_read"] += im.get("Bytes Read", 0)
            c["sinks.bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        for s in stages.values():
            for a in s.get("Accumulables") or []:
                if a.get("Name") in PYTHON_ACCUMS:
                    c["spark.python_bytes"] += float(a.get("Value") or 0)
        c["spark.task_skew"] = _task_skew(stages, tasks)

    def _new_events(self):
        if self._log_file is None:
            # one file per application: the session disables log rolling
            [self._log_file] = glob.glob(os.path.join(self.eventlog_dir, f"{self.sc.applicationId}*"))
        with open(self._log_file, "rb") as fh:
            fh.seek(self._log_pos)
            data = fh.read()
        end = data.rfind(b"\n") + 1
        self._log_pos += end
        for line in data[:end].splitlines():
            if line.startswith((b'{"Event":"SparkListenerTaskStart"',
                                b'{"Event":"SparkListenerStageSubmitted"')):
                continue
            yield json.loads(line)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        t._stack.append(self.name)
        t.sc.setLocalProperty(SPAN_PROP, "/".join(t._stack))
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        dt = time.perf_counter() - self.t0
        t = self.t
        t._stack.pop()
        t.sc.setLocalProperty(SPAN_PROP, "/".join(t._stack))
        if t._cur is not None:
            calls = t._cur.call_s
            calls[self.name] = calls.get(self.name, 0.0) + dt
            if not t._stack:
                t._cur.top_s += dt
        return False


# -- layer hooks: counts taken where the work happens ----------------------

def _sources_hook(tracer, fn, args, kwargs):
    df = fn(*args, **kwargs)
    # frames read inside a sources call are counted once, at the outermost call
    tracer.add("sources.files_read", len(df.inputFiles()))
    return df


def _sinks_hook(tracer, fn, args, kwargs):
    df = args[0] if args else kwargs["df"]
    path = args[1] if len(args) > 1 else kwargs["path"]
    tracer.catalyst(df)
    before = _part_files(path)
    res = fn(*args, **kwargs)
    tracer.add("sinks.files_written", len(_part_files(path) - before))
    tracer.add("sinks.rows_written", res.rows)
    return res


_HOOKS = {"sources": _sources_hook, "sinks": _sinks_hook}


def _part_files(path: str) -> set[str]:
    path = path.removeprefix("file:")
    if not os.path.isdir(path):
        return set()
    return {f for _, _, fs in os.walk(path) for f in fs if f.startswith("part-")}


def _storage_mb(sc) -> float:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1e3


def _task_skew(stages: dict, tasks: list[dict]) -> float:
    """max / median task duration in the operation's longest stage."""
    if not stages:
        return 1.0
    longest = max(stages.values(),
                  key=lambda s: (s.get("Completion Time") or 0) - (s.get("Submission Time") or 0))
    durs = [t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]
            for t in tasks if t["Stage ID"] == longest["Stage ID"]]
    med = statistics.median(durs) if durs else 0
    return max(durs) / med if med > 0 else 1.0
