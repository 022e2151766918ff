"""The repository benchmark: one workload, one run.

    python3 perfbench/run.py --workload cron_transfer --seed 1 --seconds 6 --trace 0

Run from the repository root. The run generates the workload's inputs
from ``--seed`` under ``.perfbench_work/``, sets up a ``local[nproc]``
session (``setup_s``: JVM launch, session start and the untimed warm-up
operation), then runs whole passes of the workload in a closed loop (one
client, each operation starts when the previous one ends): as many passes
as take ``--seconds`` at the workload's nominal pass time, so every
commit measures the same work. Outputs are checked outside the timed
region; a failed check counts as a failed operation.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics instead: passes run traced and untraced in ABBA order,
and the difference between them is the tracing overhead. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from layertrace import CALL_LAYERS, JOB_LAYERS  # noqa: E402

RECONCILE_TOL = 0.10

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"), ("peak_rss_mb", "MB")]

PER_LAYER = (
    [("session.start_s", "s")]
    + [(f"{layer}.call_s", "s") for layer in CALL_LAYERS]
    + [(f"{layer}.jobs", "count") for layer in JOB_LAYERS]
    + [("sources.rows_read", "count"), ("sources.bytes_read", "bytes"),
       ("sources.files_read", "count"),
       ("operators.dedup.kept_ratio", "ratio"), ("plans.pretrain.kept_ratio", "ratio")]
    + [(f"query.{slot}.{m}", u) for slot in workloads.QUERY_SLOTS
       for m, u in (("build_s", "s"), ("jobs", "count"), ("action_s", "s"))]
    + [("operators.cache.storage_mb_after", "MB"),
       ("sinks.rows_written", "count"), ("sinks.files_written", "count"),
       ("sinks.bytes_written", "bytes"),
       ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
       ("catalyst.planning_s", "s"),
       ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.job_s", "s"), ("spark.driver_idle_s", "s"),
       ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
       ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
       ("spark.spill_bytes", "bytes"), ("spark.python_bytes", "bytes"),
       ("spark.task_skew", "ratio"),
       ("trace.overhead_share", "ratio"), ("trace.unattributed_share", "ratio"),
       ("trace.reconcile_fail_ops", "count"), ("trace.traced_ops", "count")]
)


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------

def _driver_memory() -> str:
    """A quarter of MemTotal, between 1 and 2 GiB: the package default
    (48g) does not fit small boxes, and the inputs need far less."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1024, min(2048, kb // 1024 // 4))}m"


def _configure(work: str) -> dict[str, str]:
    """Point every scratch location at ``work`` and size the session to
    the box; returns the extra Spark confs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    mem = os.environ["SPARK_GRAFT_DRIVER_MEM"] = _driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap (-Xms = driver memory), so peak RSS does not hinge
        # on when the JVM grows it; no hsperfdata file in /tmp: the run
        # writes only inside the checkout
        "spark.driver.extraJavaOptions":
            f"-Xms{mem} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def _eventlog_conf(work: str) -> dict[str, str]:
    path = os.path.join(work, "eventlog")
    os.makedirs(path, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + path,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the
    Python driver, the JVM and its Python workers), sampled every 0.1 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    with open(f"/proc/{pid}/stat") as fh:
                        parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self):
        while not self._halt.is_set():
            self.peak_mb = max(self.peak_mb, self._tree_rss() / 2**20)
            self._halt.wait(0.1)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_mb


# ---------------------------------------------------------------------------
# the closed loop
# ---------------------------------------------------------------------------

class Loop:
    """Times operations, records failures and (when a tracer is set)
    the per-layer trace of each operation."""

    def __init__(self, spark):
        self.spark = spark
        self.ops: list[dict] = []
        self.tracer = None

    def op(self, kind: str, fn):
        rec = {"kind": kind, "ok": True, "traced": self.tracer is not None, "counts": {}}
        if self.tracer is not None:
            self.tracer.begin(len(self.ops), kind)
        rec["t0"] = time.perf_counter()
        res = None
        try:
            res = fn()
        except Exception:  # an operation that raises is a failed operation
            rec["ok"] = False
            traceback.print_exc(file=sys.stderr)
        rec["t1"] = time.perf_counter()
        rec["s"] = rec["t1"] - rec["t0"]
        if self.tracer is not None:
            rec["trace"] = self.tracer.end(rec["s"])
        self.spark.catalog.clearCache()
        self.ops.append(rec)
        return rec, res

    def count(self, rec: dict, key: str, value: float) -> None:
        rec["counts"][key] = rec["counts"].get(key, 0) + value

    def fail(self, rec: dict, why: str) -> None:
        if rec["ok"]:
            print(f"perfbench: check failed: {why}", file=sys.stderr)
        rec["ok"] = False

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def catalyst(self, df) -> None:
        if self.tracer is not None:
            self.tracer.catalyst(df)


def _new_session(conf: dict[str, str]):
    from etl_pack_spark.session import get_spark

    return get_spark("perfbench", extra_conf=conf)


def n_passes(wl, seconds: float, trace: bool) -> int:
    """A run measures a fixed amount of work, so a faster commit does not
    do more of it: the passes that take ``seconds`` at the workload's
    nominal pass time. At least one; a traced run makes at least four,
    traced and untraced in ABBA order (see :func:`traced_pass`)."""
    return max(4 if trace else 1, round(seconds / wl.nominal_pass_s))


def traced_pass(i: int) -> bool:
    """Traced, untraced, untraced, traced, ...: later passes run warmer,
    and ABBA order keeps that trend out of the tracing overhead."""
    return i % 4 in (0, 3)


def _stop_jvm() -> None:
    """Stop the session, then the JVM the Python driver launched, and wait
    for it (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(workload_name: str, seed: int, seconds: float, trace: bool, root: str) -> dict:
    """One run; the session, the JVM and the scratch directory are gone
    when it returns or raises."""
    work = os.path.join(root, ".perfbench_work", f"{workload_name}-{os.getpid()}")
    conf = _configure(work)
    if trace:
        conf.update(_eventlog_conf(work))
    try:
        return _measure(workload_name, seed, seconds, trace, work, conf)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left only when other runs use it
            os.rmdir(os.path.dirname(work))


def _measure(workload_name, seed, seconds, trace, work, conf) -> dict:
    import bench

    calib_pre = bench._calibrate()
    wl = workloads.WORKLOADS[workload_name]()
    wl.generate(seed, os.path.join(work, "in"))

    t0 = time.perf_counter()
    spark = _new_session(conf)
    session_s = time.perf_counter() - t0
    wl.warmup(spark)
    spark.catalog.clearCache()
    setup_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    if hasattr(wl, "prepare"):
        wl.prepare(spark)
    prime_s = time.perf_counter() - t0

    loop = Loop(spark)
    tracer = None
    if trace:
        from layertrace import Tracer

        tracer = Tracer(spark, os.path.join(work, "eventlog"))
    passes = []
    rss = RssSampler()
    rss.start()
    try:
        for _ in range(n_passes(wl, seconds, trace)):
            traced = trace and traced_pass(len(passes))
            if traced:
                tracer.install()
                loop.tracer = tracer
            first = len(loop.ops)
            try:
                wl.run_pass(spark, loop)
            finally:
                if traced:
                    loop.tracer = None
                    tracer.remove()
            ops = loop.ops[first:]
            # first operation's start to last one's end: checks run after
            passes.append({"traced": traced, "ops": ops,
                           "s": ops[-1]["t1"] - ops[0]["t0"] if ops else 0.0})
    finally:
        peak_rss = rss.stop()
    return {
        "session_s": session_s, "setup_s": setup_s, "prime_s": prime_s,
        "passes": passes, "ops": loop.ops, "peak_rss_mb": peak_rss,
        "calibration": {"pre": calib_pre, "post": bench._calibrate()},
    }


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def tail(latencies: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    operations beyond it, or None when the run has ten or fewer."""
    n = len(latencies)
    if n <= 10:
        return None
    k = n - 10
    return 100.0 * k / n, sorted(latencies)[k - 1]


def _untraced(res: dict) -> list[dict]:
    return [p for p in res["passes"] if not p["traced"]]


def end_to_end(res: dict) -> dict[str, float]:
    passes = _untraced(res)
    return {
        "setup_s": res["setup_s"],
        "wall_s": statistics.median(p["s"] for p in passes),
        "op_p50_s": statistics.median(op["s"] for p in passes for op in p["ops"]),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def per_layer(res: dict) -> dict[str, float]:
    traced = [op for op in res["ops"] if op["traced"]]
    tr = [op["trace"] for op in traced]
    out = {name: 0.0 for name, _ in PER_LAYER}
    out["session.start_s"] = res["session_s"]
    for layer in CALL_LAYERS:
        out[f"{layer}.call_s"] = _mean(t.call_s.get(layer, 0.0) for t in tr)
    for key in {k for t in tr for k in t.counts} & out.keys():
        out[key] = _mean(t.counts.get(key, 0.0) for t in tr)
    if tr:
        out["spark.task_skew"] = statistics.median(t.counts["spark.task_skew"] for t in tr)
        out["operators.cache.storage_mb_after"] = max(
            t.counts["operators.cache.storage_mb_after"] for t in tr)
    rows_in = sum(op["counts"].get("rows_in", 0) for op in traced)
    if rows_in:
        written = sum(t.counts.get("sinks.rows_written", 0) for t in tr)
        out_rows = sum(op["counts"].get("rows_out", 0) for op in traced)
        out["operators.dedup.kept_ratio"] = written / rows_in
        out["plans.pretrain.kept_ratio"] = out_rows / rows_in
    for slot in workloads.QUERY_SLOTS:
        mine = [t for t in tr if t.kind == slot]
        if mine:
            out[f"query.{slot}.build_s"] = _mean(t.call_s.get(f"query.{slot}.build", 0) for t in mine)
            out[f"query.{slot}.action_s"] = _mean(t.call_s.get("action", 0) for t in mine)
            out[f"query.{slot}.jobs"] = _mean(t.counts["spark.jobs"] for t in mine)
    out["trace.overhead_share"] = overhead(res["ops"])
    shares = [(t.wall_s - t.top_s) / t.wall_s for t in tr if t.wall_s > 0]
    out["trace.unattributed_share"] = statistics.median(shares) if shares else 0.0
    out["trace.reconcile_fail_ops"] = sum(not reconciles(t) for t in tr)
    out["trace.traced_ops"] = len(tr)
    return out


def overhead(ops: list[dict]) -> float:
    """Traced over untraced operation latency, minus one: per-kind
    medians summed over the kinds both sides ran."""
    by = {}
    for op in ops:
        by.setdefault((op["kind"], op["traced"]), []).append(op["s"])
    kinds = {k for k, traced in by if (k, not traced) in by}
    if not kinds:
        return 0.0
    on = sum(statistics.median(by[k, True]) for k in kinds)
    off = sum(statistics.median(by[k, False]) for k in kinds)
    return on / off - 1


def reconciles(t) -> bool:
    """The operation's layer spans cover its wall, and Spark's job time
    fits inside it, both within ``RECONCILE_TOL``."""
    if t.wall_s <= 0:
        return False
    return (abs(t.wall_s - t.top_s) <= RECONCILE_TOL * t.wall_s
            and t.counts["spark.job_s"] <= (1 + RECONCILE_TOL) * t.wall_s)


def report(workload: str, res: dict, trace: bool) -> dict:
    """Human-readable lines on stdout, then the result object."""
    ops = res["ops"]
    attempted, failed = len(ops), sum(not op["ok"] for op in ops)
    lines = [f"workload {workload}: {attempted} operations in {len(res['passes'])} passes, "
             f"{failed} failed"]
    lines.append(f"failed_share {failed / max(attempted, 1):.4f} ratio")
    lines.append(f"prime_s {res['prime_s']:.4f} s (untimed oracle comparison pass)")
    untraced = [op for p in _untraced(res) for op in p["ops"]]
    t = tail([op["s"] for op in untraced])
    if t is None:
        lines.append(f"op_tail_s not supported: {len(untraced)} operations, needs more than 10")
    else:
        lines.append(f"op_tail_s {t[1]:.4f} s (p{t[0]:.1f} of {len(untraced)} operations)")
    kinds = {}
    for op in untraced:
        kinds.setdefault(op["kind"], []).append(op["s"])
    lines.append("pass_s " + json.dumps([round(p["s"], 4) for p in res["passes"]]))
    lines.append("op_median_s_by_kind " + json.dumps(
        {k: round(statistics.median(v), 4) for k, v in kinds.items()}))
    lines.append(f"calibration {json.dumps(res['calibration'], sort_keys=True)}")
    if trace:
        values, units = per_layer(res), dict(PER_LAYER)
    else:
        values, units = end_to_end(res), dict(END_TO_END)
    for name, v in values.items():
        lines.append(f"{name} {v:.6g} {units[name]}")
    print("\n".join(lines))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": v, "unit": units[name]} for name, v in values.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "etl_pack_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "bench.py"))):
        print("perfbench: run from the repository root (etl_pack_spark/ and bench.py "
              "not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    res = run(args.workload, args.seed, args.seconds, bool(args.trace), root)
    result = report(args.workload, res, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
