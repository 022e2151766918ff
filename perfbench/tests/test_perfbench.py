"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark (one JVM per run, about 40 s each).
"""

from __future__ import annotations

import dataclasses
import io
import json
import os
import subprocess
import sys
import tempfile
from contextlib import redirect_stdout

import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402

WORKLOADS = ["cron_transfer", "corpus_curate", "query_mix"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _files(root: str) -> dict[str, tuple[int, str]]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                out[os.path.relpath(os.path.join(d, f), root)] = gen.fingerprint(
                    pq.read_table(os.path.join(d, f)))
    return out


def _generate(seed: int, root: str) -> dict[str, tuple[int, str]]:
    gen.cron_inputs(seed, root)
    gen.corpus_inputs(seed, root)
    gen.query_mix_inputs(seed, root)
    return _files(root)


def test_generators_deterministic_per_seed(tmp_path):
    a = _generate(7, str(tmp_path / "a"))
    b = _generate(7, str(tmp_path / "b"))
    c = _generate(8, str(tmp_path / "c"))
    assert a == b
    assert a.keys() == c.keys()
    # a different seed changes the rows but not the sizes
    for name in a:
        assert a[name][0] == c[name][0], name
    changed = [n for n in a if a[n][1] != c[n][1]]
    assert set(changed) >= {
        "cron/source.parquet", "corpus/documents.parquet", "tables/lineitem.parquet",
        "tables/events.parquet", "tables/documents.parquet", "tables/embeddings.parquet",
    }


def test_planted_shares_have_fixed_sizes(tmp_path):
    inp = gen.corpus_inputs(3, str(tmp_path))
    k = gen.CORPUS
    assert len(inp.texts) == k["docs"]
    assert sum(len(g) - 1 for g in inp.exact_groups) == round(k["docs"] * k["exact_dup_share"])
    cron = gen.cron_inputs(3, str(tmp_path))
    assert sum(cron.appended) == cron.source.num_rows


def test_metric_lists_match_benchmark_json():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == WORKLOADS


def test_tail_needs_more_than_ten_operations():
    assert run.tail([1.0] * 10) is None
    pct, value = run.tail([float(i) for i in range(1, 41)])
    assert pct == 75.0 and value == 30.0


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    assert "failed_share 0.0000 ratio" in proc.stdout
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_planted_wrong_output_counts_as_failed(monkeypatch):
    real = gen.cron_inputs

    def wrong(seed, root):
        inp = real(seed, root)
        return dataclasses.replace(inp, appended=[n + 1 for n in inp.appended])

    monkeypatch.setattr(gen, "cron_inputs", wrong)
    monkeypatch.chdir(ROOT)
    env = dict(os.environ)
    out = io.StringIO()
    try:
        with redirect_stdout(out):
            assert run.main(["--workload", "cron_transfer", "--seed", "1", "--seconds", "0"]) == 0
    finally:
        os.environ.clear()
        os.environ.update(env)
        tempfile.tempdir = None
    result = json.loads(out.getvalue().strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] == result["attempted"] > 0
    assert f"failed_share {1:.4f} ratio" in out.getvalue()


def test_bare_checkout_exits_nonzero_without_a_result(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "query_mix",
         "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
