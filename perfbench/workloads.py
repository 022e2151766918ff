"""The three workloads: inputs, the warm-up operation, one pass of timed
operations, and the output checks (run outside the timed region).

A pass is the fixed unit of work a workload repeats; ``nominal_pass_s``
is its duration on a 4-core box, from which a run's ``--seconds`` sets
the number of passes. ``wall_s`` is the median pass time:

* ``cron_transfer``: ``firings_per_pass`` ``run_transfer`` firings over
  sliding, overlapping windows into a fresh parquet target that grows
  across the pass.
* ``corpus_curate``: one ``prepare_pretraining_corpus`` invocation.
* ``query_mix``: one run of each registry slot in ``QUERY_SLOTS`` through
  the ``noop`` sink.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import pyarrow.parquet as pq

import gen

QUERY_SLOTS = [
    "tpch_q5_like", "cdc_scd2", "bm25_search", "c4_clean",
    "agg_pricing_summary", "window_topk_orders", "sessionize", "ann_ivf_topk",
]


class CronTransfer:
    name = "cron_transfer"
    nominal_pass_s = 6.0

    def generate(self, seed: int, root: str) -> None:
        self.root = root
        self.inp = gen.cron_inputs(seed, root)
        self.expected = gen.fingerprint(self.inp.source)
        self._targets = 0

    def _target(self) -> str:
        self._targets += 1
        return os.path.join(self.root, "targets", f"t{self._targets}")

    def _firing(self, spark, target: str, f: int):
        from etl_pack_spark.plans.transfer import TransferConfig, run_transfer

        lo, hi = self.inp.windows[f]
        cfg = TransferConfig(self.inp.source_dir, self.inp.table, target,
                             window=("ts", lo, hi))
        return run_transfer(spark, cfg)

    def warmup(self, spark) -> None:
        # the first two firings: the empty-target path and the snapshot path
        target = self._target()
        for f in range(2):
            self._firing(spark, target, f)
        shutil.rmtree(target)

    def run_pass(self, spark, loop) -> None:
        target = self._target()
        recs = []
        for f, appended in enumerate(self.inp.appended):
            rec, res = loop.op("firing", lambda: self._firing(spark, target, f))
            loop.count(rec, "rows_in", self.inp.window_rows)
            recs.append(rec)
            if res is None:
                break
            if res.rows != appended:
                loop.fail(rec, f"firing {f} appended {res.rows} rows, expected {appended}")
        if len(recs) == len(self.inp.appended) and all(r["ok"] for r in recs):
            got = gen.fingerprint(pq.read_table(target))
            if got != self.expected:
                for r in recs:
                    loop.fail(r, f"target {got} != distinct union of windows {self.expected}")
        shutil.rmtree(target, ignore_errors=True)


class CorpusCurate:
    name = "corpus_curate"
    nominal_pass_s = 5.5

    def generate(self, seed: int, root: str) -> None:
        self.inp = gen.corpus_inputs(seed, root)
        self.dir = os.path.dirname(self.inp.path)
        self.reference = None

    def _invoke(self, spark, loop=None):
        from etl_pack_spark.plans.pretrain import prepare_pretraining_corpus
        from etl_pack_spark.sources.reader import read_table

        docs = read_table(spark, self.dir, "documents")
        out = prepare_pretraining_corpus(docs)
        if loop is None:
            return out.toArrow()
        loop.catalyst(out)
        with loop.span("action"):
            return out.toArrow()

    def warmup(self, spark) -> None:
        self.reference = gen.fingerprint(self._invoke(spark))

    def run_pass(self, spark, loop) -> None:
        rec, out = loop.op("pipeline", lambda: self._invoke(spark, loop))
        if out is None:
            return
        loop.count(rec, "rows_in", len(self.inp.texts))
        loop.count(rec, "rows_out", out.num_rows)
        for problem in self.problems(out):
            loop.fail(rec, problem)

    def problems(self, out) -> list[str]:
        found = []
        ids = out.column("doc_id").to_pylist()
        digests = [hashlib.md5(self.inp.texts[i].encode()).hexdigest() for i in set(ids)]
        if len(set(digests)) != len(digests):
            found.append("two survivors share a content hash")
        alive = set(ids)
        bad = [g for g in self.inp.exact_groups if len(alive.intersection(g)) > 1]
        if bad:
            found.append(f"{len(bad)} exact-duplicate group(s) kept more than one survivor")
        fp = gen.fingerprint(out)
        if fp != self.reference:
            found.append(f"output fingerprint {fp} differs from the warm-up's {self.reference}")
        return found


class QueryMix:
    name = "query_mix"
    nominal_pass_s = 9.0

    def generate(self, seed: int, root: str) -> None:
        self.dir = gen.query_mix_inputs(seed, root)
        self.verdict: dict[str, str | None] = {}

    def _query(self, slot: str):
        from etl_pack_spark import suite

        return suite.QUERIES[slot]

    def warmup(self, spark) -> None:
        self._query(QUERY_SLOTS[0])(spark, self.dir).write.format("noop").mode("overwrite").save()

    def prepare(self, spark) -> None:
        """Run every slot once, collected, and compare it with its DuckDB
        oracle twin on the same files. Untimed; it also warms each slot."""
        import __spark_entry__
        from etl_pack_spark.oracle import duck_connect

        oracles = __spark_entry__.oracle_sql()
        con = duck_connect(self.dir)
        try:
            for slot in QUERY_SLOTS:
                try:
                    self.verdict[slot] = self._compare(spark, con, slot, oracles[slot])
                except Exception as exc:  # a slot that cannot run fails its check
                    self.verdict[slot] = f"error: {exc!r}"[:300]
                spark.catalog.clearCache()
        finally:
            con.close()

    def _compare(self, spark, con, slot: str, oracle: str) -> str | None:
        from etl_pack_spark.oracle import canon_frame

        got = self._query(slot)(spark, self.dir).toPandas()
        want = con.execute(oracle).fetchdf()
        got.columns = [c.lower() for c in got.columns]
        want.columns = [c.lower() for c in want.columns]
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        if canon_frame(got) != canon_frame(want):
            return f"{len(got)} rows differ from the oracle's {len(want)}"
        return None

    def _run(self, spark, slot: str, loop):
        with loop.span(f"query.{slot}.build"):
            df = self._query(slot)(spark, self.dir)
        loop.catalyst(df)
        with loop.span("action"):
            df.write.format("noop").mode("overwrite").save()
        return True

    def run_pass(self, spark, loop) -> None:
        for slot in QUERY_SLOTS:
            rec, _ = loop.op(slot, lambda: self._run(spark, slot, loop))
            problem = self.verdict.get(slot, "no oracle comparison ran")
            if problem:
                loop.fail(rec, f"{slot}: {problem}")


WORKLOADS = {w.name: w for w in (CronTransfer, CorpusCurate, QueryMix)}
