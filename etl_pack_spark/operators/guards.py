"""The plan-stats and bounded-probe layer. Every adaptive decision
(model-join broadcast, prefilter engagement, spread width, driver vs
distributed union-find, ANN method, hot-bucket engagement, the BPE
vocabulary cap) sizes its input here, and no other module reads
Catalyst plan stats or runs a ``limit(n+1)`` size probe.

Plan stats are free (driver-side, no job) and all go through
:func:`_plan_stats`, the one place an introspection failure is caught:
it returns ``None`` and each caller takes a conservative branch with
the same result. :func:`bounded_count` is the probe: the exact leaf
count when the plan carries one (zero jobs), else one bounded job.

:func:`maybe_broadcast` bounds model joins. Several operators join a
VOCABULARY-sized model (unigram token model, NB log-likelihood table)
onto corpus-sized exploded tokens. On clean corpora zipf keeps it tiny
and a forced ``F.broadcast`` is right — but a raw web crawl's
vocabulary can reach tens of GB, and a forced broadcast ignores
``spark.sql.autoBroadcastJoinThreshold``: the driver collects and
every executor materializes the whole table → OOM. Past the bound the
frame stays UNHINTED and AQE picks the join from runtime sizes. Callers
probe a persisted/pooled frame, or the probe and the join would run
the model's lineage twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ~2M rows ≈ low hundreds of MB at typical (token, double) widths:
# comfortably broadcastable on executors sized for 100 TB inputs, and
# far past the point where zipf says a real vocabulary has gone wrong.
MAX_BROADCAST_MODEL_ROWS = 2_000_000

# optimized-plan roots whose rowCount is exact without CBO
_EXACT_LEAVES = ("LocalRelation", "OneRowRelation", "Range")


def _plan_stats(df: DataFrame) -> tuple[str, int, int | None] | None:
    """``(root class, sizeInBytes, rowCount or None)`` of ``df``'s
    optimized plan — the package's one plan-stats read. ``None`` when
    the plan cannot be introspected."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        stats = plan.stats()
        rc = stats.rowCount()
        return (
            plan.getClass().getSimpleName(),
            int(str(stats.sizeInBytes())),
            int(str(rc.get())) if rc.isDefined() else None,
        )
    except Exception:  # noqa: BLE001 — any introspection hiccup
        return None


def known_row_count(df: DataFrame) -> int | None:
    """The EXACT row count of a plan that optimizes to a driver-local
    leaf (r16): ``createDataFrame`` output, ``range``, and anything
    constant-folded onto them. ``None`` for every other plan — the
    leaf gate keeps estimated rowCounts (a ``Limit``'s bound, CBO
    estimates) out."""
    stats = _plan_stats(df)
    if stats is None or stats[0] not in _EXACT_LEAVES:
        return None
    return stats[2]


def estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the (column-pruned) plan, or
    ``None`` when stats are unavailable."""
    stats = _plan_stats(df)
    return None if stats is None else stats[1]


def estimated_rows(df: DataFrame) -> int | None:
    """Catalyst's size-only row estimate: plan ``sizeInBytes`` divided
    by the output schema's estimated row width (the defaultSize
    arithmetic the byte estimate was propagated with), or ``None``
    when stats are unavailable.

    The usual error is an UNDERestimate: over a compressed parquet
    scan ``sizeInBytes`` is the on-disk file size while the divisor is
    the in-memory row width, so the estimate falls short by about the
    compression ratio (3-7x for the snapshot hashes of the TPC-H
    fixture tables). The size-only visitor also ignores filter
    selectivity and distinct reduction, which pushes the other way.
    Only plan choice rides on it: every branch it drives returns the
    same rows."""
    stats = _plan_stats(df)
    if stats is None:
        return None
    return stats[1] // (8 + int(df._jdf.schema().defaultSize()))


def bounded_count(df: DataFrame, bound: int) -> int:
    """``min(row count, bound + 1)``: the exact leaf count when the
    plan carries one (zero jobs), else ``limit(bound + 1).count()``,
    which never scans past the bound. ``bounded_count(df, 0) == 0`` is
    the emptiness probe: one bounded action, where ``isEmpty()`` scans
    partitions in growing rounds and can run several jobs."""
    n = known_row_count(df)
    if n is None:
        return df.limit(bound + 1).count()
    return min(n, bound + 1)


def maybe_broadcast(model: DataFrame) -> DataFrame:
    """``F.broadcast(model)`` only when :func:`bounded_count` proves
    at most ``MAX_BROADCAST_MODEL_ROWS`` rows (read at call time);
    otherwise the frame unhinted (AQE decides)."""
    bound = MAX_BROADCAST_MODEL_ROWS
    if bounded_count(model, bound) > bound:
        return model
    return F.broadcast(model)
