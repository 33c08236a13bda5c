"""Observed metrics that ride an already-running write job.

The persistent-index admission paths (gram/chunk generations) used the
count-write-recount shape: write a generation, then
``spark.read.parquet(written)`` just to aggregate what was written —
an extra full read of every admitted row per batch, where the numbers
only feed the report/manifest accounting (guide §1.2 "don't re-read
bytes the job already streams"). A ``pyspark.sql.Observation`` attached
to the written frame computes the same aggregates inside the write job
itself: observed metrics aggregate successful tasks only, so task
retries cannot double-count, and a runtime-empty frame (fully-duplicate
batch → zero novel rows) resolves to ``count=0`` / ``sum=None`` exactly
like the read-back would.

SESSION CONSTRAINT (the sources/versioned.py ``_observed_counts``
lesson): attach only to the frame that will EXECUTE the action — the
observation resolves via the registering session's listener bus, and
one registered on a session that never runs the action parks
``Observation.get`` forever. The admission paths satisfy this by
construction: the observed frame IS the written frame, and
``df.write`` executes on ``df``'s own session (in ``foreachBatch``
that is the streaming-clone session the microbatch lineage carries).

NOT convertible: distinct aggregates (``countDistinct``) are rejected
inside observed metrics. ``F.size(F.collect_set(col))`` IS accepted and
gives the same exact distinct count, but the set itself travels to the
driver: its memory is O(distinct values), so it fits a per-batch count
(lsh_index's per-admission doc count, bounded by the batch's distinct
ids) and not a corpus-wide one (build_lsh_index counts its generation
with a distributed ``countDistinct`` instead).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame


def observed_metrics(
    df: DataFrame, **exprs: Column
) -> tuple[DataFrame, Callable[[], dict]]:
    """Attach named aggregate expressions to ``df``; returns
    ``(df_with_metrics, resolve)`` where ``resolve()`` yields the
    ``{name: value}`` dict once the FIRST action over the returned
    frame completes (it blocks until then — call it only after the
    action)."""
    from pyspark.sql import Observation

    obs = Observation()
    named = [e.alias(k) for k, e in exprs.items()]
    return df.observe(obs, *named), lambda: obs.get
