"""Spark jobs per copy-on-write DML call. Each verb reads its candidate
files once (one schema-inference job for the commit dir) and writes
them once, with its counts observed inside that write. Callers pass
materialized frames, as the bench's merge keys and the CDC apply's
netted batch are. The budgets are the per-verb counts of
OPTIMIZATION_r14 §8, except two: replace_where's (a probe of the
caller's rows for out-of-scope ones, then read and write) and
upsert_pruned's, 5 rather than §8's 4 — collecting the distinct update
keys is 2 jobs (the aggregate's shuffle and the capped collect of its
checkpointed output), and the write broadcasts the checkpointed keys
(1 job), in this shape and in the bench's sf0.1 merge alike."""

import pytest
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.sources import versioned as vt


def _frame(spark, lo, hi):
    """Rows ``lo <= k < hi`` of the table's shape, materialized."""
    return (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("price"),
            F.lit("xx").alias("lang"),
        )
        .localCheckpoint(eager=True)
    )


# each returns the call to count, its caller frames already materialized
def _upsert(spark, root):
    ups = _frame(spark, 12, 14).unionByName(_frame(spark, 500, 502))
    return lambda: vt.upsert_pruned(spark, root, ups, ["k"])


def _delete(spark, root):
    return lambda: vt.delete_where_pruned(
        spark, root, [("k", "between", (10, 14))]
    )


def _update(spark, root):
    return lambda: vt.update_where_pruned(
        spark, root, [("k", "between", (10, 14))], {"price": F.col("price") * 2}
    )


def _delete_keys(spark, root):
    keys = _frame(spark, 10, 15).select("k")
    return lambda: vt.delete_where_keys(spark, root, "k", keys)


def _replace(spark, root):
    rows = _frame(spark, 12, 13)
    return lambda: vt.replace_where(
        spark, root, rows, [("k", "between", (10, 14))]
    )


@pytest.mark.parametrize(
    "verb, budget",
    [
        (_upsert, 5),
        (_delete, 2),
        (_update, 2),
        (_delete_keys, 10),
        (_replace, 4),
    ],
    ids=["upsert_pruned", "delete_where_pruned", "update_where_pruned",
         "delete_where_keys", "replace_where"],
)
def test_dml_job_budget(spark, tmp_path, verb, budget):
    root = tmp_path / "t"
    df = _frame(spark, 0, 40)
    vt.append(root, df.repartitionByRange(4, "k"), stats_columns=["k"])
    call = verb(spark, root)
    sc = spark.sparkContext
    group = f"dml-budget-{verb.__name__}"
    sc.setJobGroup(group, group)
    try:
        rep = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rep["committed"] and rep["rewritten_files"] == 1, rep
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= budget, jobs


@pytest.mark.parametrize("verb", ["delete", "update"])
def test_pruned_no_match_runs_no_job(spark, tmp_path, verb):
    """A predicate the zone maps prune to zero files returns before any
    Spark job, with a deletion vector live too: the DV frame is read
    only when some candidate file is."""
    root = tmp_path / "t"
    vt.append(root, _frame(spark, 0, 40).repartitionByRange(4, "k"),
              stats_columns=["k"])
    vt.delete_where_dv(spark, root, [("k", "==", 3)])
    n_versions = len(vt.history(root))
    preds = [("k", ">", 1000)]
    sc = spark.sparkContext
    group = f"dml-no-match-{verb}"
    sc.setJobGroup(group, group)
    try:
        if verb == "delete":
            rep = vt.delete_where_pruned(spark, root, preds)
        else:
            rep = vt.update_where_pruned(spark, root, preds, {"price": 0})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not rep["committed"] and rep["skipped_files"] == 4, rep
    assert len(vt.history(root)) == n_versions
    assert sc.statusTracker().getJobIdsForGroup(group) == []
