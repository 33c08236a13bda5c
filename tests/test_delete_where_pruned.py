"""Zone-map-bounded DELETE on versioned tables (r7):
``delete_where_pruned`` must equal the full-rewrite delete row-for-row
while physically rewriting ONLY the files whose zone maps intersect the
predicate — carried files stay byte-identical on disk; earlier versions
still read the deleted rows (time travel); vacuum retires masked files
with their versions."""

import hashlib
import json

import pytest
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.sources import versioned as vt


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _file_md5s(root):
    from pathlib import Path

    out = {}
    for f in sorted(Path(root).rglob("*.parquet")):
        out[str(f)] = hashlib.md5(f.read_bytes()).hexdigest()
    return out


@pytest.fixture()
def banded(spark, tmp_path):
    """A table with tight per-commit id ranges so the zone maps can
    prove most files clean for a narrow band predicate."""
    root = tmp_path / "tbl"
    for lo in range(0, 100, 20):  # 5 commits x 2 files = 10 files
        df = spark.range(lo, lo + 20).select(
            "id", (F.col("id") * 10).alias("v")
        )
        vt.append(root, df, num_files=2, stats_columns=["id", "v"])
    return root


def test_pruned_delete_equals_full_delete(spark, banded, tmp_path):
    want = _rows(
        vt.read_version(spark, banded).filter(
            ~((F.col("id") >= 30) & (F.col("id") <= 34))
        )
    )
    st = vt.delete_where_pruned(spark, banded, [("id", "between", (30, 34))])
    assert st["committed"] and st["deleted_rows"] == 5
    assert _rows(vt.read_version(spark, banded)) == want
    # read_where over the post-delete table agrees too (mask-aware prune)
    assert _rows(
        vt.read_where(spark, banded, [("id", ">=", 0)])
    ) == want


def test_pruned_delete_touches_only_intersecting_files(spark, banded):
    before = _file_md5s(banded / "data")
    st = vt.delete_where_pruned(spark, banded, [("id", "between", (30, 34))])
    # only the single intersecting file (of 10) was rewritten — the
    # commit's two files split its id range and the band hits one
    assert st["rewritten_files"] == 1 and st["carried_files"] == 9
    after = _file_md5s(banded / "data")
    # every carried file is byte-identical (it was never opened for
    # write); the rewritten originals are still on disk for time travel
    for f, h in before.items():
        assert after[f] == h, f"carried/historical file changed: {f}"
    entry = json.loads(
        sorted((banded / "_vlog").glob("v*.json"))[-1].read_text()
    )
    assert entry["action"] == "delete"
    assert sum(len(v) for v in entry["removed"].values()) == 1


def test_time_travel_still_sees_deleted_rows(spark, banded):
    v_before = vt.history(banded)[-1]["version"]
    vt.delete_where_pruned(spark, banded, [("id", "<", 10)])
    old = vt.read_version(spark, banded, v_before)
    assert old.filter(F.col("id") < 10).count() == 10
    new = vt.read_version(spark, banded)
    assert new.filter(F.col("id") < 10).count() == 0


def test_no_match_is_a_no_commit(spark, banded):
    n_versions = len(vt.history(banded))
    dirs = sorted(p.name for p in (banded / "data").iterdir())
    st = vt.delete_where_pruned(spark, banded, [("id", ">", 10_000)])
    assert not st["committed"] and st["deleted_rows"] == 0
    assert st["rewritten_files"] == 0 and st["skipped_files"] == 10
    # pruned to zero files: no data dir written, no log entry
    assert len(vt.history(banded)) == n_versions
    assert sorted(p.name for p in (banded / "data").iterdir()) == dirs


def test_num_files_zero_keeps_the_read_partitioning(spark, banded):
    """``num_files=0`` skips the coalesce, as upsert_pruned's pure
    insert always did; every copy-on-write verb shares that sizing."""
    st = vt.delete_where_pruned(
        spark, banded, [("id", "between", (0, 59))], num_files=0
    )
    assert st["committed"] and st["deleted_rows"] == 60
    assert st["rewritten_files"] == 6
    assert _rows(vt.read_version(spark, banded)) == [
        (i, i * 10) for i in range(60, 100)
    ]


def test_null_predicate_rows_survive(spark, tmp_path):
    root = tmp_path / "tbl"
    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 50)], "id long, v long"
    )
    vt.append(root, df, num_files=1, stats_columns=["v"])
    st = vt.delete_where_pruned(spark, root, [("v", "<", 10)])
    assert st["deleted_rows"] == 1
    got = _rows(vt.read_version(spark, root))
    assert got == [(2, None), (3, 50)]


def test_successive_deletes_accumulate_masks(spark, banded):
    vt.delete_where_pruned(spark, banded, [("id", "between", (0, 4))])
    vt.delete_where_pruned(spark, banded, [("id", "between", (90, 99))])
    got = _rows(vt.read_version(spark, banded))
    assert len(got) == 100 - 5 - 10
    ids = {r[0] for r in got}
    assert not (ids & set(range(0, 5))) and not (ids & set(range(90, 100)))


def test_delete_all_survivors_of_candidates(spark, tmp_path):
    """A delete wiping EVERY row of the touched files commits dir=None
    and readers handle the dir-less entry."""
    root = tmp_path / "tbl"
    vt.append(root, spark.range(0, 10).select("id"), num_files=1,
              stats_columns=["id"])
    vt.append(root, spark.range(10, 20).select("id"), num_files=1)
    st = vt.delete_where_pruned(spark, root, [("id", "<", 10)])
    assert st["deleted_rows"] == 10
    entry = json.loads(
        sorted((root / "_vlog").glob("v*.json"))[-1].read_text()
    )
    assert entry["dir"] is None
    assert _rows(vt.read_version(spark, root)) == [(i,) for i in range(10, 20)]


def test_partitioned_table_pruned_delete(spark, tmp_path):
    root = tmp_path / "tbl"
    df = spark.range(0, 40).select(
        "id", (F.col("id") % 4).alias("p"), (F.col("id") * 2).alias("v")
    )
    vt.append(root, df, partition_by=["p"], stats_columns=["v"])
    want = _rows(
        vt.read_version(spark, root).filter(~(F.col("v") < 20))
    )
    st = vt.delete_where_pruned(spark, root, [("v", "<", 20)])
    assert st["deleted_rows"] == 10
    assert _rows(vt.read_version(spark, root)) == want
    # partition columns survive the masked read and the rewrite
    assert set(vt.read_version(spark, root).columns) == {"id", "p", "v"}


def test_changes_between_sees_pruned_delete(spark, banded):
    v0 = vt.history(banded)[-1]["version"]
    vt.delete_where_pruned(spark, banded, [("id", "between", (10, 12))])
    feed = vt.changes_between(spark, banded, v0).collect()
    assert sorted((r.id, r._change) for r in feed) == [
        (10, "delete"), (11, "delete"), (12, "delete")
    ]


def test_zone_maps_recorded_for_survivor_dir(spark, banded):
    vt.delete_where_pruned(spark, banded, [("id", "==", 30)])
    entry = json.loads(
        sorted((banded / "_vlog").glob("v*.json"))[-1].read_text()
    )
    assert entry["dir"] and "stats" in entry  # survivors stay prunable
    # and the next pruned read skips clean files incl. via the new entry
    rep = vt.zone_map_prune(banded, [("id", "between", (30, 39))])
    assert rep["skipped_files"] > 0


def test_vacuum_retires_masked_files_with_versions(spark, banded):
    vt.delete_where_pruned(spark, banded, [("id", "<", 20)])
    vt.optimize(spark, banded, num_files=2)  # overwrite: masks retire
    removed = vt.vacuum(banded, keep_versions=1)
    assert removed  # superseded dirs (incl. fully-masked ones) gone
    got = vt.read_version(spark, banded)
    assert got.count() == 80 and got.filter(F.col("id") < 20).count() == 0
