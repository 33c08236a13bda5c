"""Zone-map-bounded MERGE on versioned tables (r7):
``upsert_pruned`` must equal the full-rewrite ``upsert`` row-for-row
while physically rewriting ONLY the files whose zone maps can contain
an update key — scattered keys carry the files BETWEEN them (per-key
bisect, not a [min, max] span test); carried files stay byte-identical
on disk; earlier versions still read the pre-upsert rows."""

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


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select("id", (F.col("id") * 10).alias("v"))


@pytest.fixture()
def banded(spark, tmp_path):
    """A table with tight per-commit id ranges so the zone maps can
    prove most files clean for a small update-key set."""
    root = tmp_path / "tbl"
    for lo in range(0, 100, 20):  # 5 commits x 2 files = 10 files
        vt.append(root, _mk(spark, lo, lo + 20), num_files=2,
                  stats_columns=["id", "v"])
    return root


def _updates(spark):
    """3 key updates in one band + 2 inserts beyond every file range."""
    return spark.createDataFrame(
        [(30, -1), (31, -2), (33, -3), (500, -4), (501, -5)],
        "id long, v long",
    )


def test_pruned_upsert_equals_full_upsert(spark, banded, tmp_path):
    twin = tmp_path / "twin"
    for lo in range(0, 100, 20):
        vt.append(twin, _mk(spark, lo, lo + 20), num_files=2,
                  stats_columns=["id", "v"])
    vt.upsert(spark, twin, _updates(spark), ["id"])
    st = vt.upsert_pruned(spark, banded, _updates(spark), ["id"])
    assert st["committed"] and st["upsert_rows"] == 5
    assert st["replaced_rows"] == 3  # 30, 31, 33 existed; 500/501 insert
    assert _rows(vt.read_version(spark, banded)) == _rows(
        vt.read_version(spark, twin)
    )
    # mask-aware pruned read over the post-upsert table agrees too
    assert _rows(vt.read_where(spark, banded, [("id", ">=", 0)])) == _rows(
        vt.read_version(spark, banded)
    )


def test_scattered_keys_carry_files_between_them(spark, banded):
    """Keys 5 and 95 span the whole table: a [min, max] span test would
    rewrite all 10 files; the per-key bisect rewrites exactly the two
    files that hold them."""
    before = _file_md5s(banded / "data")
    ups = spark.createDataFrame([(5, -1), (95, -2)], "id long, v long")
    st = vt.upsert_pruned(spark, banded, ups, ["id"])
    assert st["rewritten_files"] == 2 and st["carried_files"] == 8
    after = _file_md5s(banded / "data")
    for f, h in before.items():  # originals untouched (time travel)
        assert after[f] == h, f"carried/historical file changed: {f}"
    got = vt.read_version(spark, banded)
    assert _rows(got.filter(F.col("id").isin(5, 95))) == [(5, -1), (95, -2)]
    assert got.count() == 100
    entry = json.loads(
        sorted((banded / "_vlog").glob("v*.json"))[-1].read_text()
    )
    assert entry["action"] == "upsert" and entry["key_cols"] == ["id"]
    assert sum(len(v) for v in entry["removed"]. values()) == 2


def test_pure_insert_carries_everything(spark, banded):
    ups = spark.createDataFrame([(1000, 1), (2000, 2)], "id long, v long")
    st = vt.upsert_pruned(spark, banded, ups, ["id"])
    assert st["rewritten_files"] == 0 and st["carried_files"] == 10
    assert st["replaced_rows"] == 0
    assert vt.read_version(spark, banded).count() == 102


def test_empty_updates_no_commit(spark, banded):
    n = len(vt.history(banded))
    st = vt.upsert_pruned(
        spark, banded, _updates(spark).limit(0), ["id"]
    )
    assert not st["committed"]
    assert len(vt.history(banded)) == n


def test_time_travel_sees_pre_upsert_rows(spark, banded):
    v0 = vt.history(banded)[-1]["version"]
    vt.upsert_pruned(spark, banded, _updates(spark), ["id"])
    old = vt.read_version(spark, banded, v0)
    assert _rows(old.filter(F.col("id") == 30)) == [(30, 300)]
    assert old.filter(F.col("id") >= 500).count() == 0


def test_null_keys(spark, tmp_path):
    """NULL-key table rows survive; NULL-key update rows insert."""
    root = tmp_path / "tbl"
    vt.append(
        root,
        spark.createDataFrame([(1, 10), (None, 20)], "id long, v long"),
        num_files=1, stats_columns=["v"],
    )
    ups = spark.createDataFrame([(1, -1), (None, -2)], "id long, v long")
    st = vt.upsert_pruned(spark, root, ups, ["id"])
    assert st["replaced_rows"] == 1
    got = {tuple(r) for r in vt.read_version(spark, root).collect()}
    assert got == {(None, -2), (None, 20), (1, -1)}


def test_all_null_key_updates_touch_nothing(spark, banded):
    ups = spark.createDataFrame([(None, -1)], "id long, v long")
    st = vt.upsert_pruned(spark, banded, ups, ["id"])
    assert st["rewritten_files"] == 0 and st["replaced_rows"] == 0
    assert vt.read_version(spark, banded).count() == 101


def test_max_distinct_keys_fallback_still_correct(spark, banded):
    """Above the cap the per-key test degrades to the [min, max] span:
    keys 5 and 95 now rewrite every file — coarser, same rows."""
    ups = spark.createDataFrame([(5, -1), (95, -2)], "id long, v long")
    st = vt.upsert_pruned(spark, banded, ups, ["id"], max_distinct_keys=1)
    assert st["rewritten_files"] == 10 and st["carried_files"] == 0
    got = vt.read_version(spark, banded)
    assert got.count() == 100
    assert _rows(got.filter(F.col("id").isin(5, 95))) == [(5, -1), (95, -2)]


def test_statless_commits_are_always_candidates(spark, tmp_path):
    root = tmp_path / "tbl"
    vt.append(root, _mk(spark, 0, 10), num_files=1, stats_columns=["id"])
    vt.append(root, _mk(spark, 10, 20), num_files=1, stats_columns=[])
    ups = spark.createDataFrame([(3, -1)], "id long, v long")
    st = vt.upsert_pruned(spark, root, ups, ["id"])
    # the statless commit's file cannot be proven clean: rewritten
    assert st["rewritten_files"] == 2
    got = vt.read_version(spark, root)
    assert got.count() == 20 and _rows(got.filter("id = 3")) == [(3, -1)]


def test_composite_key(spark, tmp_path):
    root = tmp_path / "tbl"
    df = spark.range(0, 40).select(
        "id", (F.col("id") % 4).alias("g"), (F.col("id") * 2).alias("v")
    )
    vt.append(root, df, num_files=4, stats_columns=["id", "g"])
    ups = spark.createDataFrame([(7, 3, -1), (7, 0, -2)],
                                "id long, g long, v long")
    st = vt.upsert_pruned(spark, root, ups, ["id", "g"])
    got = vt.read_version(spark, root)
    # (7, 3) existed and was replaced; (7, 0) did not: inserted
    assert st["replaced_rows"] == 1 and got.count() == 41
    assert _rows(got.filter("id = 7")) == [(7, 0, -2), (7, 3, -1)]


def test_partitioned_table_upsert(spark, tmp_path):
    root = tmp_path / "tbl"
    df = spark.range(0, 40).select(
        "id", (F.col("id") % 4).alias("p"), (F.col("id") * 2).alias("v")
    )
    vt.append(root, df, partition_by=["p"], stats_columns=["id"])
    ups = spark.createDataFrame([(6, 2, -1), (100, 0, -2)],
                                "id long, p long, v long")
    vt.upsert_pruned(spark, root, ups, ["id"])
    got = vt.read_version(spark, root)
    assert got.count() == 41
    assert set(got.columns) == {"id", "p", "v"}
    assert _rows(got.filter(F.col("id").isin(6, 100))) == [
        (6, 2, -1), (100, 0, -2)
    ]


def test_updates_must_carry_all_columns(spark, banded):
    ups = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="missing table columns"):
        vt.upsert_pruned(spark, banded, ups, ["id"])
    with pytest.raises(ValueError, match="not in table schema"):
        vt.upsert_pruned(spark, banded, _updates(spark), ["nope"])


def test_changes_between_sees_upsert(spark, banded):
    v0 = vt.history(banded)[-1]["version"]
    ups = spark.createDataFrame([(30, -1), (500, -4)], "id long, v long")
    vt.upsert_pruned(spark, banded, ups, ["id"])
    feed = vt.changes_between(spark, banded, v0).collect()
    assert sorted((r.id, r.v, r._change) for r in feed) == [
        (30, -1, "insert"), (30, 300, "delete"), (500, -4, "insert"),
    ]


def test_zone_maps_recorded_for_upsert_dir(spark, banded):
    vt.upsert_pruned(spark, banded, _updates(spark), ["id"])
    entry = json.loads(
        sorted((banded / "_vlog").glob("v*.json"))[-1].read_text()
    )
    assert entry["dir"] and "stats" in entry  # new dir stays prunable
    # a later pruned read can skip files through the upsert entry too
    rep = vt.zone_map_prune(banded, [("id", "==", 42)])
    assert rep["skipped_files"] > 0


def test_successive_upserts_accumulate(spark, banded):
    vt.upsert_pruned(
        spark, banded,
        spark.createDataFrame([(10, -1)], "id long, v long"), ["id"],
    )
    vt.upsert_pruned(
        spark, banded,
        spark.createDataFrame([(10, -2), (11, -3)], "id long, v long"),
        ["id"],
    )
    got = vt.read_version(spark, banded)
    assert got.count() == 100
    assert _rows(got.filter(F.col("id").isin(10, 11))) == [(10, -2), (11, -3)]


def test_vacuum_retires_upsert_masked_files(spark, banded):
    vt.upsert_pruned(spark, banded, _updates(spark), ["id"])
    vt.optimize(spark, banded, num_files=2)  # overwrite: masks retire
    removed = vt.vacuum(banded, keep_versions=1)
    assert removed
    got = vt.read_version(spark, banded)
    assert got.count() == 102
    assert _rows(got.filter("id = 30")) == [(30, -1)]


def test_cli_table_upsert(capsys, spark, tmp_path):
    from dataset_dedupe_estimator_spark.cli import main

    src = str(tmp_path / "src.parquet")
    spark.range(100).select(
        "id", (F.col("id") * 10).alias("v")
    ).repartitionByRange(4, "id").write.parquet(src)
    root = str(tmp_path / "vt")
    assert main(["table", "append", root, src, "--stats-columns", "id"]) == 0
    capsys.readouterr()
    ups = str(tmp_path / "ups.parquet")
    spark.createDataFrame(
        [(7, -1), (500, -2)], "id long, v long"
    ).write.parquet(ups)
    assert main(["table", "upsert", root, ups, "--keys", "id"]) == 0
    out = capsys.readouterr().out
    assert "upsert: 2 rows merged, 1 replaced" in out
    assert "carried untouched" in out
    assert main(["table", "upsert", root]) == 2  # missing src/--keys
    got = vt.read_version(spark, root)
    assert got.count() == 101
    assert _rows(got.filter(F.col("id").isin(7, 500))) == [(7, -1), (500, -2)]


def test_upsert_counts_with_cross_session_updates(spark, banded):
    """The updates frame may belong to a DIFFERENT SparkSession than
    the verb executes on — the foreachBatch shape, where the microbatch
    frame lives on the streaming-clone session (CLI `table ingest
    --keys` hands it to upsert_pruned with the outer session). The
    in-write Observation counts must never be attached to such a
    caller frame: an observation registered on a session that never
    executes the write parks Observation.get forever (r14 regression —
    the counts are derived as n_out - n_survivors instead). Pins both
    the no-hang property and the report arithmetic."""
    other = spark.newSession()
    updates = other.createDataFrame([(30, -1), (200, -2), (201, -3)], "id long, v long")
    r = vt.upsert_pruned(spark, banded, updates, ["id"])
    assert r["upsert_rows"] == 3
    assert r["replaced_rows"] == 1
    got = vt.read_version(spark, banded)
    assert got.count() == 102
    assert _rows(got.filter(F.col("id").isin(30, 200, 201))) == [
        (30, -1), (200, -2), (201, -3),
    ]


def test_timestamp_key_in_repeated_dst_hour(spark, tmp_path, monkeypatch):
    """A timestamp key in the hour a DST fall-back repeats must match
    its own table row, whatever zone the driver's Python process runs
    in: the join's key side stays in the JVM. A round trip of the
    collected keys through Python datetimes loses ``fold`` and shifts
    the second 01:30 onto the first."""
    import time

    root = tmp_path / "tbl"
    # 2024-11-03 01:30 EDT and 01:30 EST, plus a neighbour an hour on
    first, second, later = 1730611800, 1730615400, 1730619000
    vt.append(
        root,
        spark.createDataFrame(
            [(first, 1), (second, 2), (later, 3)], "s long, v long"
        ).select(F.timestamp_seconds("s").alias("ts"), "v"),
        num_files=1,
    )
    ups = spark.createDataFrame([(second, -2)], "s long, v long").select(
        F.timestamp_seconds("s").alias("ts"), "v"
    )
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        st = vt.upsert_pruned(spark, root, ups, ["ts"])
    finally:
        monkeypatch.undo()
        time.tzset()
    assert st["replaced_rows"] == 1 and st["upsert_rows"] == 1
    got = sorted(
        tuple(r)
        for r in vt.read_version(spark, root)
        .select(F.unix_timestamp("ts").alias("s"), "v")
        .collect()
    )
    assert got == [(first, 1), (second, -2), (later, 3)]
