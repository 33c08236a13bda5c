"""Table constraints (r7, the Delta CHECK / NOT NULL shape):
``set_constraints`` is a dir-less property commit with replace
semantics; append/overwrite/upsert/replace_where/update validate
INCOMING rows with one O(batch) job and refuse the whole commit
atomically; row-preserving commits (delete, compact, optimize) are
exempt; streams and the change feed skip the property commit."""

import pytest
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.sources import versioned as vt
from dataset_dedupe_estimator_spark.sources.table_stream import (
    VersionedTableStreamSource,
)


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select("id", (F.col("id") * 10).alias("v"))


@pytest.fixture()
def table(spark, tmp_path):
    root = tmp_path / "tbl"
    vt.append(root, _mk(spark, 0, 10), num_files=1, stats_columns=["id"])
    vt.set_constraints(root, not_null=["id"], checks=[("v", ">=", 0)])
    return root


def test_not_null_violation_rejected_atomically(spark, table):
    n = len(vt.history(table))
    bad = spark.createDataFrame([(None, 5), (1, 6)], "id long, v long")
    with pytest.raises(ValueError, match="constraint violation"):
        vt.append(table, bad, num_files=1)
    assert len(vt.history(table)) == n  # nothing committed
    assert vt.read_version(spark, table).count() == 10


def test_check_violation_rejected_with_examples(spark, table):
    bad = spark.createDataFrame([(50, -1)], "id long, v long")
    with pytest.raises(ValueError, match=r"checks=\[\('v', '>=', 0\)\]"):
        vt.append(table, bad, num_files=1)
    # NULL in a check column violates (null-rejecting predicate)
    nullv = spark.createDataFrame([(51, None)], "id long, v long")
    with pytest.raises(ValueError, match="constraint violation"):
        vt.append(table, nullv, num_files=1)


def test_clean_commits_proceed(spark, table):
    vt.append(table, _mk(spark, 10, 15), num_files=1)
    assert vt.read_version(spark, table).count() == 15


def test_upsert_validates_updates(spark, table):
    bad = spark.createDataFrame([(3, -1)], "id long, v long")
    with pytest.raises(ValueError, match="constraint violation"):
        vt.upsert_pruned(spark, table, bad, ["id"])
    ok = spark.createDataFrame([(3, 999)], "id long, v long")
    st = vt.upsert_pruned(spark, table, ok, ["id"])
    assert st["committed"] and st["replaced_rows"] == 1


def test_replace_where_validates_replacement_rows(spark, table):
    """replace_where writes new rows, so it validates them as upsert
    does, before any write (it used to commit a violating row)."""
    n = len(vt.history(table))
    bad = spark.createDataFrame([(3, -1)], "id long, v long")
    with pytest.raises(ValueError, match="constraint violation"):
        vt.replace_where(spark, table, bad, [("id", "==", 3)])
    assert len(vt.history(table)) == n
    ok = spark.createDataFrame([(3, 999)], "id long, v long")
    st = vt.replace_where(spark, table, ok, [("id", "==", 3)])
    assert st["committed"] and st["replaced_rows"] == 1


def test_replace_and_drop_semantics(spark, table):
    vt.set_constraints(table, checks=[("v", "<=", 1000)])  # replaces
    # NOT NULL no longer active; the new check is
    vt.append(
        table,
        spark.createDataFrame([(None, 500)], "id long, v long"),
        num_files=1,
    )
    with pytest.raises(ValueError, match="constraint violation"):
        vt.append(
            table,
            spark.createDataFrame([(99, 2000)], "id long, v long"),
            num_files=1,
        )
    vt.set_constraints(table)  # drop all
    vt.append(
        table,
        spark.createDataFrame([(99, 2000)], "id long, v long"),
        num_files=1,
    )
    assert vt.read_version(spark, table).count() == 12


def test_row_preserving_commits_exempt(spark, table):
    vt.delete_where_pruned(spark, table, [("id", "<", 2)])
    vt.append(table, _mk(spark, 10, 20), num_files=1)
    assert vt.compact_small(spark, table)["committed"]
    vt.optimize(spark, table, num_files=1)
    assert vt.read_version(spark, table).count() == 18


def test_property_commit_preserves_inheritance(spark, table):
    """The dir-less property commit replicates stats_columns etc., so
    the NEXT data commit still records zone maps."""
    vt.append(table, _mk(spark, 100, 110), num_files=1)
    entry = vt.history(table)[-1]
    assert entry.get("stats_columns") == ["id"]
    assert "stats" in entry


def test_stream_and_feed_skip_property_commit(spark, tmp_path):
    spark.dataSource.register(VersionedTableStreamSource)
    root = tmp_path / "tbl"
    vt.append(root, _mk(spark, 0, 5), num_files=1, change_feed=True)
    vt.set_constraints(root, not_null=["id"])
    vt.append(root, _mk(spark, 5, 8), num_files=1)
    ckpt, out = tmp_path / "ck", tmp_path / "out"
    for opts in ({}, {"readChangeFeed": "true"}):
        r = spark.readStream.format("versioned_table")
        for k, v in opts.items():
            r = r.option(k, v)
        q = (
            r.load(str(root))
            .writeStream.format("parquet")
            .option("path", str(out / str(len(opts))))
            .option("checkpointLocation", str(ckpt / str(len(opts))))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        assert spark.read.parquet(str(out / str(len(opts)))).count() == 8
    feed = vt.read_change_feed(spark, root, -1)
    assert feed.count() == 8 and feed.filter("_change = 'insert'").count() == 8


def test_validation_errors(spark, tmp_path):
    with pytest.raises(vt.VersionNotFoundError):
        vt.set_constraints(tmp_path / "nope", not_null=["id"])
    root = tmp_path / "tbl"
    vt.append(root, _mk(spark, 0, 5), num_files=1)
    with pytest.raises(ValueError, match="must be \\(column, op, value\\)"):
        vt.set_constraints(root, checks=[("v", "!=", 0)])


def test_time_travel_unaffected(spark, table):
    v0 = 0
    vt.append(table, _mk(spark, 10, 12), num_files=1)
    assert vt.read_version(spark, table, v0).count() == 10
    # the property commit itself is a readable (empty-delta) version
    assert vt.read_version(spark, table, 1).count() == 10


def test_cli_set_constraints(capsys, spark, tmp_path):
    from dataset_dedupe_estimator_spark.cli import main

    src = str(tmp_path / "src.parquet")
    _mk(spark, 0, 10).coalesce(1).write.parquet(src)
    root = str(tmp_path / "vt")
    assert main(["table", "append", root, src]) == 0
    capsys.readouterr()
    assert main([
        "table", "set-constraints", root,
        "--not-null", "id", "--where", "v:>=:0",
    ]) == 0
    out = capsys.readouterr().out
    assert "not_null=['id']" in out and "checks=[['v', '>=', 0]]" in out
    bad = str(tmp_path / "bad.parquet")
    spark.createDataFrame([(5, -1)], "id long, v long").write.parquet(bad)
    with pytest.raises(ValueError, match="constraint violation"):
        main(["table", "append", root, bad])
    assert main(["table", "set-constraints", root]) == 0
    assert "dropped" in capsys.readouterr().out
    assert main(["table", "append", root, bad]) == 0


def test_between_check_survives_json_roundtrip(spark, tmp_path):
    """checks serialize to JSON lists in the log entry; the between
    op's (lo, hi) pair must still enforce after the round-trip."""
    root = tmp_path / "tbl"
    vt.append(root, _mk(spark, 0, 5), num_files=1)
    vt.set_constraints(root, checks=[("v", "between", (0, 100))])
    with pytest.raises(ValueError, match="constraint violation"):
        vt.append(
            root,
            spark.createDataFrame([(9, 200)], "id long, v long"),
            num_files=1,
        )
    vt.append(
        root,
        spark.createDataFrame([(9, 50)], "id long, v long"),
        num_files=1,
    )
    assert vt.read_version(spark, root).count() == 6
