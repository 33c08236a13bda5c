"""update_where_pruned — the Delta ``UPDATE ... SET ... WHERE`` shape
(r11): zone-map-bounded rewrite of only the touched files, SET
expressions over the pre-update row, exact time travel, CDF
delete+insert pairs, constraint validation of post-update rows, and
the streaming rewrite contract."""

import pytest
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.sources import versioned as vt


@pytest.fixture()
def table(spark, tmp_path):
    root = tmp_path / "t"
    df = spark.createDataFrame(
        [(i, i * 10, "en") for i in range(40)],
        "k long, price long, lang string",
    )
    vt.append(
        root, df.repartitionByRange(4, "k"),
        stats_columns=["k"], change_feed=True,
    )
    return root


def test_update_applies_set_and_prunes(spark, table):
    st = vt.update_where_pruned(
        spark, table, [("k", "between", (10, 14))],
        {"price": F.col("price") * 2, "lang": "de"},
    )
    assert st["committed"] and st["updated_rows"] == 5
    assert st["carried_files"] >= 2  # provably-clean files untouched
    snap = vt.read_version(spark, table)
    assert snap.count() == 40
    got = {r.k: (r.price, r.lang) for r in snap.collect()}
    for k in range(40):
        want = (k * 20, "de") if 10 <= k <= 14 else (k * 10, "en")
        assert got[k] == want, (k, got[k], want)
    # time travel below the update reads the pre-update rows
    v0 = vt.read_version(spark, table, 0)
    assert {r.k: r.price for r in v0.collect()}[12] == 120


def test_update_change_feed_pairs(spark, table):
    vt.update_where_pruned(
        spark, table, [("k", "between", (10, 14))],
        {"price": F.col("price") * 2},
    )
    feed = vt.read_change_feed(spark, table, 0)
    rows = sorted((r.k, r._change, r.price) for r in feed.collect())
    assert len(rows) == 10  # 5 deletes + 5 inserts
    assert (12, "delete", 120) in rows and (12, "insert", 240) in rows
    # the diff-based feed agrees row-for-row on the multiplicities
    diff = vt.changes_between(spark, table, 0, 1)
    assert diff.count() == 10


def test_update_null_predicate_rows_survive(spark, tmp_path):
    root = tmp_path / "t"
    vt.append(
        root,
        spark.createDataFrame(
            [(1, 10), (2, None), (3, 30)], "k long, price long"
        ),
        num_files=1, stats_columns=["k"],
    )
    st = vt.update_where_pruned(
        spark, root, [("price", ">=", 0)], {"price": 0}
    )
    assert st["updated_rows"] == 2
    got = {r.k: r.price for r in vt.read_version(spark, root).collect()}
    assert got == {1: 0, 2: None, 3: 0}  # NULL never matches


def test_update_refusals(spark, table):
    with pytest.raises(ValueError, match="at least one predicate"):
        vt.update_where_pruned(spark, table, [], {"price": 1})
    with pytest.raises(ValueError, match="SET column"):
        vt.update_where_pruned(spark, table, [("k", "==", 1)], {})
    with pytest.raises(ValueError, match="not in table schema"):
        vt.update_where_pruned(spark, table, [("k", "==", 1)], {"nope": 1})
    with pytest.raises(ValueError, match="nested path"):
        vt.update_where_pruned(spark, table, [("k", "==", 1)], {"a.b": 1})
    with pytest.raises(ValueError, match="re-type"):
        vt.update_where_pruned(
            spark, table, [("k", "==", 1)], {"price": "oops"}
        )
    # nothing landed: still one commit (the initial append)
    assert len(vt.history(table)) == 1


def test_update_no_match_commits_nothing(spark, table):
    dirs = sorted(p.name for p in (table / "data").iterdir())
    st = vt.update_where_pruned(
        spark, table, [("k", "==", 999)], {"lang": "xx"}
    )
    assert st["committed"] is False and st["rewritten_files"] == 0
    # pruned to zero files: no data dir written, no log entry
    assert sorted(p.name for p in (table / "data").iterdir()) == dirs
    assert len(vt.history(table)) == 1
    # a file may match by range while no ROW matches: also uncommitted
    # (its one-pass write is abandoned)
    st2 = vt.update_where_pruned(
        spark, table, [("k", "in", (10,)), ("lang", "==", "zz")],
        {"lang": "xx"},
    )
    assert st2["committed"] is False
    assert len(vt.history(table)) == 1
    assert sorted(p.name for p in (table / "data").iterdir()) == dirs


def test_update_validates_constraints_atomically(spark, table):
    vt.set_constraints(table, checks=[("price", "<=", 10_000)])
    with pytest.raises(ValueError, match="constraint violation"):
        vt.update_where_pruned(
            spark, table, [("k", "==", 3)], {"price": 99_999}
        )
    assert vt.read_version(spark, table).filter(
        F.col("k") == 3
    ).collect()[0].price == 30


def test_update_through_rename_and_nested_predicate(spark, tmp_path):
    """SET speaks logical names after a rename; predicates may be
    nested paths (the zone-map language)."""
    root = tmp_path / "t"
    vt.append(
        root,
        spark.createDataFrame(
            [(i, i * 10, {"inner": {"x": i}}) for i in range(20)],
            "k long, price long, o: struct<inner: struct<x: long>>",
        ),
        num_files=2, stats_columns=["o.inner.x"],
    )
    vt.rename_column(root, "price", "cost")
    st = vt.update_where_pruned(
        spark, root, [("o.inner.x", ">=", 15)],
        {"cost": F.col("cost") + 1},
    )
    assert st["updated_rows"] == 5
    got = {r.k: r.cost for r in vt.read_version(spark, root).collect()}
    assert got[17] == 171 and got[3] == 30


def test_update_stream_contract(spark, table, tmp_path):
    """An update is a REWRITE action: the plain stream stops with a
    clear error; ignoreChanges re-emits the commit's own directory."""
    from dataset_dedupe_estimator_spark.sources.table_stream import (
        VersionedTableStreamSource,
    )

    spark.dataSource.register(VersionedTableStreamSource)
    vt.update_where_pruned(
        spark, table, [("k", "==", 12)], {"lang": "xx"}
    )
    out = tmp_path / "out"
    q = (
        spark.readStream.format("versioned_table")
        .option("ignoreChanges", "true")
        .load(str(table))
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(str(out))
    # 40 append rows + the rewritten file's rows re-delivered
    assert got.count() > 40
    assert got.filter(F.col("lang") == "xx").count() == 1
    with pytest.raises(Exception, match="update"):
        q2 = (
            spark.readStream.format("versioned_table")
            .load(str(table))
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()


def test_update_then_vacuum_and_restore(spark, table):
    """The superseded files survive for time travel until vacuum; a
    restore below the update resurrects the pre-update rows."""
    vt.update_where_pruned(
        spark, table, [("k", "==", 5)], {"price": 1}
    )
    vt.restore(spark, table, 0)
    got = {r.k: r.price for r in vt.read_version(spark, table).collect()}
    assert got[5] == 50  # pre-update value restored


class TestUpdateWhereDV:
    """Merge-on-read UPDATE (r11, `update_where_dv`): pre-image
    positions into a DV sidecar + post-image rows as a small new
    directory — one commit, zero files rewritten."""

    def test_dv_update_exact_and_composes(self, spark, tmp_path):
        root = tmp_path / "t"
        df = spark.createDataFrame(
            [(i, i * 10, "en") for i in range(40)],
            "k long, price long, lang string",
        )
        vt.append(
            root, df.repartitionByRange(4, "k"),
            stats_columns=["k"], change_feed=True,
        )
        st = vt.update_where_dv(
            spark, root, [("k", "between", (10, 14))],
            {"price": F.col("price") * 2, "lang": "de"},
        )
        assert st["committed"] and st["updated_rows"] == 5
        assert st["rewritten_files"] == 0
        snap = vt.read_version(spark, root)
        assert snap.count() == 40
        got = {r.k: (r.price, r.lang) for r in snap.collect()}
        for k in range(40):
            want = (k * 20, "de") if 10 <= k <= 14 else (k * 10, "en")
            assert got[k] == want
        # time travel below the update reads pre-images
        assert {
            r.k: r.price for r in vt.read_version(spark, root, 0).collect()
        }[12] == 120
        # CDF: delete+insert pair per row
        feed = vt.read_change_feed(spark, root, 0)
        rows = sorted((r.k, r._change, r.price) for r in feed.collect())
        assert len(rows) == 10
        assert (12, "delete", 120) in rows and (12, "insert", 240) in rows
        # a second DV update over an already-updated row composes (the
        # post-image row itself gets DV'd and re-emitted)
        vt.update_where_dv(spark, root, [("k", "==", 12)], {"price": 1})
        snap2 = {r.k: r.price for r in vt.read_version(spark, root).collect()}
        assert snap2[12] == 1 and snap2[11] == 220
        # pruned reads stay exact across the DV layers
        rw = vt.read_where(spark, root, [("k", "between", (10, 14))])
        assert sorted((r.k, r.price) for r in rw.collect()) == [
            (10, 200), (11, 220), (12, 1), (13, 260), (14, 280),
        ]

    def test_dv_update_maintenance_and_restore(self, spark, tmp_path):
        """optimize physically retires the hidden pre-images without
        resurrecting them; restore below the update rolls back."""
        root = tmp_path / "t"
        vt.append(
            root,
            spark.createDataFrame(
                [(i, i) for i in range(20)], "k long, v long"
            ).repartitionByRange(2, "k"),
            stats_columns=["k"],
        )
        vt.update_where_dv(spark, root, [("k", "<=", 4)], {"v": -1})
        vt.optimize(spark, root)
        got = {r.k: r.v for r in vt.read_version(spark, root).collect()}
        assert got[2] == -1 and got[10] == 10 and len(got) == 20
        vt.restore(spark, root, 0)
        assert {
            r.k: r.v for r in vt.read_version(spark, root).collect()
        }[2] == 2

    def test_dv_update_refusals_and_no_match(self, spark, tmp_path):
        root = tmp_path / "t"
        vt.append(
            root,
            spark.createDataFrame([(1, 10)], "k long, v long"),
            num_files=1, stats_columns=["k"],
        )
        with pytest.raises(ValueError, match="re-type"):
            vt.update_where_dv(spark, root, [("k", "==", 1)], {"v": "oops"})
        st = vt.update_where_dv(spark, root, [("k", "==", 99)], {"v": 0})
        assert st["committed"] is False
        assert len(vt.history(root)) == 1

    def test_dv_update_stream_contract(self, spark, tmp_path):
        """A DV update is a rewrite action: plain streams stop;
        ignoreChanges emits the post-image directory only."""
        from dataset_dedupe_estimator_spark.sources.table_stream import (
            VersionedTableStreamSource,
        )

        spark.dataSource.register(VersionedTableStreamSource)
        root = tmp_path / "t"
        vt.append(
            root,
            spark.createDataFrame(
                [(i, "en") for i in range(10)], "k long, lang string"
            ),
            num_files=1, stats_columns=["k"],
        )
        vt.update_where_dv(spark, root, [("k", "==", 3)], {"lang": "xx"})
        out = tmp_path / "out"
        q = (
            spark.readStream.format("versioned_table")
            .option("ignoreChanges", "true")
            .load(str(root))
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.read.parquet(str(out))
        assert got.count() == 11  # 10 appends + 1 post-image
        assert got.filter(F.col("lang") == "xx").count() == 1


def test_dv_update_after_widening_backfills_typed_nulls(spark, tmp_path):
    """Reviewed r11 bug: when every candidate file predates a schema
    widening, the widened column's backfill used to be an untyped
    (void) NULL — and the DV update's post-image parquet write crashed.
    Typed backfill writes real NULLs; the pruned variant and the DV
    delete's change-data write share the fix."""
    root = tmp_path / "t"
    vt.append(
        root,
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        num_files=1, stats_columns=["k"],
    )
    vt.append(
        root,
        spark.createDataFrame([(3, 30, "x")], "k long, v long, extra string"),
        num_files=1, allow_new_columns=True,
    )
    # candidates live entirely in the PRE-widening commit
    st = vt.update_where_dv(spark, root, [("k", "==", 1)], {"v": -1})
    assert st["committed"] and st["updated_rows"] == 1
    got = {r.k: (r.v, r.extra) for r in vt.read_version(spark, root).collect()}
    assert got == {1: (-1, None), 2: (20, None), 3: (30, "x")}
    # the copy-on-write twin too
    st2 = vt.update_where_pruned(spark, root, [("k", "==", 2)], {"v": -2})
    assert st2["committed"] and st2["updated_rows"] == 1
    got2 = {r.k: r.v for r in vt.read_version(spark, root).collect()}
    assert got2 == {1: -1, 2: -2, 3: 30}
