"""Mirrors de/tests/test_formats.py: paramstem naming, parquet round-trip
equality + compression metadata + row-group counts, JSONL records + gzip,
sqlite read-back + overwrite."""

import gzip
import json
import sqlite3

import pyarrow.parquet as pq
import pytest

from dataset_dedupe_estimator_spark.sources.formats import (
    CdcParquetFormat,
    JsonLinesFormat,
    ParquetFormat,
    SqliteFormat,
    _PYARROW_HAS_CDC,
    default_formats,
)


@pytest.fixture()
def small_df(spark):
    return spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "a bigint, b string"
    )


def test_paramstem_naming():
    assert ParquetFormat().paramstem("t") == "t-c=snappy"
    f = ParquetFormat(compression="zstd", row_group_size=4096, use_dictionary=False)
    assert f.paramstem("t") == "t-c=zstd-dict=off-rg=4096"
    assert f.derive_path("t", __import__("pathlib").Path("/d")).name == (
        "t-c=zstd-dict=off-rg=4096.parquet"
    )
    assert JsonLinesFormat(compression="gzip").derive_path(
        "t", __import__("pathlib").Path("/d")
    ).name == "t-c=gzip.jsonl.gz"


def test_parquet_roundtrip_and_metadata(spark, small_df, tmp_path):
    fmt = ParquetFormat(compression="snappy")
    path = fmt.write(spark, "t", small_df, tmp_path)
    back = spark.read.parquet(str(path))
    assert sorted(back.collect()) == sorted(small_df.collect())
    meta = pq.ParquetFile(path).metadata
    assert meta.row_group(0).column(0).compression == "SNAPPY"


def test_parquet_row_group_size(spark, tmp_path):
    df = spark.createDataFrame([(i,) for i in range(5000)], "x bigint")
    # block.size is in bytes; tiny value forces many row groups
    fmt = ParquetFormat(compression="none", row_group_size=1024)
    path = fmt.write(spark, "t", df, tmp_path)
    meta = pq.ParquetFile(path).metadata
    assert meta.num_rows == 5000
    assert meta.num_row_groups > 1


def test_parquet_dictionary_off(spark, small_df, tmp_path):
    fmt = ParquetFormat(use_dictionary=False)
    path = fmt.write(spark, "t", small_df, tmp_path)
    col = pq.ParquetFile(path).metadata.row_group(0).column(1)
    assert "PLAIN_DICTIONARY" not in str(col.encodings) and "RLE_DICTIONARY" not in str(
        col.encodings
    )


def test_parquet_rewrite_from_path(spark, small_df, tmp_path):
    src = ParquetFormat().write(spark, "orig", small_df, tmp_path)
    out = ParquetFormat(compression="zstd").write(spark, "re", str(src), tmp_path)
    assert sorted(spark.read.parquet(str(out)).collect()) == sorted(small_df.collect())


def test_jsonlines_records(spark, small_df, tmp_path):
    path = JsonLinesFormat().write(spark, "t", small_df, tmp_path)
    records = [json.loads(line) for line in open(path)]
    assert sorted(r["a"] for r in records) == [1, 2, 3]


def test_jsonlines_gzip(spark, small_df, tmp_path):
    path = JsonLinesFormat(compression="gzip").write(spark, "t", small_df, tmp_path)
    assert path.name.endswith(".jsonl.gz")
    records = [json.loads(line) for line in gzip.open(path, "rt")]
    assert len(records) == 3


def test_sqlite_roundtrip_and_overwrite(spark, small_df, tmp_path):
    fmt = SqliteFormat()
    path = fmt.write(spark, "t", small_df, tmp_path)
    with sqlite3.connect(path) as conn:
        rows = conn.execute(f'SELECT a, b FROM "{fmt.table}" ORDER BY a').fetchall()
    assert rows == [(1, "x"), (2, "y"), (3, "z")]
    # overwrite keeps a single copy
    fmt.write(spark, "t", small_df, tmp_path)
    with sqlite3.connect(path) as conn:
        assert conn.execute(f'SELECT COUNT(*) FROM "{fmt.table}"').fetchone()[0] == 3
    back = fmt.read(spark, path)
    assert sorted(back.collect()) == sorted(small_df.collect())


def test_cdc_format_gated(spark, small_df, tmp_path):
    if _PYARROW_HAS_CDC:
        path = CdcParquetFormat().write(spark, "t", small_df, tmp_path)
        assert path.exists()
    else:
        with pytest.raises(NotImplementedError, match="pyarrow"):
            CdcParquetFormat().write(spark, "t", small_df, tmp_path)


def test_distributed_arrow_writer_roundtrip(spark, tmp_path):
    # the executor-side pyarrow write path the CDC format routes through
    # (one file per partition, manifest back to the driver) — exercised
    # without CDC options since this pyarrow lacks them
    from dataset_dedupe_estimator_spark.sources.formats import (
        write_parquet_distributed,
    )

    df = spark.range(1000).selectExpr("id", "id * 2 AS v").repartition(3)
    manifest = write_parquet_distributed(df, tmp_path / "out", compression="zstd")
    assert len(manifest) == 3
    assert sum(n for _, n in manifest) == 1000
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 1000
    assert sorted(r.v for r in back.collect()) == sorted(2 * i for i in range(1000))


def test_cdc_write_path_has_no_driver_toarrow():
    # the scale contract: no df.toArrow() anywhere in the write machinery
    import inspect as _inspect

    from dataset_dedupe_estimator_spark.sources import formats as m

    assert "toArrow" not in _inspect.getsource(m)


def test_default_formats():
    fmts = default_formats(with_json=True, with_sqlite=True)
    names = [f.name for f in fmts]
    assert names.count("parquet") == 2
    assert "jsonlines" in names and "sqlite" in names


def test_cdc_option_dict_matches_pyarrow21_signature():
    """Version-skew guard for the gated CDC write path.

    pyarrow >= 21 accepts ``use_content_defined_chunking=dict`` on
    ``ParquetWriter`` with exactly the keys ``min_chunk_size``,
    ``max_chunk_size`` and ``norm_level`` (the same field names as the
    reference's CdcParams, de/formats.py:14-18). This pyarrow (<21)
    can't execute the path, but the option dict we would send is built
    here and frozen against that accepted signature, so the code is
    demonstrably ready the moment the environment upgrades.
    """
    import dataclasses

    from dataset_dedupe_estimator_spark.sources.formats import CdcParams

    params = CdcParams(min_chunk_size=128 * 1024, max_chunk_size=1024 * 1024, norm_level=1)
    # the exact dict write_parquet_distributed builds from CdcParams
    built = {
        "min_chunk_size": params.min_chunk_size,
        "max_chunk_size": params.max_chunk_size,
        "norm_level": params.norm_level,
    }
    # pyarrow >= 21 accepted keys (Parquet CDC writer options) == the
    # reference CdcParams field names
    accepted = {"min_chunk_size", "max_chunk_size", "norm_level"}
    assert set(built) == accepted
    assert [f.name for f in dataclasses.fields(CdcParams)] == sorted(
        accepted, key=["min_chunk_size", "max_chunk_size", "norm_level"].index
    )
    # and the builder inside write_parquet_distributed uses those keys
    # verbatim (source-level check so a rename can't silently drift)
    import inspect

    from dataset_dedupe_estimator_spark.sources import formats as m

    src = inspect.getsource(m.write_parquet_distributed)
    for key in accepted:
        assert f'"{key}"' in src


def test_csv_roundtrip(spark, small_df, tmp_path):
    from dataset_dedupe_estimator_spark.sources.formats import CsvFormat

    fmt = CsvFormat()
    path = fmt.write(spark, "t", small_df, tmp_path)  # write() sanity-checks
    assert path.suffix == ".csv"
    back = spark.read.csv(str(path), header=True, schema=small_df.schema)
    assert sorted(back.collect()) == sorted(small_df.collect())
    gz = CsvFormat(compression="gzip")
    gz_path = gz.write(spark, "t", small_df, tmp_path)
    assert gz_path.name.endswith(".csv.gz")
    assert gz_path.stat().st_size > 0  # gzip overhead beats 3 rows; no size claim
    names = [f.name for f in default_formats(with_csv=True)]
    assert names.count("csv") == 2


def test_orc_roundtrip(spark, small_df, tmp_path):
    from dataset_dedupe_estimator_spark.sources.formats import OrcFormat

    fmt = OrcFormat()
    assert fmt.paramstem("t") == "t-c=zstd"
    path = fmt.write(spark, "t", small_df, tmp_path)
    assert path.suffix == ".orc"
    back = spark.read.orc(str(path))
    assert sorted(back.collect()) == sorted(small_df.collect())
    names = [f.name for f in default_formats(with_orc=True)]
    assert "orc" in names


def _drop_last_row(dest):
    if dest.suffix == ".parquet":
        t = pq.read_table(dest)
        pq.write_table(t.slice(0, t.num_rows - 1), dest)
    else:
        lines = dest.read_text().splitlines(keepends=True)
        dest.write_text("".join(lines[:-1]))


def _rename_column(dest):
    if dest.suffix == ".parquet":
        t = pq.read_table(dest)
        pq.write_table(t.rename_columns(["a", "b_renamed"]), dest)
    else:
        dest.write_text(dest.read_text().replace('"b":', '"b_renamed":'))


@pytest.mark.parametrize("tamper", [_drop_last_row, _rename_column])
@pytest.mark.parametrize("fmt", [ParquetFormat(), JsonLinesFormat()], ids=["parquet", "jsonl"])
def test_sanity_check_reads_the_written_file(spark, small_df, tmp_path, monkeypatch, fmt, tamper):
    """The check compares the rows the writer received with what the file
    holds: a file that lost a row, or has a renamed column, between the
    write and the check raises."""
    from dataset_dedupe_estimator_spark.sources import formats as m

    real = m.sanity_check

    def tampered_check(src, n_src, dest, writer_fmt):
        tamper(dest)
        return real(src, n_src, dest, writer_fmt)

    fmt.write(spark, "ok", small_df, tmp_path)  # untouched file passes
    monkeypatch.setattr(m, "sanity_check", tampered_check)
    with pytest.raises(m.SanityCheckError):
        fmt.write(spark, "t", small_df, tmp_path)


def test_sanity_check_counts_rows_inside_the_write(spark, tmp_path, monkeypatch):
    """Writes of an empty frame and of a multi-partition frame pass the
    check with the writer's own row count; the parquet check reads the
    footer, with no Spark job."""
    from dataset_dedupe_estimator_spark.sources import formats as m

    empty = spark.createDataFrame([], "a bigint, b string")
    for fmt in (ParquetFormat(), JsonLinesFormat()):
        fmt.write(spark, "empty", empty, tmp_path)
    df = spark.range(0, 1000, 1, 4).selectExpr("id AS a", "CAST(id AS STRING) AS b")
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)
    seen = []
    real = m.sanity_check

    def spy(src, n_src, dest, writer_fmt):
        before = max(sc.statusTracker().getJobIdsForGroup(None), default=-1)
        real(src, n_src, dest, writer_fmt)
        jobs = [j for j in sc.statusTracker().getJobIdsForGroup(None) if j > before]
        seen.append((writer_fmt, n_src, len(jobs)))

    monkeypatch.setattr(m, "sanity_check", spy)
    ParquetFormat().write(spark, "t", df, tmp_path)
    JsonLinesFormat().write(spark, "t", df, tmp_path)
    assert seen[0] == ("parquet", 1000, 0)
    assert seen[1][:2] == ("json", 1000)
