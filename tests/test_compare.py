"""Mirrors de/tests/test_estimate.py + test_cli.py: record per
(format, group), field presence, output paths, numfiles, ratio in (0,1],
identical-members group ⇒ ratio ≈ 1/numfiles; display helpers."""

import pytest
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.operators.synthetic import DataGenerator, finalize
from dataset_dedupe_estimator_spark.plans.compare import (
    compare_formats,
    compare_formats_tables,
    results_df,
)
from dataset_dedupe_estimator_spark.plans.display import (
    markdown_report,
    pivot_by_format,
    ratio_bucket,
    sorted_results,
    with_best_in_group,
)
from dataset_dedupe_estimator_spark.sources.formats import JsonLinesFormat, ParquetFormat

FORMATS = [ParquetFormat(compression="snappy"), ParquetFormat(compression="zstd")]


@pytest.fixture(scope="module")
def variant_groups(spark):
    gen = DataGenerator({"a": "int", "b": "str"}, seed=42)
    tables = gen.generate_synthetic_tables(spark, 2000, [0.5], edit_size=10)
    original = finalize(tables["original"]).cache()
    return {
        "edit-deleted": {"original": original, "variant": finalize(tables["deleted"])},
        "identical": {"original": original, "copy": original},
    }


def test_compare_formats_tables(spark, variant_groups, tmp_path):
    results = compare_formats_tables(spark, FORMATS, variant_groups, tmp_path)
    assert len(results) == len(FORMATS) * len(variant_groups)
    for r in results:
        assert r.numfiles == 2
        assert 0 < r.dedup_ratio <= 1.0
        assert r.chunk_bytes <= r.total_len
        assert r.format.startswith("parquet-c=")
    # identical members dedup fully: ratio ≈ 1/2
    ident = [r for r in results if r.group == "identical"]
    for r in ident:
        assert r.dedup_ratio == pytest.approx(0.5, abs=0.01)
    # expected output layout: <dir>/<group>/<format-label>/<member>...parquet
    out = list(tmp_path.glob("identical/parquet-c=snappy/*.parquet"))
    assert len(out) == 2


def test_compare_formats_param_impact(spark, variant_groups, tmp_path):
    table = variant_groups["identical"]["original"]
    contenders = [
        ParquetFormat(compression="zstd"),
        ParquetFormat(compression="none"),
        JsonLinesFormat(),
    ]
    results = compare_formats(
        spark, ParquetFormat(), contenders, table, tmp_path / "pi"
    )
    assert len(results) == 3
    for r in results:
        assert r.numfiles == 2
        assert 0 < r.dedup_ratio <= 1.0
        assert r.group == "param-impact"


def test_display_helpers(spark, variant_groups, tmp_path):
    results = compare_formats_tables(spark, FORMATS, variant_groups, tmp_path / "d")
    df = results_df(spark, results)
    assert sorted_results(df).count() == len(results)
    flagged = with_best_in_group(df)
    assert flagged.filter(F.col("is_best")).count() >= df.select("group").distinct().count()
    bucketed = ratio_bucket(df)
    assert set(bucketed.select("ratio_class").distinct().toPandas()["ratio_class"]) <= {
        "good",
        "ok",
        "bad",
    }
    grid = pivot_by_format(df).toPandas()
    assert "edit-deleted" in grid.columns and "identical" in grid.columns
    report = markdown_report(spark, df)
    assert "### identical" in report and "**" in report


@pytest.fixture(scope="module")
def edited_groups(spark):
    """The benchmark's shape: 2 groups of 2 sharing one ``original``."""
    gen = DataGenerator({"a": "int", "b": "str"}, seed=7)
    tables = gen.generate_synthetic_tables(spark, 2000, [0.25, 0.75], edit_size=10)
    v = {n: finalize(tables[n]).cache() for n in ("original", "inserted", "updated")}
    return {n: {"original": v["original"], n: v[n]} for n in ("inserted", "updated")}


def test_shared_source_written_once_per_format(spark, edited_groups, tmp_path, monkeypatch):
    """A source used by two groups is written once per format and linked
    into the other group's directory: identical bytes in both, and each
    group's total_len is its own directory's bytes."""
    calls = []
    real = {cls: cls.write for cls in (ParquetFormat, JsonLinesFormat)}

    def counting(cls):
        def write(self, spark, stem, src, directory):
            calls.append((self.name, stem))
            return real[cls](self, spark, stem, src, directory)

        return write

    for cls in real:
        monkeypatch.setattr(cls, "write", counting(cls))
    fmts = [ParquetFormat(compression="zstd"), JsonLinesFormat()]
    results = compare_formats_tables(spark, fmts, edited_groups, tmp_path)
    # 3 distinct sources × 2 formats, not 2 groups × 2 members × 2 formats
    assert len(calls) == 6
    assert calls.count(("parquet", "original")) == 1
    for label in ("parquet-c=zstd", "jsonlines"):
        a, b = (
            next((tmp_path / g / label).glob("original*")) for g in ("inserted", "updated")
        )
        assert a.read_bytes() == b.read_bytes()
    for r in results:
        d = tmp_path / r.group / r.format
        assert r.total_len == sum(f.stat().st_size for f in d.iterdir())
        assert r.numfiles == 2 and r.write_seconds > 0


def test_compare_job_budget(spark, edited_groups, tmp_path):
    """One compare call shaped like the benchmark's (2 formats × 2 groups
    of 2) runs at most 16 Spark jobs: one write per (format, source), row
    counts inside the writes, one chunk pass."""
    fmts = [ParquetFormat(compression="zstd"), JsonLinesFormat()]
    sc = spark.sparkContext
    # the pool threads' jobs carry no job group; neither may this thread's
    sc.setLocalProperty("spark.jobGroup.id", None)
    compare_formats_tables(spark, fmts, edited_groups, tmp_path / "warm")
    before = max(sc.statusTracker().getJobIdsForGroup(None), default=-1)
    compare_formats_tables(spark, fmts, edited_groups, tmp_path / "timed")
    jobs = [j for j in sc.statusTracker().getJobIdsForGroup(None) if j > before]
    assert 0 < len(jobs) <= 16, len(jobs)
