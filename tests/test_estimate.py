"""Estimate-pipeline invariants, mirroring de/tests/test_estimate.py:
result-field presence, ratio bounds, identical-files ⇒ ratio ≈ 1/numfiles."""

import numpy as np
import pytest

from dataset_dedupe_estimator_spark.operators.chunker import chunk_files
from dataset_dedupe_estimator_spark.plans.estimate import (
    approx_stats,
    chunk_stats,
    dedup_map,
    estimate,
    segments,
)

RNG = np.random.default_rng(11)
BLOB = RNG.integers(0, 256, 2_000_000, dtype=np.uint8).tobytes()


@pytest.fixture(scope="module")
def two_identical(tmp_path_factory):
    d = tmp_path_factory.mktemp("est")
    paths = []
    for name in ("a.bin", "b.bin"):
        p = d / name
        p.write_bytes(BLOB)
        paths.append(str(p))
    return paths


def test_estimate_fields_and_ratio(spark, two_identical):
    res = estimate(spark, two_identical)
    for key in (
        "numfiles",
        "total_len",
        "chunk_bytes",
        "compressed_chunk_bytes",
        "dedup_ratio",
        "xet_bytes",
        "xet_dedup_ratio",
    ):
        assert key in res
    assert res["numfiles"] == 2
    assert res["total_len"] == 2 * len(BLOB)
    # two identical files ⇒ dedup ratio ≈ 1/2 (exactly, with per-file chunking)
    assert res["dedup_ratio"] == pytest.approx(0.5, abs=1e-6)
    assert 0 < res["xet_dedup_ratio"] <= 1.0


def test_dedup_map_provenance(spark, two_identical):
    chunks = chunk_files(spark, two_identical)
    dm = dedup_map(chunks)
    rows = dm.collect()
    assert all(r.first_seen_in == 0 for r in rows)  # file 0 wins (min file_idx)
    assert all(list(r.seen_in) == [0, 1] for r in rows)
    assert all(r.n_files_seen == 2 for r in rows)


def test_empty_inputs(spark, tmp_path):
    # no paths, zero-byte file, empty blob: no crashes, sane shapes
    from dataset_dedupe_estimator_spark.operators.chunker import (
        chunk_bytes,
        chunk_files,
    )
    from dataset_dedupe_estimator_spark.plans.estimate import estimate, estimate_df

    row = estimate_df(spark, []).collect()[0]
    assert row.numfiles == 0 and row.unique_chunks == 0
    assert estimate(spark, [], with_xet=False)["total_len"] == 0
    assert chunk_bytes(b"") == []
    empty = tmp_path / "zero.bin"
    empty.write_bytes(b"")
    assert chunk_files(spark, [str(empty)]).count() == 0


def test_dedup_map_provenance_cap(spark, two_identical):
    # seen_in row width is bounded by the cap; the exact cardinality
    # survives in n_files_seen (SURVEY §7.4 risk 7)
    chunks = chunk_files(spark, two_identical)
    rows = dedup_map(chunks, provenance_cap=1).collect()
    assert all(list(r.seen_in) == [0] for r in rows)
    assert all(r.n_files_seen == 2 for r in rows)


def test_chunks_export_carries_exact_cardinality(spark, two_identical):
    from dataset_dedupe_estimator_spark.plans.estimate import chunks_export

    rows = chunks_export(spark, two_identical).collect()
    assert rows and all(r.n_files_seen == 2 for r in rows)


def test_segments_order(spark, two_identical):
    chunks = chunk_files(spark, two_identical)
    seg = segments(chunks).collect()
    # ordered by (file_idx, seq); every occurrence maps to first_seen_in = 0
    keys = [(r.file_idx, r.seq) for r in seg]
    assert keys == sorted(keys)
    assert all(r.first_seen_in == 0 for r in seg)


def test_stats_vs_approx(spark, two_identical):
    chunks = chunk_files(spark, two_identical).cache()
    exact = chunk_stats(chunks).collect()[0]
    approx = approx_stats(chunks).collect()[0]
    assert approx.total_len == exact.total_len
    assert approx.approx_unique_chunks == pytest.approx(exact.unique_chunks, rel=0.1)
    chunks.unpersist()


def test_chunks_export(spark, two_identical):
    from dataset_dedupe_estimator_spark.plans.estimate import chunks_export

    rows = chunks_export(spark, two_identical, store_data=True).collect()
    keys = [(r.file_idx, r.seq) for r in rows]
    assert keys == sorted(keys)  # stream order (C8)
    assert all(r.first_seen_in == 0 for r in rows)
    assert all(list(r.seen_in) == [0, 1] for r in rows)
    # raw bytes retained on request and hash-consistent
    from dataset_dedupe_estimator_spark.operators.chunker import _hash64

    for r in rows[:5]:
        assert _hash64(bytes(r.data)) == r.hash


def test_estimate_on_testdata(spark, parquet_paths):
    res = estimate(spark, parquet_paths, with_xet=False)
    assert res["numfiles"] == len(parquet_paths)
    assert 0 < res["dedup_ratio"] <= 1.0
    assert res["chunk_bytes"] <= res["total_len"]


def test_dedup_trend_matches_estimate(spark, parquet_paths):
    from dataset_dedupe_estimator_spark.plans.estimate import dedup_trend, estimate

    rows = dedup_trend(spark, parquet_paths).collect()
    assert len(rows) == len(parquet_paths)
    # cumulative columns are running sums of the per-file columns
    assert rows[-1].cum_total_bytes == sum(r.file_bytes for r in rows)
    assert rows[-1].cum_unique_bytes == sum(r.novel_bytes for r in rows)
    # monotone: totals strictly grow, unique never shrinks
    for a, b in zip(rows, rows[1:]):
        assert b.cum_total_bytes > a.cum_total_bytes
        assert b.cum_unique_bytes >= a.cum_unique_bytes
    # the final prefix equals the whole-corpus estimate
    full = estimate(spark, parquet_paths, with_xet=False)
    assert rows[-1].cum_total_bytes == full["total_len"]
    assert rows[-1].cum_unique_bytes == full["chunk_bytes"]


def test_dedup_trend_halves_on_duplicate_corpus(spark, parquet_paths):
    from dataset_dedupe_estimator_spark.plans.estimate import dedup_trend

    rows = dedup_trend(spark, parquet_paths + parquet_paths).collect()
    n = len(parquet_paths)
    # second copy of the corpus introduces zero novel bytes
    assert all(r.novel_bytes == 0 for r in rows[n:])
    assert abs(rows[-1].cum_dedup_ratio - rows[n - 1].cum_dedup_ratio / 2) < 1e-6


@pytest.mark.parametrize("mode", ["no_xet", "shared_xet", "incompatible_xet"])
def test_estimate_groups_matches_per_group_estimate(spark, parquet_paths, tmp_path, mode):
    """The group-keyed core scopes dedup to each group: its dicts equal a
    per-group ``estimate`` field for field, a file listed in two groups
    included, and a group of one empty file reads all zeros."""
    from dataclasses import replace

    from dataset_dedupe_estimator_spark.operators.chunker import XET_PARAMS
    from dataset_dedupe_estimator_spark.plans.estimate import estimate_groups

    empty = tmp_path / "empty.bin"
    empty.write_bytes(b"")
    # a shifted copy: how many of its bytes dedup depends on where each
    # parameterization cuts, unlike whole-file duplicates
    rng = np.random.default_rng(5)
    base = rng.bytes(400_000)
    shifted = [tmp_path / "base.bin", tmp_path / "shifted.bin"]
    shifted[0].write_bytes(base)
    shifted[1].write_bytes(rng.bytes(5_000) + base[100_000:])
    groups = [
        parquet_paths[:3],
        [str(empty)],
        parquet_paths[2:5] + parquet_paths[2:3],
        parquet_paths[5:6],
        [str(p) for p in shifted],
    ]
    kw = {
        "no_xet": {"with_xet": False},
        "shared_xet": {"with_xet": True},
        "incompatible_xet": {
            "with_xet": True,
            "xet_params": replace(XET_PARAMS, seed=12345),
        },
    }[mode]
    got = estimate_groups(spark, groups, **kw)
    assert got == [estimate(spark, g, **kw) for g in groups]
    assert got[1]["numfiles"] == 1 and got[1]["total_len"] == 0
    assert got[1]["dedup_ratio"] == 0.0
    # independent of the core: the chunk table's own aggregate per group
    if mode == "no_xet":
        from dataset_dedupe_estimator_spark.operators.chunker import chunk_files_auto
        from dataset_dedupe_estimator_spark.plans.estimate import ESTIMATE_PARAMS

        row = chunk_stats(chunk_files_auto(spark, groups[2], params=ESTIMATE_PARAMS)).first()
        assert (got[2]["total_len"], got[2]["chunk_bytes"]) == (row.total_len, row.chunk_bytes)
    if mode == "incompatible_xet":
        # the xet side's unique-chunk bytes from their own aggregate over
        # the xet parameterization's chunks
        from pyspark.sql import functions as F

        from dataset_dedupe_estimator_spark.operators.chunker import chunk_files_auto

        xet = (
            chunk_files_auto(spark, groups[4], params=kw["xet_params"])
            .groupBy("hash")
            .agg(F.first("size").alias("size"))
            .agg(F.sum("size").alias("xet_bytes"))
            .first()
        )
        assert got[4]["xet_bytes"] == xet.xet_bytes
        # the two parameterizations dedup the shifted copy differently
        assert got[4]["xet_bytes"] != got[4]["chunk_bytes"]
