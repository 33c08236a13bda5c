"""Chunk-level dedup estimation queries — the reference's core surface
(de dedup / de stats), exposed through the driver contract.

CDC chunking of raw file bytes is not SQL-expressible, so chunk
EMISSION stays rows-only (invariants in tests/test_chunker.py and
tests/test_estimate.py). Everything DOWNSTREAM of emission is oracle-
bearing via the export trick (r11 ``cdc_stats_oracle``, extended in
r12 to provenance / upload-delta / index-ledger): the chunk table is
exported to parquet and DuckDB re-derives the same aggregation from
the same rows.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.operators.chunker import XET_PARAMS, chunk_files
from dataset_dedupe_estimator_spark.plans.estimate import (
    approx_stats,
    chunk_stats,
    dedup_map,
    estimate_df,
)
from dataset_dedupe_estimator_spark.queries.base import Q


def _paths(sf_dir: str) -> list[str]:
    return sorted(glob.glob(f"{sf_dir}/*.parquet"))


def cdc_estimate(spark, sf):
    """`de dedup` over every parquet file in the dataset: one row of dedup
    metrics (C9+C11)."""
    return estimate_df(spark, _paths(sf))


def cdc_per_file_chunks(spark, sf):
    """Per-file chunk accounting (ChunkStore per file, src/store.rs:97-101).
    Oracle-bearing since r12 via the export trick: DuckDB re-aggregates
    the exported chunk table to the same per-file tuple."""
    exported = _export_chunks(spark, sf, _PFC_EXPORT)
    return (
        exported.groupBy("file")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("hash").alias("n_unique_chunks"),
            F.sum("size").alias("total_bytes"),
            F.max("size").alias("max_chunk"),
            F.min("size").alias("min_chunk"),
        )
        .orderBy("file")
    )


def cdc_provenance(spark, sf):
    """Merged-store provenance distribution (C5): how many files share
    each chunk, plus where those shared chunks were FIRST seen and how
    many bytes each sharing tier holds. Oracle-bearing since r12 via
    the export trick (the r11 ``cdc_stats_oracle`` pattern): the chunk
    table is exported and both engines re-derive the per-hash
    provenance — DuckDB recomputes ``min(file_idx)`` /
    ``count(distinct file_idx)`` per hash, so a lost occurrence, a
    mis-scoped distinct, or a wrong first-seen attribution
    hash-mismatches. Only chunk EMISSION stays rows-only."""
    exported = _export_chunks(spark, sf, _PROV_EXPORT)
    return (
        dedup_map(exported)
        .groupBy(F.col("n_files_seen").alias("n_files_sharing"))
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("first_seen_in").alias("n_first_files"),
            F.sum("size").alias("group_bytes"),
        )
        .orderBy("n_files_sharing")
    )


CDC_PROVENANCE_SQL: str  # defined below _EXPORT_BASE (needs the path)


def cdc_estimate_xet(spark, sf):
    """Alternate chunker parameterization (src/xet.rs:10-39 role).
    Oracle-bearing since r12: the XET-parameterized chunk table is
    exported and DuckDB re-derives the occurrence-vs-distinct stats."""
    exported = _export_chunks(spark, sf, _XET_EXPORT, params=XET_PARAMS)
    return chunk_stats(exported)


def cdc_approx_estimate(spark, sf):
    """100 TB-scale approximate variant: HLL distinct chunks instead of the
    exact per-hash aggregate."""
    chunks = chunk_files(spark, _paths(sf))
    return approx_stats(chunks)


def cdc_upload_delta(spark, sf):
    """Upload-delta estimate (the reference's notebook headline,
    notebooks/parquet-cdc.md:814-838): treating ``lineitem.parquet`` as
    the already-stored snapshot, per-file bytes every dataset file
    would need to transfer. Oracle-bearing since r12 via the export
    trick: the corpus chunk table is exported once; both engines then
    run the SAME store semantics — old hashes = the stored file's
    distinct set, each novel hash attributed (and counted) once to the
    file that sees it first (``plans/estimate.py::upload_delta``'s
    anti-join + first-attribution, which DuckDB reproduces as plain
    SQL). Only chunk EMISSION stays rows-only."""
    exported = _export_chunks(spark, sf, _DELTA_EXPORT)
    old_hashes = (
        exported.filter(F.col("file") == "lineitem.parquet")
        .select("hash")
        .distinct()
    )
    novel_first = (
        exported.join(old_hashes, "hash", "left_anti")
        .groupBy("hash")
        .agg(F.min(F.struct("file_idx", "file", "size")).alias("first"))
        .select(
            F.col("first.file").alias("file"),
            F.col("first.size").alias("size"),
        )
    )
    per_file = exported.groupBy("file").agg(
        F.sum("size").alias("file_bytes")
    )
    delta = novel_first.groupBy("file").agg(
        F.sum("size").alias("novel_bytes")
    )
    return (
        per_file.join(delta, "file", "left")
        .select(
            "file",
            "file_bytes",
            F.coalesce(F.col("novel_bytes"), F.lit(0)).alias("novel_bytes"),
            F.round(
                F.coalesce(F.col("novel_bytes"), F.lit(0))
                / F.col("file_bytes"),
                6,
            ).alias("delta_ratio"),
        )
        .orderBy("file")
    )


def format_compare_demo(spark, sf):
    """O1 end-to-end through the driver contract: generate a synthetic
    table + deleted variant, write both in two parquet configurations and
    JSONL, estimate cross-file dedup per format (de/estimate.py:41-84
    capability; rows-only — file bytes are environment-dependent)."""
    import tempfile

    from dataset_dedupe_estimator_spark.operators.synthetic import (
        DataGenerator,
        finalize,
    )
    from dataset_dedupe_estimator_spark.plans.compare import (
        compare_formats_tables,
        results_df,
    )
    from dataset_dedupe_estimator_spark.sources.formats import (
        JsonLinesFormat,
        ParquetFormat,
    )

    from dataset_dedupe_estimator_spark.operators.chunker import ChunkerParams

    gen = DataGenerator({"a": "int", "b": "str"}, seed=42)
    tables = gen.generate_synthetic_tables(spark, 2000, [0.5], edit_size=10)
    # persist: every format write re-executes the lazy generator pipeline
    # otherwise — 3 formats x 2 tables collapse to one materialization each
    original = finalize(tables["original"]).persist()
    deleted = finalize(tables["deleted"]).persist()
    groups = {"edit-deleted": {"original": original, "deleted": deleted}}
    formats = [
        ParquetFormat(compression="snappy"),
        ParquetFormat(compression="zstd"),
        JsonLinesFormat(),
    ]
    # demo-scale probe cap: the compressibility probe is ~30% of chunker
    # CPU and the rows-only check doesn't read compressed bytes — same
    # sampling knob a 100 TB estimate run would set (survey §7.4)
    try:
        results = compare_formats_tables(
            spark,
            formats,
            groups,
            tempfile.mkdtemp(prefix="dde-fmt-"),
            params=ChunkerParams(compress_probe_bytes=16 * 1024),
        )
    finally:
        original.unpersist()
        deleted.unpersist()
    return (
        results_df(spark, results)
        .select("group", "format", "numfiles", "dedup_ratio")
        .orderBy("format")
    )


def cdc_dedup_trend(spark, sf):
    """Cumulative dedup ratio per file prefix over the sf parquet corpus —
    plans/estimate.py:dedup_trend's aggregation (first-seen novelty + two
    distributed prefix sums, ``trend_from_chunks``) over the exported
    chunk table, so DuckDB reproduces every running total and ratio with
    window functions (``CDC_TREND_ORACLE_SQL``); only chunk EMISSION
    stays rows-only. ``cdc_trend_oracle`` names the same query."""
    from dataset_dedupe_estimator_spark.plans.estimate import (
        trend_from_chunks,
    )

    return trend_from_chunks(_export_chunks(spark, sf, _TREND_EXPORT))


def _export_chunks(spark, sf: str, out_dir: str, params=None):
    """Chunk the sf corpus once, EXPORT the chunk table to parquet, and
    read it back: both engines (Spark and the DuckDB oracle) aggregate
    the identical exported rows, so the oracle checks the whole CDC
    aggregation layer (C4-C6/C11) — only chunk EMISSION stays
    rows-only. The export path is deterministic so the static oracle
    SQL can address it (the gate runs the Spark side first)."""
    import shutil

    kw = {"params": params} if params is not None else {}
    chunks = chunk_files(spark, _paths(sf), **kw).select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file"),
        "file_idx", "seq", "hash", "size", "compressed",
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    chunks.coalesce(1).write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir)


# Deterministic (static oracle SQL must address them) but per-user:
# concurrent gates from different users can't race each other's export,
# and the rmtree never touches another user's path. Same-user overlap
# is out of scope — the gate runs queries sequentially.
import tempfile as _tempfile

_EXPORT_BASE = os.path.join(
    _tempfile.gettempdir(), f"dde_oracle_u{os.getuid()}"
)
_STATS_EXPORT = f"{_EXPORT_BASE}_chunks_stats"
_TREND_EXPORT = f"{_EXPORT_BASE}_chunks_trend"
_PROV_EXPORT = f"{_EXPORT_BASE}_chunks_prov"
_DELTA_EXPORT = f"{_EXPORT_BASE}_chunks_delta"
_IDX_EXPORT = f"{_EXPORT_BASE}_chunks_idx"
_PFC_EXPORT = f"{_EXPORT_BASE}_chunks_pfc"
_XET_EXPORT = f"{_EXPORT_BASE}_chunks_xet"


CDC_PER_FILE_CHUNKS_SQL = f"""
SELECT file,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT hash) AS BIGINT) AS n_unique_chunks,
       CAST(SUM(size) AS BIGINT) AS total_bytes,
       CAST(MAX(size) AS BIGINT) AS max_chunk,
       CAST(MIN(size) AS BIGINT) AS min_chunk
FROM read_parquet('{_PFC_EXPORT}/*.parquet')
GROUP BY file ORDER BY file
"""


CDC_ESTIMATE_XET_SQL = f"""
WITH c AS (SELECT * FROM read_parquet('{_XET_EXPORT}/*.parquet')),
ph AS (SELECT hash, MIN(size) AS size, MIN(compressed) AS compressed,
              SUM(size) AS occ_bytes, COUNT(*) AS occ_count
       FROM c GROUP BY hash)
SELECT CAST(SUM(occ_bytes) AS BIGINT) AS total_len,
       CAST(SUM(occ_count) AS BIGINT) AS total_chunks,
       CAST(COUNT(*) AS BIGINT) AS unique_chunks,
       CAST(SUM(size) AS BIGINT) AS chunk_bytes,
       CAST(SUM(compressed) AS BIGINT) AS compressed_chunk_bytes
FROM ph
"""


CDC_PROVENANCE_SQL = f"""
WITH c AS (SELECT * FROM read_parquet('{_PROV_EXPORT}/*.parquet')),
h AS (SELECT hash, MIN(size) AS size, MIN(file_idx) AS first_seen_in,
             COUNT(DISTINCT file_idx) AS n_files_sharing
      FROM c GROUP BY hash)
SELECT CAST(n_files_sharing AS BIGINT) AS n_files_sharing,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT first_seen_in) AS BIGINT) AS n_first_files,
       CAST(SUM(size) AS BIGINT) AS group_bytes
FROM h GROUP BY 1 ORDER BY 1
"""


CDC_UPLOAD_DELTA_SQL = f"""
WITH c AS (SELECT * FROM read_parquet('{_DELTA_EXPORT}/*.parquet')),
old AS (SELECT DISTINCT hash FROM c WHERE file = 'lineitem.parquet'),
novel AS (SELECT c.hash, MIN(c.file_idx) AS first_idx,
                 MIN(c.size) AS size
          FROM c LEFT JOIN old o ON c.hash = o.hash
          WHERE o.hash IS NULL GROUP BY c.hash),
delta AS (SELECT first_idx AS file_idx, SUM(size) AS novel_bytes
          FROM novel GROUP BY 1),
pf AS (SELECT file, MIN(file_idx) AS file_idx,
              CAST(SUM(size) AS BIGINT) AS file_bytes
       FROM c GROUP BY file)
SELECT pf.file, pf.file_bytes,
       CAST(COALESCE(d.novel_bytes, 0) AS BIGINT) AS novel_bytes,
       ROUND(CAST(COALESCE(d.novel_bytes, 0) AS DOUBLE)
             / CAST(pf.file_bytes AS DOUBLE), 6) AS delta_ratio
FROM pf LEFT JOIN delta d USING (file_idx)
ORDER BY pf.file
"""


CDC_INDEX_INCREMENTAL_SQL = f"""
WITH c AS (SELECT * FROM read_parquet('{_IDX_EXPORT}/*.parquet')),
h0 AS (SELECT hash, MIN(size) AS size FROM c WHERE gen0 GROUP BY hash),
hall AS (SELECT hash, MIN(size) AS size FROM c GROUP BY hash),
n_half AS (SELECT COUNT(DISTINCT file) AS f FROM c WHERE gen0),
n_all AS (SELECT COUNT(DISTINCT file) AS f FROM c)
SELECT CAST(0 AS BIGINT) AS gen,
       CAST((SELECT f FROM n_half) AS BIGINT) AS files,
       CAST(COUNT(*) AS BIGINT) AS novel_chunks,
       CAST(COALESCE(SUM(size), 0) AS BIGINT) AS novel_bytes
FROM h0
UNION ALL
SELECT 1, CAST((SELECT f FROM n_all) AS BIGINT),
       CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(size), 0) AS BIGINT)
FROM hall WHERE hash NOT IN (SELECT hash FROM h0)
UNION ALL
SELECT 2, CAST((SELECT f FROM n_all) AS BIGINT), 0, 0
ORDER BY gen
"""


def cdc_stats_oracle(spark, sf):
    """Oracle-bearing CDC accounting (r11): per-file AND global
    occurrence-vs-distinct stats (C4/C6) with the dedup ratio (C11)
    over an exported chunk table — DuckDB re-aggregates the same rows
    to the same tuple, so a wrong two-level aggregate, a lost
    occurrence, or a mis-scoped distinct all hash-mismatch."""
    exported = _export_chunks(spark, sf, _STATS_EXPORT)
    per_file = chunk_stats(exported, by=("file",))
    total = chunk_stats(exported).select(
        F.lit("*total*").alias("file"),
        "total_len", "total_chunks", "unique_chunks",
        "chunk_bytes", "compressed_chunk_bytes",
    )
    return (
        per_file.unionByName(total)
        .withColumn(
            "dedup_ratio",
            F.round(
                F.col("chunk_bytes").cast("double")
                / F.col("total_len").cast("double"),
                6,
            ),
        )
        .orderBy("file")
    )


CDC_STATS_ORACLE_SQL = f"""
WITH c AS (SELECT * FROM read_parquet('{_STATS_EXPORT}/*.parquet')),
ph AS (SELECT file, hash, MIN(size) AS size, MIN(compressed) AS compressed,
              SUM(size) AS occ_bytes, COUNT(*) AS occ_count
       FROM c GROUP BY file, hash),
pf AS (SELECT file,
              CAST(SUM(occ_bytes) AS BIGINT) AS total_len,
              CAST(SUM(occ_count) AS BIGINT) AS total_chunks,
              CAST(COUNT(*) AS BIGINT) AS unique_chunks,
              CAST(SUM(size) AS BIGINT) AS chunk_bytes,
              CAST(SUM(compressed) AS BIGINT) AS compressed_chunk_bytes
       FROM ph GROUP BY file),
gh AS (SELECT hash, MIN(size) AS size, MIN(compressed) AS compressed,
              SUM(size) AS occ_bytes, COUNT(*) AS occ_count
       FROM c GROUP BY hash),
g AS (SELECT '*total*' AS file,
             CAST(SUM(occ_bytes) AS BIGINT) AS total_len,
             CAST(SUM(occ_count) AS BIGINT) AS total_chunks,
             CAST(COUNT(*) AS BIGINT) AS unique_chunks,
             CAST(SUM(size) AS BIGINT) AS chunk_bytes,
             CAST(SUM(compressed) AS BIGINT) AS compressed_chunk_bytes
      FROM gh)
SELECT file, total_len, total_chunks, unique_chunks, chunk_bytes,
       compressed_chunk_bytes,
       ROUND(CAST(chunk_bytes AS DOUBLE) / CAST(total_len AS DOUBLE), 6)
           AS dedup_ratio
FROM (SELECT * FROM pf UNION ALL SELECT * FROM g)
ORDER BY file
"""


CDC_TREND_ORACLE_SQL = f"""
WITH c AS (SELECT * FROM read_parquet('{_TREND_EXPORT}/*.parquet')),
pf AS (SELECT file_idx, SUM(size) AS file_bytes FROM c GROUP BY 1),
ph AS (SELECT hash, MIN(size) AS size, MIN(file_idx) AS first_seen
       FROM c GROUP BY 1),
nv AS (SELECT first_seen AS file_idx, SUM(size) AS novel_bytes
       FROM ph GROUP BY 1)
SELECT p.file_idx,
       CAST(p.file_bytes AS BIGINT) AS file_bytes,
       CAST(COALESCE(n.novel_bytes, 0) AS BIGINT) AS novel_bytes,
       CAST(SUM(p.file_bytes) OVER (ORDER BY p.file_idx)
            AS BIGINT) AS cum_total_bytes,
       CAST(SUM(COALESCE(n.novel_bytes, 0)) OVER (ORDER BY p.file_idx)
            AS BIGINT) AS cum_unique_bytes,
       ROUND(
           CAST(SUM(COALESCE(n.novel_bytes, 0))
                OVER (ORDER BY p.file_idx) AS DOUBLE)
           / CAST(SUM(p.file_bytes) OVER (ORDER BY p.file_idx) AS DOUBLE),
           6) AS cum_dedup_ratio
FROM pf p LEFT JOIN nv n USING (file_idx)
ORDER BY p.file_idx
"""


def cdc_index_incremental(spark, sf):
    """Persistent chunk-index lifecycle end-to-end (plans/chunk_index.py):
    build generation 0 from the first half of the corpus, admit the full
    corpus as generation 1, re-admit it as generation 2 (must be a
    no-op), and return the per-generation admission ledger. Oracle-
    bearing since r12 via the export trick: the corpus chunk table is
    exported with a ``gen0`` membership flag, and DuckDB re-derives the
    ENTIRE ledger from first principles — gen 0 novel = the half
    corpus's distinct hashes, gen 1 novel = an anti-join of the full
    corpus's distinct set against gen 0 (exactly what ``update_index``
    executes against the on-disk index), gen 2 novel = 0 — while the
    Spark side returns the REAL index's persisted ledger. A wrong
    anti-join, a double-admitted hash, or a non-idempotent re-admission
    hash-mismatches. Only chunk EMISSION stays rows-only."""
    import json
    import tempfile

    from dataset_dedupe_estimator_spark.plans.chunk_index import (
        build_index,
        update_index,
    )

    paths = _paths(sf)
    half = paths[: max(1, len(paths) // 2)]
    half_names = sorted(os.path.basename(p) for p in half)
    # the export must agree with what the index chunked: same corpus,
    # same chunk rows (params differ only in the compression probe,
    # which the ledger never reads)
    import shutil

    shutil.rmtree(_IDX_EXPORT, ignore_errors=True)
    (
        chunk_files(spark, paths)
        .select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("file"),
            "hash",
            "size",
        )
        .withColumn("gen0", F.col("file").isin(half_names))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(_IDX_EXPORT)
    )
    with tempfile.TemporaryDirectory() as d:
        idx = f"{d}/index"
        build_index(spark, half, idx)
        update_index(spark, paths, idx)
        update_index(spark, paths, idx)  # re-admit: must add nothing
        with open(f"{idx}/_index_meta.json") as f:
            ledger = json.load(f)["snapshots"]
    rows = [
        (g["gen"], g["files"], g["novel_chunks"], g["novel_bytes"])
        for g in ledger
    ]
    return spark.createDataFrame(
        rows, "gen bigint, files bigint, novel_chunks bigint, "
        "novel_bytes bigint"
    ).orderBy("gen")


QUERIES = {
    "cdc_estimate": Q(cdc_estimate, None, headline=True),
    "cdc_stats_oracle": Q(cdc_stats_oracle, CDC_STATS_ORACLE_SQL),
    # one query under two names: cdc_trend_oracle (r11) predates the
    # oracle on cdc_dedup_trend, and the driver tracks both names
    "cdc_trend_oracle": Q(cdc_dedup_trend, CDC_TREND_ORACLE_SQL),
    "cdc_dedup_trend": Q(cdc_dedup_trend, CDC_TREND_ORACLE_SQL),
    "format_compare_demo": Q(format_compare_demo, None),
    "cdc_per_file_chunks": Q(cdc_per_file_chunks, CDC_PER_FILE_CHUNKS_SQL),
    "cdc_provenance": Q(cdc_provenance, CDC_PROVENANCE_SQL),
    "cdc_estimate_xet": Q(cdc_estimate_xet, CDC_ESTIMATE_XET_SQL),
    "cdc_approx_estimate": Q(cdc_approx_estimate, None),
    "cdc_upload_delta": Q(cdc_upload_delta, CDC_UPLOAD_DELTA_SQL),
    "cdc_index_incremental": Q(
        cdc_index_incremental, CDC_INDEX_INCREMENTAL_SQL
    ),
}
