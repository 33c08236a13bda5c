"""Dedup estimation pipeline — the reference's core capability, Spark-first.

Reference lifecycle (src/lib.rs:16-33, de/estimate.py:26-38):
    files → per-file ChunkStores (rayon) → merge with provenance →
    stats (total, unique-chunk bytes, compressed unique bytes) → ratios.

Spark lifecycle: files → mapInArrow chunker → chunk DataFrame →
groupBy(hash) aggregations. Partial/final aggregation replaces the
store-merge (src/store.rs:114-130); Catalyst plans everything after the
chunker, which sits at the scan edge so nothing needs pushing through it.

Scale notes (100 TB): the chunk table is ~24 bytes/row × ~16M rows per TiB —
the only shuffle is groupBy(hash) over those narrow rows; chunk *bytes*
never shuffle (data column dropped before any wide transform). Provenance
joins broadcast the dedup map when small; AQE handles hot hashes (e.g.
zero-filled pages). For estimates where exact uniqueness is unnecessary,
``approx_stats`` uses approx_count_distinct at a fraction of the cost.
"""

from __future__ import annotations

import os
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.operators.chunker import (
    PARALLEL_THRESHOLD,
    ChunkerParams,
    XET_PARAMS,
    boundary_compatible,
    chunk_files,
    chunk_files_auto,
    chunk_files_multi,
)


# A chunk shared by millions of files (e.g. a zero page) must not produce a
# multi-megabyte provenance row: keep the first K file indices plus the
# exact cardinality (SURVEY §7.4 risk 7).
PROVENANCE_CAP = 64

# Default chunker parameterization for *estimates*: the zlib probe reads at
# most 16 KiB per chunk and scales (ChunkerParams.compress_probe_bytes) —
# dedup_ratio is unaffected (it never touches `compressed`), only
# compressed_chunk_bytes becomes a sampled estimate. The probe is ~30% of
# chunker CPU at full fidelity; at 100 TB that is fleet-sized money. Pass
# ChunkerParams() explicitly for exact compressed accounting.
#
# Preset guide — FAST vs REFERENCE-PARITY:
#   * ESTIMATE_PARAMS (this, scheme="window"): the fast default. Same
#     boundary probability and dedup-ratio behavior as gearhash, not the
#     same cut positions.
#   * ChunkerParams(scheme="gear", gear_table=<256 u64s>): bit-identical
#     to the reference's gearhash recurrence (src/store.rs:65-95). The
#     crate's DEFAULT_TABLE constants are not vendored here (offline
#     environment — see ROADMAP "gearhash"), so parity with a reference
#     RUN additionally requires passing the crate's table; without it the
#     gear scheme uses a seeded table (identical algorithm, different
#     cuts, equivalent ratios).
ESTIMATE_PARAMS = ChunkerParams(compress_probe_bytes=16 * 1024)


def dedup_map(chunks: DataFrame, provenance_cap: int = PROVENANCE_CAP) -> DataFrame:
    """Merged chunk store with provenance (C5, src/store.rs:114-130).

    One row per distinct hash: size/compressed (identical across
    occurrences), first_seen_in = min file index, seen_in = the first
    ``provenance_cap`` file indices, n_files_seen = exact distinct-file
    count (use this, never ``size(seen_in)``, for cardinality).
    """
    return chunks.groupBy("hash").agg(
        F.first("size").alias("size"),
        F.first("compressed").alias("compressed"),
        F.min("file_idx").alias("first_seen_in"),
        F.slice(F.array_sort(F.collect_set("file_idx")), 1, provenance_cap).alias(
            "seen_in"
        ),
        F.countDistinct("file_idx").alias("n_files_seen"),
    )


def chunk_stats(chunks: DataFrame, by: tuple[str, ...] = ()) -> DataFrame:
    """(total_len, chunk_bytes, compressed_chunk_bytes) — C6, src/store.rs:132-136.

    total_len counts every occurrence; chunk_bytes / compressed count each
    distinct hash once. Single job: two-level aggregate. ``by`` adds
    grouping keys to BOTH levels (e.g. ``("param_idx",)`` for the
    shared-scan estimate) so hash uniqueness is scoped per group.
    """
    keys = list(by)
    per_hash = chunks.groupBy(*keys, "hash").agg(
        F.first("size").alias("size"),
        F.first("compressed").alias("compressed"),
        F.sum("size").alias("occ_bytes"),
        F.count("*").alias("occ_count"),
    )
    return per_hash.groupBy(*keys).agg(
        F.sum("occ_bytes").alias("total_len"),
        F.sum("occ_count").alias("total_chunks"),
        F.count("*").alias("unique_chunks"),
        F.sum("size").alias("chunk_bytes"),
        F.sum("compressed").alias("compressed_chunk_bytes"),
    )


def segments(chunks: DataFrame) -> DataFrame:
    """Provenance projection for every occurrence in stream order (C7).

    Reference: ChunkStore::segments (src/store.rs:138-143) — heatmap input.
    Broadcast-able hash join + sort at the edge (output is for rendering).
    """
    prov = dedup_map(chunks).select("hash", "first_seen_in")
    return (
        chunks.join(F.broadcast(prov), "hash")
        .orderBy("file_idx", "seq")
        .select("file_idx", "seq", "size", "first_seen_in")
    )


def estimate(
    spark: SparkSession,
    paths: list[str],
    params: ChunkerParams = ESTIMATE_PARAMS,
    xet_params: ChunkerParams = XET_PARAMS,
    with_xet: bool = True,
) -> dict:
    """files → dedup metrics dict (C9+C11; de/estimate.py:26-38).

    Returns the reference's result shape: total_len, chunk_bytes,
    compressed_chunk_bytes, dedup_ratio (+ xet_bytes / xet_dedup_ratio from
    the second chunker parameterization, src/xet.rs:10-39). The one-group
    case of ``estimate_groups``.
    """
    return estimate_groups(spark, [paths], params, xet_params, with_xet)[0]


def estimate_groups(
    spark: SparkSession,
    groups: list[list[str]],
    params: ChunkerParams = ESTIMATE_PARAMS,
    xet_params: ChunkerParams = XET_PARAMS,
    with_xet: bool = True,
) -> list[dict]:
    """One ``estimate`` dict per group of files, from ONE chunk pass and
    one aggregate over all groups.

    Every chunk row is tagged with its file's group (``grp``, looked up by
    the file's position in the list the chunker received), and
    ``chunk_stats(by=("grp", "param_idx"))`` scopes hash uniqueness to
    each (group, parameterization) — the same mechanism as the shared
    xet scan. A file listed in two groups is chunked once per listing.

    With xet, when both parameterizations share the boundary-candidate
    function (the default: min/max/probe differ, scheme/seed/mask
    identical), small files are read and boundary-scanned ONCE for both
    — half the I/O of the reference's two sequential passes. Files large
    enough for intra-file parallel chunking, and incompatible params, take
    one pass per param (the split machinery is single-param), unioned
    into the same aggregate. The xet side's zlib probe is skipped
    (probe=0): its ``compressed`` column is never consumed, and the probe
    is ~30% of chunker CPU at full fidelity.
    """
    paths = [p for g in groups for p in g]
    group_of = [i for i, g in enumerate(groups) for _ in g]
    prms = [params] + ([replace(xet_params, compress_probe_bytes=0)] if with_xet else [])
    shared = len(prms) == 2 and boundary_compatible(params, xet_params)
    # shared scan for small files; per-param passes for the rest
    small, rest = [], []
    for i, p in enumerate(paths):
        fits = shared and os.path.getsize(p) < PARALLEL_THRESHOLD
        (small if fits else rest).append(i)

    def tagged(chunks: DataFrame, idx: list[int]) -> DataFrame:
        # file_idx enumerates the sub-list the chunker received; an empty
        # sub-list yields no rows to look up
        at = (F.col("file_idx") + 1).cast("int")
        grp = F.element_at(F.array(*[F.lit(group_of[i]) for i in idx]), at)
        return chunks.select(grp.alias("grp"), "*")

    parts = []
    if shared and (small or not rest):
        chunks = chunk_files_multi(spark, [paths[i] for i in small], prms)
        parts.append(tagged(chunks, small))
    if rest or not shared:
        for k, prm in enumerate(prms):
            chunks = chunk_files_auto(spark, [paths[i] for i in rest], params=prm)
            parts.append(tagged(chunks, rest).select(F.lit(k).alias("param_idx"), "*"))
    chunks = parts[0]
    for extra in parts[1:]:
        chunks = chunks.unionByName(extra)
    rows = {
        (r.grp, r.param_idx): r
        for r in chunk_stats(chunks, by=("grp", "param_idx")).collect()
    }

    def field(row, name: str) -> int:
        return (getattr(row, name) if row else 0) or 0

    out = []
    for g, members in enumerate(groups):
        row = rows.get((g, 0))
        res = {"numfiles": len(members)}
        for name in (
            "total_len",
            "chunk_bytes",
            "compressed_chunk_bytes",
            "total_chunks",
            "unique_chunks",
        ):
            res[name] = field(row, name)
        total = res["total_len"]
        res["dedup_ratio"] = res["chunk_bytes"] / total if total else 0.0
        if with_xet:
            res["xet_bytes"] = field(rows.get((g, 1)), "chunk_bytes")
            res["xet_dedup_ratio"] = res["xet_bytes"] / total if total else 0.0
        out.append(res)
    return out


def estimate_df(spark: SparkSession, paths: list[str], params: ChunkerParams = ESTIMATE_PARAMS) -> DataFrame:
    """DataFrame-valued estimate (no collect): one row of dedup metrics."""
    chunks = chunk_files_auto(spark, paths, params=params)
    return chunk_stats(chunks).select(
        F.lit(len(paths)).alias("numfiles"),
        "total_len",
        "total_chunks",
        "unique_chunks",
        "chunk_bytes",
        "compressed_chunk_bytes",
        F.round(F.col("chunk_bytes") / F.col("total_len"), 6).alias("dedup_ratio"),
        F.round(F.col("compressed_chunk_bytes") / F.col("total_len"), 6).alias(
            "compressed_dedup_ratio"
        ),
    )


def dedup_trend(
    spark: SparkSession,
    paths: list[str],
    params: ChunkerParams = ESTIMATE_PARAMS,
) -> DataFrame:
    """Cumulative dedup ratio as a revision history grows: one row per
    file prefix 0..k, from ONE chunk pass over the corpus.

    The reference's headline measurement (dedup across N dataset
    revisions) answers "what is the ratio over ALL revisions"; the trend
    answers "how did it evolve" — and doing it the reference's way means
    re-running the estimator per prefix: O(N²) bytes read. Spark-first
    observation: a chunk is novel at prefix k iff its min(file_idx) == k,
    so  cum_unique(k) = Σ_{j≤k} novel_bytes(j)  — group distinct hashes
    by first-seen file, then two running sums over the N-row per-file
    rollup via the distributed prefix-sum primitive
    (``operators/ranking.with_global_cumsums``: range exchange +
    partitioned window + broadcast offsets — a million-revision history
    never funnels through one task). One corpus read, one narrow
    shuffle, regardless of N.

    Output per file_idx: file_bytes (occurrence bytes), novel_bytes
    (first-seen chunk bytes), cum_total_bytes, cum_unique_bytes,
    cum_dedup_ratio.
    """
    chunks = chunk_files_auto(spark, paths, params=params)
    return trend_from_chunks(chunks)


def trend_from_chunks(chunks: DataFrame) -> DataFrame:
    """The trend aggregation alone, over an already-materialized chunk
    table (``cdc_dedup_trend`` re-aggregates an EXPORTED chunk table
    so DuckDB can reproduce the running ratios row-for-row — only chunk
    EMISSION stays rows-only)."""
    from dataset_dedupe_estimator_spark.operators.ranking import (
        with_global_cumsums,
    )

    per_file = chunks.groupBy("file_idx").agg(F.sum("size").alias("file_bytes"))
    novel = (
        chunks.groupBy("hash")
        .agg(F.first("size").alias("size"), F.min("file_idx").alias("first_seen_in"))
        .groupBy(F.col("first_seen_in").alias("file_idx"))
        .agg(F.sum("size").alias("novel_bytes"))
    )
    joined = (
        per_file.join(novel, "file_idx", "left")
        .withColumn("novel_bytes", F.coalesce(F.col("novel_bytes"), F.lit(0)))
    )
    cum, _ = with_global_cumsums(
        joined,
        [F.col("file_idx")],
        {"cum_total_bytes": "file_bytes", "cum_unique_bytes": "novel_bytes"},
    )
    return (
        cum.select(
            "file_idx",
            "file_bytes",
            "novel_bytes",
            "cum_total_bytes",
            "cum_unique_bytes",
        )
        .withColumn(
            "cum_dedup_ratio",
            F.round(
                F.col("cum_unique_bytes").cast("double")
                / F.col("cum_total_bytes").cast("double"),
                6,
            ),
        )
        .orderBy("file_idx")
    )


def chunks_export(
    spark: SparkSession,
    paths: list[str],
    store_data: bool = False,
    params: ChunkerParams = ChunkerParams(),
) -> DataFrame:
    """C8 (src/lib.rs:35-47, src/store.rs:145-150): every chunk occurrence
    in stream order with its dedup-map entry (provenance + optional raw
    bytes) — the notebook-facing export API.

    Ordered by (file_idx, seq) at the edge; `data` kept only on request
    (never shuffled — the provenance join moves hashes, then rejoins)."""
    chunks = chunk_files(spark, paths, params=params, store_data=store_data)
    prov = dedup_map(chunks.drop("data") if store_data else chunks)
    join_cols = ["hash"]
    # n_files_seen travels with the capped seen_in sample: consumers must
    # use it (never size(seen_in)) for sharing cardinality
    out = chunks.join(
        F.broadcast(
            prov.select("hash", "first_seen_in", "seen_in", "n_files_seen")
        ),
        join_cols,
    )
    return out.orderBy("file_idx", "seq")


def upload_delta(
    spark: SparkSession,
    old_paths: list[str],
    new_paths: list[str],
    params: ChunkerParams = ESTIMATE_PARAMS,
) -> DataFrame:
    """Chunk-level transfer estimate between two snapshots — the
    reference's headline use case (CDC upload deltas,
    notebooks/parquet-cdc.md:814-838: a 1-row insert into a 99 MB file
    transfers ~6 MB): per new file, the bytes whose chunks do not already
    exist in the old snapshot.

    Each novel hash is attributed (and counted) once, to the new file
    that sees it first — matching a content store that uploads a chunk a
    single time. Plan: both sides chunk at the scan edge; the old side
    reduces to a distinct 8-byte hash set (map-side partial agg); the
    anti-join shuffles only narrow hash rows, and AQE broadcasts the old
    set when it is small.
    """
    old_hashes = (
        chunk_files_auto(spark, old_paths, params=params).select("hash").distinct()
    )
    new_chunks = chunk_files_auto(spark, new_paths, params=params)
    novel_first = (
        new_chunks.join(old_hashes, "hash", "left_anti")
        .groupBy("hash")
        .agg(
            F.min(F.struct("file_idx", "path", "size")).alias("first"),
        )
        .select(
            F.col("first.path").alias("path"), F.col("first.size").alias("size")
        )
    )
    per_file = new_chunks.groupBy("path").agg(F.sum("size").alias("file_bytes"))
    delta = novel_first.groupBy("path").agg(F.sum("size").alias("novel_bytes"))
    return (
        per_file.join(delta, "path", "left")
        .select(
            "path",
            "file_bytes",
            F.coalesce(F.col("novel_bytes"), F.lit(0)).alias("novel_bytes"),
            F.round(
                F.coalesce(F.col("novel_bytes"), F.lit(0)) / F.col("file_bytes"), 6
            ).alias("delta_ratio"),
        )
        .orderBy("path")
    )


def approx_stats(chunks: DataFrame, rsd: float = 0.01) -> DataFrame:
    """100 TB-scale variant of C6/C10: approximate unique-chunk accounting.

    HyperLogLog++ distinct count × exact mean chunk size — no exact
    per-hash aggregation, one pass, mergeable. (SURVEY §2.2 C10 note.)
    """
    return chunks.agg(
        F.sum("size").alias("total_len"),
        F.count("*").alias("total_chunks"),
        F.approx_count_distinct("hash", rsd).alias("approx_unique_chunks"),
        (F.sum("size") / F.count("*")).alias("avg_chunk_size"),
    ).select(
        "total_len",
        "total_chunks",
        "approx_unique_chunks",
        F.round(F.col("approx_unique_chunks") * F.col("avg_chunk_size"), 0).alias(
            "approx_chunk_bytes"
        ),
        F.round(
            F.col("approx_unique_chunks") * F.col("avg_chunk_size") / F.col("total_len"), 6
        ).alias("approx_dedup_ratio"),
    )
