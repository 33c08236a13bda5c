"""Format-comparison orchestration — the reference's top-level pipelines
(de/estimate.py:41-119, CLI flows de/cli.py `synthetic`/`stats`/`param-impact`).

compare_formats_tables: cartesian product formats × groups × members,
measured per (group, format) over that group's files (cross-file dedup,
de/estimate.py:48-54). Two phases:

- Writes. Each distinct source is written ONCE per format (sources are
  keyed by object identity for DataFrames, by path for path sources):
  the first group that uses it gets the written file, and every other
  use gets a hard link (``os.link``; a copy where linking fails) at the
  path its own write would have produced. A source shared by groups —
  the edited tables' common ``original`` — is byte-identical in each, so
  one write stands for all. The writes run on a driver-side thread pool
  submitting independent Spark jobs (the reference's ThreadPoolExecutor,
  de/estimate.py:57-79, with a distributed job per unit of work).
- Estimate. One chunk pass and one aggregate for every (group, format)
  at once (``estimate_groups``): chunk rows carry their group, so hash
  uniqueness stays scoped to each group's files.

compare_formats: parameter-impact study — write a baseline + N contenders
of the same table, then estimate every [baseline, contender] pair in one
group-keyed pass (de/estimate.py:87-119, sweep de/cli.py:324-349).
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass
from pathlib import Path
from typing import Union

from pyspark.sql import DataFrame, SparkSession

from dataset_dedupe_estimator_spark.operators.chunker import ChunkerParams
from dataset_dedupe_estimator_spark.plans.estimate import (  # noqa: F401
    # not called here: the traced benchmark rebinds this name to record
    # its estimate spans; compare runs estimate_groups (ROADMAP open item
    # "Traced synthetic_formats spans for the group-keyed estimate")
    estimate,
    estimate_groups,
)
from dataset_dedupe_estimator_spark.sources.formats import FileFormat, Source


@dataclass(frozen=True)
class EstimationResult:
    """Result row (de/estimate.py:13-23 field parity)."""

    format: str
    numfiles: int
    total_len: int
    chunk_bytes: int
    compressed_chunk_bytes: int
    dedup_ratio: float
    group: str = ""
    xet_bytes: int = 0
    xet_dedup_ratio: float = 0.0
    # rewrite throughput (BASELINE.md "Rewrite throughput" rows):
    # write_seconds sums the write wall of each member's file under the
    # SHARED thread pool, so concurrent jobs inflate one another, and a
    # source written once for several groups counts its wall in each of
    # them — files/sec is a per-writer LOWER BOUND, comparable across
    # formats only within a single run's fixed contender set (the
    # reference's tqdm it/s is the sequential analogue; run max_workers=1
    # for directly comparable numbers).
    write_seconds: float = 0.0
    write_files_per_s: float = 0.0


def _result(label: str, group: str, res: dict, wall: float = 0.0) -> EstimationResult:
    return EstimationResult(
        format=label,
        numfiles=res["numfiles"],
        total_len=res["total_len"],
        chunk_bytes=res["chunk_bytes"],
        compressed_chunk_bytes=res["compressed_chunk_bytes"],
        dedup_ratio=res["dedup_ratio"],
        group=group,
        xet_bytes=res.get("xet_bytes", 0),
        xet_dedup_ratio=res.get("xet_dedup_ratio", 0.0),
        write_seconds=round(wall, 3),
        write_files_per_s=round(res["numfiles"] / wall, 2) if wall else 0.0,
    )


def _source_key(src: Source) -> tuple:
    if isinstance(src, DataFrame):
        return ("frame", id(src))
    return ("path", os.path.abspath(src))


def _place(written: Path, dest: Path) -> Path:
    """``dest`` as a hard link to ``written`` (a copy where linking fails)."""
    dest.parent.mkdir(parents=True, exist_ok=True)
    dest.unlink(missing_ok=True)
    try:
        os.link(written, dest)
    except OSError:
        shutil.copyfile(written, dest)
    return dest


def compare_formats_tables(
    spark: SparkSession,
    formats: list[FileFormat],
    groups: dict[str, dict[str, Source]],
    directory: Union[str, Path],
    params: ChunkerParams = ChunkerParams(),
    with_xet: bool = False,
    max_workers: int = 4,
) -> list[EstimationResult]:
    """O1 (de/estimate.py:41-84): one EstimationResult per (group, format),
    ordered by (group, format label)."""
    directory = Path(directory)
    uses: dict[tuple, tuple[Source, list[tuple[str, str]]]] = {}
    for group, members in groups.items():
        for name, src in members.items():
            uses.setdefault(_source_key(src), (src, []))[1].append((group, name))
    write_jobs = [
        (fmt, fmt.paramstem(fmt.name), src, members)
        for fmt in formats
        for src, members in uses.values()
    ]

    def do_write(job):
        fmt, label, src, members = job
        (group, name), *others = members
        t0 = time.perf_counter()
        path = fmt.write(spark, name, src, directory / group / label)
        wall = time.perf_counter() - t0
        links = [_place(path, fmt.derive_path(n, directory / g / label)) for g, n in others]
        return label, members, [path, *links], wall

    written: dict[tuple[str, str], list[str]] = {}
    write_walls: dict[tuple[str, str], float] = {}
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        for label, members, paths, wall in pool.map(do_write, write_jobs):
            for (group, _), path in zip(members, paths):
                written.setdefault((group, label), []).append(str(path))
                write_walls[group, label] = write_walls.get((group, label), 0.0) + wall

    keys = sorted(written)
    stats = estimate_groups(
        spark, [sorted(written[k]) for k in keys], params=params, with_xet=with_xet
    )
    return [
        _result(label, group, res, write_walls[group, label])
        for (group, label), res in zip(keys, stats)
    ]


def compare_formats(
    spark: SparkSession,
    baseline: FileFormat,
    contenders: list[FileFormat],
    table: Source,
    directory: Union[str, Path],
    params: ChunkerParams = ChunkerParams(),
    max_workers: int = 4,
) -> list[EstimationResult]:
    """O2 (de/estimate.py:87-119): estimate [baseline, contender] pairs —
    how much of the baseline file a re-encode can still dedup against."""
    directory = Path(directory)
    base_path = str(baseline.write(spark, "baseline", table, directory))
    labels = [fmt.paramstem(fmt.name) for fmt in contenders]

    def write(job) -> str:
        fmt, label = job
        return str(fmt.write(spark, "contender", table, directory / label))

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        paths = list(pool.map(write, zip(contenders, labels)))
    stats = estimate_groups(
        spark, [[base_path, p] for p in paths], params=params, with_xet=False
    )
    return [_result(label, "param-impact", res) for label, res in zip(labels, stats)]


def results_df(spark: SparkSession, results: list[EstimationResult]) -> DataFrame:
    """Results as a DataFrame for O4-O7 (sort, best-in-group, pivots)."""
    return spark.createDataFrame([asdict(r) for r in results])
