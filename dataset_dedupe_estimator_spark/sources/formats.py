"""File-format writer registry — the reference's contender-format layer
(de/formats.py) re-expressed over Spark writers.

Reference surface (de/formats.py:21-48): a FileFormat has a name, a suffix,
param-derived file naming (paramstem/derive_path, de/formats.py:30-44) and
``write(name, src, directory)`` where src is a DataFrame or an existing
parquet path (rewrite path, de/formats.py:109-123). Every write is sanity-
checked (row count + column names, de/formats.py:116-129), and the check
costs at most one Spark job per write. The rows the writer received are
counted inside the write job (an Observation on the written frame; the
CDC writer's manifest); the rows and names in the written file come from
the parquet footer (no Spark job), or from one Spark read-back job for
JSONL, ORC and CSV. The source is never counted again. SqliteFormat
counts its own table.

Formats:
- ParquetFormat: Spark-native parquet sink; compression / row-group size
  (``parquet.block.size``) / page size (``parquet.page.size``) / dictionary
  toggle — the S5/S6 parameter surface.
- CdcParquetFormat: content-defined-chunking parquet
  (``use_content_defined_chunking``, de/formats.py:84-130). pyarrow < 21
  has no CDC writer, so this format *declares* the capability and raises
  with a clear message unless pyarrow supports it (import-gated, per
  environment constraints).
- JsonLinesFormat: row-major JSONL, optional gzip (de/formats.py:168-184).
- SqliteFormat: driver-side sqlite3 dump (de/formats.py:187-202). On a
  cluster this would be a JDBC sink; sqlite is inherently single-file, and
  the reference's use is small comparison fixtures, so driver-side is the
  honest equivalent.

Single-file discipline: the estimator's unit of dedup accounting is the
*file* (one ChunkStore per file, src/store.rs:97-112), so each write
coalesces to one task and renames Spark's part-file to ``<stem><suffix>``.
At 100 TB a dataset is a *directory* of such files and each member file is
written by one task — same code path, no driver bottleneck.
"""

from __future__ import annotations

import glob
import gzip
import inspect
import json
import os
import shutil
import sqlite3
from dataclasses import dataclass, field
from pathlib import Path
from typing import Union

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.plans._observed import observed_metrics

Source = Union[DataFrame, str, Path]

_PYARROW_HAS_CDC = "use_content_defined_chunking" in str(
    inspect.signature(pq.ParquetWriter.__init__)
)


class SanityCheckError(AssertionError):
    pass


def _resolve(spark: SparkSession, src: Source) -> DataFrame:
    if isinstance(src, DataFrame):
        return src
    return spark.read.parquet(str(src))


def _single_file_write(df: DataFrame, writer_fmt: str, options: dict, dest: Path) -> Path:
    """Write a DataFrame as exactly one file named ``dest``, sanity-checked.

    Spark writers emit a directory of part files; the estimator needs
    file-granular outputs (one ChunkStore per file). One task writes the
    file, then it is renamed into place. An Observation on the written
    frame counts the rows the writer receives inside the write job, so
    the check never re-counts the source.
    """
    tmp = str(dest) + ".spark-tmp"
    observed, written_rows = observed_metrics(df.coalesce(1), rows=F.count(F.lit(1)))
    w = observed.write.mode("overwrite")
    for k, v in options.items():
        w = w.option(k, v)
    w.format(writer_fmt).save(tmp)
    parts = [
        p
        for p in glob.glob(os.path.join(tmp, "part-*"))
        if not p.endswith(".crc")
    ]
    if len(parts) != 1:
        raise RuntimeError(f"expected one part file in {tmp}, found {parts}")
    dest.parent.mkdir(parents=True, exist_ok=True)
    shutil.move(parts[0], dest)
    shutil.rmtree(tmp)
    sanity_check(df, written_rows()["rows"], dest, writer_fmt)
    return dest


def _arrow_partition_writer(dest_dir: str, compression: str, cdc_options: dict | None):
    """Executor-side parquet writer: each task streams its Arrow batches
    through a pyarrow ParquetWriter (optionally content-defined-chunking)
    and yields one (path, n_rows) row. Nothing is collected to the driver
    except the tiny manifest — this is the 100 TB write path.

    Task-commit protocol: each attempt writes an attempt-unique temp file
    and atomically renames it into the final per-partition path only after
    a successful close — a speculative or zombie attempt can never
    interleave bytes with the winner (Spark's native sinks make the same
    move)."""

    def fn(batches):
        import os as _os

        import pyarrow as _pa
        import pyarrow.parquet as _pq
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        path = _os.path.join(dest_dir, f"part-{pid:05d}.parquet")
        tmp = f"{path}.attempt-{ctx.taskAttemptId()}.tmp"
        kwargs = {}
        if cdc_options is not None:
            kwargs["use_content_defined_chunking"] = cdc_options
        writer = None
        n = 0
        committed = False
        try:
            for batch in batches:
                if writer is None:
                    writer = _pq.ParquetWriter(
                        tmp, batch.schema, compression=compression, **kwargs
                    )
                writer.write_batch(batch)
                n += batch.num_rows
            if writer is not None:
                writer.close()
                writer = None
                _os.replace(tmp, path)  # atomic commit
                committed = True
        finally:
            if writer is not None:  # failure path: abandon the attempt file
                writer.close()
                try:
                    _os.remove(tmp)
                except OSError:
                    pass
        if committed:
            yield _pa.RecordBatch.from_pydict({"path": [path], "n_rows": [n]})

    return fn


def write_parquet_distributed(
    df: DataFrame,
    dest_dir: Union[str, Path],
    compression: str = "snappy",
    cdc: "CdcParams | None" = None,
) -> list[tuple[str, int]]:
    """Write a DataFrame as one pyarrow-written parquet file per partition.

    Used for writer features Spark's native sink lacks (content-defined
    chunking, de/formats.py:84-130). Returns the (path, row_count)
    manifest. ``dest_dir`` must be reachable from executors (local FS in
    local mode; shared storage on a cluster)."""
    dest_dir = str(dest_dir)
    os.makedirs(dest_dir, exist_ok=True)
    cdc_options = None
    if cdc is not None:
        cdc_options = {
            "min_chunk_size": cdc.min_chunk_size,
            "max_chunk_size": cdc.max_chunk_size,
            "norm_level": cdc.norm_level,
        }
    manifest = df.mapInArrow(
        _arrow_partition_writer(dest_dir, compression, cdc_options),
        "path string, n_rows long",
    ).collect()
    return [(r.path, r.n_rows) for r in manifest]


def sanity_check(src: DataFrame, n_src: int, dest: Path, writer_fmt: str) -> None:
    """Reference de/formats.py:116-129: row count + column names must
    survive the write.

    ``n_src`` is the number of rows the writer received, counted inside
    the write job (an Observation for Spark's writers, the manifest for
    the executor-side pyarrow writer); the source is not counted again.
    Rows and names in the written file come from:

    - parquet: the file footer (``pq.ParquetFile``), no Spark job —
      ``spark.read.parquet`` would run a schema-inference job first;
    - json: one Spark job, a ``noop`` write of the file's lines whose
      Observation counts them and collects every top-level key present
      (a global aggregate would cost a second job under AQE). Spark's
      JSON writer omits null fields, so the keys must be a subset of the
      source names;
    - orc: a Spark read-back (its count and column names);
    - csv: a Spark read-back count with the source schema (CSV is
      untyped; the names are the source's).
    """
    names = src.columns
    if writer_fmt == "parquet":
        pf = pq.ParquetFile(dest)
        out_names, n_out = pf.schema_arrow.names, pf.metadata.num_rows
    elif writer_fmt == "json":
        lines, resolve = observed_metrics(
            src.sparkSession.read.text(str(dest)),
            n=F.count(F.lit(1)),
            keys=F.flatten(F.collect_set(F.json_object_keys("value"))),
        )
        lines.write.format("noop").mode("overwrite").save()
        m = resolve()
        n_out = m["n"]
        out_names = names if set(m["keys"]) <= set(names) else sorted(set(m["keys"]))
    else:
        reader = src.sparkSession.read
        back = (
            reader.orc(str(dest))
            if writer_fmt == "orc"
            else reader.csv(str(dest), header=True, schema=src.schema)
        )
        out_names, n_out = back.columns, back.count()
    if names != out_names:
        raise SanityCheckError(f"column mismatch: {names} vs {out_names}")
    if n_src != n_out:
        raise SanityCheckError(f"row count mismatch: {n_src} vs {n_out}")


@dataclass(frozen=True)
class FileFormat:
    """Writer strategy; subclasses define suffix/params/write."""

    name: str = "base"
    suffix: str = ""

    @property
    def params(self) -> dict:
        return {}

    def paramstem(self, stem: str) -> str:
        """stem + sorted non-default params (de/formats.py:30-38 naming)."""
        parts = [stem] + [
            f"{k}={v}" for k, v in sorted(self.params.items()) if v is not None
        ]
        return "-".join(parts)

    def derive_path(self, stem: str, directory: Path) -> Path:
        return Path(directory) / f"{self.paramstem(stem)}{self.suffix}"

    def write(self, spark: SparkSession, stem: str, src: Source, directory: Path) -> Path:
        raise NotImplementedError


@dataclass(frozen=True)
class ParquetFormat(FileFormat):
    name: str = "parquet"
    suffix: str = ".parquet"
    compression: str = "snappy"  # snappy|gzip|lz4|zstd|none (src/fileutils.rs:9-21)
    row_group_size: int | None = None  # bytes (parquet.block.size)
    data_page_size: int | None = None  # bytes (parquet.page.size)
    use_dictionary: bool = True

    @property
    def params(self) -> dict:
        return {
            "c": self.compression,
            "rg": self.row_group_size,
            "pg": self.data_page_size,
            "dict": None if self.use_dictionary else "off",
        }

    def write(self, spark: SparkSession, stem: str, src: Source, directory: Path) -> Path:
        df = _resolve(spark, src)
        dest = self.derive_path(stem, directory)
        options = {"compression": self.compression}
        if self.row_group_size is not None:
            options["parquet.block.size"] = str(self.row_group_size)
        if self.data_page_size is not None:
            options["parquet.page.size"] = str(self.data_page_size)
        options["parquet.enable.dictionary"] = "true" if self.use_dictionary else "false"
        return _single_file_write(df, "parquet", options, dest)


@dataclass(frozen=True)
class CdcParams:
    """CDC writer tuning (de/formats.py:14-18; CLI defaults de/cli.py:56-61)."""

    min_chunk_size: int = 256 * 1024
    max_chunk_size: int = 1024 * 1024
    norm_level: int = 0


@dataclass(frozen=True)
class CdcParquetFormat(FileFormat):
    """Content-defined-chunking parquet (ParquetCpp cdc=True, de/formats.py:84-130).

    Requires a pyarrow with ``use_content_defined_chunking`` (>= 21).
    The write routes each output file through a pyarrow writer inside the
    task (mapInArrow-side at scale; driver-side for single-file fixtures).
    """

    name: str = "parquet-cdc"
    suffix: str = ".parquet"
    compression: str = "snappy"
    cdc: CdcParams = field(default_factory=CdcParams)

    @property
    def params(self) -> dict:
        return {
            "c": self.compression,
            "cdcmin": self.cdc.min_chunk_size,
            "cdcmax": self.cdc.max_chunk_size,
        }

    def write(self, spark: SparkSession, stem: str, src: Source, directory: Path) -> Path:
        if not _PYARROW_HAS_CDC:
            raise NotImplementedError(
                "CDC parquet writing needs pyarrow >= 21 "
                "(use_content_defined_chunking); this environment has "
                f"pyarrow {pa.__version__}. The format is declared for "
                "API parity with de/formats.py:84-130."
            )
        df = _resolve(spark, src)
        dest = self.derive_path(stem, directory)
        dest.parent.mkdir(parents=True, exist_ok=True)
        # executor-side pyarrow write (write_parquet_distributed) — the
        # table is never materialized on the driver; coalesce(1) for the
        # estimator's single-file accounting unit
        tmp = str(dest) + ".spark-tmp"
        manifest = write_parquet_distributed(
            df.coalesce(1), tmp, compression=self.compression, cdc=self.cdc
        )
        if len(manifest) > 1:
            raise RuntimeError(f"expected one part file in {tmp}, got {manifest}")
        if manifest:
            shutil.move(manifest[0][0], dest)
        else:
            # empty source: executors saw no batches, so write the valid
            # empty file driver-side from the (data-free) schema
            from pyspark.sql.pandas.types import to_arrow_schema

            empty = to_arrow_schema(df.schema).empty_table()
            pq.write_table(empty, dest, compression=self.compression)
        shutil.rmtree(tmp, ignore_errors=True)
        sanity_check(df, sum(n for _, n in manifest), dest, "parquet")
        return dest


@dataclass(frozen=True)
class JsonLinesFormat(FileFormat):
    name: str = "jsonlines"
    suffix: str = ".jsonl"
    compression: str | None = None  # None|gzip (de/formats.py:171-177)

    @property
    def params(self) -> dict:
        return {"c": self.compression}

    def derive_path(self, stem: str, directory: Path) -> Path:
        ext = self.suffix + (".gz" if self.compression == "gzip" else "")
        return Path(directory) / f"{self.paramstem(stem)}{ext}"

    def write(self, spark: SparkSession, stem: str, src: Source, directory: Path) -> Path:
        df = _resolve(spark, src)
        dest = self.derive_path(stem, directory)
        options = {}
        if self.compression:
            options["compression"] = self.compression
        return _single_file_write(df, "json", options, dest)


@dataclass(frozen=True)
class OrcFormat(FileFormat):
    """ORC sink via Spark's built-in writer — beyond the reference's
    format matrix (it compares parquet/jsonl/sqlite only); included so a
    format comparison can measure ORC's CDC-dedup behavior too."""

    name: str = "orc"
    suffix: str = ".orc"
    compression: str = "zstd"  # none|snappy|zlib|lzo|zstd|lz4

    @property
    def params(self) -> dict:
        return {"c": self.compression}

    def write(self, spark: SparkSession, stem: str, src: Source, directory: Path) -> Path:
        df = _resolve(spark, src)
        dest = self.derive_path(stem, directory)
        return _single_file_write(df, "orc", {"compression": self.compression}, dest)


@dataclass(frozen=True)
class CsvFormat(FileFormat):
    """CSV sink (+gzip) via Spark's built-in writer — beyond the
    reference's format matrix, included as the lowest-common-denominator
    baseline a format comparison is often asked to beat.  Header on,
    read back with the source schema so the roundtrip sanity check is
    type-faithful (CSV itself is untyped)."""

    name: str = "csv"
    suffix: str = ".csv"
    compression: str | None = None  # None|gzip

    @property
    def params(self) -> dict:
        return {"c": self.compression}

    def derive_path(self, stem: str, directory: Path) -> Path:
        ext = self.suffix + (".gz" if self.compression == "gzip" else "")
        return Path(directory) / f"{self.paramstem(stem)}{ext}"

    def write(self, spark: SparkSession, stem: str, src: Source, directory: Path) -> Path:
        df = _resolve(spark, src)
        dest = self.derive_path(stem, directory)
        options = {"header": "true"}
        if self.compression:
            options["compression"] = self.compression
        return _single_file_write(df, "csv", options, dest)


@dataclass(frozen=True)
class SqliteFormat(FileFormat):
    name: str = "sqlite"
    suffix: str = ".sqlite"
    table: str = "table_"  # reference uses 'table' (de/formats.py:196)

    def write(self, spark: SparkSession, stem: str, src: Source, directory: Path) -> Path:
        df = _resolve(spark, src)
        dest = self.derive_path(stem, directory)
        dest.parent.mkdir(parents=True, exist_ok=True)
        if dest.exists():
            dest.unlink()  # overwrite semantics (de/tests/test_formats.py:134-148)
        pdf = df.toPandas()
        with sqlite3.connect(dest) as conn:
            pdf.to_sql(self.table, conn, index=False, if_exists="replace")
        with sqlite3.connect(dest) as conn:
            n = conn.execute(f'SELECT COUNT(*) FROM "{self.table}"').fetchone()[0]
        if n != len(pdf):
            raise SanityCheckError(f"sqlite row count {n} != {len(pdf)}")
        return dest

    def read(self, spark: SparkSession, path: Path) -> DataFrame:
        with sqlite3.connect(path) as conn:
            import pandas as pd

            pdf = pd.read_sql(f'SELECT * FROM "{self.table}"', conn)
        return spark.createDataFrame(pdf)


def default_formats(
    with_json: bool = False,
    with_sqlite: bool = False,
    with_orc: bool = False,
    with_csv: bool = False,
) -> list[FileFormat]:
    """The reference's default contender matrix (de/cli.py:106-132), minus
    CDC variants when pyarrow can't write them."""
    fmts: list[FileFormat] = [
        ParquetFormat(compression="snappy"),
        ParquetFormat(compression="zstd"),
    ]
    if _PYARROW_HAS_CDC:
        fmts += [
            CdcParquetFormat(compression="snappy"),
            CdcParquetFormat(compression="zstd"),
        ]
    if with_json:
        fmts += [JsonLinesFormat(), JsonLinesFormat(compression="gzip")]
    if with_sqlite:
        fmts.append(SqliteFormat())
    if with_orc:
        fmts.append(OrcFormat())
    if with_csv:
        fmts += [CsvFormat(), CsvFormat(compression="gzip")]
    return fmts
