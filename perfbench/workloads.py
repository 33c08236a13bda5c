"""The three benchmark workloads. Each calls the program's public entry
points from outside, in a closed loop: the next call starts when the
previous one returns.

A workload has four phases, driven by ``run.py``:

* ``generate(dir)`` writes its seeded inputs; ``digest()`` hashes them
  and gives their size;
* ``prepare()`` and ``warm()`` finish set-up: untimed calls that start
  the Python workers and JIT-compile the JVM paths;
* ``call(i)`` is one timed operation; ``verify(outputs)`` then checks
  every call's output (untimed) and returns one error list per call;
* ``layers()`` gives the traced run's per-layer metrics.
"""

from __future__ import annotations

import dataclasses
import glob
import hashlib
import itertools
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
from checks import (
    check_admission,
    check_compare,
    check_estimate,
    expected_admissions,
    median,
)

from dataset_dedupe_estimator_spark.operators.chunker import file_chunk_arrays
from dataset_dedupe_estimator_spark.operators.synthetic import DataGenerator, finalize
from dataset_dedupe_estimator_spark.plans import compare as compare_mod
from dataset_dedupe_estimator_spark.plans.estimate import ESTIMATE_PARAMS, estimate
from dataset_dedupe_estimator_spark.plans.lsh_index import admit_docs, build_lsh_index
from dataset_dedupe_estimator_spark.queries.dedupe_text import (
    _minhash_sig_fn,
    band_rows_of,
    minhash_sig_of,
)
from dataset_dedupe_estimator_spark.sources import formats as formats_mod
from dataset_dedupe_estimator_spark.sources.formats import JsonLinesFormat, ParquetFormat


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
    )


def _span_stats(ev: dict, spans: list[dict], k: int) -> dict:
    """Median per-span Spark counts and task metrics."""
    def per(key):
        return median([s[key] for s in spans])

    def task(key):
        return median([ev.get(s["group"], {}).get(key, 0.0) for s in spans])

    walls = [s["end"] - s["start"] for s in spans]
    idle = [
        1.0 - ev.get(s["group"], {}).get("run_ms", 0.0) / (1000.0 * w * k)
        for s, w in zip(spans, walls)
    ]
    return {
        "jobs": per("jobs"),
        "stages": per("stages"),
        "tasks": per("tasks"),
        "run_ms": task("run_ms"),
        "cpu_ms": task("cpu_ms"),
        "shuffle_bytes": task("shuffle_bytes"),
        "idle_share": median(idle),
        "wall_s": median(walls),
    }


class Workload:
    name = ""
    call_span = ""
    # the timed loop ends on a whole round of round_calls calls
    round_calls = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer

    def prepare(self) -> None:
        pass

    def layers(self, ev: dict) -> dict:
        """Per-layer metrics of a traced run, from its spans and the
        event log's per-job-group task metrics ``ev``."""
        raise NotImplementedError


class VersionEstimate(Workload):
    """``estimate`` over dataset versions: the read path."""

    name = "version_estimate"
    call_span = "estimate"
    ROWS, VERSIONS, EDIT_ROWS = 500_000, 8, 1000

    def generate(self, out_dir: str) -> dict:
        self.paths = inputs.write_versions(
            self.ctx.seed, out_dir, self.ROWS, self.VERSIONS, self.EDIT_ROWS
        )
        self.total = sum(os.path.getsize(p) for p in self.paths)
        return {
            "bytes": self.total,
            "rows": self.ROWS * self.VERSIONS,
            "files": len(self.paths),
        }

    def digest(self) -> dict:
        return {"digest": inputs.files_digest(self.paths)}

    def warm(self) -> None:
        # the second call is still measurably slower than the rest
        for _ in range(2):
            estimate(self.spark, self.paths)

    def call(self, i: int):
        with self.tracer.span("estimate") as sp:
            out = estimate(self.spark, self.paths)
            sp["unique_chunks"] = out["unique_chunks"]
            return out

    def verify(self, outputs: list) -> list[list[str]]:
        # driver-side single-core chunk pass: the check's oracle and the
        # chunker kernel microbenchmark in one
        t0 = time.perf_counter()
        sizes, hashes = [], []
        for p in self.paths:
            _, s, h, _ = file_chunk_arrays(p, ESTIMATE_PARAMS)
            sizes.append(s)
            hashes.append(h)
        self.kernel_s = time.perf_counter() - t0
        s, h = np.concatenate(sizes), np.concatenate(hashes)
        _, first = np.unique(h, return_index=True)
        self.chunks = len(h)
        chunk_bytes = int(s[first].sum())
        return [check_estimate(o, self.total, chunk_bytes) for o in outputs]

    def layers(self, ev: dict) -> dict:
        spans = self.tracer.named("estimate")
        st = _span_stats(ev, spans, self.ctx.k)
        kernel_mb_s = self.total / self.kernel_s / 1e6
        return {
            "chunker.kernel_mb_s": kernel_mb_s,
            "chunker.kernel_share": self.kernel_s / (self.ctx.k * st["wall_s"]),
            "chunker.chunks": self.chunks,
            **{f"estimate.{k}": v for k, v in st.items() if k != "wall_s"},
            "estimate.unique_chunks": median([s["unique_chunks"] for s in spans]),
        }


SCHEMA = {"a": "int", "b": "str", "c": ["int"]}
EDIT_POINTS = [0.25, 0.75]
VARIANTS = ("original", "inserted", "updated")


class SyntheticFormats(Workload):
    """``compare_formats_tables`` over synthetic edited tables: the write
    path, the paper's headline experiment."""

    name = "synthetic_formats"
    call_span = "compare"
    ROWS, EDIT_SIZE = 20_000, 10

    def generate(self, out_dir: str) -> dict:
        gen = DataGenerator(SCHEMA, seed=self.ctx.seed)
        with self.tracer.span("synthetic.tables") as sp:
            t0 = time.perf_counter()
            self.tables = gen.generate_synthetic_tables(
                self.spark, self.ROWS, EDIT_POINTS, edit_size=self.EDIT_SIZE
            )
            self.tables_s = time.perf_counter() - t0
        self.tables_jobs = sp.get("jobs", 0)
        return {}

    def digest(self) -> dict:
        """sha256 of the three finalized variants compare receives, in row
        order. Called after warm-up, so it reads the cache instead of
        re-running the generator."""
        h = hashlib.sha256()
        rows, nbytes = {}, 0
        for name in VARIANTS:
            t = self.variants[name].toArrow()
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, t.schema) as w:
                w.write_table(t.combine_chunks())
            h.update(sink.getvalue())
            rows[name] = t.num_rows
            nbytes += t.nbytes
        return {
            "digest": h.hexdigest(),
            "bytes": nbytes,
            "rows": sum(rows.values()),
            "variant_rows": rows,
        }

    def _formats(self):
        fmts = [ParquetFormat(compression="zstd"), JsonLinesFormat()]
        return [self._traced(f) for f in fmts] if self.tracer.enabled else fmts

    def _traced(self, fmt):
        """The same format, with a ``write`` that records a span."""
        base, tracer = type(fmt), self.tracer
        label = fmt.paramstem(fmt.name)

        class Traced(base):
            def write(self, spark, stem, src, directory):
                with tracer.span("formats.write", format=label):
                    return base.write(self, spark, stem, src, directory)

        return Traced(**{f.name: getattr(fmt, f.name) for f in dataclasses.fields(fmt)})

    def prepare(self) -> None:
        # the finalized variants `de synthetic` hands to compare, cached (the
        # warm-up call fills the cache): the timed calls then measure the
        # write path, not the generator's plan re-run by every write and count
        self.variants = {n: finalize(self.tables[n]).cache() for n in VARIANTS}
        self.groups = {
            n: {"original": self.variants["original"], n: self.variants[n]}
            for n in ("inserted", "updated")
        }
        n, e, k = self.ROWS, len(EDIT_POINTS), self.EDIT_SIZE
        self.expected_rows = {"original": n, "inserted": n + e * k, "updated": n}
        self.formats = self._formats()
        if self.tracer.enabled:
            # calls the program makes inside compare: rebind its names to
            # span-recording wrappers, for the traced run only
            tracer = self.tracer
            est, sanity = compare_mod.estimate, formats_mod.sanity_check

            def traced_estimate(*a, **kw):
                with tracer.span("estimate") as sp:
                    out = est(*a, **kw)
                    sp["unique_chunks"] = out["unique_chunks"]
                    return out

            def traced_sanity(*a, **kw):
                with tracer.span("formats.sanity"):
                    return sanity(*a, **kw)

            compare_mod.estimate = traced_estimate
            formats_mod.sanity_check = traced_sanity

    def warm(self) -> None:
        # the first call fills the cache; the second is still slower than
        # the calls after it
        for i in range(2):
            compare_mod.compare_formats_tables(
                self.spark, self.formats, self.groups,
                os.path.join(self.ctx.work, f"warm-{i}"), max_workers=self.ctx.k,
            )

    def call(self, i: int):
        out_dir = os.path.join(self.ctx.work, f"compare-{i}")
        with self.tracer.span("compare"):
            return out_dir, compare_mod.compare_formats_tables(
                self.spark, self.formats, self.groups, out_dir, max_workers=self.ctx.k
            )

    def verify(self, outputs: list) -> list[list[str]]:
        n_results = len(self.formats) * len(self.groups)
        self.bytes_written = median([_dir_bytes(d) for d, _ in outputs])
        return [
            check_compare(res, d, self.expected_rows, n_results) for d, res in outputs
        ]

    def layers(self, ev: dict) -> dict:
        t = self.tracer
        calls = t.named("compare")
        # only spans under a timed call, not those of the warm-up call
        timed = t.under(calls)
        writes = [s for s in timed if s["name"] == "formats.write"]
        ests = [s for s in timed if s["name"] == "estimate"]
        sanity = [s for s in timed if s["name"] == "formats.sanity"]
        overlap = [
            sum(
                s["end"] - s["start"]
                for s in writes + ests
                if s["parent"] == c["id"]
            ) / (c["end"] - c["start"])
            for c in calls
        ]
        st = _span_stats(ev, ests, self.ctx.k)

        def write_s(label):
            return median([s["end"] - s["start"] for s in writes if s["format"] == label])

        return {
            "synthetic.tables_s": self.tables_s,
            "synthetic.jobs": self.tables_jobs,
            **{f"estimate.{k}": v for k, v in st.items() if k != "wall_s"},
            "estimate.unique_chunks": median([s["unique_chunks"] for s in ests]),
            "formats.writes": len(writes) / len(calls),
            "formats.write_s": median([s["end"] - s["start"] for s in writes]),
            "formats.write_s.parquet_zstd": write_s("parquet-c=zstd"),
            "formats.write_s.jsonl": write_s("jsonlines"),
            "formats.write_jobs": median([s["jobs"] for s in writes]),
            "formats.sanity_s": median([s["end"] - s["start"] for s in sanity]),
            "formats.bytes_written": self.bytes_written,
            "formats.write_self_s": median([t.self_time(s) for s in writes]),
            "compare.overlap": median(overlap),
            "compare.estimate_s": st["wall_s"],
            "compare.self_s": median([t.self_time(c) for c in calls]),
        }


class NeardupIngest(Workload):
    """``admit_docs`` batches into a persistent MinHash-LSH index built by
    ``build_lsh_index``: per-call latency of continuous ingestion."""

    name = "neardup_ingest"
    call_span = "admit"
    BASE_DOCS, BATCHES, BATCH_DOCS = 20_000, 5, 2000
    # every run's latencies cover whole passes over the batches, so the
    # median always mixes early and late generations alike
    round_calls = BATCHES

    def generate(self, out_dir: str) -> dict:
        self.base, self.batches = inputs.write_corpus(
            self.ctx.seed, out_dir, self.BASE_DOCS, self.BATCHES, self.BATCH_DOCS
        )
        return {
            "bytes": sum(os.path.getsize(p) for p in [self.base, *self.batches]),
            "rows": self.BASE_DOCS + self.BATCHES * self.BATCH_DOCS,
        }

    def digest(self) -> dict:
        return {"digest": inputs.files_digest([self.base, *self.batches])}

    def prepare(self) -> None:
        self.index0 = os.path.join(self.ctx.work, "index0")
        with self.tracer.span("lsh_index.build"):
            t0 = time.perf_counter()
            rep = build_lsh_index(self.spark, self.spark.read.parquet(self.base), self.index0)
            self.build_s = time.perf_counter() - t0
        if rep["docs"] != self.BASE_DOCS:
            raise RuntimeError(f"index built over {rep['docs']} docs, not {self.BASE_DOCS}")
        self.index = os.path.join(self.ctx.work, "index")

    def _reset(self) -> None:
        shutil.rmtree(self.index, ignore_errors=True)
        shutil.copytree(self.index0, self.index)

    def _admit(self, b: int):
        return admit_docs(self.spark, self.spark.read.parquet(self.batches[b]), self.index)

    def warm(self) -> None:
        self._reset()
        for b in range(2):
            self._admit(b)

    def before_call(self, i: int) -> None:
        """Untimed: a new pass over the batches starts from generation 0."""
        if i % self.BATCHES == 0:
            self._reset()

    def call(self, i: int):
        b = i % self.BATCHES
        with self.tracer.span("admit"):
            # the candidate pairs come back materialized (checkpointed)
            cands, rep = self._admit(b)
        return b, cands, rep

    def verify(self, outputs: list) -> list[list[str]]:
        # single-shot banding of every doc; its self-join on (band, key)
        # is done here on the driver
        docs = self.spark.read.parquet(self.base, *self.batches)
        t = band_rows_of(minhash_sig_of(docs)).toArrow()
        buckets: dict[tuple, set[int]] = {}
        for d, b, key in zip(*(t.column(c).to_pylist() for c in ("doc_id", "band_id", "band_key"))):
            buckets.setdefault((b, key), set()).add(d)
        pairs = {
            pair for ds in buckets.values() for pair in itertools.combinations(sorted(ds), 2)
        }
        self.expected = expected_admissions(
            pairs, self.BASE_DOCS, self.BATCH_DOCS, self.BATCHES
        )
        return [
            check_admission(
                {(r.doc_a, r.doc_b) for r in cands.collect()},
                rep,
                self.expected[b],
                self.BATCH_DOCS,
            )
            for b, cands, rep in outputs
        ]

    def micro(self) -> None:
        """Signature cost per doc on admission batch 0: through Spark to a
        noop sink, and the Arrow kernel alone outside Spark."""
        df = self.spark.read.parquet(self.batches[0])
        bands = band_rows_of(minhash_sig_of(df))
        spark_s, kernel_s = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            bands.write.format("noop").mode("overwrite").save()
            spark_s.append(time.perf_counter() - t0)
        batches = pq.read_table(self.batches[0]).to_batches()
        for _ in range(3):
            t0 = time.perf_counter()
            for _ in _minhash_sig_fn(iter(batches)):
                pass
            kernel_s.append(time.perf_counter() - t0)
        n = self.BATCH_DOCS
        self.sig = (median(spark_s) / n * 1e6, median(kernel_s) / n * 1e6, bands.count())

    def layers(self, ev: dict) -> dict:
        admits = self.tracer.named("admit")
        st = _span_stats(ev, admits, self.ctx.k)
        sig_us, kernel_us, band_rows = self.sig
        # generations of the last pass: 0 is the build, the rest admissions
        gens = sorted(glob.glob(os.path.join(self.index, "gen-*.parquet")))
        return {
            "dedupe_text.sig_us_per_doc": sig_us,
            "dedupe_text.kernel_us_per_doc": kernel_us,
            "dedupe_text.band_rows": band_rows,
            "lsh_index.build_s": self.build_s,
            "lsh_index.admit_jobs": st["jobs"],
            "lsh_index.admit_stages": st["stages"],
            "lsh_index.shuffle_bytes": st["shuffle_bytes"],
            "lsh_index.gen_bytes": median([_dir_bytes(g) for g in gens[1:]]),
            "lsh_index.generations": len(gens),
            "lsh_index.candidates": sum(len(e) for e in self.expected),
        }


WORKLOADS = {w.name: w for w in (VersionEstimate, SyntheticFormats, NeardupIngest)}
