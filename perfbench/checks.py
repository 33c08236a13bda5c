"""Output checks and summary statistics. Each check returns a list of
error strings (empty when the output is right) and is computed from the
generated inputs or the written files, never from the timed code path."""

from __future__ import annotations

import os
import statistics


def check_estimate(res: dict, total_len: int, chunk_bytes: int) -> list[str]:
    """``estimate`` against the file sizes and a driver-side chunk pass."""
    errs = []
    if res.get("total_len") != total_len:
        errs.append(f"total_len {res.get('total_len')} != file bytes {total_len}")
    if res.get("chunk_bytes") != chunk_bytes:
        errs.append(f"chunk_bytes {res.get('chunk_bytes')} != driver-side {chunk_bytes}")
    ratio = res.get("xet_dedup_ratio", 0.0)
    if not 0.0 < ratio <= 1.0:
        errs.append(f"xet_dedup_ratio {ratio} outside (0, 1]")
    return errs


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def jsonl_rows(path: str) -> int:
    with open(path, "rb") as f:
        return sum(block.count(b"\n") for block in iter(lambda: f.read(1 << 20), b""))


def check_compare(
    results: list, directory: str, expected_rows: dict[str, int], n_results: int
) -> list[str]:
    """``compare_formats_tables`` results against the files it wrote:
    one result per (group, format), each ratio in (0, 1], ``total_len``
    equal to the written bytes, and every file holding the row count its
    variant must have (FIXTURES.md section 2 invariants)."""
    errs = []
    if len(results) != n_results:
        errs.append(f"{len(results)} results, expected {n_results}")
    for r in results:
        where = f"{r.group}/{r.format}"
        if not 0.0 < r.dedup_ratio <= 1.0:
            errs.append(f"{where}: dedup_ratio {r.dedup_ratio} outside (0, 1]")
        out_dir = os.path.join(directory, r.group, r.format)
        files = sorted(os.listdir(out_dir)) if os.path.isdir(out_dir) else []
        size = sum(os.path.getsize(os.path.join(out_dir, f)) for f in files)
        if r.total_len != size or not files:
            errs.append(f"{where}: total_len {r.total_len} != written bytes {size}")
        for f in files:
            member = f.split("-", 1)[0].split(".", 1)[0]
            path = os.path.join(out_dir, f)
            rows = parquet_rows(path) if ".parquet" in f else jsonl_rows(path)
            if rows != expected_rows.get(member):
                errs.append(f"{where}/{f}: {rows} rows, expected {expected_rows.get(member)}")
    return errs


def expected_admissions(
    pairs: set[tuple[int, int]], base_docs: int, batch_docs: int, batches: int
) -> list[set[tuple[int, int]]]:
    """Split single-shot candidate pairs by the admission that must report
    them: the one admitting the later doc. Pairs inside the base corpus
    are never reported by an admission."""
    out: list[set[tuple[int, int]]] = [set() for _ in range(batches)]
    for a, b in pairs:
        late = max(a, b)
        if late >= base_docs:
            out[(late - base_docs) // batch_docs].add((min(a, b), late))
    return out


def check_admission(
    got: set[tuple[int, int]], report: dict, expected: set[tuple[int, int]], docs: int
) -> list[str]:
    errs = []
    if report.get("docs") != docs:
        errs.append(f"admitted {report.get('docs')} docs, expected {docs}")
    if got != expected:
        errs.append(
            f"candidates differ from single-shot banding: {len(got - expected)} extra, "
            f"{len(expected - got)} missing"
        )
    if report.get("candidate_pairs") != len(got):
        errs.append(f"report counts {report.get('candidate_pairs')} pairs, returned {len(got)}")
    return errs


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, with
    its percentile and the sample count; ``value`` is None when there are
    ten samples or fewer."""
    n = len(values)
    if n <= 10:
        return {"value": None, "percentile": None, "n": n}
    return {
        "value": sorted(values)[n - 11],
        "percentile": round(100.0 * (n - 10) / n, 1),
        "n": n,
    }
