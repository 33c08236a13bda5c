"""Tests of the benchmark itself: its inputs are seeded, and each output
check fires on a wrong expectation.

    python3 -m pytest perfbench -q                 # all, ~3 min (starts Spark)
    python3 -m pytest perfbench -q -k "not run"    # no Spark, seconds
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from dataclasses import dataclass

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402


def test_versions_same_seed_same_bytes(tmp_path):
    a = inputs.write_versions(7, str(tmp_path / "a"), 2000, 3, 50)
    b = inputs.write_versions(7, str(tmp_path / "b"), 2000, 3, 50)
    c = inputs.write_versions(8, str(tmp_path / "c"), 2000, 3, 50)
    assert inputs.files_digest(a) == inputs.files_digest(b)
    assert inputs.files_digest(a) != inputs.files_digest(c)


def test_corpus_same_seed_same_bytes(tmp_path):
    def digest(seed, name):
        base, batches = inputs.write_corpus(seed, str(tmp_path / name), 200, 2, 50)
        return inputs.files_digest([base, *batches])

    assert digest(3, "a") == digest(3, "b")
    assert digest(3, "a") != digest(4, "c")


def test_corpus_has_near_copies():
    docs = [d.split() for d in inputs.corpus_docs(1, 400)]
    assert all(inputs.MIN_WORDS <= len(d) <= inputs.MAX_WORDS for d in docs)

    def near_copy(i):
        return any(
            len(e) == len(docs[i]) and sum(map(str.__eq__, e, docs[i])) >= 0.8 * len(e)
            for e in docs[:i]
        )

    copies = sum(map(near_copy, range(len(docs))))
    assert 0.05 * len(docs) <= copies <= 0.2 * len(docs)


def test_check_estimate_fires():
    res = {"total_len": 100, "chunk_bytes": 60, "xet_dedup_ratio": 0.6}
    assert checks.check_estimate(res, 100, 60) == []
    assert checks.check_estimate(res, 101, 60)
    assert checks.check_estimate(res, 100, 59)
    assert checks.check_estimate(dict(res, xet_dedup_ratio=0.0), 100, 60)
    assert checks.check_estimate(dict(res, xet_dedup_ratio=1.2), 100, 60)


@dataclass
class _Result:
    group: str
    format: str
    total_len: int
    dedup_ratio: float


def test_check_compare_fires(tmp_path):
    out = tmp_path / "inserted" / "jsonlines"
    out.mkdir(parents=True)
    (out / "original.jsonl").write_text("{}\n" * 3)
    (out / "inserted.jsonl").write_text("{}\n" * 4)
    size = 3 * 3 + 4 * 3
    rows = {"original": 3, "inserted": 4}
    good = [_Result("inserted", "jsonlines", size, 0.5)]
    assert checks.check_compare(good, str(tmp_path), rows, 1) == []
    assert checks.check_compare(good, str(tmp_path), dict(rows, inserted=5), 1)
    assert checks.check_compare(good, str(tmp_path), rows, 2)
    assert checks.check_compare([_Result("inserted", "jsonlines", size + 1, 0.5)], str(tmp_path), rows, 1)
    assert checks.check_compare([_Result("inserted", "jsonlines", size, 0.0)], str(tmp_path), rows, 1)


def test_admissions_split_by_later_doc():
    pairs = {(1, 2), (3, 10), (11, 12), (4, 15)}
    # base docs 0..9, two batches of 5: 10..14 and 15..19
    assert checks.expected_admissions(pairs, 10, 5, 2) == [{(3, 10), (11, 12)}, {(4, 15)}]


def test_check_admission_fires():
    want = {(3, 10), (11, 12)}
    rep = {"docs": 5, "candidate_pairs": 2}
    assert checks.check_admission(set(want), rep, want, 5) == []
    assert checks.check_admission(want - {(3, 10)}, dict(rep, candidate_pairs=1), want, 5)
    assert checks.check_admission(set(want), dict(rep, docs=4), want, 5)
    assert checks.check_admission(set(want), dict(rep, candidate_pairs=3), want, 5)


def test_tail_needs_ten_beyond():
    assert checks.tail([1.0] * 10)["value"] is None
    t = checks.tail([float(i) for i in range(20)])
    assert (t["value"], t["percentile"], t["n"]) == (9.0, 50.0, 20)


# Each wrong expectation below is injected into a real benchmark run; every
# call must then count as failed.
WRONG = {
    "version_estimate": """
        real = workloads.check_estimate
        workloads.check_estimate = lambda res, total, chunk: real(res, total + 1, chunk)
    """,
    "synthetic_formats": """
        real = workloads.check_compare
        def wrong(res, d, rows, n):
            return real(res, d, dict(rows, inserted=rows["inserted"] + 1), n)
        workloads.check_compare = wrong
    """,
    "neardup_ingest": """
        real = workloads.check_admission
        workloads.check_admission = lambda got, rep, want, docs: real(got, rep, want | {(-2, -1)}, docs)
    """,
}


@pytest.mark.parametrize("workload", sorted(WRONG))
def test_run_counts_wrong_output_as_failed(workload):
    code = "\n".join(
        [
            "import sys",
            f"sys.path.insert(0, {HERE!r})",
            "import workloads",
            textwrap.dedent(WRONG[workload]),
            "import run",
            # keep these runs out of the untraced baseline trace.overhead_s uses
            f"run.RESULTS = {os.path.join(os.path.dirname(HERE), '.perfbench', 'test-results')!r}",
            f"sys.exit(run.main(['--workload', {workload!r}, '--seed', '5', '--seconds', '1']))",
        ]
    )
    root = os.path.dirname(HERE)
    tmp = os.path.join(root, ".perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=root,
        env=dict(os.environ, TMPDIR=tmp),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["attempted"] >= 1
    assert result["failed"] == result["attempted"]


def test_refuses_to_run_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_bytes(open(os.path.join(HERE, f), "rb").read())
    (tmp_path / "BENCHMARK.json").write_bytes(
        open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), "rb").read()
    )
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "version_estimate",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode != 0
    assert out.stdout == ""


class _Rss:
    peak = 0

    def reset(self):
        pass


def test_loop_makes_min_calls_and_whole_rounds():
    import run

    class Counting:
        round_calls = 1

        def call(self, i):
            return i

    n = run.MIN_CALLS
    assert run._timed_loop(Counting(), _Rss(), 0.0)["outs"] == list(range(n))
    Counting.round_calls = n + 1
    assert run._timed_loop(Counting(), _Rss(), 0.0)["outs"] == list(range(n + 1))
