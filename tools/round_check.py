"""Round-readiness battery: everything the round-end checklist runs, in
one command, with a PASS/FAIL summary line per stage.

Usage: python tools/round_check.py [--fast]

Stages (``--fast`` runs only the first three):
  1. pytest              — full mode: the whole suite, slow tests included
                           (pytest tests/ -m 'slow or not slow'), the
                           seal gate; --fast: the default selection
                           (pyproject addopts -m 'not slow', the
                           driver-budget run)
  2. oracle gate         — tools/check_oracles.py over the whole registry
                           (writes CORRECTNESS_LOCAL_r{N}.json for the in-progress round)
  3. driver smoke        — __spark_entry__.entry() returns rows at sf0.001
  4. perfbench tests     — the benchmark's own tests (python3 -m pytest perfbench -q)
  5. bench               — bench.py one-line JSON at sf0.1
  6. stress battery      — estimate resync + index admission at 50 MB

Exit code 0 only if every stage passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _last_line(text: str) -> str:
    lines = (text or "").strip().splitlines()
    return lines[-1] if lines else ""


def _run(label: str, cmd: list[str], ok_fn) -> bool:
    t0 = time.perf_counter()
    try:
        proc = subprocess.run(
            cmd, cwd=REPO, capture_output=True, text=True, timeout=3600
        )
    except subprocess.TimeoutExpired:
        print(f"FAIL  {label:<14} [3600.0s]  timed out")
        return False
    wall = time.perf_counter() - t0
    try:
        ok, detail = ok_fn(proc)
    except Exception as exc:  # a malformed stage output is a FAIL, not a crash
        ok, detail = False, f"summary parse error: {exc!r}"
    print(f"{'PASS' if ok else 'FAIL'}  {label:<14} [{wall:6.1f}s]  {detail}")
    if not ok and proc.stdout:
        print(proc.stdout[-2000:])
    if not ok and proc.stderr:
        print(proc.stderr[-2000:])
    return ok


def main() -> int:
    fast = "--fast" in sys.argv
    results = []

    def pytest_ok(p):
        return p.returncode == 0, _last_line(p.stdout)

    select = [] if fast else ["-m", "slow or not slow"]
    results.append(
        _run(
            "pytest",
            [sys.executable, "-m", "pytest", "tests/", "-q", *select],
            pytest_ok,
        )
    )

    def gate_ok(p):
        for line in reversed((p.stdout or "").splitlines()):
            if " ok, " in line and "failed" in line:
                return ("0 failed" in line) and p.returncode == 0, line.strip()
        return False, "no summary line"

    # local-gate artifact for the CURRENT round: one past the newest
    # driver-written CORRECTNESS_rNN.json (the driver writes rNN at round
    # close, so mid-round N+1 is in progress)
    import re

    driver_rounds = [
        int(m.group(1))
        for f in os.listdir(REPO)
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f))
    ]
    local_name = f"CORRECTNESS_LOCAL_r{max(driver_rounds, default=0) + 1:02d}.json"
    results.append(
        _run(
            "oracle gate",
            [
                sys.executable,
                "tools/check_oracles.py",
                "--json",
                local_name,
            ],
            gate_ok,
        )
    )

    def smoke_ok(p):
        return p.returncode == 0, _last_line(p.stdout)

    smoke_code = (
        "import __spark_entry__ as e\n"
        "from dataset_dedupe_estimator_spark import get_spark\n"
        "s = get_spark(shuffle_partitions=8)\n"
        "n = e.entry(s).count()\n"
        "assert n > 0, n\n"
        "print(f'entry rows={n}')\n"
    )
    results.append(
        _run("driver smoke", [sys.executable, "-c", smoke_code], smoke_ok)
    )

    if not fast:
        results.append(
            _run(
                "perfbench tests",
                [sys.executable, "-m", "pytest", "perfbench", "-q"],
                pytest_ok,
            )
        )

        def bench_ok(p):
            for line in (p.stdout or "").splitlines():
                if line.startswith("{"):
                    d = json.loads(line)
                    return (
                        p.returncode == 0 and d.get("value", 1e9) < 60,
                        f"total={d.get('value')}s chunker={d.get('chunker_mb_s')}MB/s",
                    )
            return False, "no JSON line"

        results.append(_run("bench", [sys.executable, "bench.py"], bench_ok))

        def stress_ok(p):
            return p.returncode == 0, _last_line(p.stdout)

        results.append(
            _run(
                "stress estimate",
                [sys.executable, "tools/stress_estimate.py", "50", "4"],
                stress_ok,
            )
        )
        results.append(
            _run(
                "stress index",
                [sys.executable, "tools/stress_index.py", "50"],
                stress_ok,
            )
        )
        results.append(
            _run(
                "stress lsh",
                [sys.executable, "tools/stress_lsh.py", "50000", "5000", "500"],
                stress_ok,
            )
        )
        results.append(
            _run(
                "stress events",
                [sys.executable, "tools/stress_events.py", "10"],
                stress_ok,
            )
        )
        results.append(
            _run(
                "stress zonemap",
                [sys.executable, "tools/stress_zonemap.py"],
                stress_ok,
            )
        )
        results.append(
            _run(
                "stress text index",
                [sys.executable, "tools/stress_text_index.py", "100000", "10000"],
                stress_ok,
            )
        )
        results.append(
            _run(
                "stress table stream",
                [sys.executable, "tools/stress_table_stream.py"],
                stress_ok,
            )
        )
        results.append(
            _run(
                "stress metadata path",
                [sys.executable, "tools/stress_metadata.py", "200", "50"],
                stress_ok,
            )
        )
        results.append(
            _run(
                "stress concurrency",
                [sys.executable, "tools/stress_concurrency.py"],
                stress_ok,
            )
        )
        results.append(
            _run(
                "stress clone",
                [sys.executable, "tools/stress_clone.py"],
                stress_ok,
            )
        )
        results.append(
            _run(
                "stress versioned",
                [sys.executable, "tools/stress_versioned.py"],
                stress_ok,
            )
        )

    print("\n" + ("ALL GREEN" if all(results) else "FAILURES — see above"))
    return 0 if all(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
