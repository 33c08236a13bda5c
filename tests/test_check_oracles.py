"""The local oracle checker must predict the driver's dtype-sensitive
hash gate (round-1 regression: coercing both sides to float let 9
driver-side hash failures pass locally as 'ok')."""

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_oracles import compare  # noqa: E402


def test_int_vs_float_dtype_split_fails():
    spark_side = pd.DataFrame({"k": ["a", "b"], "total": pd.array([1, 2], dtype="int64")})
    oracle_side = pd.DataFrame({"k": ["a", "b"], "total": pd.array([1.0, 2.0], dtype="float64")})
    problems = compare("t", spark_side, oracle_side)
    assert problems and "dtype split" in problems[0]


def test_matching_int_dtypes_pass():
    a = pd.DataFrame({"k": ["a"], "total": pd.array([7], dtype="int64")})
    b = pd.DataFrame({"k": ["a"], "total": pd.array([7], dtype="int64")})
    assert compare("t", a, b) == []


def test_matching_float_dtypes_pass():
    a = pd.DataFrame({"x": pd.array([1.5, float("nan")], dtype="float64")})
    b = pd.DataFrame({"x": pd.array([1.5, float("nan")], dtype="float64")})
    assert compare("t", a, b) == []


def test_array_column_fails():
    a = pd.DataFrame({"kmv": [["h1", "h2"]], "doc_id": [1]})
    b = pd.DataFrame({"kmv": [["h1", "h2"]], "doc_id": [1]})
    problems = compare("t", a, b)
    assert problems and "array column" in problems[0]


def test_value_mismatch_still_caught():
    a = pd.DataFrame({"total": pd.array([1], dtype="int64")})
    b = pd.DataFrame({"total": pd.array([2], dtype="int64")})
    assert compare("t", a, b)


def test_driver_window_rotation_invariants():
    """The first 50 registry entries (the driver's correctness window)
    must be exactly the never-driver-checked queries plus the ones whose
    only driver green is round 1 — the rotation contract documented in
    COVERAGE.md. Guards against accidental reordering burying a
    never-attested query."""
    import json
    import os

    from dataset_dedupe_estimator_spark.queries import REGISTRY, _RETOUCHED

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = []
    for fname in sorted(os.listdir(repo)):
        if fname.startswith("CORRECTNESS_r") and fname.endswith(".json") and "LOCAL" not in fname:
            with open(os.path.join(repo, fname)) as f:
                rounds.append(set(json.load(f)))
    latest = rounds[-1]
    window = list(REGISTRY)[:50]
    # nothing already green in the most recent driver round wastes a slot
    # — except the declared touched-query re-entries (a query whose
    # executed plan changed this round re-enters the window regardless
    # of attestation freshness; COVERAGE.md rotation scheme)
    assert (set(window) & latest) <= _RETOUCHED, set(window) & latest - _RETOUCHED
    # and every declared re-entry actually holds a window slot
    assert _RETOUCHED <= set(window), _RETOUCHED - set(window)
    # never-driver-checked queries sit in the window or in the middle
    # (queued for next round's rotation) — never buried in the tail of
    # most-recently-attested entries where they'd wait longest
    names = list(REGISTRY)
    never = {n for n in REGISTRY if not any(n in r for r in rounds)}
    tail = set(names[-50:])
    assert not (never & tail), never & tail
    # every registry query has an oracle or is a documented rows-only op
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    rows_only = {n for n in REGISTRY if n not in oracles}
    # r13: cdc_streaming_estimate (chunk table IS the export) and
    # ann_ivf_trained (deterministic Lloyd's + exported-centroid
    # re-derivation) gained oracles; r15: cdc_dedup_trend runs its trend
    # aggregation over the exported chunk table (CDC_TREND_ORACLE_SQL).
    # 8 = chunk emission where the export would BE the timed work
    # (cdc_estimate headline, cdc_approx_estimate's HLL,
    # format_compare_demo's env-dependent file bytes), BPE (2),
    # demos/pipelines (3)
    assert len(rows_only) == 8, sorted(rows_only)
