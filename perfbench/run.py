"""Benchmark of the dedup estimator's public entry points.

Run from the repository root:

    python3 perfbench/run.py --workload version_estimate --seed 1 --seconds 6 --trace 0

Workloads (see BENCHMARK.json for why each exists): ``version_estimate``,
``synthetic_formats``, ``neardup_ingest``. The run generates its inputs
from ``--seed``, starts one ``local[k]`` Spark session (k = min(4, cores)),
warms it, then calls the workload's entry point in a closed loop for at
least ``--seconds`` and MIN_CALLS calls, and checks every output. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics from spans, Spark job
counts and the Spark event log.
The line before it is a report: host and session facts, input digests,
the headline metrics under their per-workload names, and in traced runs
self times and the tracing overhead. Scratch files live under
``.perfbench/`` in the repository root.

Exit status is 0 when the run completed (``correct`` tells whether every
output was right), and non-zero without a result line when it could not
run at all.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import sys
import tempfile
import time
import traceback
from types import SimpleNamespace

from checks import median, tail
from tracing import RssSampler, Tracer, descendants, event_log_metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "dataset_dedupe_estimator_spark")
# run results, and the untraced baseline that trace.overhead_s subtracts
RESULTS = os.path.join(ROOT, ".perfbench", "results")
# calls take seconds: a median over fewer calls follows the first, slower
# ones after warm-up
MIN_CALLS = 5


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until every
    process this run started has ended."""
    sc = spark.sparkContext
    gateway = sc._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its driver's stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        os.kill(pid, 9)
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def _canary_mb_s(work: str) -> float:
    """Single-core chunker speed on a fixed blob: a host-speed reference
    that does not depend on the seed or the workload."""
    import numpy as np

    from dataset_dedupe_estimator_spark.operators.chunker import file_chunk_arrays
    from dataset_dedupe_estimator_spark.plans.estimate import ESTIMATE_PARAMS

    n = 32 << 20
    rand = np.random.default_rng(12345).integers(0, 256, n // 2, dtype=np.uint8)
    text = b"the quick brown fox jumps over the lazy dog 0123456789\n"
    blob = rand.tobytes() + (text * (n // 2 // len(text) + 1))[: n // 2]
    path = os.path.join(work, "canary.bin")
    with open(path, "wb") as f:
        f.write(blob)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        file_chunk_arrays(path, ESTIMATE_PARAMS)
        times.append(time.perf_counter() - t0)
    return n / min(times) / 1e6


def _host(spark, k: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    from dataset_dedupe_estimator_spark.operators import native

    sc = spark.sparkContext
    return {
        "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "k": k,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "native_available": native.available(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def _source_digest() -> str:
    """sha256 over the program's and the benchmark's files, so a traced
    run only subtracts an untraced baseline of the same code."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "BENCHMARK.json")]
    for top in (PACKAGE, HERE):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _spark_per_call(tracer, ev: dict, call_span: str) -> dict:
    """Jobs, tasks, spill and GC of each timed call and everything under
    it, as medians over the calls."""
    rows = []
    for call in tracer.named(call_span):
        tree = [call, *tracer.under([call])]
        rows.append(
            {
                "jobs": sum(s["jobs"] for s in tree),
                "tasks": sum(ev.get(s["group"], {}).get("tasks", 0) for s in tree),
                "spill_bytes": sum(ev.get(s["group"], {}).get("spill_bytes", 0) for s in tree),
                "gc_ms": sum(ev.get(s["group"], {}).get("gc_ms", 0) for s in tree),
            }
        )
    return {f"spark.{k}": median([r[k] for r in rows]) for k in rows[0]} if rows else {}


def _session(args, work: str):
    """One local[k] session; the event log only in traced runs."""
    from dataset_dedupe_estimator_spark import get_spark

    k = min(4, len(os.sched_getaffinity(0)))
    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if args.trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                # otherwise Spark 4.1 writes zstd-compressed parts
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench", master=f"local[{k}]", shuffle_partitions=k, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, k


def _setup(wl, work: str) -> dict:
    """Generate the inputs, then the workload's own set-up and warm-up
    calls."""
    t = time.perf_counter()
    info = wl.generate(os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - t
    # write back the generated files now, not during the timed loop
    os.sync()
    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t
    return {
        "inputs": {**info, **wl.digest()},
        "generate_s": gen_s,
        "prepare_s": prepare_s,
        "warm_s": warm_s,
    }


def _timed_loop(wl, rss, seconds: float) -> dict:
    """Closed loop: call after call until ``seconds`` have passed,
    MIN_CALLS calls are made, and the last round of the workload's
    ``round_calls`` is whole. Latency and peak memory are per call; a
    call that raises is a failed call."""
    lat, outs, errs, peaks = [], [], [], []
    t_loop = time.perf_counter()
    i = 0
    while (
        i < MIN_CALLS
        or i % wl.round_calls
        or time.perf_counter() - t_loop < seconds
    ):
        if hasattr(wl, "before_call"):
            wl.before_call(i)
        rss.reset()
        t = time.perf_counter()
        try:
            out, err = wl.call(i), []
        except Exception:
            out, err = None, [traceback.format_exc(limit=3)]
        lat.append(time.perf_counter() - t)
        peaks.append(rss.peak)
        outs.append(out)
        errs.append(err)
        i += 1
    return {
        "t_loop": t_loop,
        "loop_s": time.perf_counter() - t_loop,
        "lat": lat,
        "outs": outs,
        "errs": errs,
        "peaks": peaks,
    }


def _per_layer(spec, wl, tracer, ev, common: dict) -> tuple[dict, dict]:
    """Every per-layer metric BENCHMARK.json names: those this workload
    measures, the rest 0 and listed as absent."""
    layer = {**wl.layers(ev), **_spark_per_call(tracer, ev, wl.call_span), **common}
    absent = {}
    for m in spec["per_layer"]:
        if m["name"] not in layer:
            layer[m["name"]] = 0
            absent[m["name"]] = "layer not on this workload's path (perfbench/METRICS.md)"
    return layer, absent


def run(args, spec: dict, work: str) -> dict:
    from workloads import WORKLOADS

    report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    report["loadavg_start"] = _loadavg()
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark, k = _session(args, work)
        start_s = time.perf_counter() - t0
        try:
            host = _host(spark, k)
            tracer = Tracer(spark.sparkContext, bool(args.trace))
            ctx = SimpleNamespace(spark=spark, k=k, work=work, seed=args.seed, tracer=tracer)
            wl = WORKLOADS[args.workload](ctx)
            setup = _setup(wl, work)
            loop = _timed_loop(wl, rss, args.seconds)
            lat, outs, errs = loop["lat"], loop["outs"], loop["errs"]
            t = time.perf_counter()
            ok = [j for j, o in enumerate(outs) if o is not None]
            for j, e in zip(ok, wl.verify([outs[j] for j in ok])):
                errs[j].extend(e)
            verify_s = time.perf_counter() - t
            if args.trace and hasattr(wl, "micro"):
                wl.micro()
        finally:
            t = time.perf_counter()
            _stop_spark(spark)
            stop_s = time.perf_counter() - t

    failed = sum(1 for e in errs if e)
    setup_s = start_s + setup["generate_s"] + setup["prepare_s"] + setup["warm_s"]
    p50 = median(lat)
    info = setup["inputs"]
    headline = {
        "version_estimate": {"estimate_mb_s": info["bytes"] / 1e6 / p50},
        "synthetic_formats": {"compare_s": p50},
        "neardup_ingest": {
            "admit_docs_per_s": len(ok) * getattr(wl, "BATCH_DOCS", 0) / sum(lat),
            "admit_p50_s": p50,
            "admit_tail_s": tail(lat),
        },
    }[args.workload]
    report.update(
        {
            "host": {**host, "canary_mb_s": _canary_mb_s(work)},
            "inputs": info,
            "setup": {"session_start_s": start_s, **{
                key: setup[key] for key in ("generate_s", "prepare_s", "warm_s")
            }},
            "calls": len(lat),
            "loop_s": loop["loop_s"],
            "verify_s": verify_s,
            "stop_s": stop_s,
            "latencies_s": lat,
            "latency_tail": tail(lat),
            "call_peak_rss_mb": [p / 1e6 for p in loop["peaks"]],
            "last_peak_by_process_mb": {n: v / 1e6 for n, v in rss.peak_by_process.items()},
            "headline": {**headline, "failed_share": failed / len(lat)},
            "errors": [e for e in errs if e][:5],
            "loadavg_end": _loadavg(),
        }
    )
    result = {"correct": failed == 0, "attempted": len(lat), "failed": failed}
    os.makedirs(RESULTS, exist_ok=True)
    untraced = os.path.join(RESULTS, f"{args.workload}-untraced.json")
    # the untraced run a traced one is compared with: same code, seed, length
    same_run = {"source": _source_digest(), "seed": args.seed, "seconds": args.seconds}
    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "call_p50_s": p50,
            "peak_rss_mb": median(loop["peaks"]) / 1e6,
        }
        with open(untraced, "w") as f:
            json.dump({**same_run, "call_p50_s": p50}, f)
    else:
        common = {
            "session.start_s": start_s,
            "session.warm_s": setup["warm_s"],
            "chunker.canary_mb_s": report["host"]["canary_mb_s"],
        }
        base = {}
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
        if all(base.get(key) == v for key, v in same_run.items()):
            common["trace.overhead_s"] = p50 - base["call_p50_s"]
            report["trace_overhead"] = {
                "traced_p50_s": p50,
                "untraced_p50_s": base["call_p50_s"],
            }
        ev = event_log_metrics(os.path.join(work, "eventlog"))
        metrics, absent = _per_layer(spec, wl, tracer, ev, common)
        if "trace.overhead_s" not in common:
            absent["trace.overhead_s"] = (
                "no untraced run of this workload with this code, seed and --seconds "
                "in this checkout"
            )
        report["absent"] = absent
        report["self_s"] = {
            name: median([tracer.self_time(s) for s in tracer.named(name)])
            for name in sorted({s["name"] for s in tracer.spans})
        }
        tracer.dump(os.path.join(RESULTS, f"{args.workload}-spans.jsonl"), loop["t_loop"])
    kind = "per_layer" if args.trace else "end_to_end"
    result["metrics"] = {
        m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec[kind]
    }
    with open(os.path.join(RESULTS, f"{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump({"report": report, "result": result}, f, indent=1)
    return {"report": report, "result": result}


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = _args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"perfbench: no dataset_dedupe_estimator_spark package in {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    # persistent across runs: the native kernels' build cache lives here
    tmp = os.path.join(state, "tmp")
    os.makedirs(work)
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    try:
        out = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out["report"]["run_wall_s"] = time.perf_counter() - t_main
    print(json.dumps({"report": out["report"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
