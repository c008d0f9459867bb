"""User-facing benchmark of the pipeline engine.

    python3 perfbench/run.py --workload etl_upsert --seed 1 --seconds 8 --trace 0

Run from the repository root. Workloads: etl_upsert, curate_retrieve,
or ``all`` (each in turn, one process).
Each run sets up the workload's inputs and state SETUP_REPS times from
the seed (``setup_s`` is the median), warms the engine on the measured
state, measures a closed loop for ``--seconds`` of operation time, then
checks every output against references the benchmark computes itself.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it holds the
workload's own metrics under their workload-specific names. The traced
run also writes its spans to .perfbench_work/traces/. Exit status is 1
when an output check fails and 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
WORKLOADS = ("etl_upsert", "curate_retrieve")


def per_layer_units() -> dict[str, str]:
    """Name -> unit of every per-layer metric BENCHMARK.json declares.
    Every traced run reports all of them; a layer the workload does not
    enter reads 0 (the trace recorded no span for it)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def span_cost_s(calls: int = 20_000) -> float:
    """What one recorded span adds to the call it wraps: a wrapped no-op
    against the bare no-op, median of five rounds of ``calls`` each."""
    from spans import Tracer

    target = types.SimpleNamespace(noop=lambda: None)
    bare = target.noop
    tracer = Tracer()
    tracer.wrap(target, "noop", "noop")
    tracer.enabled = True
    wrapped = target.noop
    costs = []
    try:
        for _ in range(5):
            t0 = time.perf_counter()
            for _ in range(calls):
                bare()
            t1 = time.perf_counter()
            for _ in range(calls):
                wrapped()
            t2 = time.perf_counter()
            tracer.spans.clear()
            costs.append(((t2 - t1) - (t1 - t0)) / calls)
    finally:
        tracer.close()
    return max(0.0, statistics.median(costs))


def _workload(name):
    if name == "etl_upsert":
        from wl_etl import EtlUpsert as cls
    else:
        from wl_curation import CurateRetrieve as cls
    return cls


def run_workload(sp, name: str, seed: int, seconds: float, traced: bool, work: str):
    """Set up, warm, measure and check one workload. Returns
    (correct, attempted, failed, metrics, workload metrics, problems)."""
    import harness
    from spans import Tracer

    w = _workload(name)(sp, os.path.join(work, name), seed)
    try:
        setup_times, digests = [], []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            digests.append(w.setup(rep))
            setup_times.append(time.perf_counter() - t0)
        problems = []
        if len(set(digests)) != 1:
            problems.append("inputs differ between set-ups from one seed")
        if w.input_digest(seed + 1) == digests[0]:
            problems.append("another seed generated identical inputs")
        t0 = time.perf_counter()
        w.warm()
        warm_s = time.perf_counter() - t0

        ops = harness.Ops()
        tracer = Tracer() if traced else None
        if tracer is not None:
            w.instrument(tracer)
        try:
            res = w.measure(seconds, ops, tracer)
        finally:
            if tracer is not None:
                tracer.close()
        t_measured = time.perf_counter()
        measured_s = t_measured - t0 - warm_s
        problems += w.check()
        problems += [f"failed op: {e}" for e in ops.errors]
        jobs, reads, per_s, info = w.report(res)
        info["error_rate"] = (ops.failed / max(1, ops.attempted), "ratio")
        for what, lat in (("job", jobs), ("read", reads)):
            tail_v, tail_p, n = harness.tail(lat)
            info[f"{what}_tail_ms"] = (tail_v * 1e3, f"ms@p{tail_p:g}/n={n}")
        if tracer is None:
            metrics = {
                "setup_s": (harness.median(setup_times), "s"),
                "job_p50_ms": (harness.median(jobs) * 1e3, "ms"),
                "read_p50_ms": (harness.median(reads) * 1e3, "ms"),
                "throughput_per_s": (per_s, "1/s"),
            }
        else:
            units = per_layer_units()
            layer = {k: 0.0 for k in units}
            layer.update(w.layer_metrics(res, tracer))
            traced_lat = [r["secs"] for r in res["traced"]]
            layer["proc.spark_start_s"] = sp.start_s
            layer["proc.warm_s"] = warm_s
            layer["proc.peak_rss_mb"] = harness.peak_rss_mb(sp.pids())
            # spans on the measured operations' own threads (tagged with
            # their operation id); the viewer's and the page sweep's run
            # beside or after them
            spans_per_op = sum(isinstance(r[4], int) for r in tracer.spans) / max(1, len(traced_lat))
            layer["trace.spans_per_op"] = spans_per_op
            layer["trace.overhead_frac"] = (
                spans_per_op * span_cost_s() / harness.median(traced_lat))
            metrics = {k: (v, units[k]) for k, v in layer.items()}
            tdir = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(tdir, exist_ok=True)
            tracer.write(os.path.join(tdir, f"{name}-seed{seed}.json"))
        print(f"perfbench: {name}: set-ups {', '.join(f'{t:.2f}' for t in setup_times)} s, "
              f"warm {warm_s:.2f} s, measured {measured_s:.2f} s, "
              f"checks {time.perf_counter() - t_measured:.2f} s; job ms "
              f"{[round(x * 1e3) for x in jobs]}, read ms {[round(x * 1e3) for x in reads]}",
              file=sys.stderr)
        return not problems, ops.attempted, ops.failed, metrics, info, problems
    finally:
        w.close()


def _num(v):
    return None if isinstance(v, float) and math.isnan(v) else v


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    try:
        import automated_data_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import harness

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    sp = None
    try:
        sp = harness.SparkProcess(os.path.join(work, "spark"), ROOT)
        print(f"perfbench: spark session up in {sp.start_s:.2f} s", file=sys.stderr)
        results = {}
        for name in names:
            results[name] = run_workload(sp, name, args.seed, args.seconds, bool(args.trace), work)
    finally:
        try:
            if sp is not None:
                sp.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    correct, attempted, failed, metrics = True, 0, 0, {}
    for name, (ok, att, fail, m, info, problems) in results.items():
        for p in problems:
            print(f"perfbench: {name}: CHECK FAILED: {p}", file=sys.stderr)
        correct &= ok
        attempted += att
        failed += fail
        prefix = f"{name}." if len(results) > 1 else ""
        metrics.update({prefix + k: {"value": _num(v), "unit": u} for k, (v, u) in m.items()})
        print(json.dumps({"workload": name, "workload_metrics": {
            k: {"value": _num(v), "unit": u} for k, (v, u) in info.items()}}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
