"""Benchmark entry point: one closed-loop run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. Inputs are made from the seed and
cached under ``.perfbench_cache/`` by (workload, seed, size). One client
runs the workload's ops back to back against ``local[<cores>]`` for
``--seconds`` seconds of op time and checks every output. The metrics
are printed one per line (name, value, unit), and the last line of
standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, the window is split into an
untraced and a traced half, and the spans are written to
``.perfbench_cache/traces/``. Both lists, with units and bounds, are in
``BENCHMARK.json``.

Workloads: ``odata_ingest`` (the OData connector against a loopback
service) and ``curation_corpus`` (the curation operators, then the
incremental-index write path). The inputs are built first, in a child
process (``build_inputs.py``), and are not part of any metric but
``setup.input_gen_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

sys.dont_write_bytecode = True  # write nothing outside the cache, even for installed packages
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import harness, stats  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

REQUIRED = ["erpl_web_spark/__init__.py", "bench.py", "tools/corpus_gen.py"]
RUN_LIMIT_S = 170

_T0 = time.perf_counter()


def _phase(name: str) -> None:
    print(f"[perfbench] {time.perf_counter() - _T0:7.2f}s {name}", file=sys.stderr, flush=True)


def _emit(fd: int, line: str) -> None:
    os.write(fd, (line + "\n").encode())


def units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def run(args) -> dict:
    _phase("start")
    harness.prepare_env()
    from bench import _contention_snapshot, _ext_cores, canary_sec

    # Same-machine calibration, taken before anything of ours runs.
    snap = _contention_snapshot()
    canary_quiet = canary_sec()
    ext_quiet = _ext_cores(snap, _contention_snapshot())

    _phase("calibrated")
    tracer = Tracer(False)
    wl = harness.make_workload(args.workload, args.seed, tracer)
    meter = harness.TreeMeter()
    results: list[harness.OpResult] = []
    problems: list[str] = []
    try:
        t0 = time.perf_counter()
        # Seed-independent inputs are built by whichever run comes first in
        # a checkout, so only that run takes the build time.
        harness.build_inputs(args.workload, args.seed)
        wl.build()  # the inputs are cached now: this only finds them
        input_s = time.perf_counter() - t0
        signal.alarm(RUN_LIMIT_S)  # the run proper, after any build

        _phase("inputs ready")
        setups = []
        for i in range(harness.SETUP_REPS):
            t0 = time.perf_counter()
            spark = harness.start_spark(f"perfbench-{args.workload}")
            wl.setup(spark)
            setups.append(time.perf_counter() - t0)
            meter.exclude = wl.fixture_pids()
            if i < harness.SETUP_REPS - 1:
                wl.unsetup()
                spark.stop()

        _phase("set up")
        meter.start()
        # Warm-up: the first pass pays JIT and codegen, fills the fixture's
        # memo and records the reference outputs later passes are checked
        # against; the workload's further warm-up passes let the JIT settle.
        t0 = time.perf_counter()
        warm: list[harness.OpResult] = []
        extra: dict = {}
        next_pass = harness.run_window(wl, spark, tracer, 0.0, 0, warm, problems, extra)
        spark.sparkContext.setJobGroup("perfbench-checks", "perfbench reference checks")
        problems += wl.warmup_check(spark)
        while next_pass < wl.warmup_passes:
            next_pass = harness.run_window(wl, spark, tracer, 0.0, next_pass, warm, problems, extra)
        warmup_s = time.perf_counter() - t0
        _phase("warmed up")

        snap = _contention_snapshot()
        untraced: list[harness.OpResult] = []
        window = args.seconds / 2 if args.trace else args.seconds
        first_pass = next_pass
        next_pass = harness.run_window(wl, spark, tracer, window, next_pass, untraced, problems, extra)
        untraced_passes = next_pass - first_pass
        traced: list[harness.OpResult] = []
        if args.trace:
            tracer.enabled = True
            extra.clear()
            harness.run_window(wl, spark, tracer, window, next_pass, traced, problems, extra)
        ext_cores = _ext_cores(snap, _contention_snapshot())
        meter.stop()
        _phase("window done")
        canary = canary_sec()

        results = warm + untraced + traced
        summary = harness.summarize(untraced)
        failed = sum(not r.ok for r in results)
        for r in results:
            if not r.ok:
                problems.append(f"{r.name}: {r.error}")

        m = {
            "setup_s": stats.median(setups),
            "pass_s": summary["pass_s"],
            "op_p50_s": summary["op_p50_s"],
            "op_tail_s": summary["op_tail_s"],
            "rows_per_s": summary["rows_per_s"],
            "peak_rss_mb": meter.peak_mb,
            "ok_ratio": 1.0 - failed / len(results),
        }
        info = {
            "fail_ratio": failed / len(results),
            "tail": f"p{summary['tail_percentile']} of {summary['ops']} ops, {summary['tail_beyond']} beyond",
            "setups_s": [round(s, 3) for s in setups],
            "warmup_s": round(warmup_s, 3),
            "input_gen_s": round(input_s, 3),
            "passes": untraced_passes,
            "host": {"canary_quiet_s": canary_quiet, "canary_s": canary,
                     "load_factor": round(canary / canary_quiet, 3), "ext_cores": ext_cores},
        }
        if args.trace:
            layer = {
                "host.canary_quiet_s": canary_quiet, "host.canary_s": canary,
                "host.load_factor": canary / canary_quiet, "host.ext_cores": ext_cores,
                "host.ext_cores_quiet": ext_quiet,
                "setup.cold_s": setups[0], "setup.warmup_s": warmup_s, "setup.input_gen_s": input_s,
                "python.workers_started": len(meter.workers),
            }
            # still tracing: the workload's in-process layer probes record spans too
            layer.update(layer_metrics(wl, spark, tracer, results, traced, untraced, extra))
            tracer.enabled = False
            metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in units("per_layer").items()}
            tracer.write(os.path.join(harness.CACHE, "traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = {k: {"value": float(m[k]), "unit": u} for k, u in units("end_to_end").items()}
        return {
            "correct": not problems and failed == 0,
            "attempted": len(results),
            "failed": failed,
            "metrics": metrics,
            "_info": info,
            "_problems": problems,
        }
    finally:
        t0 = time.perf_counter()
        if meter.is_alive():
            meter.stop()
        wl.close()
        harness.shutdown_jvm()
        _phase(f"torn down in {time.perf_counter() - t0:.2f}s")


def layer_metrics(wl, spark, tracer, results, traced, untraced, extra) -> dict:
    out: dict[str, float] = {}
    traced_ids = [r.name for r in traced]
    groups = harness.spark_metrics_by_group(spark, traced_ids)
    n = max(len(traced_ids), 1)
    for g in groups.values():
        for k, v in g.items():
            out[k] = out.get(k, 0.0) + v / n
    per_op: dict[str, float] = {}
    for s in tracer.spans:
        if s.layer == "spark" and s.name in ("construct", "plan", "execute"):
            per_op[s.name] = per_op.get(s.name, 0.0) + s.duration
    out["spark.construct_s"] = per_op.get("construct", 0.0) / n
    out["spark.plan_s"] = per_op.get("plan", 0.0) / n
    out["spark.exec_s"] = per_op.get("execute", 0.0) / n
    nodes = extra.get("python_nodes", [])
    out["python.plan_nodes"] = sum(nodes) / max(len(nodes), 1)
    untraced_pass = harness.summarize(untraced)["pass_s"]
    traced_pass = harness.summarize(traced)["pass_s"]
    out["trace.pass_s_untraced"] = untraced_pass
    out["trace.pass_s_traced"] = traced_pass
    out["trace.overhead_s"] = traced_pass - untraced_pass
    out.update(wl.layer_metrics(spark, results, traced_ids, [r.name for r in untraced], groups))
    out["trace.spans"] = len(tracer.spans)
    # summed over the whole trace: the traced passes and the in-process probes
    for layer, secs in tracer.self_times().items():
        out[f"self_s.{layer}"] = secs
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=harness.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the program, missing {missing}", file=sys.stderr)
        return 2

    def on_alarm(*_):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    def on_term(*_):
        raise InterruptedError("terminated")  # unwinds through run()'s cleanup

    # The JVM, Python workers and fixture inherit stdout; send theirs to
    # stderr so the result line is the last line of our stdout.
    out_fd = os.dup(1)
    os.dup2(2, 1)
    signal.signal(signal.SIGALRM, on_alarm)
    signal.signal(signal.SIGTERM, on_term)
    try:
        out = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
    for k, v in out["metrics"].items():
        _emit(out_fd, f"{k} {v['value']:.6g} {v['unit']}")
    for k, v in out.pop("_info").items():
        _emit(out_fd, f"# {k}: {v}")
    for p in out.pop("_problems"):
        _emit(out_fd, f"# problem: {p}")
    _emit(out_fd, json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
