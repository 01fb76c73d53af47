"""Engine benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload rollup_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. ``--trace 0`` prints every end-to-end
metric by name and unit; ``--trace 1`` runs the workload's traced pass
and prints every per-layer metric instead. Either way the last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness as H  # noqa: E402
from perfbench.layers import NAMED, PER_LAYER, layer_metrics  # noqa: E402

SETUP_REPS = 3
WORKLOADS = ("rollup_batch", "boundary")  # the ones BENCHMARK.json declares
PARTS = ("discovery", "compress_dedup")    # boundary's two halves, runnable alone
# the end-to-end metrics BENCHMARK.json declares; latency_tail_s is printed
# beside them but not declared: a run has fewer than 20 operations of
# its latency kind, so no percentile has ten samples beyond it and the
# tail is a single sample, the run's maximum
END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "latency_p50_s": "s",
              "points_per_s": "1/s"}
UNITS = {**END_TO_END, "latency_tail_s": "s"}


def load(name: str):
    import importlib

    return importlib.import_module(f"perfbench.{name}")


def set_up(run: H.Run, wl):
    """SETUP_REPS full set-ups into fresh directories; the run keeps the
    last and reports the median time."""
    times, st = [], None
    for k in range(SETUP_REPS):
        d = run.path("inputs", f"rep{k}", "")
        t0 = time.perf_counter()
        st = wl.setup(run, d)
        times.append(time.perf_counter() - t0)
    for k in range(SETUP_REPS - 1):
        shutil.rmtree(run.path("inputs", f"rep{k}"), ignore_errors=True)
    return st, H.median(times)


def run_op(run: H.Run, op: H.Op) -> dict | None:
    """Time one operation and check its output. A wrong result still
    yields its sample (it completed, and counts in ``failed``); an
    operation that raises yields none."""
    t0 = time.perf_counter()
    try:
        out = op.fn()
        dt = time.perf_counter() - t0
        errs, info = op.check(out)
    except Exception as e:  # an operation that raises is a failed operation
        run.check(op.kind, [f"{type(e).__name__}: {str(e)[:300]}"])
        return None
    run.check(op.kind, errs)
    return {"kind": op.kind, "seconds": dt, **info}


def measure(run: H.Run, wl, st) -> list[dict]:
    """Closed loop for ``run.seconds``, ended on a whole cycle of the
    workload's operation mix so every run measures the same mix."""
    samples = []
    deadline = time.perf_counter() + run.seconds
    for i, op in enumerate(wl.ops(run, st)):
        if i % wl.CYCLE == 0 and time.perf_counter() >= deadline:
            break
        s = run_op(run, op)
        if s is not None:
            samples.append(s)
    return samples


def untraced_run(run: H.Run, wl, st, setup_s: float) -> tuple[dict, dict]:
    # warm-up: whole cycles, checked, not timed; the JVM is still
    # compiling the operations' code paths over the first few of them
    warm = wl.ops(run, st)
    warm_s = [run_op(run, next(warm)) for _ in range(wl.CYCLE * wl.WARM_CYCLES)]
    with H.RssSampler() as rss:
        samples = measure(run, wl, st)
    alu_s = H.alu_control(run.spark, run.cores)
    try:
        lat = H.latency_summary([s["seconds"] for s in samples if s["kind"] == wl.LATENCY_KIND])
        points_per_s, extra = wl.summarize(st, samples)
    except (ValueError, ZeroDivisionError):  # every operation of a kind raised
        run.fail("no operation completed to measure")
        lat, points_per_s, extra = {"p50": 0.0, "tail": 0.0, "tail_pct": 0.0, "n": 0}, 0.0, {}
    metrics = {"setup_s": setup_s, "peak_rss_mb": rss.peak_mb,
               "latency_p50_s": lat["p50"], "latency_tail_s": lat["tail"],
               "points_per_s": points_per_s}
    facts = {"host.alu_s": alu_s, "latency_tail_pct": lat["tail_pct"],
             "latency_samples": lat["n"], "extra": extra,
             "warm": " ".join(f"{s['kind']}={s['seconds']:.3f}" for s in warm_s if s),
             "ops": " ".join(f"{s['kind']}={s['seconds']:.3f}" for s in samples)}
    return metrics, facts


def traced_run(run: H.Run, wl, st) -> tuple[dict, dict]:
    from perfbench.spans import Tracer

    # warm-up, then the same work untraced (timed, outputs checked) and traced
    for op in wl.trace_ops(run, st):
        run_op(run, op)
    timed = [run_op(run, op) for op in wl.trace_ops(run, st)]
    untraced_s = sum(s["seconds"] for s in timed if s is not None)
    tracer = Tracer(run.spark)
    t0 = time.perf_counter()
    exact = wl.traced(run, st, tracer)
    traced_s = time.perf_counter() - t0
    exact.update({"trace.wall_s": traced_s, "trace.untraced_wall_s": untraced_s,
                  "trace.overhead_s": traced_s - untraced_s,
                  "host.alu_s": H.alu_control(run.spark, run.cores)})
    tracer.spark = None
    return exact, {"tracer": tracer}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + PARTS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import matrixprofile_spark  # noqa: F401
        import __spark_entry__ as entry
    except ImportError as e:
        print(f"perfbench: the engine package is not importable here: {e}", file=sys.stderr)
        return 2

    run = H.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    wl = load(args.workload)
    H.prepare_work(run)
    phase = H.Phases()
    try:
        with phase("spark_start"):
            spark = H.start_spark(run)
            from matrixprofile_spark.kernels import mpx  # noqa: F401  (compiles the C scan once)
        facts = H.session_facts(run)
        with phase("setup"):
            st, setup_s = set_up(run, wl)
        blocks0 = H.storage_blocks(spark)
        with phase("oracle"):
            wl.gate(run, st)
        with phase("measure"):
            if run.trace:
                exact, extra = traced_run(run, wl, st)
            else:
                metrics, extra = untraced_run(run, wl, st, setup_s)
        with phase("end_checks"):
            left = H.settle_storage(spark, blocks0)
            run.check("no checkpoint blocks left over",
                      [] if left <= blocks0 else [f"{left} blocks held, {blocks0} at set-up"])
            run.check("session memo untouched",
                      [] if not entry._SESSION_MEMO else ["__spark_entry__._SESSION_MEMO was used"])
        with phase("stop"):
            H.stop_spark(run)
        if run.trace:
            from perfbench.spans import EventLog

            tracer = extra["tracer"]
            metrics = layer_metrics(tracer, EventLog.read_dir(run.path("eventlog")), exact)
            tracer.write(run.path("spans.json"))
    finally:
        if run.spark is not None:  # a failure before the clean stop
            H.stop_spark(run)
        H.cleanup(run)

    failed = len(run.failures)
    for f in run.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} cores={facts['cores']} "
          f"host_cpus={facts['host_cpus']} "
          f"driver_heap={facts['driver_heap']} local_dirs={facts['local_dirs']} "
          f"shuffle_partitions={facts['shuffle_partitions']}")
    print("# phases " + " ".join(f"{k}={v:.2f}s" for k, v in phase.times.items()))
    print(f"ops_failed_frac = {failed / max(1, run.attempted):.4f} (failed or wrong / attempted)")
    if run.trace:
        units = dict((m["name"], m["unit"]) for m in PER_LAYER)
        out = {k: {"value": float(metrics[k]), "unit": units[k]} for k in units}
    else:
        out = {k: {"value": float(metrics[k]), "unit": END_TO_END[k]} for k in END_TO_END}
        print(f"# warm-up {extra['warm']}")
        print(f"# ops {extra['ops']}")
        print(f"host.alu_s = {extra['host.alu_s']:.4f} s")
        print(f"latency_tail_s = {metrics['latency_tail_s']:.6g} s "
              f"(p{extra['latency_tail_pct']:g} of {extra['latency_samples']} operations)")
        for generic, named in NAMED[args.workload].items():
            print(f"{named} = {metrics[generic]:.6g} {UNITS[generic]}")
        for named, (value, unit) in extra["extra"].items():
            print(f"{named} = {value:.6g} {unit}")
    for k, v in out.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": max(1, run.attempted),
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
