"""FPM benchmark: EPFP mining, batch scoring and online recommendation.

Run from the root of a checkout of the engine:

    python3 perfbench/run.py --workload mine_epfp --seed 1 --seconds 8 --trace 0

Prints the host context, every metric by name with its unit, and, as the
last line, one JSON object {"correct", "attempted", "failed", "metrics"}.
``--trace 0`` reports the end-to-end metrics of BENCHMARK.json from
untraced operations; ``--trace 1`` alternates untraced and traced
operations and reports the per-layer metrics, the per-layer self times
and the tracing overhead, and writes the spans to
``.perfbench_out/spans-<workload>-seed<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Each run sets up this many times; setup_s is their median.
SETUPS = 3
# The latency median needs a few operations even when each is long.
MIN_OPS = 3


def _configure_env(workdir: str) -> None:
    """Keep every file Spark and Java write inside the checkout, fix the
    driver heap, and default the core count to the CPUs this process may
    use."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # spark-submit first runs a small launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # The whole heap is committed and touched at JVM start, so the memory
    # metric does not depend on when the collector chose to grow the heap.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xms{heap} -XX:+AlwaysPreTouch' pyspark-shell"
    )


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def _stop(spark, host) -> None:
    """Stop the session and the JVM this process launched, and wait until
    they and the Python workers under them have ended."""
    from pyspark import SparkContext

    children = [pid for pid in host.descendants(os.getpid()) if pid != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    host.wait_gone(children, timeout_s=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        print(f"perfbench: cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _configure_env(workdir)
    sys.path.insert(0, ROOT)
    try:
        import optimal_parallel_fp_growth_spark as engine
        from optimal_parallel_fp_growth_spark.session import get_session

        import host
        from tracing import Tracer
        from workloads import PLAN_SPANS, WORKLOADS
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        _remove(workdir)
        return 2
    if os.path.commonpath([ROOT, os.path.abspath(engine.__file__)]) != ROOT:
        print(f"perfbench: engine imported from outside {ROOT}", file=sys.stderr)
        _remove(workdir)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        _remove(workdir)
        return 2

    try:
        return _run(args, spec, workdir, get_session, host, Tracer, PLAN_SPANS,
                    WORKLOADS[args.workload])
    finally:
        _remove(workdir)


def _remove(workdir: str) -> None:
    shutil.rmtree(workdir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(workdir))  # only if no other run is using it
    except OSError:
        pass


def _run(args, spec, workdir, get_session, host, Tracer, plan_spans, workload_cls) -> int:
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    wl = workload_cls(args.seed, workdir)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    cpu_before = host.cpu_times()
    calib_before = host.calibrate_ms()
    spark = None
    with host.RssSampler() as rss:
        try:
            setup_s, session_s = [], []
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = get_session("perfbench")
                spark.sparkContext.setLogLevel("ERROR")
                t1 = time.perf_counter()
                wl.setup(spark)
                setup_s.append(time.perf_counter() - t0)
                session_s.append(t1 - t0)
            context = host.context(spark)
            # Once per run, after the last set-up, so that timed operations
            # find workers started and code compiled.
            t_warm = time.perf_counter()
            wl.warm_up(spark)
            t_check = time.perf_counter()
            wl.prepare_check(spark)
            tracer = Tracer()
            tracer.bind(spark)

            def traced(fn):
                op = tracer.new_op()
                t0 = time.perf_counter()
                with tracer.span("op"):
                    result = fn()
                dt = time.perf_counter() - t0
                spans = [s for s in tracer.spans if s.op == op]
                tracer.collect(spans, plan_spans)
                return result, dt, {s.name: s for s in spans}

            setup_layers = {}
            if args.trace and hasattr(wl, "replay_setup"):
                result, _, spans = traced(lambda: wl.replay_setup(spark, tracer))
                setup_layers = wl.setup_layers(tracer, spans, result)

            plain, timed_traced, layer_runs, op_spans = [], [], [], []
            attempted = failed = baskets = 0
            t_loop = time.perf_counter()
            deadline = t_loop + args.seconds
            while True:
                is_traced = bool(args.trace) and attempted % 2 == 1
                inp = wl.next_input()
                attempted += 1
                try:
                    if is_traced:
                        result, dt, spans = traced(lambda: wl.run_traced(spark, tracer, inp))
                    else:
                        t0 = time.perf_counter()
                        result = wl.run(spark, inp)
                        dt = time.perf_counter() - t0
                    ok = wl.check(result, inp)
                except Exception:
                    traceback.print_exc()
                    failed += 1
                    ok = None
                if ok is False:
                    print(f"perfbench: operation {attempted} output differs from its oracle",
                          file=sys.stderr)
                    failed += 1
                if ok is not None and is_traced:
                    timed_traced.append(dt)
                    layers = wl.layers(tracer, spans, result, inp)
                    root = spans["op"]
                    layers.update({
                        "spark.jobs_per_op": root.spark["jobs"],
                        "spark.tasks_per_op": root.spark["tasks"],
                        "spark.executor_busy_ratio": root.spark["run_s"] / (dt * cores),
                    })
                    layer_runs.append(layers)
                    op_spans.append(spans)
                elif ok is not None:
                    plain.append(dt)
                    baskets += wl.baskets(inp)
                now = time.perf_counter()
                enough = len(plain) >= MIN_OPS and (timed_traced or not args.trace)
                # Failing operations must not keep the run going forever.
                if now >= deadline and (enough or now >= deadline + args.seconds):
                    break
            t_stop = time.perf_counter()
        finally:
            if spark is not None:
                _stop(spark, host)
    steal, iowait = host.steal_iowait_share(cpu_before, host.cpu_times())

    values = {
        "setup_s": _median(setup_s),
        "latency_p50_ms": _median(plain) * 1000,
        "latency_p90_ms": _p90(plain) * 1000,
        "baskets_per_s": baskets / sum(plain) if plain else 0.0,
        "peak_rss_mb": rss.peak_bytes / 2**20,
        "failed_ratio": failed / attempted,
    }
    context.update(steal_share=round(steal, 4), iowait_share=round(iowait, 4),
                   calibrate_ms=[round(calib_before, 1), round(host.calibrate_ms(), 1)])
    print(f"perfbench host {json.dumps(context)}")
    print(f"perfbench workload={wl.name} seed={args.seed} trace={args.trace} "
          f"attempted={attempted} failed={failed} untraced_ops={len(plain)} "
          f"traced_ops={len(timed_traced)} untraced_ms={[round(x * 1000) for x in plain]}")
    print(f"perfbench phases setups_s={[round(x, 3) for x in setup_s]} "
          f"warm_up_s={t_check - t_warm:.3f} prepare_s={t_loop - t_check:.3f} "
          f"loop_s={t_stop - t_loop:.3f} "
          f"process_s={time.perf_counter() - T_START:.3f}")
    if args.trace:
        values["session.start_s"] = _median(session_s)
        values["trace.overhead_ms"] = (_median(timed_traced) - _median(plain)) * 1000
        for name in {k for run in layer_runs for k in run} | set(setup_layers):
            per_op = [run[name] for run in layer_runs if name in run]
            values[name] = _median(per_op) if per_op else setup_layers[name]
        _report_self_times(tracer, op_spans)
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tracer.dump(os.path.join(out, f"spans-{wl.name}-seed{args.seed}.jsonl"))

    metrics = {}
    for m in wanted:
        # A layer the workload never calls did no work: it reads 0.
        metrics[m["name"]] = {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
    # A traced run also prints the end-to-end figures of its untraced
    # operations, so that one command shows every metric.
    shown = spec["end_to_end"] + spec["per_layer"] if args.trace else wanted
    for m in shown:
        print(f"perfbench metric {m['name']:<40} {values.get(m['name'], 0.0):>14.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _report_self_times(tracer, op_spans) -> None:
    """Median self time per layer over the traced operations."""
    selfs: dict[str, list[float]] = {}
    for spans in op_spans:
        for name, s in spans.items():
            selfs.setdefault(name, []).append(tracer.self_time(s))
    for name, xs in sorted(selfs.items(), key=lambda kv: -_median(kv[1])):
        print(f"perfbench self_time {name:<36} {_median(xs) * 1000:>10.1f} ms")


if __name__ == "__main__":
    sys.exit(main())
