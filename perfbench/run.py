"""Benchmark command: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload etl_daybatch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout; the program is imported from there. The
run generates its inputs from ``--seed`` under ``.perfbench_work/``, sets
the program up ``SETUP_REPS`` times on a fresh Spark session (reporting
the median as ``setup_s``), runs the workload's op in a closed loop until
``--seconds`` of op time have passed, checks every op's output, and
prints the result as the last line of standard output.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` alternates untraced and traced stretches of ops, reports
the per-layer metrics and the tracing overhead, and writes every span to
``.perfbench_out/trace_<workload>_<seed>.json``.

``--repeat N`` runs the workload N times, on seeds seed..seed+N-1, each
in its own process, and prints each metric's median and interquartile
range as a share of the median.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
MIN_OPS = 4  # at least this many timed ops, whatever --seconds says


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _environment(work: str) -> None:
    """Keep every file the run writes, Spark's included, inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # spark-submit's launcher JVM: no hsperfdata file under /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData"
    ).strip()
    import tempfile

    tempfile.tempdir = None


def _spark(work: str):
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file under /tmp: the run writes only inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def _stop_jvm() -> None:
    """Stop the py4j gateway's JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mix_median(samples: dict[str, list[float]]) -> float:
    """Median latency of each kind of op, weighted by the kind's share of
    the ops. Equal to the plain median for a workload with one kind; for a
    request mix it does not hinge on which kind the overall median lands
    in."""
    n = sum(len(v) for v in samples.values())
    return sum(len(v) / n * _median(v) for v in samples.values()) if n else 0.0


def run(args) -> dict:
    import tracing
    import workloads

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)
    wl = workloads.WORKLOADS[args.workload](work, args.seed, args.size)
    spark = None
    t_run = time.perf_counter()
    try:
        wl.generate()
        log(f"inputs generated in {time.perf_counter() - t_run:.1f} s")
        setup = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = _spark(work)
            if rep == 0:  # Spark-built inputs: not set-up, timed apart
                t_build = time.perf_counter()
                wl.build(spark)
                t0 += time.perf_counter() - t_build
            wl.prepare(spark)
            setup.append(time.perf_counter() - t0)
        log(f"setup reps {[round(s, 3) for s in setup]} s, at {time.perf_counter() - t_run:.1f} s")

        tracer = tracing.Tracer(spark, enabled=False)
        warm = wl.warm_up(tracer, log)  # untimed, but checked
        attempted, failed = len(warm), warm.count(False)
        log(f"{len(warm)} warm-up ops done at {time.perf_counter() - t_run:.1f} s")
        # op kind -> untraced and traced op walls (ms); traced ones without
        # their probe spans
        plain_ms: dict[str, list[float]] = {}
        traced_ms: dict[str, list[float]] = {}
        samples: dict[str, list[float]] = {}  # op kind -> latencies
        plain_items = 0
        op_time = 0.0
        # the timed region is at least two whole cycles of the op mix, so
        # every run weighs the kinds alike; traced runs alternate untraced
        # and traced cycles, so both see the same mix
        first = len(warm)
        min_ops = first + max(MIN_OPS, 2 * wl.period)
        i = first
        while op_time < args.seconds or i < min_ops or (i - first) % wl.period:
            traced = bool(args.trace) and ((i - first) // wl.period) % 2 == 1
            tracer.enabled = traced
            first_span = len(tracer.spans)
            attempted += 1
            wl.samples_ms = None
            t0 = time.perf_counter()
            try:
                n = wl.op(i, tracer)
            except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                failed += 1
                op_time += time.perf_counter() - t0
                log(f"op {i} failed:\n{traceback.format_exc()}")
                i += 1
                continue
            dt = time.perf_counter() - t0
            op_time += dt
            tracer.enabled = False
            if traced:
                probe = sum(  # outermost probe spans only
                    s["dur"] for s in tracer.spans[first_span:] if s["probe"]
                    and (s["parent"] is None or not tracer.spans[s["parent"]]["probe"])
                )
                traced_ms.setdefault(wl.kind(i), []).append(1000 * (dt - probe))
                op_time -= probe
            else:
                plain_ms.setdefault(wl.kind(i), []).append(1000 * dt)
                plain_items += n
                samples.setdefault(wl.kind(i), []).extend(wl.samples_ms or [1000 * dt])
            try:
                ok = wl.check(i)
            except Exception:  # noqa: BLE001
                ok = False
                log(f"check {i} raised:\n{traceback.format_exc()}")
            if not ok:
                failed += 1
                log(f"op {i}: output check FAILED")
            if traced:
                tracer.collect_counters()
            i += 1
        plain_s = sum(map(sum, plain_ms.values())) / 1000.0
        e2e = {
            "setup_s": (_median(setup), "s"),
            "op_median_ms": (_mix_median(samples), "ms"),
            "items_per_s": (plain_items / plain_s if plain_s else 0.0, "1/s"),
        }
        log(f"{wl.name}: {sum(map(len, plain_ms.values()))} untraced ops, "
            f"{sum(map(len, traced_ms.values()))} traced, {failed} failed; items = {wl.item}")
        log(f"untraced op ms { {k: [round(x) for x in v] for k, v in plain_ms.items()} }; "
            f"timed region ended at {time.perf_counter() - t_run:.1f} s")
        if args.trace:
            metrics = _layer_metrics(tracer, plain_ms, traced_ms)
            summary = {
                "workload": wl.name, "seed": args.seed,
                "end_to_end": {k: v[0] for k, v in e2e.items()},
                "per_layer": {k: v[0] for k, v in metrics.items()},
                "layers": {k: _median(v) for k, v in sorted(wl.layers.items())},
                "self_ms": _self_ms(tracer),
            }
            out = os.path.join(ROOT, ".perfbench_out", f"trace_{wl.name}_{args.seed}.json")
            tracer.dump(out, summary)
            for k, v in summary["layers"].items():
                log(f"  layer {k:40s} {v:14.3f}")
            for k, v in summary["self_ms"].items():
                log(f"  self  {k:40s} {v:14.3f} ms")
            log(f"spans written to {out}")
        else:
            metrics = e2e
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        try:
            wl.close()
            if spark is not None:
                spark.stop()
        finally:
            try:
                _stop_jvm()
            finally:
                shutil.rmtree(work, ignore_errors=True)


def _layer_metrics(tracer, plain_ms, traced_ms) -> dict:
    """Per-op medians and means over the traced ops; probe spans left out.
    ``plain_ms`` and ``traced_ms`` map each op kind to its op walls."""
    import tracing

    ops: dict[str, list[dict]] = {}
    for s in tracer.spans:
        if not s["probe"]:
            ops.setdefault(s["op"], []).append(s)
    job_ms, driver_ms = [], []
    sums = dict.fromkeys(tracing.COUNTERS, 0)
    for spans in ops.values():
        top = [s for s in spans if s["parent"] is None][0]
        intervals = [iv for s in spans for iv in s.get("job_intervals", [])]
        covered = tracing.covered_seconds(intervals, top["start"], top["end"])
        probe = sum(
            s["dur"] for s in tracer.spans
            if s["probe"] and s["op"] == top["op"] and s["parent"] == top["id"]
        )
        job_ms.append(1000 * covered)
        driver_ms.append(1000 * (top["dur"] - probe - covered))
        for k in sums:
            sums[k] += sum(s.get(k, 0) for s in spans)
    n = max(len(ops), 1)
    out = {
        "driver.self_ms": (_median(driver_ms), "ms"),
        "spark.job_ms": (_median(job_ms), "ms"),
    }
    for k, v in sums.items():
        out[k] = (v / n, tracing.COUNTERS[k])
    # both sides weighted by op kind alike, so the figure does not hinge on
    # which kind either median lands in
    base = _mix_median(plain_ms)
    out["trace.overhead_pct"] = (
        100.0 * (_mix_median(traced_ms) - base) / base if base else 0.0, "%"
    )
    return out


def _self_ms(tracer) -> dict:
    """Span name -> median self time per occurrence, in ms."""
    import tracing

    selfs = tracing.self_times(tracer.spans)
    by_name: dict[str, list[float]] = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(1000 * selfs[s["id"]])
    return {k: _median(v) for k, v in sorted(by_name.items())}


def repeat(args) -> int:
    """Run the workload ``args.repeat`` times and summarise each metric."""
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for k in range(args.repeat):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed + k), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size]
        t0 = time.perf_counter()
        res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t0
        lines = res.stdout.strip().splitlines()
        if res.returncode != 0 or not lines:
            print(res.stderr[-3000:], file=sys.stderr)
            return 1
        out = json.loads(lines[-1])
        print(f"seed {args.seed + k} ({wall:.1f} s): {json.dumps(out)}", flush=True)
        if not out["correct"]:
            print(res.stderr[-3000:], file=sys.stderr)
        for name, m in out["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
    for name, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        iqr = (q[2] - q[0]) / med if med else float("nan")
        print(f"{name:28s} median {med:14.4f} {units[name]:6s} IQR/median {iqr:7.2%} "
              f"min {min(vs):.4f} max {max(vs):.4f}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--repeat", type=int, default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    try:
        import __spark_entry__  # noqa: F401
        import automated_ohlcv_data_pipeline_for_algorithmic_trading_spark  # noqa: F401
        import verify_local  # noqa: F401
    except ImportError as e:
        log(f"the program is not in {ROOT}: {e}")
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
        return 2
    if args.repeat:
        return repeat(args)
    print(json.dumps(run(args)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
