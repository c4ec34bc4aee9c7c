"""Benchmark entry point.

    python3 perfbench/run.py --workload {curate,ingest,star_etl} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. One process, one ``local[nproc]`` Spark
session, one operation at a time (closed loop). Set-up (session start,
input generation from ``--seed``, warm-up rounds) is timed from the
process start; then whole rounds of the workload's operation run until
``--seconds`` have passed, the last round's outputs are checked apart from
the engine, and the last line of stdout is one JSON object::

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
loop with a span and a Spark job group around every layer call, then one
traced round of each other workload, and reports the per-layer metrics.
Spans, per-round host samples and check results go to
``perfbench/out/<workload>-s<seed>-t<trace>.json``; scratch files live
under ``perfbench/.run/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the names workloads.WORKLOADS defines, listed here so arguments are checked
# before the engine is imported
WORKLOADS = ("curate", "ingest", "star_etl")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_environment(run_dir: str) -> None:
    """Everything the engine and its JVM write goes under ``run_dir``; the
    session runs one task slot per CPU this process may use."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_MASTER", None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def stop_session(spark) -> None:
    """Stop the session, then close the JVM's stdin so the gateway exits,
    and wait for it (its Python workers end with it)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - last resort below
        proc.kill()
        proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_dir = os.path.join(HERE, ".run", str(os.getpid()))
    # a SIGTERM unwinds through the finally blocks: session stopped, JVM
    # waited for, scratch removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        pin_environment(run_dir)
        sys.path[:0] = [HERE, ROOT]
        # fail fast (no result line) where the engine is not there to import
        import devcontainers_etl_node_spark  # noqa: F401

        return run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def run(args, run_dir: str) -> int:
    import spans as tr
    from devcontainers_etl_node_spark.session import get_spark
    from workloads import WORKLOADS as CLASSES, median

    t = time.perf_counter()
    spark = get_spark()
    session_start_s = time.perf_counter() - t
    try:
        # JVM unified logging must go to stderr, or a GC line on stdout
        # could displace the result line
        args_ = tr.jvm_args(spark)
        if not any(a.startswith("-Xlog:") and ":stderr" in a for a in args_):
            raise RuntimeError(f"driver JVM lacks a stderr -Xlog option: {args_}")
        tracer = tr.Tracer(spark, bool(args.trace))
        host = tr.HostSampler()
        own = CLASSES[args.workload](spark, tracer, args.seed, run_dir)
        own.setup(warm=True)
        setup_s = tr.process_age_s()
        log(f"{args.workload}: set-up {setup_s:.2f} s (session {session_start_s:.2f} s, inputs {own.gen_s:.2f} s)")

        op_times, attempted, failed, errors, rounds = [], 0, 0, [], 0
        host.sample("setup")
        window = time.perf_counter()
        while time.perf_counter() - window < args.seconds:
            tracer.rep = f"r{rounds}"
            times = []
            try:
                times = own.round()
                op_times += times
                attempted += len(times)
            except Exception:  # noqa: BLE001 - a failed operation is counted, the loop goes on
                attempted += 1
                failed += 1
                errors.append(traceback.format_exc())
                log(errors[-1])
            s = host.sample(tracer.rep)
            log(f"{tracer.rep}: ops {[round(x, 3) for x in times]} "
                f"load {s['loadavg_1m']:.2f} steal {s['steal_pct']:.1f}%")
            rounds += 1
        window_s = time.perf_counter() - window

        fails = own.check() if op_times else ["no operation completed"]
        for f in fails:
            log(f"CHECK FAILED: {f}")

        if args.trace:
            # one traced round of every other workload, so each traced run
            # reports every layer; their outputs are checked too
            layers = {}
            for name in WORKLOADS:
                if name == args.workload:
                    continue
                tracer.rep = f"tour-{name}"
                other = CLASSES[name](spark, tracer, args.seed, run_dir)
                other.setup(warm=False)
                other.round()
                tour_fails = [f"{name}: {f}" for f in other.check()]
                for f in tour_fails:
                    log(f"CHECK FAILED: {f}")
                fails += tour_fails
                layers.update(other.layers())
            layers.update(own.layers())
            layers["session.start_s"] = session_start_s
            layers["inputs.gen_s"] = own.gen_s
            layers["trace.op_s"] = median(op_times)
            layers["host.loadavg"] = median(s["loadavg_1m"] for s in host.samples[1:])
            layers["host.steal_pct"] = median(s["steal_pct"] for s in host.samples[1:])
            metrics = layers
        else:
            metrics = {
                "op_s": median(op_times),
                "bytes_per_row": own.bytes_per_row(),
                "setup_s": setup_s,
            }
        correct = not fails
        # the JVM's peak RSS spreads too widely across runs to carry a bound:
        # kept in the run record only
        record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "seconds": args.seconds, "window_s": window_s, "setup_s": setup_s,
                  "op_times": op_times, "peak_rss_mb": tr.jvm_peak_rss_mb(spark),
                  "host": host.samples, "check_failures": fails, "errors": errors, "metrics": metrics}
        tracer.dump(os.path.join(HERE, "out", f"{args.workload}-s{args.seed}-t{args.trace}.json"), record)
    finally:
        stop_session(spark)
    units = unit_table()
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}}
    print(json.dumps(result), flush=True)
    return 0


def unit_table() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
