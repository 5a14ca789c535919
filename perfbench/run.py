"""reactionlake benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics, or with ``--trace 1`` the per-layer metrics).
Everything the run writes goes under ``.bench_work/`` in the current
directory and is removed at the end. Exits non-zero without a result
when the engine package is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "reactionetl_etl_spark"
WORKLOADS = ("ingest_daily", "lake_analytics")


def _load_workload(name: str):
    import importlib

    return importlib.import_module(f"workloads.{name}")


def all_layer_metrics() -> dict[str, str]:
    from harness import COMMON_LAYER

    out = dict(COMMON_LAYER)
    for name in WORKLOADS:
        out.update(_load_workload(name).LAYER)
    return out


def _engine_env(work: str) -> None:
    # Python workers import the engine by module path, so they need the
    # repository root on PYTHONPATH; shuffle partitions and the master
    # follow SPARK_GRAFT_CPUS (the engine defaults to 32 and local[*])
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def _start_session(work: str):
    from reactionetl_etl_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        "perfbench",
        **{
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, end the JVM and every process under this one."""
    from harness import descendants

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall through to the kill below
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + 5:
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import harness
    from spans import SparkCounters, Tracer

    t_main = time.perf_counter()
    age_at_main = harness.process_age_s()
    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    cwd = os.getcwd()
    spark = None
    try:
        _engine_env(work)
        os.chdir(work)
        wl = _load_workload(args.workload).Workload(work, args.seed)
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = _start_session(work)
        spark.range(1).collect()
        session_s = time.perf_counter() - t0
        mem = harness.MemorySampler(spark.sparkContext._gateway.proc.pid) if args.trace else None
        tracer = Tracer(SparkCounters(spark) if args.trace else None)
        wl.start(spark, tracer)
        # untraced warm-up cycles: a cron-launched job pays them every run
        warm = []
        for _ in range(wl.WARMUP_CYCLES):
            t0 = time.perf_counter()
            ops = wl.cycle()  # may write this cycle's inputs
            gen_s += time.perf_counter() - t0
            warm += [harness.run_op(k, op, tracer, False) for k, op in ops]
        setup_s = age_at_main + (time.perf_counter() - t_main) - gen_s

        samples = harness.closed_loop(wl, args.seconds, tracer, bool(args.trace))
        busy = sum(s.wall for s in samples)
        if args.trace:
            jvm_mb = mem.jvm_peak_mb()
            mem.stop()
            layer = {name: 0.0 for name in all_layer_metrics()}
            layer.update(wl.layer_metrics(tracer))
            layer.update(
                {
                    "session.start_s": session_s,
                    "session.jvm_peak_rss_mb": jvm_mb,
                    "session.worker_peak_rss_mb": mem.worker_peak_kb / 1024.0,
                    "trace.overhead": harness.trace_overhead(samples),
                }
            )
            for line in harness.self_time_report(samples, tracer, layer["trace.overhead"]):
                print(f"perfbench: {line}", file=sys.stderr)
            units = all_layer_metrics()
            metrics = {k: harness.metric(v, units[k]) for k, v in sorted(layer.items())}
            tracer.unwrap_all()
        else:
            values = {
                "setup_s": setup_s,
                "op_s_p50": harness.kind_median(samples),
                "ops_per_s": len(samples) / busy,
            }
            metrics = {k: harness.metric(v, harness.END_TO_END[k]) for k, v in values.items()}
        for kind in dict.fromkeys(s.kind for s in samples):
            walls = [s.wall for s in samples if s.kind == kind]
            print(
                f"perfbench: {kind}: n={len(walls)} median={harness.median_or_zero(walls):.3f}s"
                f" walls={' '.join(f'{w:.2f}' for w in walls)}",
                file=sys.stderr,
            )
        print(f"perfbench: warm-up: {' '.join(f'{s.kind}={s.wall:.2f}' for s in warm)}", file=sys.stderr)
        print(f"perfbench: generate={gen_s:.2f}s session={session_s:.2f}s setup={setup_s:.2f}s",
              file=sys.stderr)
        every = warm + samples
        failed = sum(not s.ok for s in every)
        result = {
            "correct": failed == 0,
            "attempted": len(every),
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            _stop_session(spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
