"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload udf_mix --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The benchmark starts one Spark session on
``local[<cpus>]``, sets the workload up (warming it until op latencies stop
falling), then runs whole passes of ops in a closed loop with one client: as
many passes as fit ``--seconds`` at the workload's nominal pass time (see
``NOMINAL_PASS_S``). Outputs are checked outside the timed region. The last
line of standard output is one JSON object; with ``--trace 0`` it holds the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced run
(Spark event log on, counting DB connections, spans around each layer).
Everything the run writes goes under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SCALE = 0.01  # fixture scale factor of the tables udf_mix reads
WORKLOADS = ("udf_mix", "upsert_load")
# Seconds one warm pass of each workload took on the 4-core machine the
# benchmark was tuned on. A run measures round(--seconds / this) whole passes,
# so every run of a workload times the same ops and its percentiles stay
# comparable.
NOMINAL_PASS_S = {"udf_mix": 5.5, "upsert_load": 4.9}
STOP_STARTING_PASSES_S = 110.0  # wall since start after which no pass begins
TAIL_BEYOND = 10  # the tail percentile keeps at least this many ops above it


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment() -> dict[str, str]:
    """Keep every file the run writes inside ``.perfbench/`` and make the
    checkout importable here and in Spark's Python workers."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # forget a temp dir cached before TMPDIR was set
    os.environ["TZ"] = "UTC"
    # every JVM (the launcher too) would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    time.tzset()
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    return {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(tmp, "hadoop"),
    }


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail(walls: list[float]) -> tuple[float, float]:
    """Highest percentile with at least TAIL_BEYOND ops above it: returns
    ``(value, percentile)``; with too few ops, the maximum."""
    ordered = sorted(walls)
    n = len(ordered)
    if n <= TAIL_BEYOND:
        return ordered[-1], 100.0
    return ordered[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
        proc.kill()
        proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark_postgres_loader_spark  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from perfbench import fixtures, layers
    from perfbench.dbcount import CountingConnect, CountsParam, DuckConnect
    from perfbench.trace import Tracer
    from perfbench.workloads import UDF_MIX, UDF_TABLES, QueryMix, UpsertLoad
    from pyspark_postgres_loader_spark import session

    conf = prepare_environment()
    t_fix = time.perf_counter()
    sf_dir = fixtures.build_tables(os.path.join(WORK, "fixtures"), SCALE)
    fixture_s = time.perf_counter() - t_fix  # a cached build step, not set-up

    tracer = Tracer(enabled=bool(args.trace))
    event_dir = os.path.join(WORK, "eventlog", f"{args.workload}-{args.seed}")
    if args.trace:
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_dir,
        })
    cpus = len(os.sched_getaffinity(0))
    with tracer.span("session"):
        spark = session.get_spark(
            app_name=f"perfbench-{args.workload}", master=f"local[{cpus}]", extra_conf=conf)

    rng = random.Random(args.seed)
    acc = None
    patches = layers.Patches()
    try:
        if args.workload == "upsert_load":
            if args.trace:
                acc = spark.sparkContext.accumulator({}, CountsParam())
                patches.trace_pipeline(tracer)
                factory_for = lambda path: CountingConnect(path, acc)  # noqa: E731
            else:
                factory_for = DuckConnect
            mix = UpsertLoad(WORK, spark, tracer, factory_for)
        else:
            mix = QueryMix(UDF_MIX, UDF_TABLES, sf_dir, spark, tracer, trace_jobs=bool(args.trace))
        with tracer.span("setup"):
            mix.setup(rng)
        setup_s = time.perf_counter() - T_START - fixture_s

        counts_before = dict(acc.value) if acc is not None else {}
        ops = []  # (item, wall_s, ok, rows)
        passes = []  # wall of each pass
        timed = 0.0
        for _ in range(max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))):
            if passes and time.perf_counter() - T_START > STOP_STARTING_PASSES_S:
                break
            pass_start = timed
            for item in mix.pass_order(rng):
                op_id = len(ops)
                t0 = time.perf_counter()
                with tracer.span("op", op=op_id):
                    ok = mix.run_op(op_id, item)
                wall = time.perf_counter() - t0
                rows = mix.rows(item) if ok else 0
                ok = mix.after_op(item, ok)
                ops.append((item, wall, ok, rows))
                timed += wall
            passes.append(timed - pass_start)
        counts = layers.diff_counts(acc.value, counts_before) if acc is not None else {}
        peak_rss_mb = vm_hwm_mb(spark._jvm.ProcessHandle.current().pid()) + vm_hwm_mb("self")
    finally:
        patches.undo()
        stop_spark(spark)

    if isinstance(mix, QueryMix):
        problems = {k: v for k, v in mix.check().items() if v is not None}
        ops = [(item, wall, ok and item not in problems, rows) for item, wall, ok, rows in ops]
    else:
        problems = {f"load{i}": f for i, f in enumerate(mix.failures)}

    walls = [w for _, w, _, _ in ops]
    failed = sum(1 for op in ops if not op[2])
    tail_s, tail_pct = tail(walls)
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "ops_per_s": (len(ops) / timed, "1/s"),
        "rows_per_s": (sum(op[3] for op in ops) / timed, "rows/s"),
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops": len(ops),
        "passes": len(passes),
        "pass_walls": [round(wall, 4) for wall in passes],
        "timed_s": timed,
        # printed, not bounded: a run has a few dozen ops, so the highest
        # percentile that keeps ten ops beyond it is near the median, not a tail
        "op_tail_s": tail_s,
        "op_tail_percentile": tail_pct,
        "failed_share": failed / len(ops),
        "fixture_build_s": fixture_s,
        "peak_rss_mb": peak_rss_mb,
        "check_problems": problems,
        "op_walls": [[item, round(wall, 4)] for item, wall, _, _ in ops],
    }
    if args.trace:
        from perfbench.trace import read_event_log

        jobs = read_event_log(event_dir)
        metrics, extra = layers.layer_metrics(tracer, jobs, ops, counts, mix, e2e, peak_rss_mb)
        detail.update(extra)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json"))
    else:
        metrics = e2e

    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    if not args.trace:
        print(f"op_tail_s {tail_s:.6g} s (p{tail_pct:.3g} of {len(ops)} ops)")
        print(f"failed_share {failed / len(ops):.6g} ratio")
    print("detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0 and not problems,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
