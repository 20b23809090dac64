"""Seeded, correctness-checked benchmark of the validation engine.

    python3 perfbench/run.py --workload row_full --seed 1 --seconds 15 --trace 0

Run from the repository root. One process: start a ``local[nproc]``
session through the engine's ``get_spark``, generate the workload's inputs
from ``--seed`` (plus their ground truth), run the workload's job once to
warm up, then repeatedly for ``--seconds``, and check every run against the
ground truth. The last stdout line is one JSON object::

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` traces every
timed run and reports the per-layer metrics (one span per
public engine call, joined to Spark's stage metrics), and writes the spans
to ``.perfbench_work/trace-<workload>-<seed>.json``. See README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
#: driver (= executor in local mode) heap, sized for a 4-core, 15 GB host
#: (the engine's 20g default cannot start there)
DRIVER_MEM = "3g"
#: the timed loop runs at least this many jobs (and at least --seconds), so
#: the reported medians pass over one job slowed by a neighbour's burst
MIN_TIMED_JOBS = 3
#: ... unless the process has run this long: when neighbours slow the host
#: 2-3x, an invocation stops after fewer jobs, so a full benchmark pass
#: (4 + 22 x 2 invocations) still fits its time limit
PROCESS_CAP_S = 70.0
#: a run slower than this counts as a timed-out operation
OP_TIMEOUT_S = 60.0
#: environment knobs of the old harness that change engine behaviour; the
#: benchmark runs the library on its defaults
OLD_HARNESS_ENV = ("SPARK_GRAFT_REPLICATE", "SPARK_GRAFT_INITIAL_PARTS",
                   "SPARK_GRAFT_BENCH_")


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


#: per-layer counters reported for each span of the two benchmarked
#: workloads (a span a workload does not use reports 0). Counters that stay
#: flat on a span are left out; every span's full counter set, including
#: the spans of resume_dirty and curate_dedup, is in the trace file.
SPAN_COUNTERS = {
    "job": ("wall_s", "self_s", "cpu_s", "shuffle_mb", "jobs", "busy"),
    "partitioning.partition_manifest": ("wall_s", "cpu_s", "shuffle_mb", "jobs", "busy"),
    "compiler.run_validation": ("wall_s", "cpu_s", "shuffle_mb", "jobs", "busy"),
    "row_compare.row_compare_verdicts": ("wall_s", "cpu_s", "shuffle_mb", "jobs", "busy"),
    "lineage.append_verdicts": ("wall_s", "cpu_s", "jobs", "busy"),
    "sinks.write_report": ("wall_s", "cpu_s", "busy"),
    "sinks.report_to_text": ("wall_s", "cpu_s", "jobs"),
    "uniqueness.uniqueness_verdict": ("wall_s", "cpu_s", "shuffle_mb", "jobs", "busy"),
    "referential.referential_violations": ("wall_s", "cpu_s", "shuffle_mb", "jobs", "busy"),
    "drift.ks_binned": ("wall_s", "cpu_s", "shuffle_mb", "jobs", "busy"),
    "drift.psi_verdict": ("wall_s", "cpu_s", "shuffle_mb", "jobs", "busy"),
}
#: per-layer ratios measured at the layer boundary (not span counters)
LAYER_RATIOS = {
    "session.get_spark.launch_s": "s",
    "sources.input_mb": "MB",
    "sources.rescan_ratio": "ratio",
    "row_compare.task_skew": "ratio",
    "trace.rows_per_s": "1/s",
    "trace.overhead_ratio": "ratio",
}
COUNTER_UNITS = {"wall_s": "s", "self_s": "s", "cpu_s": "s", "shuffle_mb": "MB",
                 "spill_mb": "MB", "jobs": "count", "busy": "ratio"}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    names = {
        f"{span}.{c}": COUNTER_UNITS[c]
        for span, counters in SPAN_COUNTERS.items() for c in counters
    }
    names.update(LAYER_RATIOS)
    return names


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (0.0, 0.0)
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def _layer_values(by_name: dict, whole, table_rows: int) -> dict:
    vals = {}
    for span, counters in SPAN_COUNTERS.items():
        got = by_name.get(span, {})
        for c in counters:
            vals[f"{span}.{c}"] = float(got.get(c, 0.0))
    vals["sources.input_mb"] = whole.input_bytes / (1024.0 * 1024.0)
    vals["sources.rescan_ratio"] = whole.input_records / table_rows
    vals["row_compare.task_skew"] = float(
        by_name.get("compiler.run_validation", {}).get("task_skew", 0.0)
    )
    return vals


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for k in list(os.environ):
        if k.startswith(OLD_HARNESS_ENV):
            del os.environ[k]
    local_dir = os.path.join(WORK, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = local_dir
    # keep the JVM's scratch files inside the checkout; the engine's own
    # JVM flags (heap, GC) stay as get_spark sets them
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={local_dir} -XX:-UsePerfData"
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)
    try:
        from professional_services_data_validator_spark import get_spark
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        _log(f"perfbench: cannot import the engine from {ROOT}: {e}")
        return 2
    if args.workload not in WORKLOADS:
        ap.error(f"--workload: choose from {sorted(WORKLOADS)}")

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": local_dir,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    get_spark_s = time.perf_counter() - t0
    # inputs and per-run outputs of this invocation only
    scratch = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        return _bench(spark, cores, args, get_spark_s, scratch)
    finally:
        shutdown(spark)
        shutil.rmtree(scratch, ignore_errors=True)


def _bench(spark, cores, args, get_spark_s, scratch) -> int:
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, fresh_dir

    tracer = Tracer(spark, cores, enabled=False)
    run_dir = os.path.join(scratch, "run")
    work = WORKLOADS[args.workload]()
    data = fresh_dir(os.path.join(scratch, "data"))
    truth = work.generate(args.seed, data)
    t0 = time.perf_counter()
    work.expect(data)  # the oracle's own work: not part of set-up
    oracle_s = time.perf_counter() - t0
    work.setup(data, run_dir)
    # the warm-up job, checked like the timed ones, pays the cold JVM's
    # class loading and Spark code generation (20-25 s on 4 cores, whatever
    # the input size). The JIT keeps speeding the job up for a few more
    # jobs (the first timed job is ~10% slower than the next); the median
    # over the timed jobs passes over that
    work.prepare(run_dir)
    wall, checks, _ = work.run(tracer, data, run_dir)
    all_checks = [checks]
    _log(f"warm-up: wall {wall:.3f} s")
    # set-up: process start -> first timed run
    setup_s = time.perf_counter() - T_PROCESS - oracle_s
    tracer.enabled = bool(args.trace)
    n_rows = truth[work.rows_key]
    table_rows = truth.get("n_source", 0) + truth.get("n_target", 0) or n_rows

    walls, cpu, layers, overhead = [], [], [], []
    attempted = failed = 0
    steal0 = _host_steal()
    deadline = time.perf_counter() + args.seconds
    while True:
        work.prepare(run_dir)
        attempted += 1
        try:
            with tracer.run("job") as root:
                wall, checks, _ = work.run(tracer, data, run_dir)
            by_name, whole = tracer.close_run(root)
        except Exception:
            _log(traceback.format_exc())
            failed += 1
            all_checks.append({"raised": False})
        else:
            all_checks.append(checks)
            if wall > OP_TIMEOUT_S or not all(checks.values()):
                failed += 1
                _log(f"run {attempted}: wall {wall:.1f}s, failed checks "
                     f"{sorted(k for k, v in checks.items() if not v)}")
            _log(f"run {attempted}: wall {wall:.3f} s, cpu {whole.cpu_s:.2f} s")
            walls.append(wall)
            cpu.append(whole.cpu_s)
            layers.append(_layer_values(by_name, whole, table_rows))
            overhead.append(tracer.self_time / wall)
        now = time.perf_counter()
        if now >= deadline and (attempted >= MIN_TIMED_JOBS
                                or now - T_PROCESS >= PROCESS_CAP_S):
            break

    steal = _steal_share(steal0, _host_steal())
    correct_ratio = oracle_ratio(all_checks)
    correct = correct_ratio == 1.0 and failed == 0
    rps = [n_rows / w for w in walls]
    if args.trace:
        metrics = {
            name: {"value": _median([v.get(name, 0.0) for v in layers]), "unit": unit}
            for name, unit in per_layer_names().items()
        }
        metrics["session.get_spark.launch_s"]["value"] = get_spark_s
        metrics["trace.rows_per_s"]["value"] = _median(rps)
        metrics["trace.overhead_ratio"]["value"] = _median(overhead)
        tracer.dump(
            os.path.join(WORK, f"trace-{work.name}-{args.seed}.json"),
            {"workload": work.name, "seed": args.seed, "cores": cores,
             "input_rows": n_rows, "rows_per_s": rps, "host_steal": steal},
        )
    else:
        lo, hi = _quartiles(rps)
        cpu_mrow = [c / (n_rows / 1e6) for c in cpu]
        metrics = {
            "rows_per_s": {"value": _median(rps), "unit": "1/s"},
            "cpu_s_per_mrow": {"value": _median(cpu_mrow), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "correct_ratio": {"value": correct_ratio, "unit": "ratio"},
        }
        print(f"workload {work.name} seed {args.seed}: {n_rows} input rows, "
              f"local[{cores}], {attempted} timed runs in {args.seconds:g} s")
        print(f"  rows_per_s      median {_median(rps):.1f} 1/s "
              f"(p25 {lo:.1f}, p75 {hi:.1f}, n={len(rps)})")
        print(f"  cpu_s_per_mrow  median {metrics['cpu_s_per_mrow']['value']:.3f} s")
        print(f"  setup_s         {setup_s:.3f} s (get_spark {get_spark_s:.3f} s)")
        print(f"  correct_ratio   {correct_ratio:.4f} ratio")
        print(f"  op_fail_ratio   {failed / attempted:.4f} ratio ({failed}/{attempted})")
        if steal is not None:
            print(f"  (host CPU steal during the timed jobs: {steal:.1%})")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _host_steal():
    """(steal, total) CPU ticks of the whole machine, where the kernel
    reports them: a virtual machine's neighbours show up as steal."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def _steal_share(before, after):
    if before is None or after is None or after[1] == before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def oracle_ratio(checks: list[dict]) -> float:
    vals = [v for c in checks for v in c.values()]
    return sum(vals) / len(vals)


if __name__ == "__main__":
    sys.exit(main())
