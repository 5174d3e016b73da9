"""Repository benchmark: one workload, one process, one closed-loop client.

Run from the root of a checkout::

    python3 perfbench/run.py --workload headline22 --seed 1 --seconds 15 --trace 0

Workloads: ``headline22``, ``sql_csv_etl`` and, by hand only,
``iterative7`` (see ``perfbench/README.md``). The session is
``get_spark()`` at ``local[N]`` with N the usable cores (at most 8) and
N shuffle partitions. After set-up the run makes warm-up passes, then
about ``--seconds`` of timed passes; the first pass also checks every
output. ``--scale``, ``--etl-rows`` and ``--expected`` exist for the
self-check in ``perfbench/tests``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` splits the
timed passes into alternating untraced and traced ones, reports the
per-layer metrics and writes every span to ``perfbench/.work/traces/``.
Lines starting with ``#`` are diagnostics; the last line of standard
output is the result.
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
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

#: untimed warm-up passes. iterative7's query callables run their loop
#: jobs eagerly, so a warm-up pass costs as much as a timed one; there
#: the first timed pass is also the warm-up (traced runs still warm up,
#: so that the tracing overhead compares warm passes)
WARM_PASSES = {"headline22": 1, "iterative7": 0, "sql_csv_etl": 1}
#: nominal seconds of one timed pass: a run makes ``--seconds // nominal``
#: timed passes (at least one), so the number of samples in a run, and
#: with it the tail percentile, does not depend on the host's speed
NOMINAL_PASS_S = {"headline22": 7.5, "iterative7": 40, "sql_csv_etl": 3.75}
#: the sf0.1 lineitem row count
DEFAULT_ETL_ROWS = 600_000
MAX_CORES = 8


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(WARM_PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.01", help="table directory under perfbench/data")
    ap.add_argument("--etl-rows", type=int, default=DEFAULT_ETL_ROWS)
    ap.add_argument("--expected", type=Path, default=HERE / "expected.json")
    return ap.parse_args(argv)


def prepare_environment(run_dir: Path, cores: int) -> None:
    """Keep every file Spark, its JVM and its Python workers write inside
    the run directory, and size the session the way the tier-1 tests do."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # no hsperfdata file: the JVM would write it under /tmp regardless
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    for var in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEMORY"):
        os.environ.pop(var, None)


def calibrate(spark) -> float:
    """``bench.py``'s machine-speed shape (range → project → hash
    shuffle → agg over 2×10^8 rows on 32 partitions), timed once."""
    from workloads import noop

    t0 = time.perf_counter()
    noop(
        spark.range(0, 200_000_000, 1, 32)
        .selectExpr("id % 1000 AS k", "id AS v")
        .groupBy("k")
        .agg({"v": "sum"})
    )
    return time.perf_counter() - t0


def host_noise(spark) -> dict:
    return {"calibration_s": calibrate(spark), "loadavg_1m": os.getloadavg()[0]}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until it and the Python workers
    it started have exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    workers = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on end of input
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in workers) and time.monotonic() < deadline:
        time.sleep(0.1)


def tail(values: list[float]) -> tuple[float, float]:
    """The value at the highest percentile with at least ten samples
    beyond it, and that percentile. With ten samples or fewer no such
    percentile exists; the maximum is reported as p100."""
    s = sorted(values)
    k = len(s) - 11 if len(s) > 10 else len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s)


def layer_metrics(spans: list[dict], cores: int, input_bytes: int) -> dict[str, float]:
    """Per-layer numbers of one traced pass (sums over its queries)."""
    from spans import duration, self_time

    def total(name: str) -> float:
        return sum(duration(s) for s in spans if s["name"] == name)

    def counted(key: str, names: tuple[str, ...] | None = None) -> float:
        return sum(
            s["spark"][key] for s in spans
            if "spark" in s and (names is None or s["name"] in names)
        )

    queries = [s for s in spans if s["name"] == "query"]
    wall = sum(duration(q) for q in queries)
    executor_s = counted("executor_ms") / 1000.0
    build = total("queries.build")
    return {
        "queries.build_s": build,
        "queries.build_jobs": counted("jobs", ("queries.build",)),
        "queries.build_frac": build / wall,
        "plans.plan_s": total("plans.plan"),
        "plans.hash_exchanges": sum(q.get("hash_exchanges", 0) for q in queries),
        "spark.run_s": total("spark.run"),
        "spark.jobs": counted("jobs"),
        "spark.stages": counted("stages"),
        "spark.tasks": counted("tasks"),
        "spark.tasks_failed": counted("tasks_failed"),
        "spark.executor_core_s": executor_s,
        "spark.core_busy_frac": executor_s / (wall * cores),
        "spark.shuffle_write_mb": counted("shuffle_write_bytes") / 1e6,
        "spark.shuffle_read_mb": counted("shuffle_read_bytes") / 1e6,
        "spark.spill_mb": counted("spill_bytes") / 1e6,
        "operators.persisted_rdds": sum(q.get("persisted_rdds", 0) for q in queries),
        "context.ddl_s": total("context.ddl"),
        "ddl.parse_s": total("ddl.parse"),
        "context.sql_s": total("context.sql"),
        "context.write_s": total("context.write"),
        "context.readback_s": total("context.readback"),
        "context.write_bytes_per_input_byte": (
            sum(q.get("write_bytes", 0) for q in queries) / input_bytes if input_bytes else 0.0
        ),
        "bench.query_self_s": sum(self_time(spans, q) for q in queries),
    }


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """Units of the end-to-end and per-layer metrics named in BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not (ROOT / "datafusion_archive_spark" / "__init__.py").is_file():
        print("perfbench: the program (datafusion_archive_spark/) is not in this checkout", file=sys.stderr)
        return 2
    units = metric_units()[1 if args.trace else 0]
    cores = min(len(os.sched_getaffinity(0)), MAX_CORES)
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_environment(run_dir, cores)
    sys.path.insert(0, str(ROOT))

    # -- set-up: process start → session ready ----------------------------
    from datafusion_archive_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", extra_conf={"spark.sql.warehouse.dir": str(run_dir / "warehouse")}
    )
    get_spark_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(1).count()
    warmup_s = time.perf_counter() - t0
    setup = {"setup_s": process_age_s(), "session.get_spark_s": get_spark_s, "session.warmup_s": warmup_s}

    try:
        lines = measure(args, spark, run_dir, cores, setup, units)
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print("\n".join(lines))
    return 0


def measure(args, spark, run_dir, cores, setup, units) -> list[str]:
    """Run the passes; return the output lines, the result last."""
    from spans import Tracer
    from workloads import NULL_TRACER, EtlWorkload, RegistryWorkload

    if args.workload == "sql_csv_etl":
        wl = EtlWorkload(spark, run_dir, args.seed, args.etl_rows)
        input_bytes = wl.input_bytes
    else:
        expected = json.loads(args.expected.read_text())[args.scale]
        wl = RegistryWorkload(spark, args.workload, HERE / "data" / args.scale, expected, args.seed)
        input_bytes = 0
    warm = WARM_PASSES[args.workload] or (1 if args.trace else 0)
    timed_passes = max(1, int(args.seconds // NOMINAL_PASS_S[args.workload]))
    traced_passes = 0
    if args.trace:  # alternate untraced and traced passes, as many of each
        timed_passes = traced_passes = max(1, timed_passes // 2)

    prepared_s = process_age_s()
    origin = time.perf_counter()
    noise_pre = None
    attempted = failed = 0
    failures: list[str] = []
    pass_walls = {False: [], True: []}  # traced? → timed pass walls
    tracers: list[Tracer] = []
    first_order: list[str] = []
    query_walls: dict[str, list[float]] = {}
    p = 0
    while True:
        timed = p >= warm
        if timed and noise_pre is None:
            noise_pre = host_noise(spark)
        traced = bool(args.trace) and timed and len(pass_walls[True]) < len(pass_walls[False])
        tracer = Tracer(spark, args.workload, p, origin) if traced else NULL_TRACER
        t0 = time.perf_counter()
        ops, check_s = wl.run_pass(tracer, timed=timed, check=(p == 0))
        wall = time.perf_counter() - t0 - check_s
        if p == 0:
            first_order = list(wl.order)
        if timed and not traced:
            for op in ops:
                if op.wall_s is not None:
                    query_walls.setdefault(op.query_id, []).append(op.wall_s)
        attempted += len(ops)
        for op in ops:
            if not op.ok:
                failed += 1
                failures.append(f"{op.query_id} (pass {p}): {op.error}")
        if timed:
            pass_walls[traced].append(wall)
            if traced:
                tracers.append(tracer)
        p += 1
        if len(pass_walls[False]) >= timed_passes and len(pass_walls[True]) >= traced_passes:
            break
    noise_post = host_noise(spark)
    peak_rss_mb = vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + vm_hwm_mb("self")

    op_walls = [w for walls in query_walls.values() for w in walls]
    tail_s, tail_pct = tail(op_walls)
    diag = {
        "workload": args.workload, "seed": args.seed, "cores": cores, **wl.describe(),
        "first_pass_order": first_order,
        "warm_passes": warm, "timed_pass_walls_s": pass_walls[False],
        "traced_pass_walls_s": pass_walls[True],
        "query_samples": len(op_walls), "query_tail_percentile": tail_pct,
        "query_walls_s": query_walls,
        "failed_frac": failed / attempted,
        "host_noise_before": noise_pre, "host_noise_after": noise_post,
        "process_age_s": {"workload_ready": prepared_s, "measured": process_age_s()},
    }
    lines = [f"# FAILED {line}" for line in failures]
    if args.trace:
        pass_s = statistics.median(pass_walls[False])
        per_pass = [layer_metrics(t.spans, cores, input_bytes) for t in tracers]
        values = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        values["session.get_spark_s"] = setup["session.get_spark_s"]
        values["session.warmup_s"] = setup["session.warmup_s"]
        values["process.peak_rss_mb"] = peak_rss_mb
        values["trace.overhead_frac"] = statistics.median(pass_walls[True]) / pass_s - 1.0
        traces = WORK / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        out = traces / f"{args.workload}-seed{args.seed}.json"
        spans = [s for t in tracers for s in t.spans]
        out.write_text(json.dumps({"diagnostics": diag, "spans": spans}) + "\n")
        for t in tracers:
            for q in (s for s in t.spans if s["name"] == "query"):
                mine = [s for s in t.spans if s is q or s["parent"] == q["id"]]
                row = layer_metrics(mine, cores, input_bytes)
                lines.append("# query " + json.dumps({"pass": q["pass"], "query": q["query_id"], **row}))
        diag["trace_file"] = str(out.relative_to(ROOT))
    else:
        values = {
            "setup_s": setup["setup_s"],
            "pass_s": statistics.median(pass_walls[False]),
            "query_p50_s": statistics.median(op_walls),
            "query_tail_s": tail_s,
        }
    lines.append("# diagnostics " + json.dumps(diag))
    missing = set(units) - set(values)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    lines.append(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return lines


if __name__ == "__main__":
    sys.exit(main())
