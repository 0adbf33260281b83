"""okapi_spark benchmark: one command, two workloads, every answer checked.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. One process is one benchmark run: it
starts a ``local[nproc]`` session, prepares the workload's seeded input,
then repeats the workload's run while another whole run fits in
``--seconds`` (at least one). The first run is the first in a fresh
process, so it includes JIT and class-loading warm-up, as a one-shot
pipeline process does. With ``--trace 0`` it prints the end-to-end
metrics; with ``--trace 1`` it makes one traced run and prints the
per-layer metrics. The last line of standard output is the JSON result.

``--smoke`` runs every workload once, traced and untraced, at a tiny
size in one process and asserts that every metric named in
``BENCHMARK.json`` is emitted with its unit.

All scratch files (Spark local dirs, staged CSR blocks, checkpoints,
generated inputs) live under ``.bench_build/`` in the checkout and are
removed at exit.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def driver_heap_mb() -> int:
    """An eighth of physical memory, within [1, 3] GiB: the package's
    48g default heap gets the JVM killed on a small box."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(1024, min(3072, total_mb // 8))
    raise RuntimeError("no MemTotal in /proc/meminfo")


def box_env(work: str) -> int:
    """Point every scratch location at ``work`` and size the session to
    the box; returns the core count. Must run before pyspark starts."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    heap = f"{driver_heap_mb()}m"
    os.environ["OKAPI_DRIVER_MEM"] = heap
    # the session's default JVM options, a private temp dir, and the
    # whole heap committed up front, so peak RSS does not depend on
    # when the collector chose to grow the heap
    os.environ["OKAPI_JVM_OPTS"] = (
        f"-XX:+AlwaysPreTouch -Xms{heap} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return cores


def start_session(cores: int):
    from okapi_spark import get_spark

    spark = get_spark(cores=cores, shuffle_partitions=cores, app_name="okapi_perfbench")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_workload(b, name: str, seed: int, seconds: float, trace: bool,
                 sizes, start_s: float, wall0: float, cpu0: float) -> dict:
    """Set up and measure one workload in session ``b``."""
    import workloads as W

    setup, run = W.WORKLOADS[name]
    b.tracer.enabled = trace
    setup(b, seed, sizes)
    import tracing

    # set-up is charged in CPU seconds, like the runs; its wall is traced
    setup_s = tracing.tree_cpu_s() - cpu0
    setup_wall_s = time.perf_counter() - wall0
    print(f"[perfbench] {name} setup {setup_wall_s:.2f}s cpu={setup_s:.2f}s "
          f"(session {start_s:.2f}s)", file=sys.stderr)
    runs = []
    m0 = time.perf_counter()
    while True:
        runs.append(run(b, sizes))
        r = runs[-1]
        print(f"[perfbench] {name} run {len(runs)}: {r.wall_s:.3f}s cpu={r.cpu_s:.2f}s "
              f"calls={r.attempted()} failed={r.failed()} box={r.box} "
              + " ".join(f"{k}={v.wall_s:.2f}" for k, v in r.segments.items()),
              file=sys.stderr)
        if trace or time.perf_counter() - m0 + r.wall_s > seconds:
            break
    b.refs.clear()
    attempted = sum(r.attempted() for r in runs)
    failed = sum(r.failed() for r in runs)
    if trace:
        metrics = W.per_layer(b, runs[0], start_s, setup_wall_s)
        units = dict(W.LAYER_METRICS)
    else:
        metrics = W.end_to_end(runs, setup_s, tracing.jvm_peak_rss_mb(b.spark))
        units = dict(W.END_TO_END)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def check_names(result: dict, spec: list[dict], label: str) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise AssertionError(f"{label}: metrics {sorted(set(got) ^ set(want))} "
                             f"or units differ from BENCHMARK.json")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="flagship")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)
    import tracing
    import workloads as W

    if not args.smoke and args.workload not in W.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(W.WORKLOADS)}")
    work = os.path.join(REPO, ".bench_build", f"perfbench-{os.getpid()}")
    spark = None
    try:
        cores = box_env(work)
        t0 = time.perf_counter()
        spark = start_session(cores)
        start_s = time.perf_counter() - t0
        b = W.Bench(spark, work, cores, REPO)
        if args.smoke:
            with open(os.path.join(REPO, "BENCHMARK.json")) as f:
                spec = json.load(f)
            for name in W.WORKLOADS:
                for trace in (0, 1):
                    res = run_workload(b, name, args.seed, 0.0, bool(trace), W.SMOKE_SIZES,
                                       start_s, time.perf_counter(), tracing.tree_cpu_s())
                    check_names(res, spec["per_layer" if trace else "end_to_end"],
                                f"{name} trace={trace}")
                    if not res["correct"]:
                        raise AssertionError(f"{name} trace={trace}: {res['failed']} failed")
                    print(f"[perfbench] smoke {name} trace={trace}: ok", file=sys.stderr)
            result = {"correct": True, "attempted": 1, "failed": 0, "metrics": {}}
        else:
            result = run_workload(b, args.workload, args.seed, args.seconds, bool(args.trace),
                                  W.BENCH_SIZES, start_s, PROCESS_T0, 0.0)
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            build = os.path.dirname(work)
            if os.path.isdir(build) and not os.listdir(build):
                os.rmdir(build)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
