"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload extract_pages --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout: the package is imported from there and the
Python workers get the same root on PYTHONPATH. A run

1. starts a Spark session sized to this host (cores from the CPU affinity
   mask, a driver heap that fits in memory) through the package's own
   `session.get_spark`;
2. sets up: generates the seeded inputs, loads them (three times; the median
   counts) and runs the workload's untimed warm-up. `setup_s` is session
   start + generation + median load + warm-up;
3. computes the reference outputs (untimed, not part of `setup_s`);
4. repeats passes until the timed passes add up to `--seconds`, checking
   each pass's outputs after its clock stops.

With `--trace 0` the JSON carries the end-to-end metrics of BENCHMARK.json.
With `--trace 1` untraced and traced passes alternate, and the JSON carries
the per-layer metrics; the spans and Spark jobs of the run are written to
`.perfbench_work/traces/`. Everything the run writes stays under
`.perfbench_work/` in the checkout. Exits non-zero without printing a
result if anything fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path[:0] = [HERE, ROOT]

from procs import RssSampler, descendants, wait_gone  # noqa: E402


def driver_heap_mib() -> int:
    """An eighth of physical memory, at most 2 GiB. Both workloads fit in
    well under 1 GiB of heap; a larger cap only lets the JVM's resident size
    wander with its heap-growth decisions (at 4 GiB, peak_rss_mb moved by
    20% between runs of the same input)."""
    with open("/proc/meminfo") as f:
        total_kib = next(int(ln.split()[1]) for ln in f
                         if ln.startswith("MemTotal:"))
    return min(2048, total_kib // 8192)


def configure_env(run_dir: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    `run_dir`, and put the checkout on the workers' PYTHONPATH (workers
    started outside the repo root cannot import the package otherwise)."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_heap_mib()}m"
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java_opts),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(
            f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"),
        "pyspark-shell",
    ])


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and the Python workers it
    started, and wait until every one of them has exited."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    children = descendants()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        if gateway.proc is not None:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
    wait_gone(children, timeout=30)


def timed(fn) -> float:
    t0 = perf_counter()
    fn()
    return perf_counter() - t0


def run(args, run_dir: str) -> dict:
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.session import (  # noqa: E501, PLC0415
        get_spark,
    )

    from tracing import Tracer, covered_seconds, instrument  # noqa: PLC0415
    from workloads import WORKLOADS  # noqa: PLC0415

    contract = load_contract()
    cores = len(os.sched_getaffinity(0))
    t0 = perf_counter()
    spark = get_spark("perfbench", cores=cores)
    session_s = perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, args.scale, run_dir,
                                      cores)
        gen_s = timed(wl.generate)
        load_s = statistics.median(timed(wl.load) for _ in range(3))
        warm_s = timed(wl.warm_up)
        setup_s = session_s + gen_s + load_s + warm_s
        ref_s = timed(wl.reference)
        print(json.dumps({"session_s": session_s, "gen_s": gen_s,
                          "load_s": load_s, "warm_s": warm_s,
                          "reference_s": ref_s}), file=sys.stderr)

        attempted = failed = 0

        def one_pass(tracer=None):
            nonlocal attempted, failed
            wl.before_pass()
            if tracer is None:
                t = perf_counter()
                out = wl.run_pass()
                wall = perf_counter() - t
                root = None
            else:
                with instrument(tracer), tracer.span("pass") as root:
                    out = wl.run_pass(tracer)
                wall = root.seconds
            a, b = wl.check(out)
            attempted, failed = attempted + a, failed + b
            return wall, out, root

        if not args.trace:
            walls = []
            with RssSampler() as rss:
                while sum(walls) < args.seconds:
                    walls.append(one_pass()[0])
            wall_s = statistics.median(walls)
            metrics = {
                "wall_s": wall_s,
                "docs_per_s": wl.docs / wall_s,
                "extract_bytes_per_s": wl.out_bytes / wall_s,
                "setup_s": setup_s,
                "peak_rss_mb": rss.peak_mib,
            }
            names = contract["end_to_end"]
        else:
            run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
            tracer = Tracer(spark, run_id)
            # one untimed pass first, so bare and traced passes both run in
            # a warm JVM (curate has no warm-up of its own)
            one_pass()
            bare, traced = [], []
            while not traced or sum(bare) + sum(traced) < args.seconds:
                # alternate which goes first: passes still speed up as the
                # JVM warms, which would bias a fixed order
                for with_trace in (len(bare) % 2, not len(bare) % 2):
                    if with_trace:
                        wall, out, root = one_pass(tracer)
                        traced.append(wall)
                    else:
                        bare.append(one_pass()[0])
            metrics, a, b = wl.layers(tracer, root, out,
                                      statistics.median(bare))
            attempted, failed = attempted + a, failed + b
            jobs = tracer.jobs(tracer.subtree(root))
            stages = tracer.stages(jobs)
            metrics.update({
                "spark.jobs": len(jobs),
                "spark.tasks": sum(s.num_tasks for s in stages),
                "spark.task_s": sum(s.run_s for s in stages),
                "spark.driver_gap_s": root.seconds - covered_seconds(
                    jobs, root.start, root.end),
                "fail_frac": failed / attempted,
                "trace.overhead_s": (statistics.median(traced)
                                     - statistics.median(bare)),
            })
            names = contract["per_layer"]
            trace_dir = os.path.join(WORK, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{run_id}.json"), jobs,
                        workload=args.workload, seed=args.seed)
    finally:
        stop_spark(spark)

    want = {m["name"] for m in names}
    if set(metrics) != want:
        raise RuntimeError(f"metric set mismatch: missing "
                           f"{sorted(want - set(metrics))}, extra "
                           f"{sorted(set(metrics) - want)}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]],
                                "unit": m["unit"]} for m in names},
    }


def main(argv=None) -> None:
    from workloads import WORKLOADS  # noqa: PLC0415

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="timed pass seconds to accumulate")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test shrinks it)")
    args = ap.parse_args(argv)
    run_dir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    configure_env(run_dir)
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
