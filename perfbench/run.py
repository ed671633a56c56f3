#!/usr/bin/env python3
"""KG-construction benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of this repository. The run

1. starts a ``local[4]`` session through the program's own
   ``build_session``,
2. generates the workload's inputs from ``--seed`` and writes them as
   parquet,
3. warms up with one full pass (JIT, generated code, Python workers),
4. repeats measured passes until ``--seconds`` have elapsed (with
   ``--trace 1``: a traced and then an untraced pass),
5. checks every pass's outputs against the generator's planted truth and
   independent twins, and
6. prints one JSON object as its last line of output. With ``--trace 0``
   it holds the end-to-end metrics; with ``--trace 1`` it holds the
   per-layer metrics of the traced pass, and the span tree is written to
   ``.bench_out/``.

Everything the run writes stays under ``.bench_work/`` (removed at exit)
and ``.bench_out/`` in the checkout. Exit status is 0 when every check
passed, 1 when a check failed, 2 when the program is not there to run.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = 4
# stop starting passes after this long, so a slow host still exits in time
PASS_DEADLINE_S = 120.0

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "items_per_s": "1/s"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``; make
    the program importable by the driver and by Spark's Python workers."""
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def _start_session(work: Path):
    from cypher_guard_spark.spark.session import build_session

    spark = build_session(
        "perfbench",
        cores=CORES,
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # C1 only, so the figures are not the program's production
            # performance. With the full tiered JIT the pipeline was still
            # speeding up at the fifth pass (27, 10, 9.3, 7.5, 7.2 s at 1,500
            # docs on a 4-core host), longer than a run can afford to warm
            # up; with C1 it settles after the first (21, 7.2, 7.0, 6.5,
            # 6.5 s), so one warm-up pass is enough.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:TieredStopAtLevel=1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit; its Python
    workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _collect(spark) -> None:
    """Collect garbage in this Python process, then in the driver JVM: JVM
    objects are freed only once their Python proxies are gone. The JVM's
    System.gc() is a full, stop-the-world collection under G1."""
    gc.collect()
    spark._jvm.System.gc()


def _driver_mem_mb(spark) -> dict:
    """Driver memory (MB) at the end of a run, for the run record: the JVM
    heap in use right after a full collection, the JVM's non-heap pools in
    use (code cache, metaspace), and this Python process's peak RSS."""
    _collect(spark)
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return {
        "jvm_heap_after_gc": mx.getHeapMemoryUsage().getUsed() / 2**20,
        "jvm_non_heap": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
        "python_peak_rss": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }


def _cpu_ticks() -> tuple:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # guest time is already counted in user and nice
    return fields[7], sum(fields[:8])


def _steal_pct(before: tuple, after: tuple) -> float:
    return 100.0 * (after[0] - before[0]) / max(after[1] - before[1], 1)


def _spark_metrics(tracer) -> dict:
    t = tracer.totals(tracer.roots)
    return {
        "spark.jobs": t["jobs"],
        "spark.tasks": t["tasks"],
        "spark.shuffle_write_bytes": t["shuffle_write_bytes"],
        "spark.spill_bytes": t["spill_bytes"],
        "spark.python_worker_s": t["python_s"],
        "spark.task_skew": t["task_max_s"] / t["task_med_s"] if t["task_med_s"] else 1.0,
    }


def run(args, work: Path) -> tuple:
    from layers import PER_LAYER
    from spans import Tracer
    from workloads import WORKLOADS, Problems

    started = time.perf_counter()
    t = time.perf_counter()
    spark = _start_session(work)
    session_s = time.perf_counter() - t
    try:
        wl = WORKLOADS[args.workload](spark, str(work), args.seed)
        t = time.perf_counter()
        wl.make_inputs(str(work / "inputs"))
        input_s = time.perf_counter() - t
        problems = Problems()

        def one_pass(traced: bool):
            # start every pass from a collected heap: cached blocks and
            # shuffle files of earlier passes are released by Spark's
            # cleaner only after the JVM has collected their handles
            _collect(spark)
            tracer = Tracer(spark, traced)
            ticks = _cpu_ticks()
            res = wl.run_pass(tracer)
            res["steal_pct"] = _steal_pct(ticks, _cpu_ticks())
            tracer.harvest()
            checked = wl.check(res, problems)
            return tracer, res, checked

        t = time.perf_counter()
        _, res, _ = one_pass(False)
        wl.cleanup(res)
        # timed as wall_s times a pass: its checks are the benchmark's work
        warmup_s = res["wall_s"]
        warmup_checked_s = time.perf_counter() - t
        setup_s = session_s + input_s + warmup_s

        walls = {False: [], True: []}
        rates, steal = [], []
        # a traced run follows its traced pass with an untraced one: the
        # tracing overhead is the difference of the two
        schedule = [True, False] if args.trace else []
        measure_start = time.perf_counter()
        while True:
            traced = schedule.pop(0) if schedule else False
            tracer, res, checked = one_pass(traced)
            walls[traced].append(res["wall_s"])
            steal.append(res["steal_pct"])
            if traced:
                layer = dict(wl.layer_metrics(tracer, res, checked))
                layer.update(_spark_metrics(tracer))
                histogram = wl.error_histogram(res)
                layer["validate_udf.errors"] = sum(histogram.values())
                layer["validate_udf.error_codes"] = len(histogram)
                spans = tracer.to_json()
            else:
                rates.append(res["rate"])
            wl.cleanup(res)
            now = time.perf_counter()
            if args.trace:
                if not schedule:
                    break
            elif now - measure_start >= args.seconds or now - started > PASS_DEADLINE_S:
                break

        describe = wl.describe()
        memory = _driver_mem_mb(spark)
    finally:
        _stop(spark)

    untraced = statistics.median(walls[False])
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "inputs": describe,
        "passes": len(walls[False]) + len(walls[True]),
        "session_s": session_s,
        "input_setup_s": input_s,
        "warmup_s": warmup_s,
        "warmup_checked_s": warmup_checked_s,
        "pass_walls_s": walls[False],
        # host CPU time stolen by other tenants during each measured pass: a
        # comparison of two sets of runs is only fair at similar steal
        "pass_steal_pct": steal,
        "driver_mem_mb": memory,
        "checks_failed": problems.notes,
    }
    if args.trace:
        metrics = {}
        for name, unit in PER_LAYER.items():
            metrics[name] = {"value": layer.get(name, 0), "unit": unit}
        metrics["trace.overhead_s"]["value"] = statistics.median(walls[True]) - untraced
        info["traced_pass_walls_s"] = walls[True]
        info["error_code_histogram"] = histogram
        info["spans"] = spans
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": untraced,
            "items_per_s": statistics.median(rates),
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    result = {
        "correct": problems.failed == 0,
        "attempted": problems.attempted,
        "failed": problems.failed,
        "metrics": metrics,
    }
    return result, info


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / "cypher_guard_spark" / "pipeline").is_dir():
        print(f"perfbench: no cypher_guard_spark package under {ROOT}", file=sys.stderr)
        return 2
    for p in (str(HERE), str(ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    _prepare_env(work)
    try:
        result, info = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    kind = "trace" if args.trace else "run"
    (out_dir / f"{kind}-{args.workload}-{args.seed}.json").write_text(json.dumps(info, indent=1, default=str))
    info.pop("spans", None)
    print(json.dumps(info, default=str))
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    if info["checks_failed"]:
        print("FAILED CHECKS: " + "; ".join(info["checks_failed"]))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
