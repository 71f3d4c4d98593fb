"""Benchmark entry point: one seeded workload, one process, one client in a
closed loop on local[<nproc>]. Run from the repository root:

    python3 perfbench/run.py --workload ingest_qalert --seed 1 --seconds 5 --trace 0

Workloads: ingest_qalert, curation_corpus (see
BENCHMARK.json and perfbench/NOTES.md). The last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. A fuller
record (samples, percentiles, checks, nproc, host probe) and, for traced
runs, every span go to .perfbench/out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def tail_percentile(samples: list[float]) -> dict | None:
    """Highest percentile with at least ten samples beyond it, if any."""
    n = len(samples)
    if n < 11:
        return None
    beyond = 10
    pct = int(100 * (n - beyond) / n)
    ordered = sorted(samples)
    return {"p": pct, "value": ordered[min(n - 1, -(-pct * n // 100) - 1)], "samples": n}


def _prepare_env(work: str, cores: int, traced: bool) -> dict:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    conf = {
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:  # keep every job and stage until the tracer has read them
        conf["spark.ui.retainedJobs"] = conf["spark.ui.retainedStages"] = "100000"
    return conf


def _heap(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]


def _calib(spark) -> float:
    """bench.py's data-free host probe, shortened: whole-stage-codegen
    xxhash64 over a 100M-id range."""
    t0 = time.perf_counter()
    spark.range(100_000_000).selectExpr("bit_xor(xxhash64(id)) AS x").collect()
    return time.perf_counter() - t0


def _peak_rss_mb() -> float:
    """Peak resident memory of the JVM plus this Python process."""
    import resource

    from pyspark import SparkContext

    jvm_kb = 0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("data_rivers_spark/session.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            return _fail(f"{need} not found: run from a full checkout of the repository")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    import workloads
    from spans import Tracer

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        return _fail(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")

    cores = len(os.sched_getaffinity(0))
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    conf = _prepare_env(work, cores, bool(args.trace))

    from data_rivers_spark.plans import registry
    from data_rivers_spark.session import get_spark

    registry.load_all()
    spark = None
    try:
        # -- set-up, repeated: generated inputs + Spark context ----------------
        # The first repetition also launches the JVM and, beside it, computes
        # the reference answers; it is the slowest, so the median leaves it out.
        setups, reference = [], {}
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            state = wl.generate(work, args.seed)
            ref = wl.start_reference(state, reference) if rep == 0 else None
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
            if ref is not None:
                ref.join()
            setups.append(time.perf_counter() - t0)

        tracer = Tracer(spark, cores)
        if args.trace:
            tracer.install(registry.QUERIES)

        # -- warm-up: one untimed, checked operation, so that the timed ones
        # run on a warm JVM (JIT-compiled code, generated classes).
        warm = wl.run_op(spark, state, tracer)
        problems = wl.check(spark, state, reference, warm)
        warm.outputs = None

        # -- timed closed loop; outputs checked between operations ---------------
        # The number of operations is fixed by --seconds, not however many
        # fit: each of the first timed operations still runs faster than the
        # one before it (the JIT keeps compiling), so a count that followed
        # the host's speed would move the median with it. In a traced run
        # every timed operation is traced.
        n_ops = max(1, int(args.seconds // wl.op_share_s))
        pools = _heap(spark)
        for p in pools:
            p.resetPeakUsage()
        results, check_s = [], 0.0
        t_begin = time.perf_counter()
        for i in range(n_ops):
            tracer.on, tracer.op = bool(args.trace), i
            res = wl.run_op(spark, state, tracer)
            res.op, tracer.on = tracer.op, False
            t0 = time.perf_counter()
            problems += wl.check(spark, state, reference, res)
            check_s += time.perf_counter() - t0
            res.outputs = None
            results.append(res)
        timed_s = time.perf_counter() - t_begin
        peak_heap_mb = sum(p.getPeakUsage().getUsed() for p in pools) / 2**20
        peak_rss_mb = _peak_rss_mb()
        calib_s = _calib(spark)

        samples = [s for r in results for s in r.samples]
        attempted = sum(r.attempted for r in (warm, *results))
        failed = sum(len(r.failed) for r in (warm, *results))
        extra: dict[str, list[float]] = {}
        for r in results:
            for k, v in r.extra.items():
                extra.setdefault(k, []).extend(v)

        if not args.trace:
            # each timed unit (batch or query) is the same work in every
            # operation: the median of each, summed, is a typical operation
            op_s = sum(statistics.median(unit) for unit in zip(*(r.samples for r in results)))
            metrics = {
                "op_s": (op_s, "s"),
                "rows_per_s": (statistics.median(r.rows for r in results) / op_s, "1/s"),
                "setup_s": (statistics.median(setups), "s"),
            }
        else:
            metrics, trace_problems = _layer_report(tracer, results, extra)
            problems += trace_problems
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"), t_begin)

        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": cores, "calib_s": calib_s, "setup_s": setups, "check_s": check_s,
            "timed_s": timed_s, "warmup_s": warm.samples, "samples": samples, "tail": tail_percentile(samples),
            "peak_rss_mb": peak_rss_mb, "peak_heap_mb": peak_heap_mb,
            "attempted": attempted, "failed": failed,
            "failed_ratio": failed / attempted if attempted else 1.0,
            "leaked_rdds": sum(r.leaked_rdds for r in (warm, *results)),
            "extra": extra, "problems": problems,
            "metrics": {k: v for k, (v, _) in metrics.items()},
        }
        with open(os.path.join(out_dir, f"record-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
            json.dump(record, f, indent=1)
        for p in problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
        summary = {
            "correct": not problems and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(summary))
    return 0


def _layer_report(tracer, results: list, extra: dict) -> tuple[dict, list[str]]:
    """Per-layer metrics of the first timed operation (two ingest batches or
    one query pass), plus the checks on the spans themselves."""
    from spans import unit

    first = results[0]
    ops = [first.op]
    problems = tracer.coverage_problems(first.roots)
    layer = tracer.layer_metrics(ops)
    wall = sum(first.samples)

    def mean(key: str) -> float:
        vals = extra.get(key, [])
        return sum(vals) / len(vals) if vals else 0.0

    in_bytes = sum(extra.get("input_bytes", []))
    in_lines = sum(extra.get("input_lines", []))
    layer.update({
        "catalog.bytes_written_mb": mean("bytes_written") / 2**20,
        "catalog.rows_rewritten_per_input_row": tracer.output_rows("catalog", ops) / first.rows if in_bytes else 0.0,
        "catalog.write_amp": sum(extra.get("bytes_written", [])) / in_bytes if in_bytes else 0.0,
        "catalog.stored_bytes_per_row": mean("stored_bytes_per_row"),
        "catalog.readback_s": statistics.median(extra["readback_s"]) if "readback_s" in extra else 0.0,
        "sources.quarantined_ratio": sum(extra.get("quarantined", [])) / in_lines if in_lines else 0.0,
        # the traced wall over the same wall without the tracer's own span
        # bookkeeping (its py4j job-group calls included)
        "trace_overhead": wall / (wall - tracer.costs.get(first.op, 0.0)),
    })
    return {k: (v, unit(k)) for k, v in layer.items()}, problems


if __name__ == "__main__":
    sys.exit(main())
