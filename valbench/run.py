"""Validation benchmark: one workload per run, every output checked.

    python3 valbench/run.py --workload validate_clean --seed 1 --seconds 5 --trace 0

Run from the repository root (the package ``data_validator_guard_spark``
must sit next to ``valbench/``). The run

1. generates (or reuses) the seeded parquet input and its expected results
   with DuckDB, before any JVM starts;
2. sets up once, in a fresh JVM: ``get_session``, input check, warm-up
   scan (``setup_s``; one sample, see README.md for why);
3. runs the first, cold iteration (``cold_job_s``), then warm iterations
   for ``--seconds`` (at least ``MIN_WARM``; a traced run alternates
   traced and untraced warm iterations and runs at least one of each);
4. prints each metric as ``name value unit`` and, last, one JSON line
   ``{"correct", "attempted", "failed", "metrics"}`` holding the
   end-to-end metrics (``--trace 0``) or the per-layer ones (``--trace 1``).

Everything it writes lives under ``.valbench/`` at the repository root:
cached inputs in ``inputs/``, span files in ``traces/``, and a per-run
scratch directory under ``runs/`` that is deleted when the run ends.
See valbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".valbench")
MIN_WARM = 1
# half of session.DEFAULT_CONFS' 8g: the host is shared, and with 8g a
# 1M-row defect_heavy_ledger run grew the JVM to 6.3 GB RSS while the heap
# live after a full collection stayed under 1.2 GB
DRIVER_MEMORY = "4g"

# the metric names and units come from BENCHMARK.json, the benchmark's definition
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")


def _session_confs(input_bytes: int, run_dir: str) -> dict[str, str]:
    cpus = os.cpu_count() or 1
    split = max(1 << 20, input_bytes // (2 * cpus))
    return {
        "spark.sql.shuffle.partitions": str(2 * cpus),
        # ~2 scan tasks per core whatever the input size
        "spark.sql.files.maxPartitionBytes": str(split),
        "spark.sql.files.openCostInBytes": str(min(split, 4 << 20)),
        # fixed here so SPARK_GRAFT_DRIVER_MEM cannot change what is
        # measured; no -Xms, so the heap grows only as the run needs it
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }


def _start_session(confs: dict[str, str]):
    from data_validator_guard_spark.session import get_session

    spark = get_session("valbench", master=f"local[{os.cpu_count() or 1}]", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit, so no process
    of this run outlives it. The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _jvm_heap_after_gc_mb(spark) -> float:
    """Heap still in use after a full collection: what the run left live
    (cached blocks, broadcasts, listener state)."""
    # Python garbage in reference cycles can still hold py4j handles that
    # keep JVM objects alive until Python's collector runs
    gc.collect()
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    # blocks of broadcasts and shuffles the collection found unreferenced
    # are removed by Spark's ContextCleaner thread; let it run, collect again
    for _ in range(2):
        time.sleep(0.5)
        jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "data_validator_guard_spark")):
        print(f"valbench: package data_validator_guard_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    out_root = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every temporary file of Python, Spark and the JVM stays in run_dir
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    try:
        return _run(args, run_id, run_dir, out_root)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_id: str, run_dir: str, out_root: str) -> int:
    import inputs
    from tracing import Tracer
    from workloads import WORKLOADS, Layers

    if args.workload not in WORKLOADS:
        print(f"valbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)

    t = time.perf_counter()
    inp = inputs.prepare(WORK, wl.name, wl.rows, args.seed, wl.defects, wl.with_cleaning)
    input_s = time.perf_counter() - t
    src = os.path.join(inp, "source.parquet")
    input_bytes = os.path.getsize(src)
    confs = _session_confs(input_bytes, run_dir)

    tracer = Tracer(run_id, enabled=bool(args.trace))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_session(confs)
        session_s = time.perf_counter() - t0
        if not os.path.exists(os.path.join(inp, "done")):
            raise RuntimeError(f"input cache entry {inp} is incomplete")
        n = spark.read.parquet(src).count()
        if n != wl.rows:
            raise RuntimeError(f"input has {n} rows, expected {wl.rows}")
        wl.open(spark, inp)
        setup_s = time.perf_counter() - t0

        os.makedirs(out_root, exist_ok=True)
        layers = Layers(spark, tracer)
        plain = Layers(spark, Tracer(run_id, enabled=False))
        iters, traced_wall, untraced_wall = [], [], []
        errors = 0
        t_end = None
        k = 0
        while True:
            # a traced run alternates traced and untraced warm iterations
            # (T U T U ...) so the tracing overhead is measured on the same
            # seed and JVM
            traced = bool(args.trace) and k > 0 and (k - 1) % 2 == 0
            with tracer.span("iteration") if traced else contextlib.nullcontext():
                try:
                    it = wl.iterate(k, layers if traced else plain, out_root)
                except Exception:
                    traceback.print_exc()
                    it = None
            if it is None or it.errors:
                errors += 1
                for e in it.errors if it else ["iteration raised"]:
                    print(f"valbench: iteration {k}: {e}", file=sys.stderr)
                # the time of a wrong answer is not a measurement
                it = None
            iters.append(it)
            if it is not None and k > 0:
                (traced_wall if traced else untraced_wall).append(it.wall_s)
            k += 1
            if t_end is None:
                t_end = time.perf_counter() + args.seconds
            elif time.perf_counter() >= t_end and k - 1 >= (2 if args.trace else MIN_WARM):
                break
        if args.trace and hasattr(wl, "families"):
            wl.families(layers)
        rss_mb = _jvm_peak_rss_mb(spark)
        heap_mb = _jvm_heap_after_gc_mb(spark)
    finally:
        if spark is not None:
            _stop_jvm(spark)

    attempted = len(iters)
    cold = iters[0]
    warm = [i for i in iters[1:] if i is not None]
    if cold is None or not warm:
        print(f"valbench: {errors} of {attempted} iterations failed; no clean cold and warm "
              "iteration left to measure", file=sys.stderr)
        return 1
    job_s = statistics.median(i.wall_s for i in warm)
    e2e = {
        "setup_s": setup_s,
        "cold_job_s": cold.wall_s,
        "job_s": job_s,
        "rows_per_s": wl.rows / job_s,
        "verdicts_s": statistics.median(i.verdicts_s for i in warm),
        "violations_per_s": warm[-1].violation_rows / job_s,
    }
    report = dict(e2e)
    report["jvm_heap_after_gc_mb"] = heap_mb
    report["jvm_peak_rss_mb"] = rss_mb
    report["error_rate"] = errors / attempted
    report["write_amp"] = warm[-1].bytes_written / input_bytes

    if args.trace:
        layer = {m["name"]: 0.0 for m in spec["per_layer"]}
        layer["session.get_session_s"] = session_s
        for name in {sp.name for sp in tracer.spans} - {"iteration"}:
            layer[f"{name}_s"] = statistics.median(tracer.durations(name))
        traced_iters = len(tracer.durations("iteration"))
        for key in ("engine.spark_jobs", "ledger.spark_jobs", "cleaning.spark_jobs"):
            prefix = key.split(".")[0] + "."
            layer[key] = sum(
                n for name, n in layers.jobs.items()
                if name.startswith(prefix) and not name.startswith("engine.family.")
            ) / traced_iters
        layer.update(warm[-1].counts)
        layer["write_amp"] = report["write_amp"]
        layer["jvm_heap_after_gc_mb"] = heap_mb
        layer["jvm_peak_rss_mb"] = rss_mb
        layer["error_rate"] = report["error_rate"]
        if traced_wall and untraced_wall:
            layer["trace.overhead_share"] = (
                statistics.median(traced_wall) / statistics.median(untraced_wall) - 1.0
            )
        report.update(layer)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.write(
            os.path.join(WORK, "traces", f"{run_id}.json"),
            {"per_layer": layer, "traced_job_s": traced_wall, "untraced_job_s": untraced_wall},
        )
        for name, s in sorted(tracer.self_times().items()):
            print(f"self_s[{name}] {s:.4f} s")

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(f"workload {wl.name} seed {args.seed} rows {wl.rows} input_bytes {input_bytes} "
          f"input_prepare_s {input_s:.3f} warm_samples {len(warm)} attempted {attempted}")
    print("iteration_wall_s " + " ".join(f"{i.wall_s:.3f}" if i else "failed" for i in iters))
    for name, value in report.items():
        print(f"{name} {value:.6g} {units[name]}")
    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    print(json.dumps({
        "correct": errors == 0,
        "attempted": attempted,
        "failed": errors,
        "metrics": {m["name"]: {"value": report[m["name"]], "unit": m["unit"]} for m in chosen},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
