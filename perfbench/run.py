"""Benchmark of hooqu_spark's shipped path: the webtext pipeline
(``run_pipeline``) with its gating ``VerificationSuite``.

    python3 perfbench/run.py --workload pipeline_fresh --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  One driver process runs Spark
at ``local[<cores>]``, with ``<cores>`` the CPUs this process may use.
Set-up makes the inputs from ``--seed``, makes one cold pass whose
outputs become the reference, and warms up on the workload's own code
path for a fixed number of passes.  ``setup_s`` is the program's part
of that: Spark start, the cold pass and the warm-up passes.  The timed
loop then repeats passes for ``--seconds`` (at least three) and checks
every pass's outputs; a mismatch or an exception counts as a failed
operation.

``--trace 0`` reports the end-to-end metrics of untraced passes.
``--trace 1`` alternates untraced and traced passes and reports the
per-layer metrics of the traced ones (``spans.py``), with the tracing
overhead.  The last line of stdout is one JSON object.  All files go
under a temp root in the checkout that the run deletes.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MIN_PASSES = 3  # timed passes, whatever --seconds says
UNATTRIBUTED_MAX = 0.10  # share of a traced pass allowed outside any span


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_spark(tmp: str, cores: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(tmp, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def process_tree(pid: int) -> list:
    """A process and all its descendants: the driver JVM, the Python
    daemon and its workers."""
    children = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process just ended
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def reset_peak_rss(pid: int) -> None:
    """Set each process's peak resident set back to its current one."""
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue  # the process just ended


def peak_rss_mb(pid: int) -> float:
    """Summed peak resident set (``VmHWM``) of the process tree since
    the last ``reset_peak_rss``.  The kernel keeps each peak, so no
    short peak is missed between samples.  Pages a forked worker
    shares with the daemon count once per worker."""
    total_kb = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                total_kb += next(
                    int(line.split()[1]) for line in f if line.startswith("VmHWM:")
                )
        except (OSError, StopIteration):
            continue
    return total_kb / 1024


def timed_pass(workload, tracer=None):
    """One prepared, timed and checked pass: (seconds, errors, result)."""
    workload.prepare()
    # each pass starts from a collected heap in both processes
    gc.collect()
    workload.spark.sparkContext._jvm.System.gc()
    t = time.perf_counter()
    try:
        if tracer is None:
            result = workload.run()
        else:
            with tracer.patched():
                result = workload.run()
    except Exception:  # the pass failed: count it, keep measuring
        return time.perf_counter() - t, [traceback.format_exc()], None
    dt = time.perf_counter() - t
    try:
        errors = workload.check(result)
    except Exception:
        errors = [traceback.format_exc()]
    return dt, errors, result


COUNT_UNITS = {
    "checkpoint.files": "count",
    "checkpoint.bytes": "B",
    "lineage.state_log_bytes": "B",
    "pipeline.docs_enriched": "count",
}


def layer_metrics(s, counts, wall, rows, kernel_ms, cores):
    """Per-layer metrics of one traced pass from its span summary ``s``
    and the workload's on-disk ``counts``."""
    docs = counts["pipeline.docs_enriched"]
    write_s = s["checkpoint.write"]["total_s"]
    out = {
        "pipeline.spark_jobs": (s["pipeline.core"]["jobs"], "count"),
        "checkpoint.write_s": (write_s, "s"),
        "checkpoint.jobs": (s["checkpoint.write"]["jobs"], "count"),
        "enrich.boundary_s": (write_s - kernel_ms * docs / cores / 1000, "s"),
        "pipeline.resume_skip_ratio": ((rows - docs) / rows, "ratio"),
        "lineage.states_s": (s["lineage.states"]["total_s"], "s"),
        "lineage.states_jobs": (s["lineage.states"]["jobs"], "count"),
        "lineage.state_log_s": (s["lineage.state_log"]["total_s"], "s"),
        "lineage.merge_s": (s["lineage.merge"]["total_s"], "s"),
        "verification_suite.run_s": (s["verification_suite.run"]["total_s"], "s"),
        "verification_suite.jobs": (s["verification_suite.run"]["jobs"], "count"),
        "analyzers.runner.run_s": (s["analyzers.runner"]["total_s"], "s"),
        "analyzers.runner.jobs": (s["analyzers.runner"]["jobs"], "count"),
        "analyzers.runner.scan_s": (s["analyzers.runner"]["self_s"], "s"),
        "analyzers.grouping.frequency_s": (s["analyzers.grouping"]["total_s"], "s"),
        "analyzers.grouping.jobs": (s["analyzers.grouping"]["jobs"], "count"),
        "checks.evaluate_s": (s["checks.evaluate"]["total_s"], "s"),
        "trace.wall_s": (wall, "s"),
    }
    for name, agg in s.items():
        out[f"{name}.self_s"] = (agg["self_s"], "s")
        out[f"{name}.self_jobs"] = (agg["self_jobs"], "count")
        out[f"{name}.calls"] = (agg["calls"], "count")
    for name, unit in COUNT_UNITS.items():
        out[name] = (counts[name], unit)
    return out


def measure(spark, workload, seconds: float, trace: bool, kernel_ms: float, cores: int):
    """The timed loop.  Returns (attempted, failed, metrics)."""
    from perfbench.spans import Tracer

    walls, traced_walls, stored, rss, layers = [], [], [], [], []
    attempted = failed = 0
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or attempted < MIN_PASSES:
        tracer = Tracer(spark) if trace and attempted % 2 == 1 else None
        reset_peak_rss(jvm_pid)
        dt, errors, result = timed_pass(workload, tracer)
        attempted += 1
        if tracer is not None and result is not None:
            unattributed = dt - tracer.root_s()
            if abs(unattributed) > UNATTRIBUTED_MAX * dt:
                errors.append(f"{unattributed:.3f}s of {dt:.3f}s outside spans")
            m = layer_metrics(
                tracer.summary(), workload.counts(result), dt, workload.rows, kernel_ms, cores
            )
            m["trace.unattributed_s"] = (unattributed, "s")
            layers.append(m)
            traced_walls.append(dt)
        elif result is not None:
            walls.append(dt)
            rss.append(peak_rss_mb(jvm_pid))
            stored.append(workload.stored_bytes() / workload.rows)
        if errors:
            failed += 1
            log("pass failed:\n" + "\n".join(errors))
        log(f"pass {attempted - 1}{' traced' if tracer else ''}: {dt:.3f}s")
    if trace:
        metrics = {
            name: (statistics.median(m[name][0] for m in layers), layers[0][name][1])
            for name in layers[0]
        } if layers else {}
        if walls and traced_walls:
            metrics["trace.overhead_s"] = (
                statistics.median(traced_walls) - statistics.median(walls), "s"
            )
        metrics["pipeline.features.kernel_ms_per_doc"] = (kernel_ms, "ms")
        return attempted, failed, metrics
    if not walls:  # every pass failed: nothing to report
        return attempted, failed, {}
    wall = statistics.median(walls)
    return attempted, failed, {
        "wall_s": (wall, "s"),
        "rows_per_s": (workload.rows / wall, "1/s"),
        "peak_rss_mb": (statistics.median(rss), "MB"),
        "stored_bytes_per_row": (statistics.median(stored), "B/row"),
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    try:
        import hooqu_spark  # noqa: F401
    except ImportError as e:
        log(f"hooqu_spark is not importable from {ROOT}: {e}")
        return 2
    import bench
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2

    # SIGTERM unwinds through the finally blocks that stop Spark and
    # delete the temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=scratch)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # executors' Python workers import hooqu_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        spark = start_spark(tmp, cores)
        # set-up time is the program's: Spark start, the cold pass and
        # the warm-up passes.  Making inputs, calibrating the kernel and
        # checking outputs are the benchmark's own work and not in it.
        setup_s = time.perf_counter() - START
        log(f"spark up at {setup_s:.3f}s")
        try:
            kernel_ms = bench._kernel_ms_per_doc()
            workload = workloads.WORKLOADS[args.workload](spark, tmp, args.seed)
            workload.make_inputs()
            dt, errors, result = timed_pass(workload)
            if result is None:
                raise RuntimeError("cold pass failed:\n" + "\n".join(errors))
            workload.record(result)
            setup_s += dt
            log(f"cold pass: {dt:.3f}s")
            for i in range(workload.warmup_passes):
                dt, errs, _ = timed_pass(workload)
                errors += errs
                setup_s += dt
                log(f"warm-up pass {i}: {dt:.3f}s")
            log(f"set-up {setup_s:.3f}s, kernel {kernel_ms:.4f} ms/doc")
            attempted, failed, metrics = measure(
                spark, workload, args.seconds, bool(args.trace), kernel_ms, cores
            )
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass  # another run still uses it
    if errors:
        log("set-up check failed:\n" + "\n".join(errors))
    if not args.trace:
        metrics["setup_s"] = (setup_s, "s")
        print(f"calibration pipeline.features.kernel_ms_per_doc={kernel_ms:.6f} ms")
    print(json.dumps({
        "correct": not errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
