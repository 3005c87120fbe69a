"""Benchmark of the engine, one workload per process.

    python3 perfbench/run.py --workload api_log_job --seed 1 --seconds 30 --trace 0

Run it from the root of a checkout.  It starts a Spark session on
``local[<cores>]``, stages the workload's inputs from ``--seed``, times
its passes, checks their outputs and prints, as its last line, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones (``job_cpu_s``,
``setup_s``, ``heap_live_mb``); with ``--trace 1`` they are the
per-layer ones, and the spans are written under ``.perfbench_work/``.
Everything the run writes stays under ``.perfbench_work/`` in the
checkout.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import spans as spanlib

T0 = time.perf_counter()
STEAL_AT_T0 = spanlib.host_steal_s()


def _process_age_s() -> float:
    """Seconds since this process started (interpreter start included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)


AGE_AT_T0 = _process_age_s()

SCALES = {
    "full": {  # the corpus at its default, reference-sized shape
        "api_log_job": {},
        "model_grid": {"depths": (2, 5), "impurities": ("entropy", "gini"), "regs": (0.1,),
                       "svm_auc_floor": 0.9},
    },
    "smoke": {
        "api_log_job": {"n_clean": 12, "n_virus": 14, "lines": 30},
        "model_grid": {"n_clean": 60, "n_virus": 70, "lines": 60, "depths": (2,),
                       "impurities": ("gini",), "regs": (0.1,),
                       "svm_auc_floor": 0.8},
    },
}
# Nominal seconds of one timed pass at local[4]; ``--seconds`` buys
# ``seconds // PASS_S`` passes (at least one), at either scale, so a
# given ``--seconds`` always runs the same number of passes.  Passes are timed cold, in a
# fresh JVM, as a spark-submit user runs the reference jobs: a warm-up
# pass would not fit the run budget.
PASS_S = 30.0

LAYERS = {
    "api_log_job": (
        "sources.api_logs.read_api_logs",
        "sources.api_logs.api_log_tokens",
        "operators.features.info_gain_ranking",
        "operators.vectorize.doc_vectors",
        "operators.vectorize.libsvm_text",
        "operators.vectorize.dense_feature_array",
        "sources.sinks.write_report_text",
        "ml.pipeline.kmeans_assign",
        "operators.entropy_score.weighted_average_entropy",
        "operators.report.sample_api_structs",
        "operators.report.report_lines",
        "operators.report.d3_tree",
    ),
    "model_grid": (
        "ml.pipeline.dt_auc_grid",
        "ml.pipeline.svm_auc_grid",
        "ml.metrics.exact_auc",
    ),
}
LAYER_METRICS = {
    "build_s": "s", "exec_s": "s", "jobs": "count", "stages": "count",
    "stages_skipped": "count", "tasks": "count", "shuffle_mb": "MB", "spill_mb": "MB",
}
RUN_METRICS = {
    "session.get_spark_s": "s",
    "operators.caching.tracked_caches": "count",
    "operators.caching.cached_storage_mb": "MB",
    "jvm.gc_s": "s",
    "jvm.gc_count": "count",
    "host.steal_s": "s",
    "trace.job_s": "s",
    "known_defect.universal_api_ig_failed": "count",
}
END_TO_END = {"job_cpu_s": "s", "setup_s": "s", "heap_live_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    units = {}
    for layers in LAYERS.values():
        for layer in layers:
            for metric, unit in LAYER_METRICS.items():
                units[f"{layer}.{metric}"] = unit
    units.update(RUN_METRICS)
    return units


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(LAYERS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full",
                   help="smoke: tiny inputs and one pass, for the self-tests")
    p.add_argument("--corrupt", action="store_true",
                   help="damage each pass's output before its check (self-tests)")
    return p.parse_args(argv)


def _engine_init(root: str) -> str:
    pkg = os.path.join(root, "big_data_virus_analysis_spark", "__init__.py")
    if not os.path.isfile(pkg):
        raise SystemExit(f"perfbench: no engine package at {os.path.dirname(pkg)}; "
                         "run from the root of a checkout")
    return pkg


def _import_engine(root: str):
    """The engine must come from this checkout, not from anywhere else."""
    pkg = _engine_init(root)
    sys.path.insert(0, root)
    import big_data_virus_analysis_spark as engine

    if os.path.realpath(engine.__file__) != os.path.realpath(pkg):
        raise SystemExit(f"perfbench: engine imported from {engine.__file__}, not {pkg}")


def _stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # still alive after 30 s: kill and reap it
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def probe_known_defect(spark) -> tuple[str | None, str | None]:
    """Run the universal-API information gain once.  Returns
    ``(known_defect, error)``: the known defect is the engine's
    DIVIDE_BY_ZERO; any other exception, or a result that differs from
    the reference (IG 0 for the universal API), is an error."""
    import workloads

    try:
        got = workloads.universal_api_ig(spark)
    except Exception as e:
        msg = " ".join(str(e).split())
        if "DIVIDE_BY_ZERO" in msg:
            return msg[:200], None
        traceback.print_exc()
        return None, f"universal-API probe raised {type(e).__name__}: {msg[:200]}"
    want = workloads.universal_api_ig_reference()
    if got.keys() != want.keys() or any(abs(got[t] - want[t]) > 1e-6 for t in want):
        return None, f"universal-API probe returned {got}, reference {want}"
    return None, None


def _layer_values(spans, layers) -> dict[str, float]:
    """Per-layer metrics of one pass: build and exec time plus the
    counters of both spans."""
    out = {}
    for layer in layers:
        vals = dict.fromkeys(LAYER_METRICS, 0.0)
        for s in spans:
            if s.name == f"{layer}.build":
                vals["build_s"] += s.end - s.start
            elif s.name == f"{layer}.exec":
                vals["exec_s"] += s.end - s.start
            else:
                continue
            for k, v in s.counters.items():
                vals[k] += v
        for k, v in vals.items():
            out[f"{layer}.{k}"] = v
    return out


def run(args: argparse.Namespace, root: str) -> dict:
    _engine_init(root)
    work_root = os.path.join(root, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    _import_engine(root)

    from big_data_virus_analysis_spark.operators.caching import release_tracked_caches
    from big_data_virus_analysis_spark.session import get_spark

    import workloads

    cores = len(os.sched_getaffinity(0))  # what nproc reports
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cpus=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    })
    get_spark_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        scale = SCALES[args.scale][args.workload]
        n_passes = max(1, int(args.seconds // PASS_S))
        tracer = spanlib.Tracer(spark, enabled=bool(args.trace))
        layers = workloads.Layers(tracer)
        wl = workloads.WORKLOADS[args.workload](spark, layers, work, args.seed, scale)
        t = time.perf_counter()
        wl.setup(n_passes)
        stage_s = time.perf_counter() - t
        setup_wall_s = AGE_AT_T0 + time.perf_counter() - T0
        setup_cpu_s = spanlib.tree_cpu_s()
        setup_steal_s = spanlib.host_steal_s() - STEAL_AT_T0

        pass_s, pass_cpu_s, pass_steal_s = [], [], []
        errors, outputs, per_pass, storage, tracked, check_s = [], [], [], [], 0, 0.0
        failed = 0
        for i in range(n_passes):
            first_span = len(tracer.spans)
            cpu0 = spanlib.tree_cpu_s()
            st0 = spanlib.host_steal_s()
            t = time.perf_counter()
            try:
                result = wl.run_pass(i)
            except Exception:  # a failed pass is counted, the run goes on
                traceback.print_exc()
                failed += 1
                errors.append(f"pass {i} raised")
                continue
            finally:
                storage.append(layers.storage_mb)
            pass_s.append(time.perf_counter() - t)
            pass_cpu_s.append(spanlib.tree_cpu_s() - cpu0)
            pass_steal_s.append(spanlib.host_steal_s() - st0)
            per_pass.append(_layer_values(tracer.spans[first_span:], LAYERS[args.workload]))
            tracked += release_tracked_caches()
            if args.corrupt:
                wl.corrupt(result)
            outputs.append(wl.describe(result))
            t = time.perf_counter()
            errs = wl.check(i, result)
            check_s += time.perf_counter() - t
            if errs:
                failed += 1
                errors.extend(f"pass {i}: {e}" for e in errs)

        defect = None
        probe_ops = 1 if args.workload == "api_log_job" else 0
        if probe_ops:
            defect, err = probe_known_defect(spark)
            if err:
                failed += 1
                errors.append(err)
        jvm = spanlib.jvm_memory_and_gc(spark)
        if args.trace:
            tracer.dump(os.path.join(work_root, "spans", f"{args.workload}-{args.seed}.jsonl"))
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if not pass_s:
        raise SystemExit(f"perfbench: no timed pass of {args.workload} completed: {errors}")
    job_s = statistics.median(pass_s)
    if args.trace:
        metrics = dict.fromkeys(per_layer_units(), 0.0)
        for key in per_pass[0] if per_pass else ():
            metrics[key] = statistics.median(p[key] for p in per_pass)
        metrics.update({
            "session.get_spark_s": get_spark_s,
            "operators.caching.tracked_caches": float(tracked),
            "operators.caching.cached_storage_mb": max(storage, default=0.0),
            "jvm.gc_s": jvm["gc_s"],
            "jvm.gc_count": jvm["gc_count"],
            "host.steal_s": statistics.median(pass_steal_s),
            "trace.job_s": job_s,
            "known_defect.universal_api_ig_failed": float(defect is not None),
        })
        units = per_layer_units()
    else:
        metrics = {"job_cpu_s": statistics.median(pass_cpu_s), "setup_s": setup_cpu_s,
                   "heap_live_mb": jvm["heap_live_mb"]}
        units = END_TO_END
    summary = {
        "workload": args.workload, "passes": n_passes, "job_s": job_s, "pass_s": pass_s,
        "pass_cpu_s": pass_cpu_s, "pass_host_steal_s": pass_steal_s,
        "heap_old_peak_mb": jvm["heap_old_peak_mb"], "gc_s": jvm["gc_s"],
        "setup_cpu_s": setup_cpu_s, "setup_wall_s": setup_wall_s,
        "setup_host_steal_s": setup_steal_s, "get_spark_s": get_spark_s, "stage_s": stage_s,
        "check_s": check_s, "outputs": outputs, "errors": errors, "known_defect": defect,
        "error_rate": (failed + (defect is not None)) / (n_passes + probe_ops),
    }
    print("perfbench " + json.dumps(summary))
    return {
        "correct": not errors and len(pass_s) == n_passes,
        "attempted": n_passes + probe_ops,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    args = _parse(sys.argv[1:] if argv is None else argv)
    result = run(args, os.getcwd())
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
