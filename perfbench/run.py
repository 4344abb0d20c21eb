"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics. The line before it is a ``{"detail": ...}`` object with the
environment, the input properties, every set-up sample and each
metric's quartiles and sample count; the same record is written to
``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest_ocr_heavy", "curation_queries")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def quartiles(values: list[float]) -> dict[str, float]:
    vals = sorted(values)
    if len(vals) >= 2:
        q1, q2, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = q2 = q3 = vals[0] if vals else 0.0
    return {"p25": q1, "p50": statistics.median(vals) if vals else 0.0, "p75": q3, "n": len(vals)}


def timed_loop(workload, spark, seconds: float, tracer) -> list[dict]:
    """Closed loop: one op at a time for ``seconds``. The next op starts
    only if it would be at least half done by the deadline, judged by
    the last op's wall, so the measured span straddles ``seconds``. With
    a tracer every other op is traced, starting untraced, so traced and
    untraced ops see the same warm-up trend. At least the workload's
    ``MIN_OPS`` run, and twice that with a tracer."""
    ops: list[dict] = []
    t_end = time.perf_counter() + seconds
    while (len(ops) < workload.MIN_OPS * (2 if tracer else 1)
           or time.perf_counter() + ops[-1]["wall_s"] / 2 < t_end):
        traced = tracer is not None and len(ops) % 2 == 1
        op = workload.op(spark, tracer if traced else None)
        if workload.exhausted:
            break
        op["traced"] = traced
        ops.append(op)
    return ops


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers import the package from the checkout; Spark and
    # Python temp files stay under the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no JVM performance-data files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


def _run(args: argparse.Namespace, work: str) -> int:
    t0 = time.perf_counter()
    import ocr_intern_spark.operators.extract  # noqa: F401  (package import is set-up)
    import pyspark.sql  # noqa: F401

    from perfbench import engine
    from perfbench.trace import EventLog, Tracer, engine_metrics, find_event_log, window
    from perfbench.workloads import SETUPS
    from perfbench.workloads import WORKLOADS as workload_classes

    if args.workload == "curation_queries":
        import __spark_entry__  # noqa: F401
    import_s = time.perf_counter() - t0

    workload = workload_classes[args.workload](args.seed, work)
    t0 = time.perf_counter()
    workload.generate()
    gen_s = time.perf_counter() - t0

    event_dir = os.path.join(work, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    conf = engine.spark_conf(work, event_dir)
    env = engine.environment(ROOT, args.seed, conf)
    env["recognizer_ms_per_ref"] = engine.recognizer_ms_per_ref()

    spark = None
    try:
        # set-up, several times: the first launches the JVM and the
        # SparkContext, the others open a new session on that context;
        # each ends with the workload's warm-up
        setups = []
        for k in range(SETUPS):
            t0 = time.perf_counter()
            spark = engine.start_session(conf) if spark is None else spark.newSession()
            workload.warm_up(spark, k)
            setups.append(time.perf_counter() - t0)
        app_id = spark.sparkContext.applicationId

        sampler = engine.RssSampler(engine.jvm_pid()).start()
        tracer = Tracer() if args.trace else None
        all_loop_ops = timed_loop(workload, spark, args.seconds, tracer)
        # end-to-end numbers come from untraced ops only; the traced ops'
        # rate against theirs is the tracing overhead
        ops = [o for o in all_loop_ops if not o["traced"]]
        traced_ops = [o for o in all_loop_ops if o["traced"]]
        loop_spans = [s for s in tracer.spans if s["parent"] is None] if tracer else []
        closing = workload.close(spark, tracer)
        peak_rss_mb = sampler.stop()
        all_ops = all_loop_ops + ([closing] if closing else [])

        t0 = time.perf_counter()
        attempted, failed, notes = workload.check(spark)
        check_s = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        engine.shutdown(spark)
        shutdown_s = time.perf_counter() - t0

    error_frac = failed / max(1, attempted)
    docs_per_s = workload.docs_per_s(ops)
    latency = workload.latency(ops)
    setup_s = import_s + statistics.median(setups)
    detail = {
        "workload": args.workload,
        "unit": workload.unit,
        "trace": args.trace,
        "seconds": args.seconds,
        "env": env,
        "inputs": workload.props,
        "import_s": import_s,
        "generate_s": gen_s,
        "setup_samples_s": setups,
        "check_s": check_s,
        "shutdown_s": shutdown_s,
        "timed_ops": len(all_loop_ops),
        "timed_wall_s": sum(o["wall_s"] for o in all_ops),
        "docs_per_s": docs_per_s,
        "increment_s": quartiles([o["wall_s"] for o in ops]),
        "increment_walls_s": [o["wall_s"] for o in ops],
        "increment_latency": latency,
        "error_frac": error_frac,
        "peak_rss_mb": peak_rss_mb,
        "check_notes": notes,
        "inputs_exhausted": workload.exhausted,
    }
    correct = failed == 0 and not workload.exhausted

    if args.trace:
        log = EventLog(find_event_log(event_dir, app_id))
        metrics_raw, problems = workload.layers(log, traced_ops, tracer)
        if sorted(metrics_raw) != sorted(workload.LAYER_METRICS):
            raise RuntimeError("per-layer metrics differ from LAYER_METRICS")
        for other in workload_classes.values():
            for name in other.LAYER_METRICS:
                metrics_raw.setdefault(name, 0.0)
        metrics_raw.update(engine_metrics(log, [window(s) for s in loop_spans],
                                          engine.slots(), len(traced_ops)))
        traced_docs_per_s = workload.docs_per_s(traced_ops)
        metrics_raw["trace.overhead_frac"] = (
            1.0 - traced_docs_per_s / docs_per_s if docs_per_s else 0.0
        )
        metrics_raw["check.error_frac"] = error_frac
        metrics_raw["mem.peak_rss_mb"] = peak_rss_mb
        detail["reconcile_problems"] = problems
        detail["traced_docs_per_s"] = traced_docs_per_s
        detail["spans"] = tracer.spans
        correct = correct and not problems
        metrics = {name: {"value": float(v), "unit": _unit(name)}
                   for name, v in sorted(metrics_raw.items())}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "docs_per_s": {"value": docs_per_s, "unit": "1/s"},
            "increment_p50_s": {"value": latency["p50"], "unit": "s"},
            "increment_tail_s": {"value": latency["tail"], "unit": "s"},
            "ok_frac": {"value": 1.0 - error_frac, "unit": "frac"},
        }
    env["loadavg_end"] = os.getloadavg()

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    record = {"detail": detail, "metrics": metrics}
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"detail": {k: v for k, v in detail.items() if k != "spans"}},
                     default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "storage.bytes_written":
        return "bytes"
    if name.endswith(("_frac", "_util", "_amp", "_skew")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
