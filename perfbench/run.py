#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload web_audit --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository.  The run

1. generates (or reuses) the seeded inputs under ``.perfbench/inputs``;
2. starts a Spark session pinned to this machine's cores and registers
   the inputs (``setup_s``);
3. runs the workload's job once in the fresh session (``cold_job_s``),
   then its untimed warm-up jobs, then timed warm jobs for ``--seconds``
   and at least MIN_WARM_JOBS of them (``job_s`` is their median);
4. checks every job's outputs against the generator's expectations;
5. prints one human-readable line per metric, then, as the last line,
   one JSON object: end-to-end metrics with ``--trace 0``, per-layer
   metrics with ``--trace 1`` (Spark event log on, spans recorded).

Exits non-zero without a result when the program cannot be imported or
the session cannot start.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

from tracing import EventLog, PeakRss, Tracer, union_length  # noqa: E402

# Warm jobs keep getting faster for a while, as the JVM compiles the
# driver's planning code and the Python workers start: with one warm-up
# job the timed jobs were still falling.
WARMUP_JOBS = 2
MIN_WARM_JOBS = 3
SHUFFLE_PARTITIONS_PER_CORE = 2
DRIVER_MEMORY = "3g"
CACHED_INPUTS_KEPT = 8  # per dataset

END_TO_END_UNITS = {"setup_s": "s", "job_s": "s", "docs_per_s": "1/s",
                    "cold_job_s": "s", "peak_rss_mb": "MB"}


def ensure_dataset(name: str, seed: int, rows: int):
    """(data_dir, expectations) of one generated dataset, cached per
    (dataset, seed, rows)."""
    base = os.path.join(STATE, "inputs")
    path = os.path.join(base, f"{name}-seed{seed}-rows{rows}")
    if not os.path.exists(os.path.join(path, "expect.json")):
        os.makedirs(base, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f".{name}-", dir=base)
        os.rmdir(tmp)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), name,
                        str(seed), str(rows), tmp], check=True)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        cached = sorted((e for e in os.scandir(base)
                         if e.name.startswith(f"{name}-seed")),
                        key=lambda e: e.stat().st_mtime)
        for old in cached[:-CACHED_INPUTS_KEPT]:
            shutil.rmtree(old.path, ignore_errors=True)
    with open(os.path.join(path, "expect.json")) as fh:
        return os.path.join(path, "data"), json.load(fh)


def pin_environment(run_dir: str, trace: bool) -> tuple[int, dict]:
    """Cores, scratch dirs and worker import path for this run; returns
    (cores, Spark conf overrides)."""
    cores = len(os.sched_getaffinity(0))
    dirs = {d: os.path.join(run_dir, d)
            for d in ("local", "tmp", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_WAREHOUSE"] = dirs["warehouse"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # every JVM, the spark-submit launcher included: temporary files in
    # the run directory, and no perf-data file (it ignores java.io.tmpdir)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData")
    # Python workers import the program to run the row-check UDFs
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    conf = {
        # a fixed, pre-touched heap: the JVM's resident set and GC work
        # no longer depend on how far the heap happened to grow
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + dirs["eventlog"],
                     "spark.eventLog.rolling.enabled": "true",
                     "spark.eventLog.compress": "false"})
    return cores, conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def catalyst_phases(frames) -> dict:
    """Catalyst phases of the validation frames, summed over them, each
    re-run in a fresh QueryExecution over its logical plan and timed
    here: a frame's own tracker (``queryExecution().tracker().phases()``)
    records whole milliseconds only."""
    out = dict.fromkeys(("catalyst.analysis_ms", "catalyst.optimization_ms",
                         "catalyst.planning_ms", "plan.optimized_chars",
                         "jsoncol.python_engine"), 0)
    for frame in frames:
        jvm = frame.sparkSession._jvm
        qe = frame.sparkSession._jsparkSession.sessionState().executePlan(
            frame._jdf.queryExecution().logical(),
            jvm.org.apache.spark.sql.execution.CommandExecutionMode.ALL())
        t0 = time.perf_counter()
        qe.assertAnalyzed()
        t1 = time.perf_counter()
        optimized = qe.optimizedPlan()
        t2 = time.perf_counter()
        executed = qe.executedPlan()
        t3 = time.perf_counter()
        out["catalyst.analysis_ms"] += 1000 * (t1 - t0)
        out["catalyst.optimization_ms"] += 1000 * (t2 - t1)
        out["catalyst.planning_ms"] += 1000 * (t3 - t2)
        out["plan.optimized_chars"] += len(optimized.toString())
        out["jsoncol.python_engine"] += int(
            "ArrowEvalPython" in executed.toString())
    return out


def run_jobs(wl, tracer, seconds: float, out_root: str):
    """The cold job, WARMUP_JOBS untimed warm-up jobs, then timed warm
    jobs for ``seconds`` and at least MIN_WARM_JOBS of them; every job is
    checked.  Returns (cold_s, warm-up s list, warm s list, attempted,
    failed)."""
    failed = 0
    times: list[float] = []

    def one(it, timed):
        nonlocal failed
        out_dir = os.path.join(out_root, f"it{it}")
        os.makedirs(out_dir)
        with tracer.span("job", it=it, timed=timed):
            t0 = time.perf_counter()
            try:
                out, errors = wl.job(it, out_dir), []
            except Exception:
                out, errors = None, [traceback.format_exc()]
            elapsed = time.perf_counter() - t0
        errors = errors or wl.check(out)
        if errors:
            failed += 1
            for e in errors:
                print(f"MISMATCH {wl.name} job {it}: {e}", file=sys.stderr)
        shutil.rmtree(out_dir, ignore_errors=True)
        times.append(elapsed)

    untimed = 1 + WARMUP_JOBS
    for it in range(untimed):
        one(it, False)
    start = time.perf_counter()
    while (len(times) < untimed + MIN_WARM_JOBS
           or time.perf_counter() - start < seconds):
        one(len(times), True)
    return (times[0], times[1:untimed], times[untimed:], len(times),
            failed)


def layer_metrics(tracer: Tracer, log: EventLog, wl, table_bytes: int,
                  catalyst: dict) -> dict:
    """Per-layer metrics of each warm job, reduced to their medians."""
    per_job = []
    for job in tracer.spans:
        if job["name"] != "job" or not job["timed"]:
            continue
        lo, hi = job["start"], job["end"]
        jobs = log.jobs_in(lo, hi)
        ids = set(jobs)
        job_iv = [(j["start"], j["end"]) for j in jobs.values()]
        wall_ms = 1000 * (hi - lo)
        spark_ms = 1000 * union_length(job_iv, lo, hi)

        def spans(name):
            """Spans of that name in this job, not nested in another of
            the same name (``compile_plan`` calls the wrapped
            ``compile_plan_for_column``)."""
            return [s for s in tracer.within(job, name)
                    if tracer.spans[s["parent"]]["name"] != name]

        def span_ms(name):
            return sum(1000 * (s["end"] - s["start"]) for s in spans(name))

        compile_iv = [(s["start"], s["end"]) for n in
                      ("columnar.compile", "rowcheck.compile")
                      for s in spans(n)]
        compile_ms = 1000 * union_length(compile_iv, lo, hi)
        overlap = [(max(a, c), min(b, d)) for a, b in job_iv
                   for c, d in compile_iv]
        python_compile_ms = compile_ms - 1000 * union_length(overlap, lo, hi)
        # validate_json_column time outside the compile call and Spark
        # jobs: mostly eager analysis of each withColumn over the rules
        frame_ms = sum(1000 * (b - a - union_length(compile_iv + job_iv, a, b))
                       for a, b in ((s["start"], s["end"])
                                    for s in spans("jsoncol.build")))
        # the JSON workload holds its validation frames, so their Catalyst
        # time lies inside this job; the audit's frames are internal
        catalyst_ms = sum(catalyst[k] for k in (
            "catalyst.analysis_ms", "catalyst.optimization_ms",
            "catalyst.planning_ms")) if wl.frames else 0.0
        input_bytes = log.scan_bytes(lo, hi)
        ops_nodes = []
        for s in tracer.spans:
            if s["name"].startswith("ops.") and lo <= s["start"] <= hi:
                ops_nodes += log.plan_nodes(s["start"], s["end"])
        rules = [s["rules"] for s in spans("columnar.compile") if "rules" in s]
        m = {
            "job_ms": wall_ms,
            "self.spark_jobs_ms": spark_ms,
            "self.python_compile_ms": python_compile_ms,
            "self.jsoncol_frame_ms": frame_ms,
            "self.catalyst_ms": catalyst_ms,
            "self.driver_other_ms": (wall_ms - spark_ms - python_compile_ms
                                     - frame_ms - catalyst_ms),
            "driver.gap_ms": wall_ms - spark_ms,
            "spark.jobs": len(ids),
            "spark.tasks": log.task_count(ids),
            "rowcheck.compile_ms": span_ms("rowcheck.compile"),
            "columnar.compile_ms": span_ms("columnar.compile"),
            "jsoncol.build_ms": span_ms("jsoncol.build"),
            "plan.rules": sum(rules),
            "exec.run_ms": log.task_sum(ids, "run_ms"),
            "exec.cpu_ms": log.task_sum(ids, "cpu_ms"),
            "exec.gc_ms": log.task_sum(ids, "gc_ms"),
            "exec.input_bytes": input_bytes,
            "scan.amplification": input_bytes / table_bytes,
            "python_udf.ms": log.task_sum(ids, "python_ms"),
            "io.output_rows": log.task_sum(ids, "output_rows"),
            "io.output_bytes": log.task_sum(ids, "output_bytes"),
            "audit.run_ms": span_ms("audit.run"),
            "audit.units_validated": sum(s["units"] for s in
                                         spans("audit.run")),
            "resume.units_validated": sum(s["units"] for s in
                                          spans("audit.resume")),
            "audit.resume_ms": span_ms("audit.resume"),
            "resume.input_bytes": sum(log.scan_bytes(s["start"], s["end"])
                                      for s in spans("audit.resume")),
            "shuffle.write_bytes": log.task_sum(ids, "shuffle_write"),
            "shuffle.read_bytes": log.task_sum(ids, "shuffle_read"),
            "spill.bytes": log.task_sum(ids, "spill"),
            "ops.uniqueness_ms": span_ms("ops.uniqueness"),
            "ops.orphans_ms": span_ms("ops.orphans"),
            "ops.chisq_ms": span_ms("ops.chisq"),
            "ops.ks_ms": span_ms("ops.ks"),
            "ops.profile_ms": span_ms("ops.profile"),
            "ops.exchanges": sum(n == "Exchange" for n in ops_nodes),
            "ops.broadcast_joins": sum(n.startswith("BroadcastHashJoin")
                                       or n.startswith("BroadcastNestedLoop")
                                       for n in ops_nodes),
        }
        per_job.append(m)
    out = {k: statistics.median(j[k] for j in per_job) for k in per_job[0]}
    # self times come from one job, the median one, so that they add up
    typical = sorted(per_job, key=lambda j: j["job_ms"])[(len(per_job) - 1) // 2]
    out.update({k: v for k, v in typical.items()
                if k.startswith("self.") or k == "job_ms"})
    return out


def install_wrappers(tracer: Tracer) -> list:
    """Spans around the compile layers that run inside program calls."""
    import spark_schema_guard.columnar.compiler as compiler
    import spark_schema_guard.jsoncol as jsoncol
    import spark_schema_guard.rowcheck as rowcheck

    def count_rules(rec, plan):
        rec["rules"] = len(plan.rules)

    return [
        tracer.wrap(rowcheck, "compile_row_validator", "rowcheck.compile"),
        tracer.wrap(jsoncol, "compile_row_validator", "rowcheck.compile"),
        tracer.wrap(compiler, "compile_plan_for_column", "columnar.compile",
                    on_result=count_rules),
    ]


def measure(args, wl_cls, inputs, run_dir) -> dict:
    try:
        from spark_schema_guard.session import build_session
    except ImportError as exc:
        raise SystemExit(f"cannot import the program: {exc}")

    trace = bool(args.trace)
    cores, conf = pin_environment(run_dir, trace)
    tracer = Tracer(f"{args.workload}-seed{args.seed}-{int(time.time())}",
                    enabled=trace)
    undo = install_wrappers(tracer) if trace else []
    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = build_session(app_name=f"perfbench-{args.workload}",
                              cores=cores,
                              shuffle_partitions=SHUFFLE_PARTITIONS_PER_CORE
                              * cores,
                              extra_conf=conf)
        t1 = time.perf_counter()
        try:
            wl = wl_cls(spark, tracer, inputs)
            wl.register()
            t2 = time.perf_counter()
            spark.sparkContext.setLogLevel("ERROR")
            out_root = os.path.join(run_dir, "out")
            cold, warmup, warm, attempted, failed = run_jobs(
                wl, tracer, args.seconds, out_root)
            catalyst = {}
            if trace:
                catalyst = catalyst_phases(
                    wl.frames or wl.probe_frames(out_root))
            peak_mb = rss.peak_mb()
        finally:
            stop_spark(spark)
    for u in undo:
        u()

    job_s = statistics.median(warm)
    res = {
        "setup_s": t2 - t0,
        "job_s": job_s,
        "docs_per_s": wl.docs / job_s,
        "cold_job_s": cold,
        "peak_rss_mb": peak_mb,
    }
    info = {"cores": cores, "warmup": warmup, "warm": warm, "docs": wl.docs,
            "failed_frac": failed / attempted}
    if not trace:
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": res, "info": info}

    log = EventLog(os.path.join(run_dir, "eventlog"))
    table_bytes = sum(_parquet_bytes(d) for d, _ in inputs.values())
    layers = layer_metrics(tracer, log, wl, table_bytes, catalyst)
    layers.update(catalyst)
    layers["session.start_ms"] = 1000 * (t1 - t0)
    layers["scan.table_bytes"] = table_bytes
    layers["trace.job_ms"] = layers.pop("job_ms")
    os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
    tracer.dump(os.path.join(STATE, "traces", tracer.run_id + ".json"))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": layers, "info": info, "end_to_end": res}


def _parquet_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files if f.endswith(".parquet"))
    return total


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "spark_schema_guard",
                                       "__init__.py")):
        print(f"spark_schema_guard not found under {ROOT}: run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    wl_cls = WORKLOADS.get(args.workload)
    if wl_cls is None:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    inputs = {name: ensure_dataset(name, args.seed, rows)
              for name, rows in wl_cls.datasets.items()}
    os.makedirs(STATE, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=STATE)
    try:
        result = measure(args, wl_cls, inputs, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    info = result.pop("info")
    e2e = result.pop("end_to_end", None) or result["metrics"]
    print(f"# {args.workload} seed={args.seed} cores={info['cores']} "
          f"docs/job={info['docs']} trace={args.trace}")
    print(f"# warm-up job times (s): "
          f"{' '.join(f'{t:.3f}' for t in info['warmup'])}")
    print(f"# warm job times (s): "
          f"{' '.join(f'{t:.3f}' for t in info['warm'])}")
    for name, value in e2e.items():
        print(f"{name} = {value:.6g} {END_TO_END_UNITS[name]}")
    print(f"failed_frac = {info['failed_frac']:.6g} "
          f"({result['failed']}/{result['attempted']} jobs)")
    if args.trace:
        for name, value in sorted(result["metrics"].items()):
            print(f"{name} = {value:.6g} {_unit(name)}")
    result["metrics"] = {
        name: {"value": value, "unit": _unit(name)}
        for name, value in result["metrics"].items()}
    print(json.dumps(result))
    return 0


def _unit(name: str) -> str:
    if name in END_TO_END_UNITS:
        return END_TO_END_UNITS[name]
    if name.endswith("_ms") or name.endswith(".ms"):
        return "ms"
    if name.endswith("_bytes") or name.endswith(".bytes"):
        return "bytes"
    if name in ("scan.amplification",):
        return "ratio"
    if name == "plan.optimized_chars":
        return "chars"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
