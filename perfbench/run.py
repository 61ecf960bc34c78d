#!/usr/bin/env python3
"""Benchmark of the etl_mini_spark engine, measured from outside.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed under ``perfbench/_work``, starts a ``local[4]`` session, runs the
workload's passes until ``--seconds`` is used (always at least one full
pass) and checks every output. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics from spans with
``--trace 1``. The line before it is the full report (environment, every
op, checks); the same report and the spans are written to the work dir.

Exit codes: 0 on a completed run (even one with failed ops, which the
result line counts), 2 when the engine package is not next to the
benchmark, 3 when the run overran its time limit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
RUN_LIMIT_S = 170
WORKLOADS = ("sql_analytics", "incremental_etl")

def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def prepare_env() -> None:
    """Keep every file Spark, Python workers and temp helpers write under
    the work dir, and let Python workers import the engine."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TZ"] = "UTC"
    time.tzset()


def setup(cfg: dict, workload: str) -> tuple[object, dict]:
    """Session up and the workload's registry imported; timed from
    process start."""
    s = cfg["session"]
    t0 = time.perf_counter()
    from etl_mini_spark.session import get_spark

    spark = get_spark(
        s["app_name"], cpus=s["cores"], shuffle_partitions=s["shuffle_partitions"],
        extra_conf={
            "spark.driver.memory": s["driver_memory"],
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
        },
    )
    t1 = time.perf_counter()
    importlib.import_module(cfg[workload]["module"])
    t2 = time.perf_counter()
    return spark, {"setup_s": process_age_s(), "get_spark_s": t1 - t0, "import_s": t2 - t1}


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def tree_state() -> dict[str, tuple[int, int]]:
    """Every file of the checkout outside the work dir and build dirs."""
    skip = {".git", ".bench_build", "__pycache__"}
    out = {}
    for dirpath, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if d not in skip and Path(dirpath, d) != WORK]
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.lstat(p)
            out[os.path.relpath(p, ROOT)] = (st.st_size, st.st_mtime_ns)
    return out


def environment(spark) -> dict:
    from pyspark import __version__ as spark_version

    sha = None
    if (ROOT / ".git").exists():
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        sha = res.stdout.strip() or None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": loadavg(),
        "spark": spark_version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": sha,
    }


def layer_metrics(spans_, setup_times: dict, passes: list[float], io: dict | None) -> dict:
    """Per-layer metrics per pass, from span self times and counters."""
    from spans import self_times

    own = self_times(spans_)
    n_pass = max(1, len(passes))
    agg: dict[str, dict] = {}
    for s in spans_:
        a = agg.setdefault(s.name, {"calls": 0, "s": 0.0})
        a["calls"] += 1
        a["s"] += own[s.id]
        for k, v in s.counters.items():
            a[k] = a.get(k, 0) + v

    def get(layer, key):
        return agg.get(layer, {}).get(key, 0) / n_pass

    m = {
        "session.get_spark_s": setup_times["get_spark_s"],
        "session.import_s": setup_times["import_s"],
        "readers.calls": get("readers", "calls"),
        "readers.s": get("readers", "s"),
        "readers.jobs": get("readers", "jobs"),
        "build.s": get("build", "s"),
        "build.jobs": get("build", "jobs"),
        "plan.s": get("plan", "s"),
        "plan.exchanges": get("plan", "exchanges"),
        "exec.s": get("exec", "s"),
        "exec.jobs": get("exec", "jobs"),
        "exec.stages": get("exec", "stages"),
        "exec.tasks": get("exec", "tasks"),
        "exec.scan_bytes": get("exec", "scan_bytes"),
        "exec.shuffle_read_bytes": get("exec", "shuffle_read_bytes"),
        "exec.shuffle_write_bytes": get("exec", "shuffle_write_bytes"),
        "exec.spill_bytes": get("exec", "spill_bytes"),
        "exec.python_s": get("exec", "python_s"),
        "exec.python_boot_s": get("exec", "python_boot_s"),
        "exec.result_rows": get("exec", "result_rows"),
        "pipeline.build_plan_s": get("pipeline.build_plan", "s"),
        "pipeline.require_source_s": get("pipeline.require_source", "s"),
        "upsert.s": get("upsert", "s"),
        "upsert.jobs": get("upsert", "jobs"),
        "upsert.bytes_written": get("upsert", "bytes_written"),
        "upsert.target_rows": (io or {}).get("target_rows", 0),
        "upsert.rewrite_ratio": (get("upsert", "rows_written") / get("upsert", "source_rows")
                                 if get("upsert", "source_rows") else 0),
        "checkpoint.read_s": get("checkpoint.read", "s"),
        "checkpoint.commit_s": get("checkpoint.commit", "s"),
        "checkpoint.jobs": get("checkpoint.read", "jobs") + get("checkpoint.commit", "jobs"),
        "trace.pass_s": sum(passes) / n_pass,
    }
    return m


def install_wrappers(tracer) -> None:
    import etl_mini_spark.plans.checkpoint as checkpoint
    import etl_mini_spark.plans.pipeline as pipeline
    import etl_mini_spark.sources.readers as readers

    for fn in ("read_parquet", "read_parquet_ts_range"):
        tracer.wrap_everywhere(readers, fn, "readers", "etl_mini_spark")
    tracer.wrap(pipeline, "build_plan", "pipeline.build_plan")
    tracer.wrap(pipeline, "require_source", "pipeline.require_source")
    tracer.wrap(pipeline, "upsert_parquet", "upsert")
    tracer.wrap(checkpoint.CheckpointTable, "last_window_end", "checkpoint.read")
    tracer.wrap(checkpoint.CheckpointTable, "commit", "checkpoint.commit")


def run(args) -> int:
    cfg = json.loads((HERE / "workloads.json").read_text())
    wl = cfg[args.workload]
    prepare_env()
    t = time.perf_counter()
    tree_before = tree_state()
    walk_s = time.perf_counter() - t
    spark, setup_times = setup(cfg, args.workload)
    setup_times["setup_s"] -= walk_s  # the tree walk is the benchmark's, not set-up
    env = environment(spark)

    import workloads as W
    from datagen import gen_stream, gen_tables, build_stream, last_write_wins
    from spans import Tracer, median, tail_percentile

    phases = {"setup": setup_times["setup_s"]}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    work = WORK / f"{args.workload}-{args.seed}"
    shutil.rmtree(work, ignore_errors=True)
    tracer = None
    if args.trace:
        tracer = Tracer(spark.sparkContext)
        install_wrappers(tracer)

    io = None
    if args.workload == "sql_analytics":
        tables = work / "tables"
        gen_tables(tables, args.seed, wl["sf"])
        phase("inputs")
        passes, ops, results = W.run_sql(spark, cfg, wl, tables, args.seed, args.seconds, tracer)
    else:
        stream_dir = work / "stream"
        days = gen_stream(stream_dir, args.seed, **wl["stream"])
        phase("inputs")
        passes, ops, finals, io = W.run_incremental(spark, cfg, wl, stream_dir, days, work,
                                                   args.seconds, tracer)
    phase("measure")
    rss = {"python_mb": peak_rss_mb(), "jvm_mb": peak_rss_mb(jvm_pid())}
    if tracer is not None:
        tracer.unwrap()

    if args.workload == "sql_analytics":
        problems, notes = W.check_sql(results, ops, tables)
    else:
        expected = last_write_wins(build_stream(args.seed, **wl["stream"]), days[-1]["end"],
                                   wl["expected_keep"])
        problems, notes = W.check_incremental(finals, expected, ops), []
    phase("check")
    stop_spark(spark)
    for sub in ("tables", "stream", "sink"):
        shutil.rmtree(work / sub, ignore_errors=True)

    phase("stop")
    tree_after = tree_state()
    # Reported, not failed: whoever runs the benchmark may put its own
    # logs in the checkout while the run is going.
    stray = sorted(k for k in tree_before.keys() | tree_after.keys()
                   if tree_before.get(k) != tree_after.get(k))
    if stray:
        print(f"perfbench: files in the checkout changed during the run: {stray[:20]}", file=sys.stderr)

    lat = [o["s"] for o in ops]
    failed = sum(1 for o in ops if "error" in o)
    env["loadavg_end"] = loadavg()
    tail = tail_percentile(lat)
    e2e = {
        "setup_s": (setup_times["setup_s"], "s"),
        "pass_s": (median(passes), "s"),
        "op_p50_s": (median(lat), "s"),
        "op_tail_s": (tail["value"] if tail else None, "s"),
        "peak_rss_mb": (rss["python_mb"] + rss["jvm_mb"], "MB"),
        "fail_frac": (failed / len(ops), "ratio"),
    }
    if io is not None:
        e2e["rows_per_s"] = (io["source_rows"] / sum(passes), "1/s")
        e2e["write_amp"] = ((io["target_bytes"] + io["checkpoint_bytes"]) / io["source_bytes"], "ratio")
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "op_tail": tail, "peak_rss": rss, "io": io,
        "env": env, "phases": phases, "setup": setup_times, "passes": passes,
        "problems": problems, "notes": notes, "stray_writes": stray, "ops": ops,
    }
    if args.trace:
        values = layer_metrics(tracer.spans, setup_times, passes, io)
        (work / "spans.json").write_text(json.dumps(tracer.dump()))
    else:
        values = {k: v for k, (v, _unit) in e2e.items()}
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer" if args.trace else "end_to_end"]
    if not {m["name"] for m in declared} <= set(values):
        raise RuntimeError(f"metrics {sorted(values)} lack some named in BENCHMARK.json")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    report["metrics"] = metrics
    (work / "report.json").write_text(json.dumps(report, default=str))
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": not problems, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "etl_mini_spark").is_dir() or not (ROOT / "tests" / "oracle_harness.py").is_file():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.dont_write_bytecode = True

    def overrun():
        print(f"perfbench: run exceeded {RUN_LIMIT_S}s", file=sys.stderr, flush=True)
        pid = jvm_pid() if "pyspark" in sys.modules else None
        if pid:
            os.kill(pid, 9)
        os._exit(3)

    watchdog = threading.Timer(RUN_LIMIT_S, overrun)
    watchdog.daemon = True
    watchdog.start()
    try:
        return run(args)
    finally:
        watchdog.cancel()


if __name__ == "__main__":
    sys.exit(main())
