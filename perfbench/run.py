"""Benchmark of the ETL engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it records the pinned environment and the
load average. Inputs, Spark scratch, results and traces stay under
``perfbench/.work``. A wrong output is printed to standard error, makes
``correct`` false and the exit code 1. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: the warm-up query, run on the committed base tables in the set-up
WARMUP_QUERY = "q01_pricing_summary"


def pin_env() -> dict[str, str]:
    """Pin what the engine reads from the environment, before pyspark
    starts a JVM; returns the settings for the result record."""
    cpus = min(4, os.cpu_count() or 1)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # every JVM, the launcher too: temp files in the checkout, no perf-data files
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(pinned)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR: in-query artifacts stay in the checkout
    sys.path[:0] = [ROOT, HERE]
    return pinned


def build_fs_counter() -> str:
    """Compile ``benchfs.CountingLocalFileSystem`` once per checkout."""
    import pyspark

    src = os.path.join(HERE, "fscount", "benchfs", "CountingLocalFileSystem.java")
    out = os.path.join(WORK, "build", "classes")
    stamp = os.path.join(out, ".built")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= os.path.getmtime(src):
        return out
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    subprocess.run(
        ["javac", "-nowarn", "-d", out, "-cp", jars, src],
        check=True, stdout=sys.stderr, stderr=sys.stderr,
    )
    open(stamp, "w").close()
    return out


def spark_conf(classes: str) -> dict[str, str]:
    big = "1000000"
    return {
        "spark.driver.extraClassPath": classes,
        "spark.hadoop.fs.file.impl": "benchfs.CountingLocalFileSystem",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.retainedJobs": big,
        "spark.ui.retainedStages": big,
        "spark.sql.ui.retainedExecutions": big,
    }


def setup(conf: dict[str, str]) -> tuple[object, dict[str, float]]:
    """One cold set-up, as a user pays it: import the plan registry in a
    fresh interpreter, launch the JVM and start a session with
    ``session.get_spark``, and run the warm-up query (first-time class
    loading and code generation)."""
    from portfolio1_etl_spark.plans import REGISTRY
    from portfolio1_etl_spark.session import get_spark

    base = os.path.join(HERE, "data", "base")
    t0 = time.perf_counter()
    subprocess.run([sys.executable, "-c", "import portfolio1_etl_spark.plans"], check=True)
    t1 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    REGISTRY[WARMUP_QUERY].fn(spark, base).toPandas()
    t3 = time.perf_counter()
    return spark, {"total": t3 - t0, "import": t1 - t0, "start": t2 - t1, "warmup": t3 - t2}


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark._jvm.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def stop_jvm() -> None:
    """End the driver JVM (it exits when its stdin closes) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def untraced_walls(workload: str, seconds: float) -> list[float]:
    """``wall_s`` of the untraced runs of ``workload`` with the same
    window recorded so far in this checkout."""
    out = []
    results = os.path.join(WORK, "results")
    for name in os.listdir(results) if os.path.isdir(results) else ():
        try:
            with open(os.path.join(results, name)) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        env, res = rec.get("env", {}), rec.get("result", {})
        same = env.get("workload") == workload and env.get("seconds") == seconds
        if same and env.get("trace") == 0 and res.get("correct"):
            out.append(res["metrics"]["wall_s"]["value"])
    return out


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop, taken before the run starts:
    the speed of the (shared) box, recorded so drift between runs can be
    told apart from a change in the engine."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t0


def note(what: str, t0: float) -> float:
    t = time.perf_counter()
    print(f"perfbench: {what} {t - t0:.2f} s", file=sys.stderr, flush=True)
    return t


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    loadavg = os.getloadavg()[0]  # before this run adds its own load
    probe = cpu_probe()
    pinned = pin_env()
    try:
        import portfolio1_etl_spark  # noqa: F401
        import tools.gen_scale  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the engine is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2

    import inputs
    import metrics
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    t = time.perf_counter()
    data = inputs.make(WORK, args.workload, args.seed)
    conf = spark_conf(build_fs_counter())
    t = note("inputs and build", t)
    spark, setup_times = setup(conf)
    t = note("set-up", t)
    from layers import StatusReader

    reader = StatusReader(spark)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tr = Tracer(run_id, enabled=bool(args.trace), fs_counters=reader.fs_counters)
    wl = WORKLOADS[args.workload](spark, data, WORK, args.seed, tr)
    wl.prepare()
    t = note("prepare", t)
    t_window = time.time()
    wl.measure(args.seconds)
    t = note(f"measure ({len(wl.walls)} passes)", t)
    if args.trace:
        result = metrics.per_layer(
            wl, spark, reader, setup_times, t_window, untraced_walls(args.workload, args.seconds))
        result["bytes_per_user_byte"] = (wl.bytes_per_user_byte(), "ratio")
    else:
        result = metrics.end_to_end(wl, setup_times)
    t = note("collect", t)
    wl.stop()
    wl.check()
    t = note("check", t)
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tr.write(os.path.join(WORK, "traces", f"{run_id}.json"))
        result["peak_rss_mb"] = (peak_rss_mb(spark), "MB")
    spark.stop()
    stop_jvm()
    # per-run files: the seeded inputs, the chain, in-query artifacts
    for path in (data, os.path.join(WORK, "chain"), os.environ["TMPDIR"]):
        shutil.rmtree(path, ignore_errors=True)

    failed = len(wl.errors)
    attempted = max(wl.attempted, 1)
    if args.trace:
        result["failed_ops_ratio"] = (failed / attempted, "ratio")
    for e in wl.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)

    env = {
        "run": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "pinned": pinned,
        "loadavg_1m": loadavg,
        "cpu_probe_s": probe,
        "passes": len(wl.walls),
        "tails": metrics.tail_info(wl),
    }
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(result.items())},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{run_id}.json"), "w") as f:
        json.dump(
            {"env": env, "result": out, "errors": wl.errors,
             "walls": wl.walls, "samples": wl.samples, "setup": setup_times},
            f, indent=1,
        )
    print(json.dumps({"env": env}))
    print(json.dumps(out))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
