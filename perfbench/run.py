"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload synth --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``perfbench/.work/``, starts a Spark session of a pinned
shape, runs warm-up passes, then times passes for ``--seconds``. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``, the end-to-end metrics with ``--trace 0`` and the per-layer
metrics with ``--trace 1``. See NOTES.md.
"""

from __future__ import annotations

import time

START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("synth", "curate_corpus")
WARMUP_PASSES = 2
MIN_TIMED_PASSES = 2
CORES = 4
DRIVER_MEM_MB = 2048


def session_shape() -> dict:
    """local[k] with k <= the CPUs this process may use, and a driver heap
    that takes at most a quarter of the host's memory. The shuffle width is
    the program's own default for k cores."""
    cores = min(CORES, len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as f:
        mem_total_mb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal")) // 1024
    return {
        "master": f"local[{cores}]",
        "cores": cores,
        "driver_mem": f"{min(DRIVER_MEM_MB, mem_total_mb // 4)}m",
    }


def start_session(workdir: str, shape: dict):
    """Pin the session from here instead of inheriting session.py's host
    defaults. Every scratch file Spark and the JVM write goes under
    ``workdir``; the progress bar is off so stdout stays parseable."""
    conf_dir = os.path.join(workdir, "conf")
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    for d in (conf_dir, tmp, local):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write(
            "spark.ui.showConsoleProgress false\n"
            f"spark.sql.warehouse.dir {os.path.join(workdir, 'warehouse')}\n"
        )
    # Python UDF workers import the package by name: without the repo root
    # on their path they fail with ModuleNotFoundError
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.update(
        SPARK_CONF_DIR=conf_dir,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        SPARK_DRIVER_MEM=shape["driver_mem"],
        # get_spark sizes its shuffle width from this, not from the master
        SPARK_GRAFT_CPUS=str(shape["cores"]),
        # both JVMs (spark-submit's launcher and the driver) would otherwise
        # write /tmp/hsperfdata_* and temp files outside the checkout
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    tempfile.tempdir = tmp
    from etl_processes_spark.session import get_spark

    spark = get_spark("perfbench", master=shape["master"])
    spark.sparkContext.setLogLevel("ERROR")
    shape["shuffle_partitions"] = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway and wait for the JVM (and with it
    the PySpark daemon and workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def canary_ms() -> float:
    """bench.py's fixed single-thread CPU canary: 20,000 chained md5
    digests, independent of Spark, to show host drift beside each run."""
    t0 = time.perf_counter()
    h = b"spark-graft"
    for _ in range(20000):
        h = hashlib.md5(h).digest()
    return (time.perf_counter() - t0) * 1000


class Runner:
    """Runs and checks passes of one workload and keeps their numbers."""

    def __init__(self, spark, workload) -> None:
        from sparkstat import SparkTracer

        self.spark = spark
        self.wl = workload
        self.tracer = SparkTracer(spark)
        self.problems: list[str] = []

    def one_pass(self, traced: bool = False) -> dict:
        from procstat import tree_cpu_s

        spans = [] if traced else None
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        result = self.wl.run(self.spark, self.tracer if traced else None, spans)
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
        problems = self.wl.check(self.spark, result)
        rec = {"wall_s": wall, "cpu_s": cpu, "ok": not problems, "result": result}
        if traced:
            self.tracer.attribute(spans)
            rec["spans"] = spans
        self.wl.reset(self.spark)
        for p in problems:
            self.problems.append(p)
            print(f"# check failed: {p}", file=sys.stderr, flush=True)
        return rec


def end_to_end(wl, setup_s: float, passes: list[dict], peak_rss_mb: float) -> dict:
    wall = statistics.median(p["wall_s"] for p in passes)
    ok = sum(p["ok"] for p in passes)
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (wl.rows / wall, "rows/s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "ok_ops_ratio": (ok / len(passes), "ratio"),
    }


def per_layer(wl, traced: list[dict], untraced: list[dict], canaries: list[float]) -> dict:
    from sparkstat import LAYER_METRICS
    from workloads import ALL_LAYERS

    units = {"wall_s": "s", "jobs": "count", "task_cpu_s": "s", "shuffle_write_mb": "MB",
             "spill_mb": "MB", "failed_tasks": "count"}
    out = {}
    for layer in ALL_LAYERS:
        for m in LAYER_METRICS:
            vals = [
                next((s.stats[m] for s in p["spans"] if s.name == layer), 0.0) for p in traced
            ]
            out[f"{layer}.{m}"] = (statistics.median(vals), units[m])
    walls = [p["wall_s"] for p in traced]
    covered = [sum(s.stats["wall_s"] for s in p["spans"]) for p in traced]
    traced_wall = statistics.median(walls)
    out["validate.cols_ok_ratio"] = (
        statistics.median(wl.cols_ok_ratio(p["result"]) for p in traced), "ratio")
    out["pipeline.wall_s"] = (traced_wall, "s")
    out["pipeline.self_s"] = (statistics.median(w - c for w, c in zip(walls, covered)), "s")
    out["pipeline.coverage_ratio"] = (
        statistics.median(c / w for w, c in zip(walls, covered)), "ratio")
    out["pipeline.trace_overhead_s"] = (
        traced_wall - statistics.median(p["wall_s"] for p in untraced), "s")
    out["host.canary_ms"] = (statistics.median(canaries), "ms")
    return out


def run_all(args) -> int:
    """Every workload, each in a fresh process; prints each metric by name
    and unit, one line per workload and metric."""
    rc = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            print(f"{w}: exit {proc.returncode}")
            rc = 1
            continue
        rec = json.loads(proc.stdout.splitlines()[-1])
        print(f"{w}: correct={rec['correct']} attempted={rec['attempted']} failed={rec['failed']}")
        for name, m in rec["metrics"].items():
            print(f"  {name:34s} {m['value']:14.4f} {m['unit']}")
        rc |= not rec["correct"]
    return rc


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("etl_processes_spark/pipeline.py", "tools/gen_testdata.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not in a checkout of the program (missing {missing})", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    # Spark, the JVM and py4j also write to fd 1; send all of it to stderr
    # and keep the real stdout for the result lines
    real_stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    sys.path[:0] = [ROOT, HERE]
    import workloads
    from procstat import PeakRss

    shape = session_shape()
    workdir = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    wl = workloads.make(args.workload, workdir, args.seed)
    spark = None
    try:
        wl.prepare()
        spark = start_session(workdir, shape)
        runner = Runner(spark, wl)
        for _ in range(WARMUP_PASSES):
            p = runner.one_pass()
            print(f"# warm-up wall {p['wall_s']:.3f}s", file=sys.stderr, flush=True)
        setup_s = time.perf_counter() - START
        print(f"# setup {setup_s:.2f}s", file=sys.stderr, flush=True)

        t_end = time.perf_counter() + args.seconds
        if args.trace:
            # untraced and traced passes alternate, starting and ending
            # untraced, so the passes' downward warm-up drift does not bias
            # the overhead estimate
            untraced, traced, canaries = [runner.one_pass()], [], []
            while time.perf_counter() < t_end or not traced:
                canaries.append(canary_ms())
                traced.append(runner.one_pass(traced=True))
                untraced.append(runner.one_pass())
            passes = traced + untraced
            metrics = per_layer(wl, traced, untraced, canaries)
        else:
            passes = []
            with PeakRss() as rss:
                while time.perf_counter() < t_end or len(passes) < MIN_TIMED_PASSES:
                    passes.append(runner.one_pass())
            metrics = end_to_end(wl, setup_s, passes, rss.peak)
        for p in passes:
            print(f"# pass wall {p['wall_s']:.3f}s cpu {p['cpu_s']:.2f}s ok {p['ok']}",
                  file=sys.stderr, flush=True)
        failed = sum(not p["ok"] for p in passes)
        record = {
            "correct": not runner.problems,
            "attempted": len(passes),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "session": shape}),
          file=real_stdout)
    print(json.dumps(record), file=real_stdout, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
