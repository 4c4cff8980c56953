"""KG-construction benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones in BENCHMARK.json, with
``--trace 1`` the per-layer ones. The line before it is the run record
(inputs, environment, oracle results). ``--size tiny`` runs a small
corpus for the smoke test. Workloads and metrics are described in
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "graph_rag_agent_spark")
BENCH = os.path.join(ROOT, "BENCHMARK.json")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """A driver heap that fits the box: a quarter of RAM, at most 4 GB
    (local mode runs every executor thread in this one JVM)."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    return max(1024, min(4096, total // 4))


def source_digest() -> str:
    h = hashlib.sha1()
    for root, dirs, files in os.walk(PACKAGE):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def pin_environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Python
    workers import the package from any working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the JVM spark-submit starts first to assemble the driver's command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)


def start_session(work: str, trace: bool):
    from graph_rag_agent_spark.session import get_spark

    from perfbench.trace import eventlog_conf

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": f"{heap_mb()}m",
        # the engine's GC choice, plus no JVM files outside the checkout
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(eventlog_conf(os.path.join(work, "eventlog")))
    n = nproc()
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(proc) -> float:
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def stop_session(spark) -> None:
    """Stop Spark and wait until the gateway JVM (and with it the
    Python workers it forked) has exited."""
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
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def end_to_end(setup_s: float, res) -> dict[str, float]:
    op_s = median(res.op_s)
    return {
        "setup_s": setup_s,
        "op_s": op_s,
        "turns_per_s": res.record["turns"] / op_s,
        "model_calls": median(res.calls),
    }


def per_layer(setup_s: float, res, folded: dict[str, dict], names: list[str]) -> dict:
    out = dict(res.layers)
    for span, q in folded.items():
        for k, v in q.items():
            out[f"{span}.{k}"] = v
    out["trace.setup_s"] = setup_s
    out["trace.op_s"] = median(res.op_s)
    # measured but not listed in BENCHMARK.json, e.g. a new lineage stage
    res.record["unlisted_layer_metrics"] = sorted(set(out) - set(names))
    # a layer this workload never enters did no work: zero, not absent
    return {n: out.get(n, 0.0) for n in names}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"perfbench: the engine package is missing under {ROOT}", file=sys.stderr)
        return 2
    with open(BENCH) as f:
        spec = json.load(f)
    names = {w["name"] for w in spec["workloads"]}
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(names)}",
              file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)
    try:
        return run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


def run(args, spec: dict, work: str) -> int:
    import pyspark

    from pyspark import SparkContext

    from perfbench.trace import Tracer, cpu_times, fold, log, read_events
    from perfbench.workloads import WORKLOADS

    load_start = os.getloadavg()[0]
    cpu0 = cpu_times()
    t0 = time.time()
    wl = WORKLOADS[args.workload](args.size, args.seed, work)
    # inputs and oracle answers are pure Python: make them while the JVM starts
    with ThreadPoolExecutor(1) as pool:
        prepared = pool.submit(wl.prepare)
        spark = start_session(work, bool(args.trace))
    try:
        prepared.result()
        log("session started, inputs ready")
        tracer = Tracer(spark if args.trace else None)
        wl.attach(spark, tracer)
        wl.setup()
        setup_s = time.time() - t0
        log(f"setup done: {setup_s:.2f}s")
        res = wl.run(args.seconds)
        rss_mb = jvm_peak_rss_mb(SparkContext._gateway.proc)
    finally:
        stop_session(spark)
        log("session stopped")

    cpu1 = cpu_times()
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "size": args.size,
        "trace": args.trace,
        **res.record,
        "nproc": nproc(),
        "driver_heap_mb": heap_mb(),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg()[0],
        # CPU time the hypervisor gave to other guests during the run
        "steal_pct": 100 * (cpu1["steal"] - cpu0["steal"]) / (cpu1["total"] - cpu0["total"]),
        "pyspark": pyspark.__version__,
        "git_sha": git_sha(),
        "source_sha1": source_digest(),
        "op_s": res.op_s,
        "model_calls": res.calls,
        "peak_rss_mb": rss_mb,
        "error_rate": f"{res.failed}/{res.attempted}",
    }
    if args.trace:
        metrics = per_layer(
            setup_s, res, fold(read_events(os.path.join(work, "eventlog")), tracer.spans),
            [m["name"] for m in spec["per_layer"]],
        )
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        metrics = end_to_end(setup_s, res)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {n: metrics[n] for n in units}
    print(json.dumps({"record": record}), flush=True)
    print(json.dumps({
        "correct": res.checks_ok and res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
