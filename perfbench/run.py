"""Crawl-frontier benchmark: one workload per invocation.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 5 --trace 0

Run from the repository root. The load is one closed-loop client on a
``local[<cores>]`` Spark session: each unit of work (a whole crawl, or a
whole URL-seen stream) is submitted after the previous one returned,
until ``--seconds`` have been measured. Set-up (session start, fixtures,
oracle) is timed apart from the measured units.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs an
untraced unit, a traced one and replays of each lazy layer alone,
writes the spans and a self-time table under ``.perfbench/out/`` and
prints the per-layer metrics. The last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


# -- process statistics ------------------------------------------------------

def _reset_peak(pid: int) -> None:
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def _peak_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


# -- session -----------------------------------------------------------------

def start_session(work: str):
    from pyspark import SparkContext

    os.environ.setdefault("PYTHONHASHSEED", "0")
    # the program defaults to an 8 GiB heap; the crawls' working set fits
    # in 1 GiB, which keeps the JVM near 2 GB RSS instead of ~4 GB
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every temp file of the driver, the JVM and the Python workers stays
    # inside the run's workdir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    from web_scraper_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{_cores()}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, SparkContext._gateway.proc


def stop_session() -> None:
    """Stop Spark and wait for the JVM to exit. Works on a half-started
    session too, and on a gateway left mid-call by a signal, where
    ``stop()`` itself fails: the JVM is then ended through its stdin, or
    killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway.shutdown()
    except Exception as e:  # noqa: BLE001 — the JVM is ended below either way
        print(f"perfbench: clean Spark stop failed: {e!r}", file=sys.stderr)
    jvm = gateway.proc
    try:
        jvm.stdin.close()
    except OSError:
        pass
    try:
        jvm.wait(timeout=30)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait(timeout=30)


# -- measurement -------------------------------------------------------------

def measure(spark, wl, seconds: float, jvm_pid: int, work: str):
    """Closed loop of units until ``seconds`` elapsed (at least one)."""
    from perfbench.spans import RunCounter, release_persisted

    sc = spark.sparkContext
    units = []
    for pid in (os.getpid(), jvm_pid):
        _reset_peak(pid)
    t0 = time.perf_counter()
    while True:
        wd = os.path.join(work, f"unit-{len(units)}")
        shutil.rmtree(wd, ignore_errors=True)
        os.makedirs(wd)
        try:
            with RunCounter(sc, f"unit-{len(units)}") as rc:
                r = wl.unit(wd)
            r.detail["counts"] = rc.counts()
            r.detail["leaked"] = rc.leaked()
        finally:
            shutil.rmtree(wd, ignore_errors=True)
            release_persisted(spark)
        units.append(r)
        print(f"perfbench: unit {len(units) - 1}: wall {r.wall_s:.3f}s, "
              f"cpu {r.cpu_s:.2f}s, {r.items} items, "
              f"{r.detail['leaked']} persisted RDDs left behind",
              file=sys.stderr, flush=True)
        if time.perf_counter() - t0 >= seconds:
            break
    peak_kb = _peak_kb(os.getpid()) + _peak_kb(jvm_pid)
    return units, peak_kb


def end_to_end(units, setup_s: float, peak_kb: int) -> dict:
    """Times are CPU seconds of the driver, the JVM and the Python
    workers: on a shared VM the hypervisor steals a varying share of the
    CPU, which moves wall times far more than any bound allows."""
    from perfbench.spans import median

    return {
        "setup_s": setup_s,
        "cpu_s": median(u.cpu_s for u in units),
        "peak_rss_mb": peak_kb / 1024.0,
        "disk_mb": median(u.disk_bytes for u in units) / 1e6,
    }


def report(values: dict, kind: str) -> dict:
    """``values`` with the units BENCHMARK.json lists for its ``kind``
    (``end_to_end`` or ``per_layer``) metrics; every listed metric must
    be there, and no other."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)[kind]}
    missing, extra = units.keys() - values.keys(), values.keys() - units.keys()
    if missing or extra:
        raise RuntimeError(
            f"{kind} metrics not produced: {sorted(missing)}; "
            f"not in BENCHMARK.json: {sorted(extra)}")
    return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its workdir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "web_scraper_spark", "__init__.py")):
        _fail("run from the repository root (web_scraper_spark/ not found)")
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(WORK, "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        from perfbench.spans import tree_cpu_s

        cpu, t = tree_cpu_s(), time.perf_counter()
        spark, jvm = start_session(work)
        session_s = time.perf_counter() - t

        wl = WORKLOADS[args.workload](spark, args.seed, work)
        wl.prepare()
        # set-up in CPU seconds, like the units (see end_to_end)
        setup_s = tree_cpu_s() - cpu
        s = wl.setup
        print(f"perfbench: session {session_s:.3f}s, fixture {s.fixture_s:.3f}s, "
              f"oracle {s.oracle_s:.3f}s, set-up cpu {setup_s:.2f}s",
              file=sys.stderr, flush=True)

        if args.trace:
            from perfbench.traced import traced_run

            result = traced_run(
                spark, wl, work, os.path.join(WORK, "out", run_id),
                setup={"setup.session_s": session_s, "setup.fixture_s": s.fixture_s,
                       "setup.oracle_s": s.oracle_s},
            )
            result["metrics"] = report(result["metrics"], "per_layer")
        else:
            units, peak_kb = measure(spark, wl, args.seconds, jvm.pid, work)
            checks = sum(u.checks for u in units)
            tasks = sum(u.detail["counts"].tasks for u in units)
            failed_checks = sum(len(u.failures) for u in units)
            failed_tasks = sum(u.detail["counts"].failed_tasks for u in units)
            for u in units:
                for msg in u.failures:
                    print(f"perfbench: check failed: {msg}", file=sys.stderr)
            result = {
                "correct": failed_checks == 0,
                "attempted": checks + tasks,
                "failed": failed_checks + failed_tasks,
                "metrics": report(end_to_end(units, setup_s, peak_kb), "end_to_end"),
            }
    finally:
        try:
            stop_session()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
