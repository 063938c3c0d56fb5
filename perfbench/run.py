"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run generates its inputs from the
seed under ``.bench_work/`` in the checkout, starts a Spark session on
``local[<nproc>]``, sets up (input generation plus one untimed warm-up
unit), measures units for ``--seconds``, checks the outputs, and prints:

- ``perfbench host: {...}``   host facts and input sizes;
- ``perfbench report: {...}`` every end-to-end metric of the workload by
  name, with failing checks listed by name;
- ``perfbench layers: {...}`` (``--trace 1`` only) the per-layer split;
- last, one JSON line: ``correct``, ``attempted``, ``failed`` and the
  ``metrics`` named in BENCHMARK.json (end-to-end ones with ``--trace 0``,
  per-layer ones with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` plus its direct children: the driver
    Python process and the driver JVM it launched (the JVM's forked
    Python workers share most pages with their daemon, so they are left
    out rather than counted once per fork)."""
    procs = [pid]
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        procs.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    total = 0
    for p in procs:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler(threading.Thread):
    def __init__(self, period: float = 0.25):
        super().__init__(name="perfbench-rss", daemon=True)
        self.period, self.peak, self._stop_ev = period, 0, threading.Event()

    def run(self):
        while not self._stop_ev.is_set():
            self.peak = max(self.peak, _driver_rss_bytes(os.getpid()))
            self._stop_ev.wait(self.period)

    def stop(self) -> float:
        self._stop_ev.set()
        self.join()
        return self.peak / 1e6


def _prepare_env(work: str, cores: int) -> None:
    """Before the session starts: the repo root on PYTHONPATH (Python
    workers do not see a sys.path insert), all scratch under ``work``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    os.environ["SPARK_SUBMIT_OPTS"] = f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={local}".strip()


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "reactionetl_etl_spark", "etl", "pipeline.py")):
        print(f"perfbench: no reactionetl_etl_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    import numpy as np

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work, cores)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    spark = None
    try:
        t_setup = time.perf_counter()
        from reactionetl_etl_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()  # the session is up once a job has run
        session_s = time.perf_counter() - t_setup

        from perfbench.trace import Tracer

        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, np.random.default_rng(args.seed), work, tracer, cores)
        wl.setup(args.seconds)
        setup_s = time.perf_counter() - t_setup
        tracer.reset()

        rss = RssSampler()
        rss.start()
        wl.measure(args.seconds)
        peak_rss_mb = rss.stop()
        wl.check()
        tracer.uninstall()

        host = {
            "nproc": cores,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "spark": spark.version,
            "python": platform.python_version(),
            "machine": platform.machine(),
            "seed": args.seed,
            "workload": args.workload,
            "loop": wl.loop,
            "seconds": args.seconds,
            "trace": args.trace,
            **wl.facts,
        }
        failing = [f"{n}: {d}" for n, ok, d in wl.checks if not ok]
        report = {
            "setup_s": setup_s,
            "session_start_s": session_s,
            **wl.report(),
            "error_rate": wl.failed / max(1, wl.attempted),
            "peak_rss_mb": peak_rss_mb,
            "checks_run": len(wl.checks),
            "failing_checks": failing,
        }
        print("perfbench host: " + json.dumps(host, default=str))
        print("perfbench report: " + json.dumps(report, default=str))
        if args.trace:
            walls = [u["wall"] for u in wl.units]
            layers = tracer.layer_metrics(len(walls), sum(walls), cores)
            layers["session.start_s"] = session_s
            layers["lake.files"] = float(sum(wl.facts.get("lake_files", {}).values()))
            layers["lake.bytes_per_input_byte"] = report.get("lake_bytes_per_input_byte", 0.0)
            layers["cleanse.rows_quarantined"] = float(wl.facts.get("rows_quarantined", 0))
            print("perfbench layers: " + json.dumps(layers))
            metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
        else:
            e2e = {"setup_s": setup_s, "latency_best_s": wl.latency()}
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
        result = {
            "correct": not failing and wl.attempted > 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": metrics,
        }
        _stop_spark(spark)
        spark = None
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
