#!/usr/bin/env python3
"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload stream_chunks --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``). The line before it carries the
provenance, the work counts and the per-workload detail.

Everything the run writes goes under ``.perfbench/`` in the checkout;
the per-run directory is removed at exit, the work-count records in
``.perfbench/counts/`` are kept so that a later run with the same seed
must repeat them exactly. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pyspark_data_engineering_assignment_spark"
WORKLOADS = ("stream_chunks", "registry_sweep")


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _git_revision() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _source_hash() -> str:
    """Hash of the program's and the benchmark's Python sources: the
    revision that work counts are keyed by (a checkout need not be a git
    repository, and may carry uncommitted edits)."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, PACKAGE), HERE):
        for dirpath, dirnames, names in sorted(os.walk(top)):
            dirnames.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    with open(os.path.join(dirpath, n), "rb") as fh:
                        h.update(n.encode() + fh.read())
    return h.hexdigest()[:16]


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies of all CPUs since boot, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return fields[7], sum(fields)


def _steal_share(before, after) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``_cpu_ticks`` readings: the host interference that spreads timings."""
    if before is None or after is None or after[1] == before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


class Package:
    """The program's modules the workloads call, imported once (timed
    as part of set-up)."""

    def __init__(self) -> None:
        import importlib

        def mod(name):
            return importlib.import_module(f"{PACKAGE}.{name}")

        self.session = mod("session")
        self.feeder = mod("tools.feeder")
        self.readers = mod("sources.readers")
        self.tables = mod("sources.tables")
        self.store_mod = mod("state.store")
        self.pipeline = mod("streaming.pipeline")
        self.plans = mod("plans")
        self.registry_mod = mod("plans.registry")
        self.EngineConfig = mod("config").EngineConfig
        self.FixedClock = mod("patterns.detect").FixedClock


class Bench:
    """Run state shared by the workloads: directories, the Spark
    session, set-up phase timings and the run's flags."""

    def __init__(self, args, base: str) -> None:
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.trace = bool(args.trace)
        self.smoke = args.smoke
        self.inject_wrong = args.inject_wrong_result
        self.work = os.path.join(base, f"run-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.event_dir = os.path.join(self.work, "eventlog")
        os.makedirs(self.tmp, exist_ok=True)
        self.pkg: Package | None = None
        self.spark = None
        self.jvm_pid = None
        self.phases: dict[str, float] = {}
        self.java_version = None

    def start_session(self, event_log: bool = False):
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if event_log:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        spark = self.pkg.session.get_spark(app_name="perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        self.phases.setdefault("session_s", time.perf_counter() - t0)
        if self.jvm_pid is None:
            self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
            self.java_version = spark._jvm.java.lang.System.getProperty("java.version")
        self.spark = spark
        return spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def restart_session(self, event_log: bool = False):
        self.stop_session()
        return self.start_session(event_log=event_log)

    def setup_done(self) -> None:
        self.phases["setup_s"] = (
            self.phases["import_s"] + self.phases["session_s"] + self.phases["warmup_s"]
        )

    def peak_rss_mb(self) -> float:
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (py_kb + (_vm_hwm_kb(self.jvm_pid) if self.jvm_pid else 0)) / 1024.0

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for it to exit."""
        self.stop_session()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=60)


def _check_counts(base: str, workload: str, bench: Bench, counts: dict, sources: str) -> str | None:
    """Work counts must repeat exactly across runs of the same sources
    with one seed."""
    size = "smoke" if bench.smoke else "full"
    path = os.path.join(base, "counts", f"{workload}-{size}-seed{bench.seed}-{sources}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if os.path.exists(path):
        with open(path) as fh:
            before = json.load(fh)
        if before != json.loads(json.dumps(counts)):
            return f"work counts differ from an earlier run with seed {bench.seed}: {before} != {counts}"
        return None
    tmp = path + f".{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(counts, fh, sort_keys=True)
    os.replace(tmp, path)
    return None


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs (sf0.001, 2 chunks) for the self-test")
    p.add_argument("--inject-wrong-result", action="store_true",
                   help="corrupt one expected result, to prove the checks catch it")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle_harness.py")
    ):
        print(f"perfbench: {PACKAGE}/ and tests/ not found under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    spec = _load_spec()
    base = os.path.join(ROOT, ".perfbench")
    bench = Bench(args, base)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(bench.work, "spark-local")
    os.environ["TMPDIR"] = bench.tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT, HERE]

    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_1m_before": os.getloadavg()[0],
        "git_revision": _git_revision(),
        "source_hash": _source_hash(),
        "python": sys.version.split()[0],
    }
    ticks = _cpu_ticks()
    try:
        t_import = time.perf_counter()
        bench.pkg = Package()
        bench.phases["import_s"] = time.perf_counter() - t_import
        import pyspark

        provenance["pyspark_version"] = pyspark.__version__
        if args.workload == "registry_sweep":
            import sweep as workload_mod
        else:
            import streaming as workload_mod
        result = workload_mod.run(bench, bench.pkg)
        peak_rss = bench.peak_rss_mb()
    except Exception:  # noqa: BLE001 - report, then exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        try:
            bench.shutdown()
        finally:
            shutil.rmtree(bench.work, ignore_errors=True)
    provenance["loadavg_1m_after"] = os.getloadavg()[0]
    provenance["cpu_steal_share"] = _steal_share(ticks, _cpu_ticks())
    provenance["java_version"] = bench.java_version

    errors = list(result["errors"])
    failed = result["failed"]
    repeat = None if args.inject_wrong_result else _check_counts(
        base, args.workload, bench, result["counts"], provenance["source_hash"]
    )
    if repeat:
        errors.append(repeat)
        failed += 1
    attempted = max(1, result["attempted"])
    correct = not errors and failed == 0

    end_to_end = dict(result["metrics"])
    end_to_end["setup_s"] = bench.phases["setup_s"]
    per_layer = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
    per_layer.update(result.get("per_layer", {}))
    per_layer["session.start_s"] = bench.phases["session_s"]
    per_layer["session.warmup_s"] = bench.phases["warmup_s"]
    per_layer["process.peak_rss_mb"] = peak_rss
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = per_layer if args.trace else end_to_end
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}

    print(json.dumps({
        "provenance": provenance,
        "counts": result["counts"],
        "ops_failed_ratio": failed / attempted,
        "errors": errors[:20],
        "phases_s": bench.phases,
        "wall_s": time.perf_counter() - T_START,
        "measured": end_to_end,
        "peak_rss_mb": peak_rss,
        "detail": result["detail"],
    }, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
