"""Run-wide plumbing: paths inside the checkout, the Spark session sized to
the box, input caches, and the one-line JSON result."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of the machine's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kb // (4 << 20)))}g"


def digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else repr(p).encode())
    return h.hexdigest()[:16]


def file_bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def cached_dir(kind: str, key: str, build) -> str:
    """``WORK/cache/<kind>-<key>``, built once by ``build(tmp_dir)``; a
    half-built directory never becomes visible (build, then rename)."""
    out = os.path.join(WORK, "cache", f"{kind}-{key}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        build(tmp)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        try:
            os.rename(tmp, out)
        except OSError:  # another run built it first
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Bench:
    """One benchmark process: a private run dir and one Spark session."""

    def __init__(self, label: str):
        self.label = label
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.spark = None
        self.start_s = 0.0
        self._n = 0

    def path(self, name: str) -> str:
        """A fresh path inside this run's dir (state dirs, trace sinks)."""
        self._n += 1
        return os.path.join(self.run_dir, f"{self._n:02d}-{name}")

    def start(self):
        """Start Spark at local[nproc]. Python workers get the checkout on
        PYTHONPATH (they import the package and the benchmark's wrappers);
        Spark and the JVM keep their scratch files inside the run dir."""
        from twitter_crawler_spark.session import get_spark

        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        )
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        # every JVM spark-submit starts, its launcher included
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            cores=cores(),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": driver_memory(),
                "spark.local.dir": tmp,
            },
        )
        self.start_s = time.perf_counter() - t0
        return self.spark

    def dump_trace(self, tracer) -> str:
        """Write a traced unit's spans to ``WORK/traces/`` (kept after the run)."""
        out = os.path.join(WORK, "traces", f"{self.label}-{os.getpid()}.jsonl")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tracer.dump(out)
        log(f"spans written to {os.path.relpath(out, ROOT)}")
        return out

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            kb = next(line for line in f if line.startswith("VmHWM")).split()[1]
        return int(kb) / 1024.0

    def close(self) -> None:
        """Stop Spark, wait for the JVM (and its Python workers) to exit,
        and remove the run dir."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None
        shutil.rmtree(self.run_dir, ignore_errors=True)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """``metrics``: name → (value, unit)."""
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })
