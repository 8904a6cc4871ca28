"""Shared plumbing for the benchmark workloads: paths, environment,
the Spark session, process memory, percentiles and the run record.

Everything the benchmark writes goes under ``perfbench/.work`` inside
the checkout (Spark scratch, temp files, corpora, indexes, traces).
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = BENCH_DIR / ".work"

# The package defaults the driver heap (and -Xms) to 16g, which a 15 GB
# host cannot commit: the JVM dies at start. Every Spark process this
# benchmark starts sets the package's own override to this fixed value,
# so both sides of a comparison run with the same heap. 1g holds the
# corpus below with room to spare. The package sets -Xms to the same
# value, and every page the JVM touches costs time on this VM: at 6g
# the JVM touched ~7 GB and queries and builds ran 10-20% slower than
# at 3g, and 1g runs shorter still, which keeps a set of runs inside a
# shorter stretch of host time.
DRIVER_MEM = "1g"
CORES = 4

# Corpus shape shared by every workload. The size is set by the time
# budget: every run starts its own JVM and builds its own index, and a
# full set of runs must finish within the benchmark's wall-clock limit.
N_DOCS = 3000
VOCAB_SIZE = 20_000
MEAN_LEN = 120


class BenchError(RuntimeError):
    """The benchmark cannot run here (missing program, bad arguments)."""


def prepare_environment(run_id: str) -> Path:
    """Point every temp/scratch location at this run's work dir, make the
    package importable, and fail loudly when the program is absent."""
    if not (ROOT / "search_rs_spark" / "__init__.py").is_file():
        raise BenchError(
            f"program package search_rs_spark not found under {ROOT}; "
            "run from a checkout of the repository"
        )
    run_dir = WORK / run_id
    if run_dir.exists():
        shutil.rmtree(run_dir)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return run_dir


def start_spark():
    """-> (session, seconds) with the package's own session factory."""
    t0 = time.perf_counter()
    from search_rs_spark.session import get_spark

    spark = get_spark(
        cores=CORES,
        app="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        },
    )
    spark.range(1).collect()  # the session is usable, not just constructed
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def rss_mb(pid: int, field: str = "VmRSS") -> float:
    """Resident memory of a live process from /proc (MB)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise BenchError(f"{field} missing for pid {pid}")


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def _cmd_version(cmd: list[str]) -> str:
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired) as e:
        return f"unavailable ({e.__class__.__name__})"
    text = [
        line
        for line in (out.stderr or out.stdout).strip().splitlines()
        if not line.startswith("Picked up")
    ]
    return text[0] if text else "unknown"


def host_record() -> dict:
    mem_total = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_total = f"{int(line.split()[1]) // 1024} MB"
    except OSError:
        pass
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "mem_total": mem_total,
        "spark_cores": CORES,
        "driver_heap": DRIVER_MEM,
        "driver_heap_why": (
            "package default 16g cannot start on a 15 GB host; "
            "SPARK_GRAFT_DRIVER_MEM set to the same value on every run"
        ),
        "java": _cmd_version(["java", "-version"]),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


class RunRecord:
    """What a reader needs besides the metrics: host, seed, inputs,
    warm-up curve, checks. Printed as one ``record`` line before the
    result and written next to the trace."""

    def __init__(self, workload: str, seed: int, trace: bool, run_dir: Path):
        self.path = run_dir.parent / f"record-{workload}-seed{seed}-trace{int(trace)}.json"
        self.data: dict = {
            "workload": workload,
            "seed": seed,
            "trace": trace,
            "host": host_record(),
        }

    def __setitem__(self, key, value):
        self.data[key] = value

    def emit(self) -> None:
        text = json.dumps(self.data, default=str)
        self.path.write_text(text + "\n")
        print("record " + text)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
