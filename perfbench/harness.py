"""Process-level plumbing for the benchmark: where it may write, how the
Spark session is configured, started and stopped, and how the memory
of the JVM and its Python workers is read.

Everything the benchmark writes lives under ``WORK`` (inside the
checkout): Spark scratch, the JVM temp dir, the package zip, event
logs, generated inputs and run outputs.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
DRIVER_MEM = "2g"


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def confine_to_work_dir() -> None:
    """Point every temp/scratch location of Python, the JVM and Spark
    into ``WORK``. Must run before pyspark launches its JVM."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    # no hsperfdata files under /tmp, for the launcher JVM as well
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def spark_conf(event_log: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": str(WORK / "local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.eventLog.enabled": str(event_log).lower(),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        log_dir = WORK / "eventlog"
        log_dir.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.dir": str(log_dir),
                # no zstd decoder is installed; one plain file per app
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(app: str, event_log: bool = False):
    """``session.get_spark`` at this host's core count."""
    from oscar_tools_spark.session import get_spark

    n = cores()
    return get_spark(app, cores=n, extra_conf=spark_conf(event_log))


def stop_session(spark) -> None:
    """Stop Spark, then the JVM pyspark launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over the JVM and the Python workers it forked (all
    descendants of this process), in MiB."""
    total_kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total_kb / 1024.0


def host_facts(spark) -> dict:
    import pyarrow

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return {
        "nproc": cores(),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "java": java,
        "python": platform.python_version(),
        "driver_memory": DRIVER_MEM,
    }


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def write_json(path: Path, obj) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(obj, indent=1, sort_keys=True))
    tmp.replace(path)
