"""Process-level plumbing: run environment, the Spark JVM's lifetime, the CLI
call, and /proc readings of the benchmark's process tree.

The untraced benchmark never builds a SparkSession itself.  The master, the
run directories and the UI switch reach Spark from outside, through
``PYSPARK_SUBMIT_ARGS`` and the environment, as ``spark-submit --master
local[N]`` would pass them; every other session setting is the CLI's own.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def configure_env(tmp: Path, cores: int, extra_confs: dict | None = None) -> None:
    """Point every file Spark, the JVM and the Python workers write at
    ``tmp``, and set the master (and ``extra_confs``) for the next JVM
    launch."""
    for sub in ("local", "java", "py", "warehouse"):
        (tmp / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    os.environ["TMPDIR"] = str(tmp / "py")  # ship_package's zip, worker temp files
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # hsperfdata would otherwise land in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp / 'java'}"
    confs = {
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        **(extra_confs or {}),
    }
    args = [f"--master local[{cores}]"]
    args += [f"--conf {k}={v}" for k, v in confs.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    tempfile.tempdir = None  # re-read TMPDIR


def run_cli(argv: list[str]) -> tuple[float, dict]:
    """One call of the CLI entry; returns (wall seconds, its JSON summary)."""
    from universal_key_value_based_text_processing_with_ocr_spark.__main__ import main

    out = io.StringIO()
    t0 = time.perf_counter()
    with contextlib.redirect_stdout(out):
        rc = main(argv)
    wall = time.perf_counter() - t0
    if rc != 0:
        raise RuntimeError(f"CLI exited {rc}: {argv}")
    return wall, json.loads(out.getvalue().strip().splitlines()[-1])


def active_spark():
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("no active SparkSession")
    return spark


def stop_spark(timeout: float = 60.0) -> None:
    """Stop the session AND its JVM, and wait for the JVM to exit, so the
    next CLI call launches a fresh one (with the current environment)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)


def cores() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


# -- /proc readings of this process and its descendants ----------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # comm may hold spaces; fields after it start at "state"
    return raw[raw.rindex(")") + 2 :].split()


def process_age_s() -> float:
    """Seconds since this process started.  The kernel records the start in
    clock ticks since boot, so both ends are read on the boot clock."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _CLK_TCK


def descendants(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def reap_descendants(timeout: float = 30.0) -> None:
    """Wait until every descendant has exited; kill what outlives
    ``timeout`` (a JVM's Python workers end shortly after it)."""
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in descendants() if p != os.getpid()]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
            deadline = time.monotonic() + timeout
        time.sleep(0.05)
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass


def tree_peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak RSS (VmHWM)."""
    total_kb = 0
    for pid in descendants():
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
        except OSError:
            continue
    return total_kb / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds used by the process tree, counting reaped children."""
    total = 0
    for pid in descendants():
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK
