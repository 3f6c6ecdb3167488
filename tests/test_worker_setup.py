"""What a Python worker pays before its first row: the package reaching it
(``ship.ship_package``), and the zip directories PySpark's per-task
``importlib.invalidate_caches()`` would re-read (``ship.keep_zip_directories``).
The importer checks run in subprocesses, so no patched importer or
``sys.path`` entry leaks into the test process."""

import os
import statistics
import subprocess
import sys
import time
import zipfile
from pathlib import Path

from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401
from universal_key_value_based_text_processing_with_ocr_spark.operators.extract import _map_rows

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "universal_key_value_based_text_processing_with_ocr_spark"


def _python(code: str, *args, cwd: Path) -> None:
    env = {**os.environ, "TMPDIR": str(cwd)}
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", code, *map(str, args)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr


def test_ship_package_is_a_noop_when_imported_from_an_archive(tmp_path):
    """Imported from a zip (``--py-files``), the package has no source tree
    to zip: the archive it came from already reaches the executors, so
    nothing is added (an empty zip used to be)."""
    archive = tmp_path / "ukv.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        for f in PKG.rglob("*.py"):
            zf.write(f, f.relative_to(REPO))
    code = """
import sys
sys.path.insert(0, sys.argv[1])
from universal_key_value_based_text_processing_with_ocr_spark import ship
assert ship.__file__.startswith(sys.argv[1]), ship.__file__

class Context:
    applicationId = "app-zip"

    def addPyFile(self, path):
        raise AssertionError(f"addPyFile({path})")

class Session:
    sparkContext = Context()

ship.ship_package(Session())
"""
    _python(code, archive, cwd=tmp_path)


def test_zip_directory_kept_until_the_archive_changes(tmp_path):
    """After ``keep_zip_directories``, ``importlib.invalidate_caches()``
    re-reads no unchanged archive's directory, and an archive replaced at
    the same path is re-read, so a module added to it imports."""
    code = """
import importlib, os, sys, zipfile, zipimport
sys.path.insert(0, sys.argv[1])
from universal_key_value_based_text_processing_with_ocr_spark.ship import keep_zip_directories

reads = []
stock_read = zipimport._read_directory
def counting_read(archive):
    reads.append(archive)
    return stock_read(archive)
zipimport._read_directory = counting_read

def write_archive(path, modules):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name + ".py", src)
    os.replace(tmp, path)

archive = os.path.abspath("mods.zip")
write_archive(archive, {"first": "X = 1"})
sys.path.insert(0, archive)
import first
importlib.invalidate_caches()
assert reads, "the counter does not see the stock re-read"

keep_zip_directories()
keep_zip_directories()  # idempotent
reads.clear()
for _ in range(3):
    importlib.invalidate_caches()
assert reads == [], reads

write_archive(archive, {"first": "X = 1", "second": "Y = 2"})
importlib.invalidate_caches()
assert archive in reads, reads
import second
assert second.Y == 2
"""
    _python(code, REPO, cwd=tmp_path)


def test_reused_worker_task_cpu(spark):  # noqa: F811
    """A reused Python worker's CPU between two tasks of the extraction
    stage: the per-task set-up (command decode, Arrow streams, files) and
    no zip directory re-reads, which cost 0.15-0.24 s per task before."""
    from pyspark import TaskContext

    def row_fn(url, html, text, lang):
        return {"url": url, "pid": os.getpid(), "task": TaskContext.get().taskAttemptId(),
                "cpu": time.process_time()}

    pages = spark.range(0, 100, 1, 4).selectExpr(
        "cast(id as string) as url", "cast(null as binary) as html",
        "cast(null as string) as text", "cast(null as string) as lang",
    )
    stage = _map_rows(pages, row_fn, "url string, pid int, task long, cpu double")
    rows = [r for _ in range(6) for r in stage.collect()]
    assert len(rows) == 600

    spans: dict = {}  # pid -> task -> (first row's cpu, last row's cpu)
    for r in rows:
        lo, hi = spans.setdefault(r.pid, {}).get(r.task, (r.cpu, r.cpu))
        spans[r.pid][r.task] = (min(lo, r.cpu), max(hi, r.cpu))
    gaps = []
    for tasks in spans.values():
        ordered = sorted(tasks.values())
        gaps += [nxt[0] - prev[1] for prev, nxt in zip(ordered, ordered[1:])]
    assert len(gaps) >= 10, spans
    assert statistics.median(gaps) < 0.08, sorted(gaps)
