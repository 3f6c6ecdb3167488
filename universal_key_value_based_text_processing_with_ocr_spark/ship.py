"""Ship this package to executor python workers of a live SparkSession.

Local workers do not inherit the driver's sys.path; a one-time zip +
``addPyFile`` is the --py-files mechanism attachable after session start.

The zip is named by a content hash of the package sources so that (a) a
source edit always produces a fresh zip — executors can never keep running
stale code — and (b) concurrent users/processes on a shared host never
collide on one world-writable path (the zip also lives in a per-user dir).

PySpark's worker ends every task's set-up with ``importlib.invalidate_caches()``,
and on CPython 3.11 that makes every ``zipimporter`` re-read its archive's
central directory: ~20 of them over ``pyspark.zip``, the py4j zip and the
shipped zip, ~0.15-0.24 s of worker CPU per task.  ``keep_zip_directories``
makes a reused worker re-read an archive only when it changed on disk.
"""

from __future__ import annotations

import getpass
import hashlib
import os
import sys
import tempfile
import zipfile
import zipimport
from pathlib import Path

_PKG_DIR = Path(__file__).resolve().parent

# (applicationId, digest) pairs already registered in this process, so a
# second ship_package on the same live context is a no-op instead of a
# duplicate addPyFile.  applicationId is stable per context and never reused
# the way id() addresses are after a stop()+GC.
_SHIPPED: set[tuple[str, str]] = set()


def _package_files() -> list[Path]:
    return [
        f
        for f in sorted(_PKG_DIR.rglob("*"))
        if f.is_file() and "__pycache__" not in f.parts and f.suffix != ".pyc"
    ]


def _package_digest(files: list[Path]) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(_PKG_DIR)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def ship_package(spark) -> None:
    """Idempotently make this package importable in executor workers."""
    if not _PKG_DIR.is_dir():
        # imported from an archive (--py-files, a zipapp): that archive
        # already reaches the executors, and there is no source tree to zip
        return
    files = _package_files()
    digest = _package_digest(files)
    key = (spark.sparkContext.applicationId, digest)
    if key in _SHIPPED:
        return

    ship_dir = Path(tempfile.gettempdir()) / f"ukv-ship-{getpass.getuser()}"
    ship_dir.mkdir(mode=0o700, exist_ok=True)
    # The parent tempdir is world-writable: another local user could have
    # pre-created this path and could then plant a digest-named zip that
    # addPyFile would ship to executors (arbitrary code).  Accept the
    # directory only if we own it and nobody else can write it; otherwise
    # fall back to a fresh private directory.
    st = ship_dir.stat()
    if st.st_uid != os.getuid() or (st.st_mode & 0o022):
        ship_dir = Path(tempfile.mkdtemp(prefix="ukv-ship-"))
    zip_path = ship_dir / f"{_PKG_DIR.name}-{digest}.zip"
    if not zip_path.exists():
        tmp = zip_path.with_name(f"{zip_path.name}.tmp-{os.getpid()}")
        with zipfile.ZipFile(tmp, "w") as zf:
            for f in files:
                zf.write(f, f.relative_to(_PKG_DIR.parent))
        os.replace(tmp, zip_path)  # atomic: racing processes converge on one file
    spark.sparkContext.addPyFile(str(zip_path))
    _SHIPPED.add(key)


_STOCK_INVALIDATE = zipimport.zipimporter.invalidate_caches


def _archive_stamp(archive: str) -> tuple | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_if_changed(importer) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when its stat stamp differs from the one taken before
    this importer's last read (an archive that cannot be stat'ed is
    always re-read, as the stock method does)."""
    stamp = _archive_stamp(importer.archive)
    if stamp is None or stamp != getattr(importer, "_read_stamp", None):
        _STOCK_INVALIDATE(importer)
        importer._read_stamp = stamp


def keep_zip_directories() -> None:
    """Make this process's zip importers re-read an archive's directory on
    ``importlib.invalidate_caches()`` only when the archive changed on disk.

    Idempotent; called from a Python worker's task, where the stock
    invalidation has just re-read every archive, so the importers present
    now are stamped as fresh.  Safe because an archive that changes is
    still re-read, and the code that reaches a worker does not change in
    place: ``ship_package`` names each zip by its content hash and writes
    it atomically, and Spark's own zips do not change while an app runs."""
    if zipimport.zipimporter.invalidate_caches is _invalidate_if_changed:
        return
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._read_stamp = _archive_stamp(finder.archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
