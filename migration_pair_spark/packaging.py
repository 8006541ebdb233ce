"""Packaging for multi-executor clusters (north rule: `spark-submit
--py-files`; reference analog: the single-binary console deploy of
/root/reference/Program.cs:17-34).

``build_pyfiles_zip`` produces the archive you pass to
``spark-submit --py-files``; ``ship_package`` attaches the same archive to a
live session (``sc.addPyFile``) so executor Python workers can unpickle the
engine's pandas UDFs regardless of the driver's cwd/sys.path. The session
factory calls ``ship_package`` automatically.
"""

from __future__ import annotations

import atexit
import os
import shutil
import zipfile

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_PKG_NAME = os.path.basename(_PKG_DIR)


def build_pyfiles_zip(out_path: str | None = None) -> str:
    """Zip the engine package (pure source, no caches) for --py-files.

    The default path is in a fresh temp directory per call (same
    basename): a session's tasks keep fetching the file it added, so
    sessions must not share one path — a second session (another
    checkout, or this one after an edit) overwriting it fails every task
    of the first with "exists and does not match contents"."""
    if out_path is None:
        import tempfile

        out_path = os.path.join(tempfile.mkdtemp(), f"{_PKG_NAME}-pyfiles.zip")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, dirs, files in os.walk(_PKG_DIR):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.join(_PKG_NAME, os.path.relpath(full, _PKG_DIR))
                zf.write(full, rel)
    return out_path


def ship_package(spark) -> None:
    """Make the engine importable on executors (idempotent per session)."""
    sc = spark.sparkContext
    marker = "_mps_pyfiles_shipped"
    if getattr(sc, marker, False):
        return
    path = build_pyfiles_zip()
    sc.addPyFile(path)
    # the file server reads the archive for the session's lifetime; drop
    # its per-call directory when the process exits
    atexit.register(shutil.rmtree, os.path.dirname(path), True)
    setattr(sc, marker, True)
