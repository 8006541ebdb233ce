"""The executor package archive (packaging.py)."""

from __future__ import annotations

import os
import shutil
import zipfile

from migration_pair_spark.packaging import build_pyfiles_zip


def test_default_builds_never_share_a_path():
    # sessions from two checkouts each ship their own archive: one
    # overwriting the other's would fail every task of the older session
    a, b = build_pyfiles_zip(), build_pyfiles_zip()
    assert a != b
    for path in (a, b):
        assert path.endswith("migration_pair_spark-pyfiles.zip")
        with zipfile.ZipFile(path) as zf:
            assert zf.testzip() is None
            assert "migration_pair_spark/__init__.py" in zf.namelist()
        shutil.rmtree(os.path.dirname(path))
