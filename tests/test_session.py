"""Session helpers: the self-shipped package zip."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

from osmesa_spark.session import ship_package


class _FakeContext:
    def __init__(self):
        self.py_files: list[str] = []

    def addPyFile(self, path: str) -> None:
        self.py_files.append(path)


class _FakeSession:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_ship_package_is_atomic(tmp_path, monkeypatch):
    """A build that fails mid-write leaves nothing at the shared zip path
    (a concurrent reader would otherwise pick up a truncated archive), and
    the next call builds a zip the package imports from."""
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    zip_path = tmp_path / "osmesa_spark_pkg.zip"
    real_write = zipfile.ZipFile.write
    calls = []

    def failing_write(self, *args, **kwargs):
        calls.append(args)
        if len(calls) == 3:
            raise OSError("disk full")
        return real_write(self, *args, **kwargs)

    monkeypatch.setattr(zipfile.ZipFile, "write", failing_write)
    with pytest.raises(OSError, match="disk full"):
        ship_package(_FakeSession())
    assert not zip_path.exists()
    assert os.listdir(tmp_path) == [], "the partial build was left behind"

    monkeypatch.setattr(zipfile.ZipFile, "write", real_write)
    session = _FakeSession()
    ship_package(session)
    assert session.sparkContext.py_files == [str(zip_path)]
    assert os.listdir(tmp_path) == [zip_path.name]
    probe = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import osmesa_spark.util as u; print(u.__file__)"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe, str(zip_path)],
        cwd=tmp_path, capture_output=True, text=True, check=True,
    ).stdout
    assert out.strip().startswith(str(zip_path))
