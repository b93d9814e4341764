"""worker_imports.keep_zip_directories: reused Python workers keep their
zip archives' directories across tasks; everything else about
importlib.invalidate_caches stays stdlib."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from importlib.machinery import FileFinder, SourceFileLoader

import pytest
from pyspark.core.files import SparkFiles

from jsonld_ex_spark.worker_imports import keep_zip_directories

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def job(tmp_path_factory):
    """Run tests/worker_imports_job.py in its own local[1] session."""
    proc = subprocess.run(
        [sys.executable, "-m", "tests.worker_imports_job", str(tmp_path_factory.mktemp("late"))],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.spark
def test_reused_worker_keeps_zip_directories(job):
    assert job["expanded"] == '[{"http://example.org/p": [{"@value": 1}]}]'
    probe = job["invalidate"]
    # the probe imports nothing from the package: an earlier task did
    assert probe["package_loaded"] and probe["installed"]
    assert probe["zips"] > 0 and probe["zips_kept"]
    assert probe["finders"] > 0 and probe["finders_reset"]


@pytest.mark.spark
def test_files_added_after_install_import(job):
    assert job["late"] == {"root_mod": "root", "zip_mod": "zip"}


@pytest.mark.spark
def test_driver_keeps_stdlib_invalidate_caches(job):
    assert job["driver_stdlib"]


@pytest.fixture
def stdlib_invalidate(monkeypatch):
    """The current importlib.invalidate_caches, restored after the test."""
    stdlib = importlib.invalidate_caches
    monkeypatch.setattr(importlib, "invalidate_caches", stdlib)
    return stdlib


def test_does_nothing_outside_a_worker(monkeypatch, stdlib_invalidate):
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    keep_zip_directories()
    assert importlib.invalidate_caches is stdlib_invalidate


def test_does_nothing_on_python_3_13(monkeypatch, stdlib_invalidate):
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    keep_zip_directories()
    assert importlib.invalidate_caches is stdlib_invalidate


def test_installing_twice_wraps_once(monkeypatch, stdlib_invalidate):
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    keep_zip_directories()
    installed = importlib.invalidate_caches
    keep_zip_directories()
    assert importlib.invalidate_caches is installed
    assert installed.__wrapped__ is stdlib_invalidate


def test_wrapper_skips_only_absolute_zip_entries(monkeypatch, stdlib_invalidate, tmp_path):
    archive = tmp_path / "a.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("m.py", "")
    zipped = zipimport.zipimporter(str(archive))
    files = zipped._files
    finder = FileFinder(str(tmp_path), (SourceFileLoader, [".py"]))
    finder._path_mtime = 0.0
    entries = {str(archive): zipped, str(tmp_path): finder, "relative.zip": zipped}
    monkeypatch.setattr(sys, "path_importer_cache", {**sys.path_importer_cache, **entries})
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    keep_zip_directories()
    importlib.invalidate_caches()
    assert sys.path_importer_cache[str(archive)] is zipped and zipped._files is files
    assert finder._path_mtime == -1
    assert "relative.zip" not in sys.path_importer_cache
