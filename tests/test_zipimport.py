"""Lazy zip-directory invalidation (``artis_data_ingest_spark/_zipimport.py``).

Spark-free: each test builds a zip archive holding a package and a
sub-package under ``tmp_path``, puts it on ``sys.path`` and counts
``zipimport._read_directory`` calls.
"""

from __future__ import annotations

import importlib
import json
import os
import pkgutil
import subprocess
import sys
import uuid
import zipfile
import zipimport
from pathlib import Path

import pytest

from artis_data_ingest_spark import _zipimport

_REPO = str(Path(__file__).resolve().parent.parent)


def _write_archive(path: Path, name: str, extra: dict[str, str] | None = None) -> None:
    members = {
        f"{name}/__init__.py": "VALUE = 'pkg'\n",
        f"{name}/sub/__init__.py": "VALUE = 'sub'\n",
        f"{name}/sub/mod.py": "VALUE = 'mod'\n",
        **(extra or {}),
    }
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        for member, text in members.items():
            zf.writestr(member, text)
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """(archive path, package name) on sys.path; modules dropped after."""
    name = f"zpkg_{uuid.uuid4().hex[:8]}"
    path = tmp_path / "lib.zip"
    _write_archive(path, name)
    monkeypatch.syspath_prepend(str(path))
    yield str(path), name
    for mod in [m for m in sys.modules if m == name or m.startswith(name + ".")]:
        del sys.modules[mod]
    for key in [k for k in sys.path_importer_cache if k.startswith(str(path))]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(str(path), None)


@pytest.fixture
def reads(monkeypatch):
    """Archives passed to ``zipimport._read_directory`` from now on."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _importers(path: str) -> list:
    return [
        imp
        for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == path
    ]


def test_invalidate_caches_reads_no_directory(archive, reads):
    path, name = archive
    importlib.import_module(f"{name}.sub.mod")
    assert len(_importers(path)) >= 3
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []


def test_next_lookup_reads_archive_once_for_all_importers(archive, reads):
    path, name = archive
    importlib.import_module(f"{name}.sub")
    importlib.invalidate_caches()
    reads.clear()
    assert importlib.import_module(f"{name}.sub.mod").VALUE == "mod"
    importers = _importers(path)
    assert len(importers) >= 3
    for imp in importers:
        assert imp.find_spec(f"{name}.nothing_here") is None
        assert f"{name}/sub/mod.py" in imp._files
    assert reads == [path]


def test_module_added_to_rewritten_archive_imports(archive, reads):
    path, name = archive
    importlib.import_module(f"{name}.sub.mod")
    _write_archive(
        Path(path), name, {f"{name}/sub/added.py": "VALUE = 'added'\n"}
    )
    importlib.invalidate_caches()
    reads.clear()
    assert importlib.import_module(f"{name}.sub.added").VALUE == "added"
    assert reads == [path]


def test_vanished_archive_reads_empty(archive):
    path, name = archive
    importlib.import_module(f"{name}.sub")
    os.remove(path)
    importlib.invalidate_caches()
    for imp in _importers(path):
        assert imp._files == {}
    with pytest.raises(ImportError):
        importlib.import_module(f"{name}.sub.mod")


def test_pkgutil_lists_archive_after_invalidation(archive):
    path, name = archive
    importlib.import_module(name)
    importlib.invalidate_caches()
    assert [m.name for m in pkgutil.iter_modules([path])] == [name]


def test_importer_created_before_installation(tmp_path):
    """A fresh interpreter imports from the archive, then installs."""
    name = "zpkg_early"
    path = tmp_path / "lib.zip"
    _write_archive(path, name)
    script = f"""
import importlib, json, sys, zipimport
sys.path.insert(0, {str(path)!r})
import {name}.sub.mod
early = [i for i in sys.path_importer_cache.values()
         if isinstance(i, zipimport.zipimporter)]
sys.path.append({_REPO!r})
import artis_data_ingest_spark
reads = []
real = zipimport._read_directory
zipimport._read_directory = lambda a: reads.append(a) or real(a)
for _ in range(3):
    importlib.invalidate_caches()
after_invalidate = len(reads)
import zipfile
with zipfile.ZipFile({str(path)!r}, "a") as zf:
    zf.writestr("{name}/sub/added.py", "VALUE = 'added'\\n")
importlib.invalidate_caches()
import {name}.sub.added
print(json.dumps({{
    "importers": len(early),
    "after_invalidate": after_invalidate,
    "after_import": len(reads),
    "added_seen": all("{name}/sub/added.py" in i._files for i in early),
    "value": {name}.sub.added.VALUE,
}}))
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, check=True, cwd=tmp_path,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got.pop("importers") >= 3
    assert got == {
        "after_invalidate": 0,
        "after_import": 1,
        "added_seen": True,
        "value": "added",
    }


def test_second_installation_changes_nothing():
    cls = zipimport.zipimporter
    assert hasattr(cls, "_get_files")
    before = dict(vars(cls))
    lister = pkgutil.iter_importer_modules.registry[cls]
    assert _zipimport.install() is False
    assert dict(vars(cls)) == before
    assert pkgutil.iter_importer_modules.registry[cls] is lister
