"""``shipping.release_zip_finders``: the worker-side zipimport finder release."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from talkinghead_datapipeline_spark.shipping import release_zip_finders


@pytest.fixture
def zipped_pkg(tmp_path):
    """A zip holding ``pkg.sub.{a,b}`` on ``sys.path``; restores the import
    state afterwards."""
    archive = tmp_path / "pkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pkg/__init__.py", "")
        zf.writestr("pkg/sub/__init__.py", "")
        zf.writestr("pkg/sub/a.py", "NAME = 'a'\n")
        zf.writestr("pkg/sub/b.py", "NAME = 'b'\n")
    saved_path = list(sys.path)
    saved_modules = dict(sys.modules)
    saved_cache = dict(sys.path_importer_cache)
    sys.path.insert(0, str(archive))
    importlib.invalidate_caches()
    yield str(archive)
    sys.path[:] = saved_path
    for name in set(sys.modules) - set(saved_modules):
        del sys.modules[name]
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(saved_cache)


def _zip_finders():
    return {
        path: finder
        for path, finder in sys.path_importer_cache.items()
        if isinstance(finder, zipimport.zipimporter)
    }


def test_release_drops_archive_and_subpath_finders(zipped_pkg):
    import pkg.sub.a

    assert pkg.sub.a.NAME == "a"
    finders = _zip_finders()
    assert zipped_pkg in finders
    assert any(p.startswith(zipped_pkg) and p != zipped_pkg for p in finders), finders

    release_zip_finders()
    assert _zip_finders() == {}

    import pkg.sub.b

    assert pkg.sub.b.NAME == "b"
