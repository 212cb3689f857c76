"""The stat-keyed zip directory cache (changepoynt_spark._zipimport): an
unchanged archive is not re-read on ``importlib.invalidate_caches()``, a
rewritten one is, a deleted one fails imports as before, and the patch is
live on the Python workers that run the engine's UDFs."""
import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import changepoynt_spark  # noqa: F401  (installs the patch)

PATCHED = sys.version_info < (3, 12)
needs_patch = pytest.mark.skipif(
    not PATCHED, reason='Python >= 3.12 reads zip directories lazily; '
                        'nothing is patched there')


@pytest.fixture
def zipped_pkg(tmp_path, monkeypatch):
    """``(archive, name, write)``: a package zipped into ``tmp_path`` and put
    on ``sys.path``; ``write(modules)`` (re)writes the archive in place."""
    name = f'zpkg_{tmp_path.name}'.replace('-', '_')
    archive = tmp_path / 'pkg.zip'

    def write(modules):
        with zipfile.ZipFile(archive, 'w') as z:
            z.writestr(f'{name}/__init__.py', '')
            for mod in modules:
                z.writestr(f'{name}/{mod}.py', f'WHO = {mod!r}\n')

    write(['a', 'c'])
    monkeypatch.syspath_prepend(str(archive))
    yield str(archive), name, write
    for mod in [m for m in sys.modules if m.split('.')[0] == name]:
        del sys.modules[mod]
    for key in [k for k in sys.path_importer_cache if k.startswith(str(archive))]:
        del sys.path_importer_cache[key]


def _count_reads(monkeypatch, archive):
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, '_read_directory', counting)
    return reads


@needs_patch
def test_unchanged_archive_is_not_reread(zipped_pkg, monkeypatch):
    archive, name, _ = zipped_pkg
    assert importlib.import_module(f'{name}.a').WHO == 'a'
    importlib.invalidate_caches()     # first call records the archive's stamp
    reads = _count_reads(monkeypatch, archive)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    # the package and the subpackage importer still serve the archive
    assert importlib.import_module(f'{name}.c').WHO == 'c'


@needs_patch
def test_rewritten_archive_is_reread(zipped_pkg, monkeypatch):
    archive, name, write = zipped_pkg
    importlib.import_module(f'{name}.a')
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(f'{name}.b')
    write(['a', 'b', 'c'])
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert len(reads) == 1            # once per archive, not per importer
    assert importlib.import_module(f'{name}.b').WHO == 'b'


@needs_patch
def test_deleted_archive_fails_imports_quietly(zipped_pkg):
    archive, name, _ = zipped_pkg
    importlib.import_module(f'{name}.a')
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()     # raises nothing
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(f'{name}.c')


def test_patch_is_live_on_python_workers(spark):
    """Every engine UDF imports the package on its worker, which installs the
    patch for every later task of that reused worker.  Pin it, so a refactor
    cannot silently move the import off the worker path."""
    def probe(batches):
        import zipimport

        import pandas as pd

        from changepoynt_spark import codecs  # noqa: F401
        for _ in batches:
            yield pd.DataFrame(
                {'m': [zipimport.zipimporter.invalidate_caches.__module__]})

    got = {r['m'] for r in spark.range(0, 8, numPartitions=2)
                                .mapInPandas(probe, 'm string').collect()}
    assert got == {'changepoynt_spark._zipimport' if PATCHED else 'zipimport'}
