"""The worker daemon's zip-directory guard and heap freeze.

``daemon.prepare_fork`` patches ``zipimport`` and freezes the heap, so
the checks run in a fresh interpreter, never in the pytest process.
"""

import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

_SCRIPT = textwrap.dedent('''
    import gc, importlib, sys, zipfile, zipimport

    archive = sys.argv[1]

    def write(extra):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("pkg/__init__.py", "")
            z.writestr("pkg/a.py", "A = 1")
            z.writestr("pkg/sub/__init__.py", "")
            z.writestr("pkg/sub/b.py", "B = 2")
            for name in extra:
                z.writestr(name, "C = 3")

    write([])
    sys.path.insert(0, archive)
    import pkg.a, pkg.sub.b

    # one zipimporter per path entry: the archive, pkg/ and pkg/sub/
    importers = [f for p, f in sys.path_importer_cache.items()
                 if p.startswith(archive)]
    assert len(importers) >= 2, importers
    if not all(hasattr(f, "_files") for f in importers):
        print("SKIP"); sys.exit(0)

    from shapely_spark.spark.daemon import prepare_fork

    prepare_fork()

    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    zipimport._read_directory = counting_read
    importlib.invalidate_caches()
    assert reads.count(archive) == 0, reads

    write(["pkg/c.py", "pkg/sub/d.py"])
    importlib.invalidate_caches()
    assert reads.count(archive) == 1, reads
    import pkg.c, pkg.sub.d  # noqa: E401
    assert pkg.c.C == pkg.sub.d.C == 3

    importlib.invalidate_caches()
    assert reads.count(archive) == 1, reads
    assert gc.get_freeze_count() > 0
    print("OK")
''')


def test_zip_guard_rereads_only_changed_archives(tmp_path):
    repo = Path(__file__).resolve().parents[1]
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path / "lib.zip")],
        cwd=repo, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr
    if out.stdout.split()[-1] == "SKIP":
        pytest.skip("zipimporter has no eager per-instance _files here")
    assert out.stdout.split()[-1] == "OK", out.stdout
