"""The worker daemon's preload list stays importable.

spark/daemon.py swallows a failed preload so the daemon still comes up;
every forked worker then pays its imports lazily (1-3 s each). This test
makes a stale entry in that list fail loudly instead.
"""

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest


def _preloaded_modules() -> list[str]:
    """Every `import x` in the body of the daemon's top-level try block(s),
    read without importing the daemon (which would mask a failure)."""
    src = importlib.util.find_spec("shapely_spark.spark.daemon").origin
    tree = ast.parse(Path(src).read_text())
    return [a.name for t in tree.body if isinstance(t, ast.Try)
            for n in t.body if isinstance(n, ast.Import) for a in n.names]


def test_preload_list_names_engine_modules():
    mods = _preloaded_modules()
    assert "numpy" in mods and "shapely_spark.geo.kernels" in mods


@pytest.mark.parametrize("mod", _preloaded_modules())
def test_preloaded_module_imports(mod):
    importlib.import_module(mod)
