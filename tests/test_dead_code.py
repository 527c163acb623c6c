"""Dead-code gate: every top-level, undecorated function or class in
shapely_spark/ must be referenced by the program — shapely_spark/, tools/,
perfbench/, bench.py or __spark_entry__.py. Tests do not count.

A reference is a Name, an Attribute, an import alias, or a string constant
that is an identifier (the lazy ``__getattr__`` surfaces name their targets
as strings). References are matched by name; a definition's references to
itself (recursion) do not count. Public API that nothing in the program
calls is allowed only through PUBLIC, one reason per entry.
"""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM = ("shapely_spark", "tools", "perfbench", "bench.py", "__spark_entry__.py")
_IDENT = re.compile(r"[A-Za-z_]\w*\Z")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

_HOOK = "PEP 562 module __getattr__: the import system calls it"
_REF = "reference Shapely API: "
_COV = "COVERAGE.md documents it: "

PUBLIC = {
    "__init__.py:__getattr__": _HOOK,
    "geo/__init__.py:__getattr__": _HOOK,
    "geo/errors.py:__getattr__": _HOOK,
    "spark/geometry_cols.py:__getattr__": _HOOK,
    "geo/constructive.py:remove_repeated_points": _REF + "shapely.remove_repeated_points",
    "geo/constructive.py:extract_unique_points": _REF + "shapely.extract_unique_points",
    "geo/constructive.py:rotate": _REF + "shapely.affinity.rotate",
    "geo/constructive.py:intersection_all": _REF + "shapely.intersection_all",
    "geo/constructive.py:symmetric_difference_all": _REF + "shapely.symmetric_difference_all",
    "geo/constructive.py:get_segments": _REF + "shapely.get_segments",
    "geo/constructive.py:set_coordinates": _REF + "shapely.set_coordinates",
    "geo/errors.py:ShapelyDeprecationWarning": _REF + "shapely.errors.ShapelyDeprecationWarning",
    "geo/kernels.py:total_bounds": _REF + "shapely.total_bounds",
    "geo/kernels.py:intersects_xy": _REF + "shapely.intersects_xy",
    "geo/plotting.py:plot_polygon": _REF + "shapely.plotting.plot_polygon",
    "geo/plotting.py:plot_line": _REF + "shapely.plotting.plot_line",
    "geo/speedups.py:enable": _REF + "shapely.speedups.enable",
    "geo/speedups.py:disable": _REF + "shapely.speedups.disable",
    "geo/kernels.py:haversine_km": _COV + "haversine (engine addition)",
    "index/cells.py:cell_children": _COV + "cell hierarchy, cell_to_children analog",
    "spark/ragged.py:wkb_to_ragged": _COV + "to/from_ragged_array (GeoArrow layout)",
    "spark/ragged.py:ragged_to_wkb": _COV + "to/from_ragged_array (GeoArrow layout)",
    "spark/overlay_ops.py:dissolve_two_level": _COV + "dissolve, skew-safe two-level",
    "spark/table_format.py:snapshot_log": _COV + "snapshot-committed table format",
    "spark/table_format.py:read_incremental": _COV + "incremental (changed-data) scan",
    "spark/table_format.py:compact_files": _COV + "snapshot-table maintenance",
    "spark/table_format.py:expire_snapshots": _COV + "snapshot-table maintenance",
    "spark/table_format.py:remove_orphan_files": _COV + "snapshot-table maintenance",
    "spark/warc.py:cdx_index": _COV + "HTTP envelope metadata through WARC (CDXJ fields)",
    "spark/warc.py:read_warc_record": _COV + "WARC source, O(record) url lookup",
    "spark/warc.py:write_wet": _COV + "WARC sink/source, WET sidecar",
    "spark/warc.py:read_wet": _COV + "WARC sink/source, WET sidecar",
}


def _py_files(rel: str):
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        yield path
        return
    for d, _, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _references(tree: ast.Module):
    """(owner, name) per reference; owner is the enclosing top-level
    definition's name, or None at module level."""
    for top in tree.body:
        owner = top.name if isinstance(top, _DEFS) else None
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                yield owner, n.id
            elif isinstance(n, ast.Attribute):
                yield owner, n.attr
            elif isinstance(n, ast.alias):
                yield owner, n.name.rsplit(".", 1)[-1]
                if n.asname:
                    yield owner, n.asname
            elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
                  and _IDENT.match(n.value)):
                yield owner, n.value


def _scan():
    """{"<path under shapely_spark/>:<name>": referenced?} for every
    top-level, undecorated definition."""
    defs, refs = [], {}
    for rel in PROGRAM:
        for path in _py_files(rel):
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            refs[path] = set(_references(tree))
            if rel == "shapely_spark":
                defs += [(path, top.name) for top in tree.body
                         if isinstance(top, _DEFS) and not top.decorator_list]
    names = {}
    for path, rs in refs.items():
        for owner, name in rs:
            names.setdefault(name, set()).add((path, owner))
    pkg = os.path.join(ROOT, "shapely_spark")
    return {
        f"{os.path.relpath(path, pkg)}:{name}":
            any(site != (path, name) for site in names.get(name, ()))
        for path, name in defs
    }


def test_no_unreferenced_top_level_definitions():
    dead = sorted(k for k, used in _scan().items() if not used and k not in PUBLIC)
    assert not dead, (
        "unreferenced top-level definitions (delete them, move a test-only "
        f"helper into its test, or add public API to PUBLIC): {dead}")


def test_public_entries_are_live_definitions_with_reasons():
    scan = _scan()
    stale = sorted(k for k in PUBLIC if k not in scan or scan[k])
    assert not stale, f"PUBLIC entries that are gone or now referenced: {stale}"
    assert all(reason.strip() for reason in PUBLIC.values())
