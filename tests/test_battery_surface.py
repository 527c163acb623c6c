"""Battery surface gate: the oracle-gated geometry queries run on the ST_*
surface (spark/geometry_cols.py), not on kernel loops of their own.

AST only, no Spark. A query of shapely_spark/queries.py (a @q function),
together with the module-level helpers of queries.py it calls, fails the
gate when it
- imports a geometry kernel module (geo.kernels, geo.overlay,
  geo.constructive, geo.triangulate) or a builder of geo.geom (any name
  there but its upper-case type constants); or
- runs a Python row loop of its own: mapInPandas, applyInPandas or
  pandas_udf.
A query whose operation has no st_* function stays on ALLOWED, one reason
per entry.
"""

from __future__ import annotations

import ast
import os

PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "shapely_spark", "queries.py")
KERNEL_MODULES = {"geo.kernels", "geo.overlay", "geo.constructive", "geo.triangulate"}
ROW_LOOPS = {"mapInPandas", "applyInPandas", "pandas_udf"}

ALLOWED = {
    "voronoi_two_cell_areas": "st_voronoipolygons takes no extend_to envelope",
    "coverage_valid_grid": "coverage_is_valid judges a set of geometries, "
                           "not a row: no st_* function",
}


def _module(node: ast.ImportFrom) -> str:
    mod = node.module or ""
    return mod.removeprefix("shapely_spark.") if node.level == 0 else mod


def _offences(fn: ast.AST) -> list[str]:
    out = []
    for n in ast.walk(fn):
        if isinstance(n, ast.ImportFrom):
            mod, names = _module(n), [a.name for a in n.names]
            mods = [mod] + [f"{mod}.{x}" for x in names]
            out += [f"imports {m}" for m in mods if m in KERNEL_MODULES]
            if mod == "geo.geom":
                out += [f"imports geo.geom.{x}" for x in names if not x.isupper()]
        elif isinstance(n, ast.Import):
            out += [f"imports {a.name}" for a in n.names
                    if a.name.removeprefix("shapely_spark.") in KERNEL_MODULES]
        elif isinstance(n, ast.Attribute) and n.attr in ROW_LOOPS:
            out.append(f"calls {n.attr}")
        elif isinstance(n, ast.Name) and n.id in ROW_LOOPS:
            out.append(f"calls {n.id}")
    return out


def _scan(src: str) -> dict[str, list[str]]:
    """{query name: offences of its body and the helpers it calls}."""
    tree = ast.parse(src)
    funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    out = {}
    for fn in funcs.values():
        names = [d.args[0].value for d in fn.decorator_list
                 if isinstance(d, ast.Call) and getattr(d.func, "id", "") == "q"]
        if not names:
            continue
        seen, todo, offences = {fn.name}, [fn], []
        while todo:
            f = todo.pop()
            offences += [o if f is fn else f"{o} (in {f.name})" for o in _offences(f)]
            for n in ast.walk(f):
                if isinstance(n, ast.Name) and n.id in funcs and n.id not in seen:
                    seen.add(n.id)
                    todo.append(funcs[n.id])
        out[names[0]] = offences
    return out


def _battery() -> dict[str, list[str]]:
    with open(PATH) as fh:
        return _scan(fh.read())


def test_battery_queries_run_on_the_st_surface():
    bad = {q: o for q, o in _battery().items() if o and q not in ALLOWED}
    assert not bad, ("battery queries with their own geometry kernels or row "
                     f"loops (write them as st_* column expressions): {bad}")


def test_allowed_entries_are_live_queries_with_reasons():
    battery = _battery()
    stale = sorted(q for q in ALLOWED if not battery.get(q))
    assert not stale, f"ALLOWED entries that are gone or now pass the gate: {stale}"
    assert all(reason.strip() for reason in ALLOWED.values())


def test_gate_sees_kernel_imports_and_row_loops_in_helpers():
    src = '''
from .geo import overlay as O
def _helper(df):
    return df.mapInPandas(f, "x int")
@q("clean")
def clean(spark, sf_dir):
    from .geo.geom import POINT
    return G.st_area(x)
@q("kernel")
def kernel(spark, sf_dir):
    from .geo import kernels as K
    from .geo.geom import box
    return K.area(box(0, 0, 1, 1))
@q("loop")
def loop(spark, sf_dir):
    return _helper(spark)
'''
    got = _scan(src)
    assert got["clean"] == []
    assert got["kernel"] == ["imports geo.kernels", "imports geo.geom.box"]
    assert got["loop"] == ["calls mapInPandas (in _helper)"]
