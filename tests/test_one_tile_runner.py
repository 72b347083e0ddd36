"""Per-tile kernels run through ``sources.raster.tile_map`` /
``tile_cogroup``, and box -> tile gathers through ``tile_cover``.

An ``ast`` walk of every def under ``osgeo_gdal_spark/`` finds loops
over ``.iterrows()`` (``for`` statements and comprehensions) that call
``parse_tile``: the copied decode -> kernel -> encode body the two
runners replace. Only the runners themselves may hold one.

A second walk finds the ``sequence(tx0, tx1)`` tile-range explode, which
only ``tile_cover`` may hold: it alone owns the empty-box rule.
"""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(ROOT, "osgeo_gdal_spark")
RUNNERS = {"tile_map", "tile_cogroup"}
_RANGE = re.compile(r"sequence\(\s*t[xy]0\s*,\s*t[xy]1\s*\)")
_LOOPS = (ast.For, ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)


def _calls(node, name):
    """True when ``node`` holds a call to ``name`` (bare or attribute)."""
    for n in ast.walk(node):
        if isinstance(n, ast.Call):
            f = n.func
            if (isinstance(f, ast.Name) and f.id == name) or \
                    (isinstance(f, ast.Attribute) and f.attr == name):
                return True
    return False


def _decoding_loop(node):
    """True for a loop over ``.iterrows()`` whose body calls parse_tile."""
    if isinstance(node, ast.For):
        return _calls(node.iter, "iterrows") and \
            any(_calls(b, "parse_tile") for b in node.body)
    if isinstance(node, _LOOPS):
        iters = [g.iter for g in node.generators]
        elts = ([node.key, node.value] if isinstance(node, ast.DictComp)
                else [node.elt])
        return any(_calls(i, "iterrows") for i in iters) and \
            any(_calls(e, "parse_tile") for e in elts)
    return False


def _walk_engine(check):
    """Sorted ``path:outer.inner`` names of the defs in which
    ``check(node)`` holds for some node (``chain`` = enclosing defs)."""
    found = set()

    def visit(node, rel, chain):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            chain = chain + [node.name]
        if check(node, chain):
            found.add(f"{rel}:{'.'.join(chain)}")
        for child in ast.iter_child_nodes(node):
            visit(child, rel, chain)

    for d, _dirs, files in os.walk(ENGINE):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read(), path)
                rel = os.path.relpath(path, ENGINE).replace(os.sep, "/")
                visit(tree, rel, [])
    return sorted(found)


def decoding_loops():
    """The defs (outside the two runners) that hold a parse_tile loop
    over ``.iterrows()``."""
    return _walk_engine(lambda node, chain: chain
                        and not RUNNERS & set(chain)
                        and _decoding_loop(node))


def range_explodes():
    """The defs whose string literals spell a tile-range ``sequence``."""
    return _walk_engine(lambda node, chain: isinstance(node, ast.Constant)
                        and isinstance(node.value, str)
                        and bool(_RANGE.search(node.value)))


def test_per_tile_kernels_use_the_runners():
    assert decoding_loops() == []


def test_tile_cover_is_the_only_range_explode():
    assert range_explodes() == ["sources/raster.py:tile_cover"]
