"""Per-tile kernels run through ``sources.raster.tile_map`` /
``tile_cogroup``.

An ``ast`` walk of every def under ``osgeo_gdal_spark/`` finds loops
over ``.iterrows()`` (``for`` statements and comprehensions) that call
``parse_tile``: the copied decode -> kernel -> encode body the two
runners replace. Only the runners themselves and the mosaic assemblers
below may hold one; each assembler's group is keyed by something other
than the tile, so no tile-keyed runner fits it.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(ROOT, "osgeo_gdal_spark")
RUNNERS = {"tile_map", "tile_cogroup"}
ALLOWED = {
    # keyed by the parent tile
    "operators/raster_ops.py:pyramid_reduce.reduce",
    # keyed by the destination tile
    "operators/raster_ops.py:warp_tiles.warp_one",
    # keyed by the observer
    "operators/raster_ops.py:viewshed.kernel",
}
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


def decoding_loops():
    """Sorted ``path:outer.inner`` names of the defs (outside the two
    runners) that hold a parse_tile loop over ``.iterrows()``."""
    found = set()

    def visit(node, rel, chain):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            chain = chain + [node.name]
        if chain and not RUNNERS & set(chain) and _decoding_loop(node):
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


def test_per_tile_kernels_use_the_runners():
    assert sorted(set(decoding_loops()) - ALLOWED) == []


def test_allowlist_names_live_loops():
    assert sorted(ALLOWED - set(decoding_loops())) == []
