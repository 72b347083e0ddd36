"""Every top-level def of the engine has a caller.

An ``ast`` walk of each top-level function and class under
``osgeo_gdal_spark/`` looks for a reference to its name anywhere in the
repo's Python sources other than the def itself: a name, an attribute,
an import, or a string constant equal to the name (registries that look
names up). Query functions (``q_*``) are reached through the registry
and dunders through the language, so both are skipped. A def that
nothing references is dead surface: delete it, or wire it in.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(ROOT, "osgeo_gdal_spark")
SKIP_DIRS = {".git", "__pycache__", ".claude"}


def _sources():
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if x not in SKIP_DIRS]
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    yield path, ast.parse(fh.read(), path)


def _names(nodes):
    out = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                out.add(n.value)
    return out


def uncalled_defs():
    """[(relative path, name)] of engine top-level defs with no reference
    outside their own definition."""
    trees = dict(_sources())
    refs = {path: _names([tree]) for path, tree in trees.items()}
    out = []
    for path, tree in trees.items():
        if not path.startswith(ENGINE + os.sep):
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            name = node.name
            if name.startswith("q_") or name.startswith("__"):
                continue
            if any(name in r for p, r in refs.items() if p != path):
                continue
            if name in _names(n for n in tree.body if n is not node):
                continue
            out.append((os.path.relpath(path, ROOT), name))
    return out


def test_every_engine_def_has_a_caller():
    assert uncalled_defs() == []
