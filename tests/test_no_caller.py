"""Every top-level def of the engine has a caller.

An ``ast`` walk of each top-level function and class under
``osgeo_gdal_spark/`` looks for a reference to its name anywhere in the
repo's Python sources other than the def itself: a name, an attribute,
an import, or a string constant equal to the name (registries that look
names up). Query functions (``q_*``) are reached through the registry
and dunders through the language, so both are skipped. A def that
nothing references is dead surface: delete it, or wire it in.

The second scan leaves ``tests/`` out. Its roots are every other Python
source of the repo (jobs, scripts, benchmarks, the entry module) plus the
module-level statements of the engine (the query registry among them),
and it follows names from each reached def's body transitively. An
engine def it does not reach is test-only surface: it must say why it
stays on a docstring line starting ``Test-only:`` (a test's reference
or fixture), or be deleted with the tests that check only it.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(ROOT, "osgeo_gdal_spark")
TESTS = os.path.join(ROOT, "tests")
SKIP_DIRS = {".git", "__pycache__", ".claude"}
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


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
            if not isinstance(node, DEFS):
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


def defs_only_tests_reach():
    """[(relative path, name, reason line or None)] of engine top-level
    defs that nothing outside ``tests/`` reaches, directly or through
    other reached defs."""
    defs, roots = {}, set()
    for path, tree in _sources():
        if path.startswith(TESTS + os.sep):
            continue
        if not path.startswith(ENGINE + os.sep):
            roots |= _names([tree])
            continue
        for node in tree.body:
            if isinstance(node, DEFS):
                defs.setdefault(node.name, []).append((path, node))
            else:
                roots |= _names([node])
    reached, todo = set(), [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _path, node in defs[name]:
            todo += [n for n in _names([node]) if n in defs]
    out = []
    for name, sites in sorted(defs.items()):
        if name in reached or name.startswith("__"):
            continue
        for path, node in sites:
            doc = ast.get_docstring(node) or ""
            why = next((ln.strip() for ln in doc.splitlines()
                        if ln.strip().startswith("Test-only:")), None)
            out.append((os.path.relpath(path, ROOT), name, why))
    return out


def test_test_only_defs_state_why():
    assert [(p, n) for p, n, why in defs_only_tests_reach() if why is None] == []
