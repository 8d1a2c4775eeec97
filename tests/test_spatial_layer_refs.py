"""Every public top-level name of the spatial layer has a caller outside
the tests: a function or constant that only tests reach is engine code
nobody runs. AST only, no Spark session."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the spatial layer: modules whose public names need a non-test caller
SPATIAL = ["pda_spark/operators/*.py", "pda_spark/geo/*.py", "pda_spark/functions/geo_udfs.py"]
# where the callers live (perfbench's own tests excluded)
CALLERS = ["pda_spark/**/*.py", "scripts/**/*.py", "perfbench/**/*.py", "bench.py", "__spark_entry__.py"]


def _files(patterns):
    out = set()
    for pat in patterns:
        out.update(glob.glob(os.path.join(ROOT, pat), recursive=True))
    return sorted(f for f in out if "tests" not in os.path.relpath(f, ROOT).split(os.sep))


def _parse(path):
    with open(path) as f:
        return ast.parse(f.read(), path)


def _defined(stmt):
    """Names a top-level statement binds (def, class or assignment)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return {stmt.name}
    targets = stmt.targets if isinstance(stmt, ast.Assign) else (
        [stmt.target] if isinstance(stmt, ast.AnnAssign) else []
    )
    return {n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)}


def _referenced(stmt):
    """Names a statement uses: Name, Attribute and import-alias nodes, so
    a mention in a docstring or comment is not a reference."""
    for n in ast.walk(stmt):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]


def test_spatial_public_names_have_non_test_callers():
    used = set()
    for path in _files(CALLERS):
        for stmt in _parse(path).body:
            # a definition's reference to itself (recursion) is no caller
            used.update(set(_referenced(stmt)) - _defined(stmt))
    orphans = [
        f"{os.path.relpath(path, ROOT)}:{name}"
        for path in _files(SPATIAL)
        for stmt in _parse(path).body
        for name in sorted(_defined(stmt))
        if not name.startswith("_") and name not in used
    ]
    assert not orphans, "public names reached only from tests: " + ", ".join(orphans)


def test_spatial_private_functions_have_callers():
    """A private top-level function of the spatial layer is called from
    somewhere outside itself (its own module included): a helper whose
    last caller was replaced is dead code."""
    used = set()
    for path in _files(CALLERS):
        for stmt in _parse(path).body:
            used.update(set(_referenced(stmt)) - _defined(stmt))
    orphans = [
        f"{os.path.relpath(path, ROOT)}:{stmt.name}"
        for path in _files(SPATIAL)
        for stmt in _parse(path).body
        if isinstance(stmt, ast.FunctionDef) and stmt.name.startswith("_")
        and stmt.name not in used
    ]
    assert not orphans, "private helpers nobody calls: " + ", ".join(orphans)


# parameters kept for a shared signature: the kNN guards all take
# (lon, lat, ring, res), and the geodesic bound does not depend on lon
SHARED_SIGNATURE = {("knn_guard_geodesic", "lon")}


def test_spatial_function_parameters_are_read():
    """Every parameter of a top-level spatial function is read in its
    body: an option the code no longer honours is removed, not kept as a
    silent no-op."""
    unread = []
    for path in _files(SPATIAL):
        for stmt in _parse(path).body:
            if not isinstance(stmt, ast.FunctionDef):
                continue
            a = stmt.args
            params = [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]
            params += [p.arg for p in (a.vararg, a.kwarg) if p is not None]
            names = {n.id for b in stmt.body for n in ast.walk(b) if isinstance(n, ast.Name)}
            unread += [f"{os.path.relpath(path, ROOT)}:{stmt.name}({p})"
                       for p in params
                       if p not in names and (stmt.name, p) not in SHARED_SIGNATURE]
    assert not unread, "parameters never read: " + ", ".join(unread)
