"""No knob with only one value: every defaulted parameter of a package
function must be passed something other than its default by some call in
the repo. A parameter that only ever takes its default is a constant and
is written as one (a literal where it is used, or a module constant that
an operator and its oracle both read). Pure AST; no Spark session."""
from __future__ import annotations

import ast
import os
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "graphiti_spark"
# every place a call may come from: the package, its jobs, tools, the
# benchmark drivers, the examples and the tests
CALLER_ROOTS = (PACKAGE, "jobs", "tools", "perfbench", "examples", "tests",
                "bench.py", "__spark_entry__.py")


def _py_files(rel):
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        yield path
        return
    for d, _, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _defaulted(fn):
    """[(name, positional index or None, default node)] of fn's defaulted
    parameters; the index counts from the first argument a call passes
    (self/cls of a method are not passed)."""
    a = fn.args
    pos = a.posonlyargs + a.args
    skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
    out = []
    for i, (arg, d) in enumerate(zip(pos[len(pos) - len(a.defaults):], a.defaults)):
        idx = len(pos) - len(a.defaults) + i - skip
        out.append((arg.arg, idx, d))
    for arg, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            out.append((arg.arg, None, d))
    return out


def _package_functions():
    """name -> (module, FunctionDef) for every function name defined
    exactly once under the package."""
    seen = defaultdict(list)
    for path in _py_files(PACKAGE):
        mod = os.path.relpath(path, ROOT)[:-3].replace(os.sep, ".")
        for node in ast.walk(_parse(path)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                seen[node.name].append((mod, node))
    return {n: defs[0] for n, defs in seen.items() if len(defs) == 1}


def _calls():
    by_name = defaultdict(list)
    for rel in CALLER_ROOTS:
        for path in _py_files(rel):
            for node in ast.walk(_parse(path)):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.id if isinstance(f, ast.Name) else (
                    f.attr if isinstance(f, ast.Attribute) else None)
                if name:
                    by_name[name].append(node)
    return by_name


def _module_constants():
    """name -> value of the package's module-level `NAME = <literal>`
    assignments, for names every module binds to the same value."""
    seen = defaultdict(set)
    for path in _py_files(PACKAGE):
        for node in _parse(path).body:
            if isinstance(node, ast.Assign) and len(node.targets) == 1:
                target = node.targets[0]
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                target = node.target
            else:
                continue
            value = _literal(node.value)
            if isinstance(target, ast.Name) and value is not None:
                seen[target.id].add(value)
    return {n: vs.pop() for n, vs in seen.items() if len(vs) == 1}


def _literal(node):
    try:
        value = ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError):
        return None
    return (type(value).__name__, repr(value))


def _same(value, default, consts):
    """Whether a passed argument is the default itself: the same
    expression, or the literal a default naming a module constant holds
    (`k=10` against `k: int = DEFAULT_SEARCH_LIMIT`)."""
    if ast.dump(value) == ast.dump(default):
        return True
    if isinstance(default, ast.Name):
        known = consts.get(default.id)
        return known is not None and _literal(value) == known
    return False


def single_valued_params():
    """Sorted 'module.function.param' for every defaulted parameter that no
    call in the repo passes a non-default value."""
    calls = _calls()
    consts = _module_constants()
    hits = []
    for name, (mod, fn) in _package_functions().items():
        for pname, idx, default in _defaulted(fn):
            varied = False
            for c in calls.get(name, ()):
                if any(isinstance(a, ast.Starred) for a in c.args) or any(
                        k.arg is None for k in c.keywords):
                    varied = True
                    break
                passed = [k.value for k in c.keywords if k.arg == pname]
                if idx is not None and idx < len(c.args):
                    passed.append(c.args[idx])
                if any(not _same(v, default, consts) for v in passed):
                    varied = True
                    break
            if not varied:
                hits.append(f"{mod}.{name}.{pname}")
    return sorted(hits)


def test_no_single_valued_parameters():
    hits = single_valued_params()
    assert not hits, (
        f"{len(hits)} defaulted parameter(s) only ever take their default; "
        "fold each into a constant:\n  " + "\n  ".join(hits))
