"""Every package module, and every top-level function and class in it, is
reached by a job, a query or a CLI.

Code that only tests call is dead code that still costs reading, review
and test time. Both walks (no Spark) start from the entry points — the
spark-submit jobs, the tools, the benchmark, the driver's queries and
every module with a ``__main__`` block.

The module walk follows module imports (top-level and function-local)
and fails on any package module it does not reach.

The function walk collects every name and attribute the entry points
reference, then closes that set over the bodies of the package's
top-level functions and classes whose names are reached (module-level
statements run at import, so they count as reached). It fails on any
top-level definition whose name it does not reach. Names are matched
without their module, which can only over-count reach: no entry point
refers by name to a definition it flags. The plan audit
(``plans/explain_audit.py``) is left out of the function walk: it is a
check on the plans of the product path, like the tests, not a product
path itself, so what only it builds is not reached.
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ent_res_feedback_spark"

#: modules allowed to be unreached, with the reason
EXCEPTIONS = set()

#: the module the function walk neither starts from nor checks
AUDIT = "ent_res_feedback_spark.plans.explain_audit"


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read())


def _package_modules() -> dict[str, str]:
    mods = {}
    for dirpath, _, files in os.walk(os.path.join(REPO, PKG)):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                rel = os.path.relpath(path, REPO)[: -len(".py")]
                name = rel.replace(os.sep, ".")
                mods[name.removesuffix(".__init__")] = path
    return mods


def _has_main_block(tree: ast.Module) -> bool:
    return any(
        isinstance(node, ast.If)
        and isinstance(node.test, ast.Compare)
        and isinstance(node.test.left, ast.Name)
        and node.test.left.id == "__name__"
        for node in tree.body
    )


def _roots(mods: dict[str, str]) -> list[tuple[str, str]]:
    """(module name, path) of every entry point."""
    roots = []
    for d in ("jobs", "tools", "perfbench"):
        for f in sorted(os.listdir(os.path.join(REPO, d))):
            if f.endswith(".py") and not f.startswith("test_"):
                roots.append((f"{d}.{f[:-3]}", os.path.join(REPO, d, f)))
    for f in ("__spark_entry__.py", "bench.py", "bench_extra.py"):
        roots.append((f[:-3], os.path.join(REPO, f)))
    for name, path in mods.items():
        if _has_main_block(_parse(path)):
            roots.append((name, path))
    return roots


def _imports(name: str, path: str, mods: dict[str, str]) -> set[str]:
    """Package modules ``path`` (module ``name``) imports anywhere."""
    tree = _parse(path)
    package = name if path.endswith("__init__.py") else name.rpartition(".")[0]
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")[: len(package.split(".")) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            out.add(mod)
            # ``from pkg import sub`` imports the submodule ``pkg.sub``
            out.update(f"{mod}.{a.name}" for a in node.names)
        elif (
            isinstance(node, ast.Call)
            and getattr(node.func, "id", getattr(node.func, "attr", None))
            in ("__import__", "import_module")
            and node.args
            and isinstance(node.args[0], ast.Constant)
        ):
            out.add(node.args[0].value)
    return {m for m in out if m in mods}


def _reached(mods: dict[str, str]) -> set[str]:
    todo = []
    for name, path in _roots(mods):
        if name in mods:
            todo.append(name)
        else:
            todo.extend(_imports(name, path, mods))
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        parts = name.split(".")
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        todo.extend(".".join(parts[:i]) for i in range(1, len(parts)))
        todo.extend(_imports(name, mods[name], mods))
    return seen


def test_every_package_module_is_reached():
    mods = _package_modules()
    packages = {n for n, p in mods.items() if p.endswith("__init__.py")}
    unreached = set(mods) - packages - _reached(mods)
    # equality, not subset: an exception that becomes reachable is stale
    assert unreached == EXCEPTIONS, (
        f"unreached: {sorted(unreached)}; exceptions: {sorted(EXCEPTIONS)}"
    )


def _names(node: ast.AST) -> set[str]:
    """Every name and attribute ``node`` references."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


_DEFS = (ast.FunctionDef, ast.ClassDef)


def _unreached_defs(mods: dict[str, str]) -> set[tuple[str, str]]:
    reached: set[str] = set()
    defs: dict[str, list[ast.AST]] = {}
    located = set()
    for name, path in _roots(mods):
        # a package module's own __main__ block is module-level code,
        # which the pass below reads
        if name not in mods:
            reached |= _names(_parse(path))
    for name, path in mods.items():
        if name == AUDIT:
            continue
        for node in _parse(path).body:
            if isinstance(node, _DEFS):
                defs.setdefault(node.name, []).append(node)
                located.add((name, node.name))
            else:
                reached |= _names(node)
    todo = list(reached)
    while todo:
        for node in defs.pop(todo.pop(), []):
            new = _names(node) - reached
            reached |= new
            todo.extend(new)
    return {(mod, name) for mod, name in located if name not in reached}


def test_every_package_definition_is_reached():
    unreached = _unreached_defs(_package_modules())
    assert unreached == set(), f"unreached: {sorted(unreached)}"
