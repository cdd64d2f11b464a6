"""Every package module, and every top-level function and class in it, is
reached by a job, a query or a CLI.

Code that only tests call is dead code that still costs reading, review
and test time, and so is an option that only tests set. The three walks
(no Spark) start from the entry points — the spark-submit jobs, the
tools, the benchmark, the driver's queries and every module with a
``__main__`` block.

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

The option walk takes each defaulted parameter of each top-level
package function (plan audit left out, as above) and fails on any that
no call in the entry points, in ``bench.py --scaling``'s child source
(``_SCALING_CHILD``, run with ``python -c``) or in package code passes —
by keyword, by reaching its position, or through ``*``/``**``. A call
counts when its callee's name equals the function's name. A function
whose name is used other than as a callee (an alias, a value passed on,
a memo) may be called with anything, so all its parameters count as
set. An option never set has one value in use: it is a constant.
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ent_res_feedback_spark"

#: the module the function and option walks neither start from nor check
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
    assert unreached == set(), f"unreached: {sorted(unreached)}"


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


def _root_trees(mods: dict[str, str]) -> list[ast.Module]:
    """The entry points' code outside the package, with the source of
    ``bench.py --scaling``'s child (``_SCALING_CHILD``, run with
    ``python -c``)."""
    trees = [_parse(path) for name, path in _roots(mods) if name not in mods]
    for node in ast.walk(_parse(os.path.join(REPO, "bench.py"))):
        if (
            isinstance(node, ast.Assign)
            and getattr(node.targets[0], "id", None) == "_SCALING_CHILD"
        ):
            trees.append(ast.parse(node.value.value))
    return trees


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(name, position or None if keyword-only) of each defaulted
    parameter."""
    pos = fn.args.posonlyargs + fn.args.args
    first = len(pos) - len(fn.args.defaults)
    out = [(a.arg, i) for i, a in enumerate(pos) if i >= first]
    out += [
        (a.arg, None)
        for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
        if d is not None
    ]
    return out


def _unset_options(mods: dict[str, str]) -> set[tuple[str, str, str]]:
    trees = _root_trees(mods)
    fns = []
    for name, path in mods.items():
        if name == AUDIT:
            continue
        tree = _parse(path)
        trees.append(tree)
        fns += [(name, n) for n in tree.body if isinstance(n, ast.FunctionDef)]
    calls: dict[str, list[ast.Call]] = {}
    callees = set()
    named = set()
    for tree in trees:
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                callees.add(id(n.func))
                callee = getattr(n.func, "id", getattr(n.func, "attr", None))
                calls.setdefault(callee, []).append(n)
        named |= {
            getattr(n, "id", getattr(n, "attr", None))
            for n in ast.walk(tree)
            if isinstance(n, (ast.Name, ast.Attribute)) and id(n) not in callees
        }
    unset = set()
    for mod, fn in fns:
        # a function that is aliased, passed on or stored may be called
        # with anything
        if fn.name in named:
            continue
        for param, pos in _defaulted(fn):
            if not any(
                any(isinstance(a, ast.Starred) for a in call.args)
                or any(k.arg in (None, param) for k in call.keywords)
                or (pos is not None and pos < len(call.args))
                for call in calls.get(fn.name, [])
            ):
                unset.add((mod, fn.name, param))
    return unset


def test_every_package_option_is_set():
    """Every defaulted parameter of a top-level package function is passed
    by some entry point or package code; one that never is has one value
    in use and is a constant."""
    unset = _unset_options(_package_modules())
    assert unset == set(), f"never set: {sorted(unset)}"
