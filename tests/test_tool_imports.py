"""Static checks on the package's names, pure AST and no Spark session:

- the scripts outside the package still import: every
  `from duckdb_routing_spark... import name` in tools/, perfbench/,
  bench.py and __spark_entry__.py must name a submodule or a top-level
  binding of the module, so deleting a package name that a script still
  uses fails here instead of at the script's next run;
- nothing in the package is dead: every undecorated top-level function or
  class is referenced somewhere in the package, the tests or the scripts."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "duckdb_routing_spark"
SCRIPTS = (
    sorted(glob.glob(os.path.join(ROOT, "tools", "*.py")))
    + sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py")))
    + [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
)


def _module_file(module: str) -> str | None:
    base = os.path.join(ROOT, *module.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _bindings(body: list[ast.stmt]) -> set[str]:
    """Names bound at module level, including inside top-level if/try/with."""
    names: set[str] = set()
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
            continue
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                names.add(a.asname or a.name.split(".")[0])
        for field in ("body", "orelse", "finalbody", "handlers"):
            inner = getattr(node, field, None)
            if isinstance(inner, list):
                names |= _bindings(inner)
    return names


def test_script_imports_of_the_package_resolve():
    bindings: dict[str, set[str]] = {}
    checked, missing = 0, []
    for script in SCRIPTS:
        rel = os.path.relpath(script, ROOT)
        with open(script) as f:
            tree = ast.parse(f.read(), filename=rel)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                wanted = [(a.name, None) for a in node.names if a.name.split(".")[0] == PKG]
            elif isinstance(node, ast.ImportFrom) and node.level == 0 and (node.module or "").split(".")[0] == PKG:
                wanted = [(node.module, a.name) for a in node.names]
            else:
                continue
            for module, name in wanted:
                checked += 1
                path = _module_file(module)
                if path is None:
                    missing.append(f"{rel}:{node.lineno}: no module {module}")
                    continue
                if name is None or name == "*" or _module_file(f"{module}.{name}"):
                    continue
                if path not in bindings:
                    with open(path) as f:
                        bindings[path] = _bindings(ast.parse(f.read()).body)
                if name not in bindings[path]:
                    missing.append(f"{rel}:{node.lineno}: {module} has no {name}")
    assert checked > 0, "no package imports found; the script list is stale"
    assert not missing, "\n".join(missing)


PKG_FILES = sorted(glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True))
TEST_FILES = sorted(glob.glob(os.path.join(ROOT, "tests", "*.py")))


def _referenced_names(tree: ast.AST) -> set[str]:
    """Every name a module mentions as a Name, an attribute or an import."""
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.split(".")[-1])
    return names


def test_every_package_definition_is_referenced():
    """Every undecorated top-level function or class of the package must be
    used somewhere: in the package, tests/, tools/, perfbench/, bench.py or
    __spark_entry__.py. A definition nothing names is dead code."""
    referenced: set[str] = set()
    defined: list[tuple[str, ast.stmt]] = []
    for path in PKG_FILES + TEST_FILES + SCRIPTS:
        with open(path) as f:
            tree = ast.parse(f.read(), filename=path)
        referenced |= _referenced_names(tree)
        if path in PKG_FILES:
            defined += [
                (os.path.relpath(path, ROOT), node)
                for node in tree.body
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.decorator_list
                and not node.name.startswith("__")
            ]
    assert len(defined) > 100, "no package definitions found; the file list is stale"
    dead = [f"{rel}:{node.lineno}: {node.name}" for rel, node in defined if node.name not in referenced]
    assert not dead, "\n".join(dead)
