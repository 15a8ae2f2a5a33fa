"""Every module of the package is reached from an entry point.

The roots are the CLI (``__main__``) and the benchmark (``crawlbench/*.py``);
the round engine and the sources are reached from them.
The import graph is read from the AST, imports inside functions included.
``oracle/`` holds the plain-Python twins the tests compare against, so it is
exempt.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "dataset_crawler_spark"


def _module_name(path):
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imports(path, modules):
    """Package modules that ``path`` imports, with their parent packages."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            parts = name.split(".")
            found.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return found & modules.keys()


def test_every_package_module_is_reached():
    modules = {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}
    roots = [p for p in modules.values() if p.name == "__main__.py"]
    todo = roots + sorted((ROOT / "crawlbench").glob("*.py"))
    reached = set()
    while todo:
        for name in _imports(todo.pop(), modules) - reached:
            reached.add(name)
            todo.append(modules[name])
    reached.update(_module_name(p) for p in roots)
    unreached = sorted(n for n in modules
                       if n not in reached and not n.startswith(f"{PKG}.oracle"))
    assert not unreached, f"modules no entry point imports: {unreached}"
