"""Every import in bench.py and scripts/*.py resolves.

Scripts import lazily, inside functions, so importing a script as a
module never runs those statements, and bench.py once swallowed a failed
one in an ``except``. Walking the AST finds each import statement
wherever it sits; ``find_spec`` resolves the module without running it.
"""

import ast
import glob
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = [os.path.join(ROOT, "bench.py")] + sorted(
    glob.glob(os.path.join(ROOT, "scripts", "*.py"))
)


def _imports(path):
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            yield node.lineno, node.module


def _resolves(module: str) -> bool:
    try:
        return importlib.util.find_spec(module) is not None
    except ModuleNotFoundError:  # a missing parent package
        return False


def test_script_imports_resolve(monkeypatch):
    monkeypatch.syspath_prepend(ROOT)
    monkeypatch.syspath_prepend(os.path.join(ROOT, "scripts"))
    assert len(SCRIPTS) > 1
    dangling = [
        f"{os.path.relpath(path, ROOT)}:{line} {module}"
        for path in SCRIPTS
        for line, module in _imports(path)
        if not _resolves(module)
    ]
    assert not dangling, dangling
