"""Every import in bench.py, __spark_entry__.py, scripts/*.py and
perfbench/*.py resolves, and every name they import from the engine
exists.

Scripts import lazily, inside functions, so importing a script as a
module never runs those statements, and bench.py once swallowed a failed
one in an ``except``. Walking the AST finds each import statement
wherever it sits; ``find_spec`` resolves the module without running it.
For ``from search_engine_spark… import name`` the engine module is
imported and must define ``name`` (or have it as a submodule), so a
deleted engine function fails here, not first in a benchmark run.
"""

import ast
import glob
import importlib
import importlib.util
import os
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = [os.path.join(ROOT, "bench.py"),
           os.path.join(ROOT, "__spark_entry__.py")] + sorted(
    glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
)


def _imports(path):
    """(line, module, names imported from it) per import statement."""
    with open(path) as f, warnings.catch_warnings():
        warnings.simplefilter("ignore")  # the scripts' own escape warnings
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name, []
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            yield node.lineno, node.module, [a.name for a in node.names]


def _resolves(module: str) -> bool:
    try:
        return importlib.util.find_spec(module) is not None
    except ModuleNotFoundError:  # a missing parent package
        return False


def _missing(module: str, names: list) -> list:
    """What of ``module`` and its imported ``names`` does not exist."""
    if not _resolves(module):
        return [module]
    if module.split(".")[0] != "search_engine_spark":
        return []
    mod = importlib.import_module(module)
    return [
        f"{module}.{n}" for n in names
        if n != "*" and not hasattr(mod, n) and not _resolves(f"{module}.{n}")
    ]


def test_script_imports_resolve(monkeypatch):
    for d in (ROOT, os.path.join(ROOT, "scripts"),
              os.path.join(ROOT, "perfbench")):
        monkeypatch.syspath_prepend(d)
    assert any("perfbench" in p for p in SCRIPTS)
    dangling = [
        f"{os.path.relpath(path, ROOT)}:{line} {miss}"
        for path in SCRIPTS
        for line, module, names in _imports(path)
        for miss in _missing(module, names)
    ]
    assert not dangling, dangling


def test_traced_benchmark_call_sites_exist(monkeypatch):
    """Every query_eval.py statement the traced benchmark attributes jobs
    to (``perfbench/tracing.py:CALL_SITES``), and every function it
    counts as a pruned route (``_PRUNED``), is still in the source: a
    rename there otherwise fails only a traced benchmark run."""
    monkeypatch.syspath_prepend(os.path.join(ROOT, "perfbench"))
    import tracing

    from search_engine_spark.operators import query_eval

    sites = set(tracing._query_phase_map(query_eval.__file__).values())
    stale = set(tracing.CALL_SITES) - sites - {(None, None)}
    assert not stale, sorted(stale)
    funcs = {f for f, _ in sites}
    assert not set(tracing._PRUNED) - funcs, sorted(set(tracing._PRUNED) - funcs)
