"""Every module of the package and every script imports cleanly, so a
deletion that leaves a dangling import fails here in seconds instead of
deep inside a Spark test. Scripts are loaded by path; their ``main``
stays behind the ``__name__`` guard and does not run. Imports that run
only when a function is called (every script imports the package inside
``main()``) are resolved from the source's syntax tree."""

import ast
import importlib
import importlib.util
import os
import pkgutil

import pytest

import pyspark_codesearch

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    f for f in os.listdir(os.path.join(ROOT, "scripts")) if f.endswith(".py")
)
MODULES = sorted(
    m.name
    for m in pkgutil.walk_packages(pyspark_codesearch.__path__, "pyspark_codesearch.")
)


def test_modules_found():
    assert "pyspark_codesearch.lineage" in MODULES
    assert "pyspark_codesearch.streaming.incremental" in MODULES
    assert "query.py" in SCRIPTS


@pytest.mark.parametrize("name", MODULES)
def test_package_module_imports(name):
    importlib.import_module(name)


@pytest.mark.parametrize("fname", SCRIPTS)
def test_script_imports(fname):
    path = os.path.join(ROOT, "scripts", fname)
    spec = importlib.util.spec_from_file_location(f"_script_{fname[:-3]}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(getattr(module, "main", None)), f"{fname} has no main()"


# every file that imports from the package; perfbench's are only parsed
SOURCES = sorted(
    os.path.relpath(os.path.join(d, f), ROOT)
    for top in ("pyspark_codesearch", "scripts", "perfbench")
    for d, _, files in os.walk(os.path.join(ROOT, top))
    for f in files
    if f.endswith(".py")
) + ["__spark_entry__.py"]


def _package_imports(relpath: str):
    """(line, module, names) of every package import in the file, at any
    depth: module level, in functions and in methods. Relative imports
    are resolved against the file's own package."""
    with open(os.path.join(ROOT, relpath)) as f:
        tree = ast.parse(f.read(), relpath)
    # a module's package, and an __init__'s own package, drop the last part
    package = relpath[:-3].split(os.sep)[:-1]
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - node.level + 1]
                module = ".".join(base + ([node.module] if node.module else []))
            else:
                module = node.module
            if module.split(".")[0] == "pyspark_codesearch":
                yield node.lineno, module, [a.name for a in node.names]
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "pyspark_codesearch":
                    yield node.lineno, a.name, []


def test_sources_found():
    assert "scripts/crossover.py" in SOURCES
    assert "perfbench/workloads.py" in SOURCES
    assert "pyspark_codesearch/streaming/incremental.py" in SOURCES


@pytest.mark.parametrize("relpath", SOURCES)
def test_every_package_import_resolves(relpath):
    """Each ``from pyspark_codesearch... import name`` and relative
    import names a module that exists and, in it, a name it defines (or
    a submodule), function-local imports included."""
    for line, module, names in _package_imports(relpath):
        mod = importlib.import_module(module)
        for name in names:
            submodule = hasattr(mod, "__path__") and importlib.util.find_spec(
                f"{module}.{name}"
            )
            assert name == "*" or hasattr(mod, name) or submodule, (
                f"{relpath}:{line}: {module} has no {name}"
            )
