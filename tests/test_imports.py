"""Every module of the package and every script imports cleanly, so a
deletion that leaves a dangling import fails here in seconds instead of
deep inside a Spark test. Scripts are loaded by path; their ``main``
stays behind the ``__name__`` guard and does not run."""

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
