"""The operator scripts under scripts/ run by hand, so no test or job
imports them: a package name one of them imports that was since renamed
or deleted would only show the next time someone runs it. Each script is
parsed with ``ast`` (no script code runs, no Spark session starts) and
every package import it makes must resolve."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "data_wrangle_openstreetmaps_data_spark"
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py")))


def _package_imports(path: str):
    """(module, name) for every package import in one script, at any
    depth; ``name`` is None for a plain ``import module``."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] == PACKAGE:
                for alias in node.names:
                    yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PACKAGE:
                    yield alias.name, None


def _resolves(module: str, name: str | None) -> bool:
    """``from module import name`` (or ``import module``) would succeed:
    the module imports and ``name`` is an attribute or a submodule."""
    try:
        mod = importlib.import_module(module)
        return (
            name is None
            or hasattr(mod, name)
            or importlib.util.find_spec(f"{module}.{name}") is not None
        )
    except ModuleNotFoundError:  # also: ``module`` is not a package
        return False


def test_resolver_rejects_missing_names():
    assert _resolves(f"{PACKAGE}.sources", "pbf")
    assert _resolves(f"{PACKAGE}.sources.osm", "RAW_SCHEMA")
    assert not _resolves(f"{PACKAGE}.sources.pbf", "no_such_name")
    assert not _resolves(f"{PACKAGE}.no_such_module", None)


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_package_imports_resolve(path):
    missing = [
        f"from {module} import {name}" if name else f"import {module}"
        for module, name in _package_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, missing
