"""The operator scripts under scripts/ run by hand, so no test or job
imports them: a package name one of them imports that was since renamed
or deleted would only show the next time someone runs it. The benchmark
under perfbench/ runs only when measured, and its traced run patches
engine functions by name. Each file is parsed with ``ast`` (no code
runs, no Spark session starts): every package import a script or
perfbench file makes must resolve, and so must every engine attribute
perfbench reaches through an imported module, as ``module.attr`` or as
a ``(module, "attr", ...)`` patch target."""

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
PERFBENCH = sorted(glob.glob(os.path.join(REPO, "perfbench", "*.py")))


def _parse(path: str) -> ast.AST:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _package_imports(path: str):
    """(module, name) for every package import in one file, at any
    depth; ``name`` is None for a plain ``import module``."""
    for node in ast.walk(_parse(path)):
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


def _is_module(name: str) -> bool:
    try:
        return importlib.util.find_spec(name) is not None
    except ModuleNotFoundError:
        return False


def _engine_attributes(path: str):
    """(module, attribute) for every engine attribute one file names
    through a package module it imports (``from package import
    module``): ``module.attr``, and the first two items of a
    ``(module, "attr", ...)`` tuple."""
    tree = _parse(path)
    aliases = {
        alias.asname or alias.name: f"{node.module}.{alias.name}"
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.level == 0
        and (node.module or "").split(".")[0] == PACKAGE
        for alias in node.names
        if _is_module(f"{node.module}.{alias.name}")
    }
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            base, attr = node.value, node.attr
        elif (isinstance(node, ast.Tuple) and len(node.elts) >= 2
              and isinstance(node.elts[1], ast.Constant)
              and isinstance(node.elts[1].value, str)):
            base, attr = node.elts[0], node.elts[1].value
        else:
            continue
        if isinstance(base, ast.Name) and base.id in aliases:
            yield aliases[base.id], attr


def test_resolver_rejects_missing_names():
    assert _resolves(f"{PACKAGE}.sources", "pbf")
    assert _resolves(f"{PACKAGE}.sources.osm", "RAW_SCHEMA")
    assert not _resolves(f"{PACKAGE}.sources.pbf", "no_such_name")
    assert not _resolves(f"{PACKAGE}.no_such_module", None)


def _missing_imports(path: str) -> list[str]:
    return [
        f"from {module} import {name}" if name else f"import {module}"
        for module, name in _package_imports(path)
        if not _resolves(module, name)
    ]


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_package_imports_resolve(path):
    missing = _missing_imports(path)
    assert not missing, missing


@pytest.mark.parametrize("path", PERFBENCH, ids=os.path.basename)
def test_perfbench_engine_names_resolve(path):
    missing = _missing_imports(path) + [
        f"{module}.{attr}"
        for module, attr in _engine_attributes(path)
        if not _resolves(module, attr)
    ]
    assert not missing, missing


def test_perfbench_patch_targets_are_collected():
    """The traced run's patch targets, the store read and the decode
    kernel are among the attributes checked above."""
    found = set(_engine_attributes(
        os.path.join(REPO, "perfbench", "workloads.py")))
    src = f"{PACKAGE}.sources"
    assert {
        (f"{src}.osm", "read_osm"),
        (f"{PACKAGE}.plans.pipeline", "shape_elements"),
        (f"{PACKAGE}.operators.reshape", "clean_tags"),
        (f"{src}.json_sink", "write_json"),
        (f"{src}.json_sink", "write_store"),
        (f"{src}.json_sink", "read_store"),
        (f"{src}.pbf", "decode_pbf_bytes"),
    } <= found
