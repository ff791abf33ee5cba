"""Every import of the package resolves: an ast walk over the package,
``tests/``, ``tools/``, ``perfbench/`` and the root entry scripts finds
each ``etl_with_s3__dynamodb_and_glue_spark`` import — relative or
absolute, module-level or function-local — and checks the module
exists and exports each imported name. A deleted module or name then
fails here in seconds, not on the first call of a rarely run path."""

from __future__ import annotations

import ast
import importlib
import importlib.util

from tests.conftest import ROOT

PKG = "etl_with_s3__dynamodb_and_glue_spark"


def _sources():
    for sub in (PKG, "tests", "tools", "perfbench"):
        yield from sorted((ROOT / sub).rglob("*.py"))
    yield from sorted(ROOT.glob("*.py"))


def _package_of(path) -> str | None:
    rel = path.relative_to(ROOT).with_suffix("").parts
    if rel[0] != PKG:
        return None
    return ".".join(rel[:-1])


def _imports(path):
    """(line, module, names) for each package import in ``path``;
    ``names`` is empty for a plain ``import module``."""
    tree = ast.parse(path.read_text(), filename=str(path))
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name, []
        elif isinstance(node, ast.ImportFrom):
            module = node.module or ""
            if node.level:
                module = importlib.util.resolve_name(
                    "." * node.level + module, _package_of(path)
                )
            yield node.lineno, module, [a.name for a in node.names]


def _unresolved(module: str, names: list[str]) -> list[str]:
    try:
        mod = importlib.import_module(module)
    except ImportError as exc:
        return [f"{module} ({exc})"]
    return [
        f"{module}.{name}"
        for name in names
        if name != "*"
        and not hasattr(mod, name)
        and importlib.util.find_spec(f"{module}.{name}") is None
    ]


def test_every_package_import_resolves():
    bad = []
    n_checked = 0
    for path in _sources():
        for line, module, names in _imports(path):
            if module != PKG and not module.startswith(PKG + "."):
                continue
            n_checked += 1
            rel = path.relative_to(ROOT)
            bad += [f"{rel}:{line}: {m}" for m in _unresolved(module, names)]
    assert n_checked > 100
    assert not bad, "unresolved package imports:\n" + "\n".join(bad)
