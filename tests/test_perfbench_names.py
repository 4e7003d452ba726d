"""Every program name perfbench patches, imports or calls resolves.

perfbench/ drives the jobs from outside the program: it imports program
functions, wraps module attributes named as strings for ``--trace 1`` and
calls probes on them. A rename in the program would otherwise surface only
when the benchmark runs."""

import ast
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "documentprocessor_spark"


def _program_names(path: str) -> set[tuple[str, str]]:
    """(module, attribute) pairs the file at ``path`` uses from the
    program: names imported from it, ``module.attr`` uses of an imported
    program module, and ``(module, "attr", ...)`` patch tuples, with the
    attribute spelled as a string or iterated from a tuple of strings."""
    tree = ast.parse(open(path).read())
    modules, names = {}, set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE):
            for alias in node.names:
                full = f"{node.module}.{alias.name}"
                try:
                    importlib.import_module(full)
                    modules[alias.asname or alias.name] = full
                except ImportError:
                    names.add((node.module, alias.name))

    def module_of(node):
        return modules.get(node.id) if isinstance(node, ast.Name) else None

    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and module_of(node.value):
            names.add((module_of(node.value), node.attr))
        elif isinstance(node, ast.Tuple) and len(node.elts) >= 2:
            mod, attr = module_of(node.elts[0]), node.elts[1]
            if mod and isinstance(attr, ast.Constant):
                names.add((mod, attr.value))
        elif isinstance(node, ast.ListComp) and isinstance(node.elt, ast.Tuple):
            gen = node.generators[0]
            mod = module_of(node.elt.elts[0])
            if (mod and isinstance(gen.iter, ast.Tuple)
                    and isinstance(gen.target, ast.Name)
                    and isinstance(node.elt.elts[1], ast.Name)
                    and node.elt.elts[1].id == gen.target.id):
                names.update((mod, c.value) for c in gen.iter.elts)
    return names


@pytest.mark.parametrize("script", ["layers.py", "run.py"])
def test_perfbench_program_names_resolve(script):
    names = _program_names(os.path.join(ROOT, "perfbench", script))
    assert names
    missing = sorted(
        f"{mod}.{attr}" for mod, attr in names
        if not hasattr(importlib.import_module(mod), attr)
    )
    assert not missing, missing
