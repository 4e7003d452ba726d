"""Every program name perfbench patches, imports or calls resolves, and
every call it makes into the program binds to the callee's signature.

perfbench/ drives the jobs from outside the program: it imports program
functions, wraps module attributes named as strings for ``--trace 1``,
loads the job scripts and calls their ``main`` and probes on them. A
rename or a changed signature in the program would otherwise surface only
when the benchmark runs."""

import ast
import importlib
import inspect
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "documentprocessor_spark"
SCRIPTS = ["layers.py", "run.py"]


def _parse(script: str) -> ast.AST:
    return ast.parse(open(os.path.join(ROOT, "perfbench", script)).read())


def _imports(tree) -> tuple[dict, dict]:
    """``modules``: local name -> program module it binds; ``functions``:
    local name -> (module, attribute) of every other name imported from
    the program."""
    modules, functions = {}, {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE):
            for alias in node.names:
                full = f"{node.module}.{alias.name}"
                try:
                    importlib.import_module(full)
                    modules[alias.asname or alias.name] = full
                except ImportError:
                    functions[alias.asname or alias.name] = (node.module,
                                                             alias.name)
    return modules, functions


def _program_names(tree) -> set[tuple[str, str]]:
    """(module, attribute) pairs the parsed file uses from the program:
    names imported from it, ``module.attr`` uses of an imported program
    module, and ``(module, "attr", ...)`` patch tuples, with the attribute
    spelled as a string or iterated from a tuple of strings."""
    modules, functions = _imports(tree)
    names = set(functions.values())

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


def _program_calls(tree) -> list[tuple[str, str, ast.Call]]:
    """(module, attribute, call) of each call the parsed file makes into
    the program: to a name imported from it, to ``module.attr`` of an
    imported program module, or to ``self.<job>.<attr>`` of a job script
    that ``_load_job(root, "<job>")`` loaded from ``jobs/``."""
    modules, functions = _imports(tree)
    jobs = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign)
                and isinstance(node.targets[0], ast.Attribute)
                and isinstance(node.value, ast.Call)
                and isinstance(node.value.func, ast.Name)
                and node.value.func.id == "_load_job"):
            jobs[node.targets[0].attr] = f"jobs.{node.value.args[1].value}"
    calls = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id in functions:
            calls.append((*functions[f.id], node))
        elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
            if f.value.id in modules:
                calls.append((modules[f.value.id], f.attr, node))
        elif (isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Attribute)
                and f.value.attr in jobs):
            calls.append((jobs[f.value.attr], f.attr, node))
    return calls


@pytest.mark.parametrize("script", SCRIPTS)
def test_perfbench_program_names_resolve(script):
    names = _program_names(_parse(script))
    assert names
    missing = sorted(
        f"{mod}.{attr}" for mod, attr in names
        if not hasattr(importlib.import_module(mod), attr)
    )
    assert not missing, missing


@pytest.mark.parametrize("script", SCRIPTS)
def test_perfbench_program_calls_bind(script):
    """Each call binds its positional count and keyword names to the
    callee's signature: ``get_spark(app_name=, master=,
    shuffle_partitions=, extra_conf=)``, the jobs' ``main(argv,
    stop_session=False)``, ``read_committed_results`` and the probes'
    calls into pipeline, dedup, textstats and the kernel."""
    calls = _program_calls(_parse(script))
    assert calls
    unbound = []
    for mod, attr, call in calls:
        fn = getattr(importlib.import_module(mod), attr)
        if any(isinstance(a, ast.Starred) for a in call.args) or any(
                k.arg is None for k in call.keywords):
            continue  # *args / **kwargs: nothing fixed to bind
        try:
            inspect.signature(fn).bind(
                *call.args, **{k.arg: k.value for k in call.keywords})
        except TypeError as e:
            unbound.append(f"{script}:{call.lineno} {mod}.{attr}: {e}")
    assert not unbound, unbound
    if script == "run.py":
        callees = {f"{mod}.{attr}" for mod, attr, _ in calls}
        assert {"documentprocessor_spark.session.get_spark",
                "jobs.extract_job.main", "jobs.curate_job.main"} <= callees
