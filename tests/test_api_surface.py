"""No option without a caller.

Every defaulted parameter of a public top-level function in the operator
layer (``operators/``, ``functions/``, ``sources/``, ``streaming/``) must be
passed with a non-default value by some call in the package, ``scripts/``,
``perfbench/``, ``bench.py``, ``__spark_entry__.py`` or ``tests/``. A
parameter only ever left at its default is a constant: write it as one.
Pure AST, no Spark.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "healthcare_etl_spark"
OPERATOR_DIRS = ("operators", "functions", "sources", "streaming")
CALLER_ROOTS = (PKG, REPO / "scripts", REPO / "perfbench", REPO / "tests",
                REPO / "bench.py", REPO / "__spark_entry__.py")
# Deployment settings: where the data lives and which environment
# variables hold the JDBC settings.
EXEMPT = {
    ("streaming_events", "glob"),
    ("streaming_events", "schema_dir"),
    ("jdbc_config_from_env", "prefix"),
}
_UNSET = object()


def _files(root: Path):
    return [root] if root.is_file() else sorted(root.rglob("*.py"))


def _literal(node):
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError):
        return _UNSET


def _same(a, b) -> bool:
    return a is not _UNSET and type(a) is type(b) and a == b


def public_defaults():
    """{function name: [(param, default literal or _UNSET, position or None)]}
    over the public top-level functions of the operator layer."""
    out = defaultdict(list)
    for sub in OPERATOR_DIRS:
        for path in _files(PKG / sub):
            for node in ast.parse(path.read_text()).body:
                if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
                    continue
                a = node.args
                pos = a.posonlyargs + a.args
                for i, (arg, d) in enumerate(zip(pos[len(pos) - len(a.defaults):], a.defaults)):
                    out[node.name].append((arg.arg, _literal(d), len(pos) - len(a.defaults) + i))
                for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        out[node.name].append((arg.arg, _literal(d), None))
    return out


def passed_params(defs):
    """(function, param) pairs that some call passes with a non-default value.
    Calls match by the called name; ``*args``/``**kwargs`` pass everything."""
    passed = set()
    for root in CALLER_ROOTS:
        for path in _files(root):
            for node in ast.walk(ast.parse(path.read_text())):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                args, keywords = node.args, node.keywords
                if name == "partial" and args:  # functools.partial(fn, ...)
                    f = args[0]
                    name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                    args = args[1:]
                if name not in defs:
                    continue
                for param, default, pos in defs[name]:
                    if any(isinstance(x, ast.Starred) for x in args) or any(
                            k.arg is None for k in keywords):
                        passed.add((name, param))
                        continue
                    value = next((k.value for k in keywords if k.arg == param), None)
                    if value is None and pos is not None and pos < len(args):
                        value = args[pos]
                    if value is not None and not _same(_literal(value), default):
                        passed.add((name, param))
    return passed


def unused_options():
    defs = public_defaults()
    passed = passed_params(defs)
    return sorted((fn, p) for fn, params in defs.items() for p, _d, _i in params
                  if (fn, p) not in passed and (fn, p) not in EXEMPT)


def test_every_defaulted_parameter_has_a_caller():
    unused = unused_options()
    assert not unused, (
        f"{len(unused)} defaulted parameters are never passed a non-default "
        "value; make them constants: " + ", ".join(f"{f}({p})" for f, p in unused))


def test_scan_sees_the_operator_layer():
    # The rule is vacuous if the scan finds no definitions or no calls.
    defs = public_defaults()
    assert {"minhash_lsh_pairs", "write_table", "run_streaming_tumbling"} <= set(defs)
    assert ("minhash_lsh_pairs", "max_shingle_doc_frac") in passed_params(defs)


def test_perfbench_traces_existing_functions():
    """perfbench wraps source-layer functions by module and name; a
    renamed or deleted one would otherwise fail only inside a benchmark
    run."""
    import importlib

    from perfbench.tracing import COMMIT_CALLS, SOURCE_CALLS

    calls = [(mod, attr) for mod, attr, _span in SOURCE_CALLS]
    calls += [(mod, attr) for mod, attrs in COMMIT_CALLS.items() for attr in attrs]
    assert len(calls) > 10
    missing = [
        f"{mod}.{attr}"
        for mod, attr in calls
        if not callable(getattr(importlib.import_module(mod), attr, None))
    ]
    assert not missing, missing


def _attr_calls(root: Path, attr: str):
    """(file, line, call) of every ``.<attr>(...)`` call under ``root``."""
    return [
        (path.relative_to(REPO), node.lineno, node)
        for path in _files(root)
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == attr
    ]


def test_streaming_jobs_share_one_memory_sink_run():
    """Every memory-sink job runs through ``windows._memory_run``: one
    ``.format("memory")`` in ``streaming/``, ``processAllAvailable`` only
    there and in the foreachBatch parquet sink, and one stateful API."""
    root = PKG / "streaming"
    memory = [
        (path, line)
        for path, line, call in _attr_calls(root, "format")
        if [_literal(a) for a in call.args] == ["memory"]
    ]
    assert len(memory) == 1, memory
    drains = [(path, line) for path, line, _call in _attr_calls(root, "processAllAvailable")]
    assert len(drains) <= 2, drains
    forks = [
        (path.relative_to(REPO), node.lineno)
        for path in _files(root)
        for node in ast.walk(ast.parse(path.read_text()))
        if "transformWithState" in getattr(node, "attr", getattr(node, "id", ""))
    ]
    assert not forks, forks


def test_no_broad_except_in_the_package():
    """Failures raise named errors: no ``except Exception``, ``except
    BaseException`` or bare ``except`` may swallow one, except in the
    retry loop of ``sources/retry.py``."""
    broad = {"Exception", "BaseException"}

    def is_broad(handler: ast.ExceptHandler) -> bool:
        kinds = handler.type.elts if isinstance(handler.type, ast.Tuple) else [handler.type]
        return handler.type is None or any(getattr(k, "id", None) in broad for k in kinds)

    found = [
        f"{path.relative_to(REPO)}:{node.lineno}"
        for path in _files(PKG)
        if path != PKG / "sources" / "retry.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.ExceptHandler) and is_broad(node)
    ]
    assert not found, found


def _string_constants():
    """(module, name, value) of every top-level name the package binds
    to a string literal."""
    out = []
    for path in _files(PKG):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            value = node.value
            if isinstance(value, ast.Constant) and isinstance(value.value, str):
                out += [(str(path.relative_to(REPO)), t.id, value.value)
                        for t in targets if isinstance(t, ast.Name)]
    return out


def test_shared_string_constants_are_bound_once():
    """A format string or SQL fragment that two places share is bound in
    one module and imported by the others: no top-level string constant
    is bound in two package modules under one name, and no string longer
    than 15 characters is bound twice under any name."""
    modules, sites = defaultdict(set), defaultdict(list)
    for module, name, value in _string_constants():
        modules[name].add(module)
        if len(value) > 15:
            sites[value].append(f"{module}:{name}")
    copies = [f"{name} in {sorted(mods)}" for name, mods in modules.items() if len(mods) > 1]
    copies += [" = ".join(s) for s in sites.values() if len(s) > 1]
    assert not copies, copies


def _is_half_away_round(node) -> bool:
    """``math.floor(abs(...) ... + 0.5)``: Python's half-away-from-zero
    rounding written out by hand."""
    if not (isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "floor"
            and node.args and isinstance(node.args[0], ast.BinOp)
            and isinstance(node.args[0].op, ast.Add)):
        return False
    arg = node.args[0]
    return _literal(arg.right) == 0.5 and any(
        isinstance(n, ast.Call) and getattr(n.func, "id", None) == "abs"
        for n in ast.walk(arg.left))


def test_python_half_away_rounding_has_one_site():
    """Driver-side rounding that must agree with ``stable_round`` calls
    ``functions/rounding.half_away`` / ``stable_round_py``; no other module
    writes ``math.floor(abs(x) * scale + 0.5)`` itself."""
    found = [
        f"{path.relative_to(REPO)}:{node.lineno}"
        for path in _files(PKG)
        if path != PKG / "functions" / "rounding.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if _is_half_away_round(node)
    ]
    assert not found, found
    rounding = ast.parse((PKG / "functions" / "rounding.py").read_text())
    assert sum(map(_is_half_away_round, ast.walk(rounding))) == 1
