"""Guard: the operator library has no single-value options.

A defaulted parameter of a public function in the operator modules below
is an option only if some call site gives it a second value. When every
call in the engine, tools, benches and tests passes the same value or
leaves the default, the parameter doubles the configurations a reader must
consider and no workload uses the second one, so it should be a constant.

Pure `ast`: no Spark. `python tests/test_options.py` prints the report.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
MODULES = [
    *(f"kgspark/ops/{m}.py" for m in (
        "corpus", "dedup", "graph", "sampling", "simsearch", "stats", "textstats",
        "webtext",
    )),
    "kgspark/spatial.py",
    "kgspark/observations.py",
]
CALLERS = ["kgspark", "tools", "bench.py", "perfbench", "tests"]

UNKNOWN = object()  # a value the scan cannot pin down (computed, *args, ...)


def _sources():
    for entry in CALLERS:
        path = ROOT / entry
        yield from sorted(path.rglob("*.py")) if path.is_dir() else [path]


def _signature(fn: ast.FunctionDef):
    """(positional names, {name: default source}) of a def."""
    a = fn.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    defaults = {
        p.arg: ast.unparse(d)
        for p, d in zip((a.posonlyargs + a.args)[-len(a.defaults):], a.defaults)
    } if a.defaults else {}
    defaults.update({
        p.arg: ast.unparse(d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    })
    return positional, defaults


def _targets():
    """{function name: (positional names, {defaulted param: default})}."""
    out = {}
    for rel in MODULES:
        for node in ast.parse((ROOT / rel).read_text()).body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                out[node.name] = _signature(node)
    return out


def _calls():
    """(callee name, call node, enclosing def or None) for every call."""
    for path in _sources():
        tree = ast.parse(path.read_text())
        stack = [(tree, None)]
        while stack:
            node, fn = stack.pop()
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name:
                    yield name, node, fn
            stack.extend((child, fn) for child in ast.iter_child_nodes(node))


def single_value_options():
    """{(function, param): value} for each defaulted parameter that takes
    one value over its default and every call site. A value forwarded from
    the caller's own parameter takes that parameter's values."""
    targets = _targets()
    # (function, param) -> the values it takes: a source string, UNKNOWN,
    # or the (function, param) key of a forwarding caller's parameter
    uses = {(f, p): [d] for f, (_, defaults) in targets.items() for p, d in defaults.items()}
    for name, call, encl in _calls():
        if name not in targets:
            continue
        positional, defaults = targets[name]
        encl_params = set()
        if encl is not None:
            encl_params = {a.arg for a in encl.args.posonlyargs + encl.args.args
                           + encl.args.kwonlyargs}
        given = {}
        starred = any(isinstance(a, ast.Starred) for a in call.args)
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred):
                break
            if i < len(positional):
                given[positional[i]] = arg
        for kw in call.keywords:
            if kw.arg is not None:
                given[kw.arg] = kw.value
        spread_kw = any(kw.arg is None for kw in call.keywords)
        for p in defaults:
            if p in given:
                v = given[p]
                if isinstance(v, ast.Name) and v.id in encl_params:
                    uses[(name, p)].append((encl.name, v.id))
                else:
                    uses[(name, p)].append(ast.unparse(v))
            elif starred or spread_kw:
                uses[(name, p)].append(UNKNOWN)
            else:
                uses[(name, p)].append(defaults[p])

    def values(key, seen):
        out = set()
        for u in uses.get(key, [UNKNOWN]):  # a caller that is no target: UNKNOWN
            if not isinstance(u, tuple):
                out.add(u)
            elif u not in seen:
                out |= values(u, seen | {u})
        return out

    found = {key: values(key, {key}) for key in uses}
    return {k: v.pop() for k, v in found.items() if len(v) == 1 and UNKNOWN not in v}


def test_operator_library_has_no_single_value_options():
    found = single_value_options()
    assert not found, (
        f"{len(found)} defaulted parameters take one value at every call site; "
        "make them constants: "
        + ", ".join(f"{f}({p}={v})" for (f, p), v in sorted(found.items()))
    )


if __name__ == "__main__":
    found = single_value_options()
    for (f, p), v in sorted(found.items()):
        print(f"{f}({p}={v})")
    print(f"{len(found)} single-value options on "
          f"{len({f for f, _ in found})} functions", file=sys.stderr)
