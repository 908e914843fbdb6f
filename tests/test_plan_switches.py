"""Plan-switch lint: every bool-defaulted parameter of a public function
under ``operators/`` has a caller in the package that passes the other
value.

A boolean that picks between two physical plans for the same result,
with no package caller on one side, is an untested and unmeasured second
path: only a parity test ever runs it. Each operator runs one plan;
bringing an alternative back means choosing it inside the operator from
something observable (input size, platform), with a benchmark workload
on each side, not adding a flag. Tests do not count as callers.

A call site counts when the argument in the parameter's slot (keyword or
positional) is anything but the default literal, except a bare name equal
to the parameter's own name: that only forwards the switch one level up.
Callees are matched by function name across the package.

Scope: ``operators/`` only. ``multimodal/`` is out of scope:
``real_codec`` there (and in ``streaming/pipelines.py``) selects real
format decoding over the stub decoder. That is a capability, not a
second plan for one result, and removing it is a separate decision.
AST only; no Spark.
"""

from __future__ import annotations

import ast
import pathlib

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "mapreduce_implementation_grpc_spark"
)


def bool_switches(source: str) -> dict[tuple[str, str], tuple[int | None, bool]]:
    """(function, parameter) -> (positional index or None for
    keyword-only, default) for every bool-defaulted parameter of a
    public module-level function in `source`."""
    out = {}
    for node in ast.parse(source).body:
        if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
            continue
        a = node.args
        pos = a.posonlyargs + a.args
        pos_defaults = [None] * (len(pos) - len(a.defaults)) + list(a.defaults)
        params = [(i, p, d) for i, (p, d) in enumerate(zip(pos, pos_defaults))]
        params += [(None, p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)]
        for i, p, d in params:
            if isinstance(d, ast.Constant) and isinstance(d.value, bool):
                out[(node.name, p.arg)] = (i, d.value)
    return out


def _passes_other_value(call: ast.Call, param: str, idx, default: bool) -> bool:
    arg = next((k.value for k in call.keywords if k.arg == param), None)
    if (
        arg is None
        and idx is not None
        and len(call.args) > idx
        and not any(isinstance(a, ast.Starred) for a in call.args[: idx + 1])
    ):
        arg = call.args[idx]
    if arg is None:
        return False
    if isinstance(arg, ast.Constant) and arg.value is default:
        return False
    return not (isinstance(arg, ast.Name) and arg.id == param)


def unused_switches(
    operator_sources: dict[str, str], package_sources: dict[str, str]
) -> list[str]:
    """'module.function(param)' for each switch in `operator_sources`
    that no call in `package_sources` sets to its other value."""
    calls: dict[str, list[ast.Call]] = {}
    for src in package_sources.values():
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Call):
                f = node.func
                name = (
                    f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute)
                    else None
                )
                calls.setdefault(name, []).append(node)
    unused = []
    for mod, src in sorted(operator_sources.items()):
        for (fn, param), (idx, default) in sorted(bool_switches(src).items()):
            if not any(
                _passes_other_value(c, param, idx, default)
                for c in calls.get(fn, [])
            ):
                unused.append(f"{mod}.{fn}({param})")
    return unused


def test_plan_switch_detector_self_test():
    ops = {
        "demo": (
            "def unused(df, fast=False): ...\n"
            "def by_keyword(df, pin=True): ...\n"
            "def by_position(df, k=3, exact=False): ...\n"
            "def kw_only(df, *, salted=True): ...\n"
            "def computed(df, use_lsh=False): ...\n"
            "def forwarded(df, ascending=True): ...\n"
            "def _private(df, flag=False): ...\n"
        )
    }
    pkg = {
        "caller": (
            "unused(df, fast=False)\n"
            "unused(df)\n"
            "ops.by_keyword(df, pin=False)\n"
            "by_position(df, 5, True)\n"
            "kw_only(df, salted=True)\n"
            "computed(df, use_lsh=n > 1000)\n"
            "def wrap(df, ascending=True):\n"
            "    return forwarded(df, ascending=ascending)\n"
        )
    }
    assert unused_switches(ops, pkg) == [
        "demo.forwarded(ascending)",
        "demo.kw_only(salted)",
        "demo.unused(fast)",
    ]


def test_every_operator_bool_switch_has_a_package_caller_for_each_value():
    operator_sources = {
        p.relative_to(PKG / "operators").with_suffix("").as_posix(): p.read_text()
        for p in sorted((PKG / "operators").rglob("*.py"))
    }
    package_sources = {
        p.relative_to(PKG).as_posix(): p.read_text() for p in sorted(PKG.rglob("*.py"))
    }
    assert unused_switches(operator_sources, package_sources) == []
    # the switches that remain, each with a caller passing the other value
    surviving = {
        (mod, fn, param)
        for mod, src in operator_sources.items()
        for (fn, param) in bool_switches(src)
    }
    assert surviving == {
        ("dedup", "minhash_signatures", "with_shset"),
        ("graph_motifs", "purchase_edges", "distinct"),
        ("graph_motifs", "cosupply_edges", "keep_weight"),
        ("ranking", "bucketize_by_key", "ascending"),
        ("ranking", "with_global_row_number", "ascending"),
        ("similarity", "embedding_dup_pairs", "use_lsh"),
        ("similarity", "mutual_nearest_pairs", "pin"),
    }
