"""The registry package exports only its public surface (QUERIES,
ORACLES and the bench tier lists); every other name is imported from
the module that defines it. Code and the two reference documents name
only scripts, ledgers and plan directories that exist. These checks
need no Spark session."""

from __future__ import annotations

import ast
import importlib
import os
import re
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "mapreduce_implementation_grpc_spark"
CALLERS = ["tests", "tools", "bench.py", "perfbench", "__spark_entry__.py"]


def _caller_files(entries=CALLERS, suffixes=(".py",)):
    for entry in entries:
        path = os.path.join(REPO, entry)
        if os.path.isfile(path):
            yield path
            continue
        for root, _, names in os.walk(path):
            yield from (os.path.join(root, n) for n in sorted(names) if n.endswith(suffixes))


def _registry_names(path):
    """(module, name, line) for every ``registry.<name>`` attribute and
    every ``from ...registry[.part] import <name>`` in one file."""
    tree = ast.parse(open(path).read(), path)
    aliases = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == PKG:
            aliases |= {a.asname or a.name for a in node.names if a.name == "registry"}
        elif isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            PKG + ".registry"
        ):
            for a in node.names:
                yield node.module, a.name, node.lineno
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            yield PKG + ".registry", node.attr, node.lineno


def test_registry_callers_resolve():
    """Tests import registry names lazily inside their bodies, so a
    name the package no longer exports would otherwise fail only when
    that one test runs."""
    missing = []
    for path in _caller_files():
        for module, name, line in _registry_names(path):
            if not hasattr(importlib.import_module(module), name):
                missing.append(f"{os.path.relpath(path, REPO)}:{line}: {module}.{name}")
    assert missing == []


def test_registry_exports_only_public_surface():
    import types

    from mapreduce_implementation_grpc_spark import registry

    exported = sorted(
        name
        for name, value in vars(registry).items()
        if not name.startswith("__") and not isinstance(value, types.ModuleType)
    )
    assert exported == [
        "BENCH_QUERIES",
        "CANARY_QUERIES",
        "EAGER_BENCH_QUERIES",
        "EXTENDED_BENCH_QUERIES",
        "ORACLES",
        "QUERIES",
    ]


def test_merge_oracles_raises_on_a_key_defined_twice():
    from mapreduce_implementation_grpc_spark.registry.assembly import merge_oracles

    merged = merge_oracles({"a": "1", "b": "2"}, {"c": "3"})
    assert list(merged.items()) == [("a", "1"), ("b", "2"), ("c", "3")]
    with pytest.raises(ValueError, match="'b' is defined twice"):
        merge_oracles({"a": "1", "b": "2"}, {"b": "2"})


def test_attribution_summary_oracle_embeds_purchase_attribution():
    from mapreduce_implementation_grpc_spark.registry import ORACLES

    assert "{ATTRIBUTION}" not in ORACLES["attribution_summary"]
    assert ORACLES["purchase_attribution"] in ORACLES["attribution_summary"]


def test_built_package_includes_registry(tmp_path):
    """The installed package must carry every subpackage: a hand-kept
    package list once left out ``registry``, so the ``mrgs-query``
    script could not start from an install."""
    src = tmp_path / "src"
    src.mkdir()
    for name in ("pyproject.toml", "README.md"):
        shutil.copy(os.path.join(REPO, name), src)
    shutil.copytree(
        os.path.join(REPO, PKG), src / PKG,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    build = tmp_path / "build"
    subprocess.run(
        [sys.executable, "-c", "from setuptools import setup; setup()",
         "build", "--build-base", str(build)],
        cwd=src, check=True, capture_output=True,
    )
    lib = build / "lib"
    env = {**os.environ, "PYTHONPATH": str(lib)}
    out = subprocess.run(
        [sys.executable, "-c",
         f"from {PKG} import registry; print(registry.__file__, len(registry.QUERIES))"],
        cwd=tmp_path, env=env, check=True, capture_output=True, text=True,
    ).stdout.split()
    assert out[0].startswith(str(lib))
    assert int(out[1]) > 0


# Repo-relative paths to the recorded-evidence areas: a script or JSON
# ledger under tools/, a plan-dump round directory, or an import of a
# tools module. Package module paths (`sources/sinks.py`) resolve under
# the package.
_PATH_REF = re.compile(r"\b(tools/\w+\.(?:py|json)|plans/r\d+)\b")
_TOOLS_IMPORT = re.compile(r"^\s*(?:from|import)\s+(tools\.\w+)", re.M)
_PKG_PATH_REF = re.compile(
    r"\b((?:operators|functions|multimodal|sources|plans|streaming|registry)/\w+\.py)\b"
)


def _dangling_paths(text: str) -> list[str]:
    refs = set(_PATH_REF.findall(text))
    refs |= {m.replace(".", "/") + ".py" for m in _TOOLS_IMPORT.findall(text)}
    dangling = {r for r in refs if not os.path.exists(os.path.join(REPO, r))}
    dangling |= {
        r for r in _PKG_PATH_REF.findall(text)
        if not os.path.exists(os.path.join(REPO, PKG, r))
    }
    return sorted(dangling)


def test_cited_tools_and_plan_paths_exist():
    """A docstring or comment that cites a deleted probe script, plan
    dump or package module sends the reader to nothing; an import of a
    deleted tools module fails only when that one test runs."""
    entries = [PKG, *CALLERS, "README.md", "PARITY.md", "SCALING.md"]
    dangling = [
        f"{os.path.relpath(path, REPO)}: {ref}"
        for path in _caller_files(entries, (".py", ".md"))
        for ref in _dangling_paths(open(path).read())
    ]
    assert dangling == []


def test_dangling_path_detector_catches_planted_paths():
    # built by concatenation so this file does not cite them itself
    missing_script = "tools/" + "no_such_probe.py"
    missing_ledger = "tools/" + "no_such_ledger.json"
    missing_plans = "plans/" + "r99"
    missing_module = "tools." + "no_such_module"
    missing_operator = "operators/" + "no_such_operator.py"
    text = (
        f"see {missing_script} and {missing_ledger}; dumps in "
        f"{missing_plans}/q_after.txt\n"
        f"    import {missing_module} as m\n"
        "numbers from tools/check_correctness.py and tools/scale_probe.json\n"
        "from tools.scale_probe_data import x\n"
        f"the plan lives in {missing_operator}, its sink in sources/sinks.py\n"
    )
    assert _dangling_paths(text) == sorted(
        [missing_ledger, missing_script, "tools/" + "no_such_module.py",
         missing_plans, missing_operator]
    )
