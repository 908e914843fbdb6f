"""Environment-read lint: the package reads the process environment in
exactly two modules, for a fixed set of variables.

Every other behaviour is chosen by a function argument or a Spark conf
(``SPARK_GRAFT_CONF_JSON``), never by a variable read deep inside an
operator, so a hidden engine knob fails here instead of silently
forking the plans. AST only; no Spark.
"""

from __future__ import annotations

import ast
import pathlib

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "mapreduce_implementation_grpc_spark"
)

ALLOWED = {
    "session.py": {
        "SPARK_GRAFT_CONF_JSON",
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
    },
    "__main__.py": {"SPARK_GRAFT_SF_DIR"},
}


def env_reads(source: str) -> list[tuple[int, str | None]]:
    """(line, variable) for every environment access in `source`;
    variable is None when the key is not a string literal. Covers
    ``os.environ[...]``, ``os.environ.get(...)``, ``os.getenv(...)``,
    a bare ``os.environ`` and the ``from os import environ/getenv``
    spellings."""
    tree = ast.parse(source)
    parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}

    def literal(node):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        return None

    reads = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            reads += [
                (node.lineno, None)
                for a in node.names
                if a.name in ("environ", "getenv")
            ]
            continue
        is_os_attr = (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
            and node.attr in ("environ", "getenv")
        )
        if not is_os_attr:
            continue
        up = parent.get(node)
        key = None
        if node.attr == "getenv" and isinstance(up, ast.Call) and up.args:
            key = literal(up.args[0])
        elif isinstance(up, ast.Subscript):
            key = literal(up.slice)
        elif isinstance(up, ast.Attribute) and up.attr == "get":
            call = parent.get(up)
            if isinstance(call, ast.Call) and call.args:
                key = literal(call.args[0])
        reads.append((node.lineno, key))
    return sorted(reads, key=lambda r: r[0])


def test_env_reads_detector_sees_every_spelling():
    src = (
        "import os\n"
        "from os import environ\n"
        "a = os.environ['A']\n"
        "b = os.environ.get('B', '')\n"
        "c = os.getenv('C')\n"
        "d = dict(os.environ)\n"
    )
    assert env_reads(src) == [(2, None), (3, "A"), (4, "B"), (5, "C"), (6, None)]


def test_environment_read_only_in_session_and_main():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        allowed = ALLOWED.get(rel, set())
        for line, key in env_reads(path.read_text()):
            if key not in allowed:
                offenders.append(f"{rel}:{line}: reads {key or 'a non-literal key'}")
    assert not offenders, "\n".join(offenders)
