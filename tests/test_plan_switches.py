"""Settable-value and reachability lints: a defaulted parameter needs
a caller that passes another value, and a package def needs a caller
outside the tests. A knob with one value in use is a constant; code
that only tests run is a test fixture or dead. AST only; no Spark.

1. Plan switches. Every bool-defaulted parameter of a public function
   under ``operators/`` has a caller in the package that passes the
   other value. A boolean that picks between two physical plans for the
   same result, with no package caller on one side, is an untested and
   unmeasured second path: only a parity test ever runs it. Each
   operator runs one plan; bringing an alternative back means choosing
   it inside the operator from something observable (input size,
   platform), with a benchmark workload on each side, not adding a
   flag. Tests do not count as callers here. A call site counts when
   the argument in the parameter's slot (keyword or positional) is
   anything but the default literal, except a bare name equal to the
   parameter's own name: that only forwards the switch one level up.

2. Every defaulted parameter. Each defaulted parameter of a
   module-level function, public or private, in ``operators/``,
   ``functions/``, ``multimodal/``, ``sources/``, ``plans/``,
   ``registry/`` and ``materialize.py`` is set to another value by
   some call in the package, ``tools/``,
   ``bench.py``, ``perfbench/`` or ``__spark_entry__.py``. Tests do
   not count: a value that only a test passes is a constant, and the
   test checks the behaviour at that constant. The rule is in
   `never_set_parameters`. A ``q_*`` function's place in the
   ``QUERIES`` table sets nothing: the driver, ``bench.py`` and
   ``perfbench`` call it with exactly ``(spark, sf_dir)``, so a value
   that only the query uses is a module constant next to it, and an
   oracle builder reads the same constant instead of restating it. A
   module-level ``q_x = analytics.fn`` is an alias of ``fn``, not a use
   of it. A literal or a named constant equal to the value of the
   default passes the default: ``min_quality=0.5`` against
   ``MIN_QUALITY = 0.5``, and ``max_lag=MAX_LAG`` against
   ``max_lag=14`` when ``MAX_LAG = 14``. The deployment settings of
   ``session.get_spark`` are out of scope.

3. Every package def is reached. Each module-level def or class of
   the package is reached from a root by name: every module-level
   statement of the package that is not a def, a class or an
   ``__all__`` assignment (``QUERIES``, ``ORACLES``, constants,
   ``q_* = ...`` aliases) and every other caller source except
   ``tests/`` (``tools/``, ``bench.py``, ``perfbench/``,
   ``__spark_entry__.py``). An export list names what a package
   offers, not what anything calls, so a def that only ``__all__``
   and the tests name is not reached. A reached def reaches the
   names its body, decorators and defaults use. The rule is in
   `unreached_defs`. Code that only tests run belongs
   under ``tests/`` (``tests/media_encoders.py`` builds the codec
   fixtures) or goes, together with the tests that exist only for it.

Callees are matched by function name across all sources, so a name
clash can only keep a parameter or a def, never flag one.
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


# ---------------------------------------------------------------------------
# Every defaulted parameter: some caller sets another value.

REPO = PKG.parent
SCOPE_DIRS = ("operators", "functions", "multimodal", "sources", "plans", "registry")
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)


def _params(fn) -> dict[str, tuple[int | None, ast.expr | None]]:
    """parameter -> (positional index or None for keyword-only, default
    node or None when the caller must supply it). ``*args`` and
    ``**kwargs`` count as always supplied."""
    a = fn.args
    pos = a.posonlyargs + a.args
    pos_defaults = [None] * (len(pos) - len(a.defaults)) + list(a.defaults)
    out = {p.arg: (i, d) for i, (p, d) in enumerate(zip(pos, pos_defaults))}
    out.update({p.arg: (None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)})
    for star in (a.vararg, a.kwarg):
        if star is not None:
            out[star.arg] = (None, None)
    return out


def _stores(fn, name: str) -> bool:
    """True when `fn`'s own body (not a nested scope) assigns `name`."""
    todo = list(fn.body) if isinstance(fn.body, list) else [fn.body]
    while todo:
        node = todo.pop()
        if isinstance(node, ast.Name) and node.id == name and not isinstance(
            node.ctx, ast.Load
        ):
            return True
        if not isinstance(node, (*_FUNCS, ast.ClassDef)):
            todo.extend(ast.iter_child_nodes(node))
    return False


class _Index(ast.NodeVisitor):
    """Every def, call, by-value function reference, alias and
    module-level literal constant in one module."""

    def __init__(self, module: str, tree: ast.Module):
        self.module, self.stack = module, []
        self.defs: list[tuple[str, ast.AST, bool]] = []  # (name, node, plain)
        self.calls: list[tuple[str, ast.Call, tuple]] = []  # (callee, call, scopes)
        self.referenced: set[str] = set()
        self.aliases: list[tuple[str, str]] = []  # (alias, name)
        self.constants: dict[str, ast.expr] = {}  # UPPER_CASE = <expr>
        self.queries: dict[str, str] = {}  # QUERIES key -> function name
        self.module_level = {id(n) for n in tree.body}
        self._callee_nodes: set[int] = set()
        self.visit(tree)

    def visit_ImportFrom(self, node):
        for a in node.names:
            if a.asname and a.asname != a.name:
                self.aliases.append((a.asname, a.name))

    def _visit_def(self, node, plain: bool):
        self.defs.append((getattr(node, "name", "<lambda>"), node, plain))
        self.stack.append(node)
        self.generic_visit(node)
        self.stack.pop()

    def visit_FunctionDef(self, node):
        in_class = bool(self.stack) and isinstance(self.stack[-1], ast.ClassDef)
        self._visit_def(node, plain=not in_class)

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Lambda(self, node):
        self._visit_def(node, plain=False)

    def visit_ClassDef(self, node):
        self.stack.append(node)
        self.generic_visit(node)
        self.stack.pop()

    def visit_Assign(self, node):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        if (
            id(node) in self.module_level
            and len(targets) == 1
            and isinstance(targets[0], ast.Name)
            and node.value is not None
        ):
            name, value = targets[0].id, node.value
            if isinstance(value, (ast.Name, ast.Attribute)):
                # `q_x = analytics.fn` renames fn, like `import ... as`
                self._callee_nodes.add(id(value))
                self.aliases.append((name, getattr(value, "attr", getattr(value, "id", None))))
            if name.lstrip("_").isupper():
                self.constants[name] = value
        # the QUERIES table: the driver calls each entry with (spark, sf_dir)
        if isinstance(node.value, ast.Dict) and any(
            isinstance(t, ast.Name) and t.id == "QUERIES" for t in targets
        ):
            for k, v in zip(node.value.keys, node.value.values):
                self._callee_nodes.add(id(v))
                if isinstance(k, ast.Constant):
                    self.queries[k.value] = getattr(v, "attr", getattr(v, "id", None))
        self.generic_visit(node)

    visit_AnnAssign = visit_Assign

    def visit_Call(self, node):
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if (
            isinstance(f, ast.Subscript)
            and getattr(f.value, "id", getattr(f.value, "attr", None)) == "QUERIES"
            and isinstance(f.slice, ast.Constant)
        ):
            name = ("QUERIES", f.slice.value)  # resolved through the table
        if name is not None:
            self._callee_nodes.add(id(f))
            self.calls.append((name, node, tuple(self.stack)))
        self.generic_visit(node)

    def visit_Name(self, node):
        if isinstance(node.ctx, ast.Load) and id(node) not in self._callee_nodes:
            self.referenced.add(node.id)

    def visit_Attribute(self, node):
        if id(node) not in self._callee_nodes:
            self.referenced.add(node.attr)
        self.generic_visit(node)


_UNKNOWN = object()


def _value(node: ast.expr, values: dict[str, object]) -> object:
    """The literal value of `node`, a name or attribute bound to a
    literal by a module-level constant, or `_UNKNOWN`."""
    if isinstance(node, (ast.Name, ast.Attribute)):
        return values.get(getattr(node, "id", getattr(node, "attr", None)), _UNKNOWN)
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError):
        return _UNKNOWN


def _constant_values(indexes) -> dict[str, object]:
    """Module-level constant name -> literal value, following
    ``A = B`` chains across modules; a name bound to two different
    values in two modules is left out."""
    values: dict[str, object] = {}
    clashing: set[str] = set()
    grew = True
    while grew:
        grew = False
        for ix in indexes:
            for name, node in ix.constants.items():
                v = _value(node, values)
                if v is _UNKNOWN or name in clashing:
                    continue
                if name not in values:
                    values[name], grew = v, True
                elif not _same(values[name], v):
                    clashing.add(name)
                    del values[name]
    return values


def _same(a: object, b: object) -> bool:
    return type(a) is type(b) and a == b


def _same_value(arg: ast.expr, default: ast.expr, values: dict[str, object]) -> bool:
    """An argument that is a literal, or a named constant bound to one,
    passes a default that is a literal or a named constant of the same
    value; any other argument only passes an identical default
    expression."""
    a, d = _value(arg, values), _value(default, values)
    if a is not _UNKNOWN and d is not _UNKNOWN:
        return _same(a, d)
    return ast.dump(arg) == ast.dump(default)


def never_set_parameters(sources: dict[str, str], scope: set[str]) -> list[str]:
    """'module.function(param)' for every defaulted parameter of a
    module-level function in a `scope` module that no call in `sources`
    sets to anything but its default.

    A call sets a parameter when the argument in its slot (keyword or
    positional) is not the default expression; a bare name equal to the
    parameter's own name that forwards an enclosing function's parameter
    sets it only when that enclosing parameter is itself set. A call with
    ``*args`` or ``**kwargs`` sets every parameter, and so does a
    reference to the function as a value -- except an entry of a
    ``QUERIES`` dict, which the driver calls with ``(spark, sf_dir)``
    only; a call through it, ``QUERIES["name"](...)``, counts as a call
    of the function the entry names. Callees are matched by name, and
    through ``import ... as`` and module-level ``name = mod.fn``
    aliases, so a name clash only keeps a parameter. A literal argument,
    or a module-level constant bound to a literal, passes the default
    when it has the default's value, also when the default is itself
    such a constant (``0.5`` passes ``MIN_QUALITY = 0.5``, and
    ``MAX_LAG = 14`` passes ``14``); any other argument passes it only
    when its AST is the default's."""
    indexes = [_Index(m, ast.parse(src)) for m, src in sorted(sources.items())]
    aliases: dict[str, set[str]] = {}
    for ix in indexes:
        for alias, name in ix.aliases:
            aliases.setdefault(alias, set()).add(name)
    table = {k: v for ix in indexes for k, v in ix.queries.items()}
    referenced = {
        r for ix in indexes for n in ix.referenced for r in {n} | aliases.get(n, set())
    }
    values = _constant_values(indexes)
    defs: dict[str, list[ast.AST]] = {}
    for ix in indexes:
        for name, node, _ in ix.defs:
            defs.setdefault(name, []).append(node)

    is_set: set[tuple[int, str]] = set()
    forwards: list[tuple[tuple[int, str], tuple[int, str]]] = []  # (outer, inner)
    for name, node, plain in (d for ix in indexes for d in ix.defs):
        for p, (_, default) in _params(node).items():
            if default is None or not plain or name in referenced:
                is_set.add((id(node), p))
    for ix in indexes:
        for callee, call, scopes in ix.calls:
            if isinstance(callee, tuple):
                callee = table.get(callee[1])
            star = any(isinstance(a, ast.Starred) for a in call.args) or any(
                k.arg is None for k in call.keywords
            )
            targets = {callee} | aliases.get(callee, set())
            for fn in (fn for t in targets for fn in defs.get(t, [])):
                for p, (idx, default) in _params(fn).items():
                    if default is None:
                        continue
                    arg = next((k.value for k in call.keywords if k.arg == p), None)
                    if arg is None and idx is not None and len(call.args) > idx:
                        arg = call.args[idx]
                    if star:
                        is_set.add((id(fn), p))
                    elif arg is None or _same_value(arg, default, values):
                        continue
                    elif isinstance(arg, ast.Name) and arg.id == p:
                        outer = next(
                            (s for s in reversed(scopes)
                             if isinstance(s, _FUNCS)
                             and (p in _params(s) or _stores(s, p))),
                            None,
                        )
                        if outer is None or _stores(outer, p):
                            is_set.add((id(fn), p))
                        else:
                            forwards.append(((id(outer), p), (id(fn), p)))
                    else:
                        is_set.add((id(fn), p))
    grew = True
    while grew:
        grew = False
        for outer, inner in forwards:
            if outer in is_set and inner not in is_set:
                is_set.add(inner)
                grew = True

    never = []
    for ix in indexes:
        if ix.module not in scope:
            continue
        for name, node, _ in ix.defs:
            if id(node) not in ix.module_level:
                continue
            for p, (_, default) in _params(node).items():
                if default is not None and (id(node), p) not in is_set:
                    never.append(f"{ix.module}.{name}({p})")
    return sorted(never)


def _callers() -> tuple[dict[str, str], set[str]]:
    """Every caller source outside the tests (the package, tools,
    bench.py, perfbench, the driver entry) keyed by dotted module name,
    and the modules in scope for the lint."""
    paths = [p for d in ("mapreduce_implementation_grpc_spark", "tools", "perfbench")
             for p in sorted((REPO / d).rglob("*.py"))]
    paths += [REPO / "bench.py", REPO / "__spark_entry__.py"]
    sources = {
        p.relative_to(REPO).with_suffix("").as_posix().replace("/", "."): p.read_text()
        for p in paths
    }
    pkg = PKG.name
    scope = {
        m for m in sources
        if m == f"{pkg}.materialize"
        or any(m.startswith(f"{pkg}.{d}.") for d in SCOPE_DIRS)
    }
    return sources, scope


def test_defaulted_parameter_detector_self_test():
    lib = (
        "BITS = 12\n"
        "def literal(df, text_col='text', k=3): ...\n"
        "def constant(df, bits=BITS): ...\n"
        "def slot(df, n=4, m=5): ...\n"
        "def inner_set(df, k=2): ...\n"
        "def inner_unset(df, k=2): ...\n"
        "def inner_rebound(df, k=2): ...\n"
        "def by_star(df, k=2): ...\n"
        "def by_kwargs(df, k=2): ...\n"
        "def as_value(df, k=2): ...\n"
        "def aliased(df, k=2): ...\n"
        "def clash(df, k=2): ...\n"
        "def _private(df, k=2): ...\n"
        "def required(df, k): ...\n"
        "def q_listed(spark, sf_dir, n=100): ...\n"
        "def q_called(spark, sf_dir, k=5): ...\n"
        "MIN_Q = 0.5\n"
        "def named(df, q=MIN_Q, r=MIN_Q): ...\n"
        "def renamed_listed(spark, sf_dir, n=9): ...\n"
        "def renamed_called(spark, sf_dir, n=9): ...\n"
        "def const_arg(df, max_lag=14, hops=3): ...\n"
        "def other_const(df, k=2): ...\n"
    )
    caller = (
        "from lib import aliased as _al\n"
        "literal(df, text_col='text', k=4)\n"
        "literal(df, 'text')\n"
        "constant(df, bits=BITS)\n"
        "slot(df, 4, 7)\n"
        "def outer_set(df, k=2):\n"
        "    return inner_set(df, k=k)\n"
        "def outer_unset(df, k=2):\n"
        "    return inner_unset(df, k=k)\n"
        "def relay(df, k=2):\n"
        "    return outer_set(df, k=k)\n"
        "relay(df, k=9)\n"
        "outer_unset(df)\n"
        "def rebind(df, k=2):\n"
        "    k = k + 1\n"
        "    return inner_rebound(df, k=k)\n"
        "by_star(*args)\n"
        "by_kwargs(df, **opts)\n"
        "df.transform(as_value)\n"
        "_al(df, 5)\n"
        "class C:\n"
        "    def clash(self, df, k=2): ...\n"
        "C().clash(df, 7)\n"
        "named(df, q=0.5, r=0.25)\n"
        "q_renamed_listed = lib.renamed_listed\n"
        "q_renamed_called = renamed_called\n"
        "q_renamed_called(spark, d, n=4)\n"
        "QUERIES = {'listed': lib.q_listed, 'called': lib.q_called,\n"
        "           'rl': q_renamed_listed, 'rc': q_renamed_called}\n"
        "QUERIES['called'](spark, d, k=3)\n"
        "MAX_LAG = 14\n"
        "HOPS = 3\n"
        "K_WIDE = 5\n"
        "const_arg(df, max_lag=MAX_LAG, hops=cfg.HOPS)\n"
        "other_const(df, k=K_WIDE)\n"
    )
    never = never_set_parameters(
        {"pkg.operators.lib": lib, "tools.caller": caller}, {"pkg.operators.lib"}
    )
    assert never == [
        "pkg.operators.lib._private(k)",
        "pkg.operators.lib.const_arg(hops)",
        "pkg.operators.lib.const_arg(max_lag)",
        "pkg.operators.lib.constant(bits)",
        "pkg.operators.lib.inner_unset(k)",
        "pkg.operators.lib.literal(text_col)",
        "pkg.operators.lib.named(q)",
        "pkg.operators.lib.q_listed(n)",
        "pkg.operators.lib.renamed_listed(n)",
        "pkg.operators.lib.slot(n)",
    ]
    # `clash` keeps k: the method of the same name is called with 7
    # (name matching can only keep a parameter). `inner_rebound` keeps
    # k: its caller passes a local computed from k, not a forward.
    # `outer_unset` is out of scope, so only its callee is listed.
    # `q_listed` is only a QUERIES entry, which sets nothing; `q_called`
    # keeps k through the QUERIES['called'](...) call. `named(q)` is
    # passed 0.5, the value of its default MIN_Q. `const_arg` is passed
    # MAX_LAG and cfg.HOPS, named constants equal to its literal
    # defaults; `other_const` keeps k, set to K_WIDE = 5. A module-level
    # `q_x = fn` renames fn: a table holding the alias sets nothing,
    # and a call through it sets n.


def test_every_defaulted_parameter_is_set_by_some_caller():
    sources, scope = _callers()
    never = never_set_parameters(sources, scope)
    assert never == [], f"{len(never)} never-set parameters: {never}"


# ---------------------------------------------------------------------------
# Every package def is reached from a query, the bench, the CLI or a tool.


def _names_used(node: ast.AST) -> set[str]:
    """Every name `node` uses: ``Name`` ids, attribute names and
    identifier-shaped string constants (names looked up by string)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def _is_export_list(stmt: ast.stmt) -> bool:
    targets = getattr(stmt, "targets", None) or [getattr(stmt, "target", None)]
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def unreached_defs(sources: dict[str, str], package: str) -> list[str]:
    """'module.name' for every module-level def or class of a `package`
    module that no root reaches. The roots are the module-level
    statements of the package that are not defs, classes or
    ``__all__`` assignments, and every source outside the package and
    outside ``tests``. A reached name
    reaches every package def of that name (through ``import ... as``
    aliases), and a reached def reaches every name its node uses
    (body, decorators, defaults). Matching is by name, so a name clash
    can only keep a def."""
    defs: dict[str, list[str]] = {}
    uses: dict[str, set[str]] = {}
    aliases: dict[str, set[str]] = {}
    todo: set[str] = set()
    for mod, src in sources.items():
        tree = ast.parse(src)
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom):
                for a in n.names:
                    if a.asname and a.asname != a.name:
                        aliases.setdefault(a.asname, set()).add(a.name)
        if mod.split(".")[0] == "tests":
            continue
        if not mod.startswith(f"{package}."):
            todo |= _names_used(tree)
            continue
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append(mod)
                uses.setdefault(stmt.name, set()).update(_names_used(stmt))
            elif not _is_export_list(stmt):
                todo |= _names_used(stmt)
    reached: set[str] = set()
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo |= aliases.get(name, set()) | uses.get(name, set())
    return sorted(
        f"{mod}.{name}" for name, mods in defs.items() if name not in reached
        for mod in mods
    )


def test_reachability_detector_self_test():
    lib = (
        "__all__ = ['exported']\n"
        "def q_listed(spark, sf_dir):\n"
        "    return helper(spark)\n"
        "def helper(spark): ...\n"
        "def for_constant(): ...\n"
        "LIMIT = for_constant()\n"
        "def exported(): ...\n"
        "def timed(fn): ...\n"
        "@timed\n"
        "def q_decorated(spark, sf_dir): ...\n"
        "def tool_only(): ...\n"
        "def via_alias(): ...\n"
        "def fixture_only(): ...\n"
        "class TestOnly: ...\n"
        "def ping(): return pong()\n"
        "def pong(): return ping()\n"
    )
    table = "QUERIES = {'listed': lib.q_listed, 'decorated': lib.q_decorated}\n"
    tool = (
        "from pkg.lib import via_alias as _va\n"
        "lib.tool_only()\n"
        "_va()\n"
    )
    test = "lib.fixture_only(); lib.TestOnly(); lib.ping(); lib.exported()\n"
    unreached = unreached_defs(
        {"pkg.lib": lib, "pkg.table": table, "tools.t": tool, "tests.t": test}, "pkg"
    )
    assert unreached == [
        "pkg.lib.TestOnly",
        "pkg.lib.exported",
        "pkg.lib.fixture_only",
        "pkg.lib.ping",
        "pkg.lib.pong",
    ]
    # `exported` is named only by __all__ and a test, so nothing
    # reaches it.


def test_every_package_def_is_reached_outside_the_tests():
    sources, _ = _callers()
    unreached = unreached_defs(sources, PKG.name)
    assert unreached == [], f"{len(unreached)} defs only tests reach: {unreached}"
