"""List the package's functions and methods that no served surface reaches.

    python3 tools/unreached.py     # ``module.function`` or ``module.Class.method``

A static ``ast`` scan, stdlib only. The roots are the surfaces that run
the package: the CLI (``__main__.py``), every ``@query`` catalog entry
(with its decorator arguments, where the oracle SQL builders are
referenced), every module's top-level statements, and every file of
``__spark_entry__.py``, ``bench.py``, ``perfbench/`` and ``tools/``.
From the roots, a function is reached when a reached body names it:
directly, through ``from … import … as …`` (at module level or inside a
function, following re-exports), as ``module.function`` through an
imported module alias, or as ``call(module, "function")`` (the tracer's
``wrap``). A name that resolves to nothing in the package is ignored.

The methods of the top-level classes in ``streaming/`` and ``sources/``
are scanned one by one: a method is reached when a reached body names
it as an attribute (``obj.method``, whatever ``obj`` is) or passes its
name as a string to ``wrap`` or ``getattr``; dunder methods are roots.
Elsewhere a class body counts as a root, methods included.

The scan is conservative in one direction only: code that the roots name
counts as reached even if no run takes that branch. A function this
tool lists is one that no root can call.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path
from typing import Collection

REPO = Path(__file__).resolve().parents[1]
PKG = "spark_streaming_kafka_bucket_counter_spark"
EXTERNAL_ROOTS = ("__spark_entry__.py", "bench.py", "perfbench", "tools")
#: packages whose classes' methods are scanned one by one
METHOD_SCOPES = (f"{PKG}.streaming.", f"{PKG}.sources.")


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _resolve_from(module: str, is_pkg: bool, node: ast.ImportFrom) -> str:
    """Absolute module named by ``from <node.module> import …`` in ``module``."""
    if not node.level:
        return node.module or ""
    base = module.split(".")
    base = base[: len(base) - node.level + (1 if is_pkg else 0)]
    return ".".join(base + ([node.module] if node.module else []))


class _Scan:
    def __init__(self) -> None:
        self.trees: dict[str, tuple[Path, ast.Module, bool]] = {}
        for path in sorted((REPO / PKG).rglob("*.py")):
            self.trees[_module_name(path)] = (
                path, ast.parse(path.read_text()), path.name == "__init__.py"
            )
        # (module, name) -> FunctionDef for every top-level function
        self.defs = {
            (mod, node.name): node
            for mod, (_p, tree, _i) in self.trees.items()
            for node in tree.body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
        # (module, "Class.method") for every method of a top-level class
        # in METHOD_SCOPES, and method name -> those keys
        self.methods: dict[str, set[tuple]] = {}
        for mod, (_p, tree, _i) in self.trees.items():
            for cls in self._scoped_classes(mod, tree):
                for node in cls.body:
                    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        key = (mod, f"{cls.name}.{node.name}")
                        self.defs[key] = node
                        self.methods.setdefault(node.name, set()).add(key)
        # module -> top-level alias map (what its own imports bind)
        self.top_aliases = {
            mod: self._aliases(mod, is_pkg, tree.body)
            for mod, (_p, tree, is_pkg) in self.trees.items()
        }

    @staticmethod
    def _scoped_classes(module: str, tree: ast.Module) -> list[ast.ClassDef]:
        if not module.startswith(METHOD_SCOPES):
            return []
        return [n for n in tree.body if isinstance(n, ast.ClassDef)]

    def _aliases(self, module: str, is_pkg: bool, stmts) -> dict[str, tuple]:
        """Names bound by the import statements in ``stmts`` (walked, so a
        function's local imports count): alias -> ("mod", m) or ("sym", m, n)."""
        out: dict[str, tuple] = {}
        for stmt in stmts:
            for node in ast.walk(stmt):
                if isinstance(node, ast.ImportFrom):
                    src = _resolve_from(module, is_pkg, node)
                    for a in node.names:
                        full = f"{src}.{a.name}"
                        bound = a.asname or a.name
                        out[bound] = ("mod", full) if full in self.trees else ("sym", src, a.name)
                elif isinstance(node, ast.Import):
                    # ``import a.b`` binds ``a``; _module_of resolves
                    # the dotted attribute chain from there
                    for a in node.names:
                        bound = a.asname or a.name.split(".")[0]
                        out[bound] = ("mod", a.name if a.asname else bound)
        return out

    def _target(self, module: str, name: str, seen=None) -> tuple | None:
        """The function ``name`` means in ``module``, following re-exports."""
        if (module, name) in self.defs:
            return (module, name)
        seen = seen or set()
        if (module, name) in seen or module not in self.top_aliases:
            return None
        seen.add((module, name))
        alias = self.top_aliases[module].get(name)
        if alias and alias[0] == "sym":
            return self._target(alias[1], alias[2], seen)
        return None

    def _module_of(self, expr, aliases) -> str | None:
        """Package module an expression names (``mod`` or ``pkg.sub.mod``)."""
        if isinstance(expr, ast.Name):
            alias = aliases.get(expr.id)
            return alias[1] if alias and alias[0] == "mod" else None
        if isinstance(expr, ast.Attribute):
            base = self._module_of(expr.value, aliases)
            if base is not None and f"{base}.{expr.attr}" in self.trees:
                return f"{base}.{expr.attr}"
        return None

    def refs(self, module: str, nodes, aliases) -> set[tuple]:
        """Functions the ``nodes`` name, resolved in ``module``."""
        out: set[tuple] = set()

        def add(mod, name):
            hit = self._target(mod, name) if mod else None
            if hit:
                out.add(hit)

        for root in nodes:
            for node in ast.walk(root):
                if isinstance(node, ast.Name):
                    alias = aliases.get(node.id)
                    if alias and alias[0] == "sym":
                        add(alias[1], alias[2])
                    elif module in self.trees:
                        add(module, node.id)
                elif isinstance(node, ast.Attribute):
                    add(self._module_of(node.value, aliases), node.attr)
                    out |= self.methods.get(node.attr, set())
                elif isinstance(node, ast.Call) and len(node.args) >= 2:
                    first, second = node.args[0], node.args[1]
                    if isinstance(second, ast.Constant) and isinstance(second.value, str):
                        add(self._module_of(first, aliases), second.value)
                        callee = node.func
                        name = callee.attr if isinstance(callee, ast.Attribute) else (
                            callee.id if isinstance(callee, ast.Name) else None)
                        if name in ("wrap", "getattr"):
                            out |= self.methods.get(second.value, set())
        return out

    def run(self, extra_roots: Collection[tuple[str, str]] = ()) -> list[tuple[str, str]]:
        frontier: set[tuple] = set(extra_roots)
        # package roots: module-level statements (class bodies included,
        # except the methods of scoped classes), decorators and defaults
        # of every def, every @query function and every scoped dunder
        for mod, (_p, tree, is_pkg) in self.trees.items():
            aliases = self.top_aliases[mod]
            scoped = self._scoped_classes(mod, tree)
            stmts = []
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    stmts += _signature(node)
                    if any(_is_query(d) for d in node.decorator_list):
                        frontier.add((mod, node.name))
                elif node in scoped:
                    stmts += node.decorator_list + node.bases + node.keywords
                    for item in node.body:
                        if not isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)):
                            stmts.append(item)
                            continue
                        stmts += _signature(item)
                        if item.name.startswith("__") and item.name.endswith("__"):
                            frontier.add((mod, f"{node.name}.{item.name}"))
                elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                    stmts.append(node)
            frontier |= self.refs(mod, stmts, aliases)
        frontier.add((f"{PKG}.cli", "main"))
        for entry in EXTERNAL_ROOTS:
            path = REPO / entry
            files = sorted(path.rglob("*.py")) if path.is_dir() else [path]
            for f in files:
                tree = ast.parse(f.read_text())
                mod = _module_name(f)
                frontier |= self.refs(mod, [tree], self._aliases(mod, False, tree.body))
        reached: set[tuple] = set()
        while frontier:
            key = frontier.pop()
            if key in reached:
                continue
            reached.add(key)
            mod = key[0]
            fn = self.defs[key]
            aliases = {**self.top_aliases[mod], **self._aliases(mod, self.trees[mod][2], fn.body)}
            frontier |= self.refs(mod, fn.body, aliases) - reached
        return sorted(set(self.defs) - reached)


def _signature(fn) -> list:
    """A def's decorators and default values: evaluated where it is defined."""
    return fn.decorator_list + fn.args.defaults + [
        d for d in fn.args.kw_defaults if d is not None
    ]


def _is_query(dec) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return (isinstance(f, ast.Name) and f.id == "query") or (
        isinstance(f, ast.Attribute) and f.attr == "query"
    )


def unreached(extra_roots: Collection[tuple[str, str]] = ()) -> list[tuple[str, str]]:
    """``(module, function)`` for every top-level package function, and
    ``(module, "Class.method")`` for every scoped method, that no served
    surface reaches, sorted. ``extra_roots`` (pairs of the same shape)
    count as served too, and so does what they call."""
    return _Scan().run(extra_roots)


def main() -> int:
    for mod, name in unreached():
        print(f"{mod}.{name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
