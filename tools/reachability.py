"""List the package's top-level defs that nothing the system runs reaches.

A static walk over the AST (stdlib ``ast`` only) from these roots:

- every function registered with ``@query(...)``;
- ``__spark_entry__.py``, ``bench.py``, ``tools/check_oracle.py`` and
  ``perfbench/*.py``, whole files;
- ``plans/pipeline.run_pipeline``.

Rules:

- the walk is import-aware: a name resolves through the ``import`` and
  ``from ... import`` bindings of its module or of the def that uses it,
  ``mod.attr`` resolves through a module binding, and re-exports in a
  package ``__init__`` are followed;
- importing a module (and its parent packages) reaches that module's
  module-level statements, decorators and default values included, but
  not its defs;
- a reached def reaches everything its body names; a reached class
  thereby reaches its methods;
- a string constant in a whole-file root reaches every package def of
  that name, because ``perfbench/trace.py`` patches by name.

Calls made through a value the walk cannot name (``getattr``, a module
returned from a function) are not followed, so what it prints is a list
of deletion candidates, not a proof.

Usage: python tools/reachability.py [checkout_dir]

Prints the unreached top-level defs grouped by module, each with its
line count (decorators included), then their number and line total.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

PACKAGE = "speech_data_pipeline_spark"
DEF_TYPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


class Module:
    def __init__(self, name: str, path: Path, is_pkg: bool):
        self.name = name
        self.is_pkg = is_pkg
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs = {
            n.name: n for n in self.tree.body if isinstance(n, DEF_TYPES)
        }
        # Bindings made by imports at module level (any nesting outside defs).
        self.imports: dict[str, tuple] = {}
        for stmt in self.module_level():
            self.imports.update(import_bindings(stmt, self))

    def module_level(self):
        """The nodes that run when the module is imported."""
        for n in self.tree.body:
            if isinstance(n, DEF_TYPES):
                yield from n.decorator_list
                if not isinstance(n, ast.ClassDef):
                    yield from n.args.defaults
                    yield from (d for d in n.args.kw_defaults if d is not None)
            else:
                yield n

    def absolute(self, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        parts = self.name.split(".")
        base = parts if self.is_pkg else parts[:-1]
        base = base[: len(base) - node.level + 1]
        return ".".join(base + ([node.module] if node.module else []))


def import_bindings(node: ast.AST, mod: Module) -> dict[str, tuple]:
    """Name -> ("module", dotted) or ("attr", module, name) for imports
    anywhere under ``node``."""
    out = {}
    for n in ast.walk(node):
        if isinstance(n, ast.Import):
            for a in n.names:
                if a.asname:
                    out[a.asname] = ("module", a.name)
                else:
                    top = a.name.split(".")[0]
                    out[top] = ("module", top)
        elif isinstance(n, ast.ImportFrom):
            src = mod.absolute(n)
            for a in n.names:
                out[a.asname or a.name] = ("attr", src, a.name)
    return out


def imported_modules(node: ast.AST, mod: Module) -> set[str]:
    """Every module an import statement under ``node`` loads."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Import):
            out.update(a.name for a in n.names)
        elif isinstance(n, ast.ImportFrom):
            src = mod.absolute(n)
            out.add(src)
            out.update(f"{src}.{a.name}" for a in n.names)
    return out


def load_modules(root: Path) -> tuple[dict[str, Module], list[Module]]:
    modules = {}
    for path in sorted((root / PACKAGE).rglob("*.py")):
        rel = path.relative_to(root).with_suffix("").parts
        is_pkg = rel[-1] == "__init__"
        name = ".".join(rel[:-1] if is_pkg else rel)
        modules[name] = Module(name, path, is_pkg)
    whole_files = [root / "__spark_entry__.py", root / "bench.py",
                   root / "tools" / "check_oracle.py"]
    whole_files += sorted((root / "perfbench").glob("*.py"))
    roots = []
    for path in whole_files:
        if path.exists():
            rel = path.relative_to(root).with_suffix("").parts
            name = ".".join(rel[:-1] if rel[-1] == "__init__" else rel)
            modules[name] = Module(name, path, rel[-1] == "__init__")
            roots.append(modules[name])
    return modules, roots


def is_query(fn: ast.AST) -> bool:
    for d in getattr(fn, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if (isinstance(f, ast.Name) and f.id == "query") or (
            isinstance(f, ast.Attribute) and f.attr == "query"
        ):
            return True
    return False


class Walk:
    def __init__(self, modules: dict[str, Module]):
        self.modules = modules
        self.seen_modules: set[str] = set()
        self.seen_defs: set[tuple[str, str]] = set()
        self.todo: list[tuple[Module, list[ast.AST], dict]] = []

    def reach_module(self, dotted: str) -> None:
        parts = dotted.split(".")
        for i in range(1, len(parts) + 1):
            name = ".".join(parts[:i])
            if name in self.modules and name not in self.seen_modules:
                self.seen_modules.add(name)
                mod = self.modules[name]
                self.todo.append((mod, list(mod.module_level()), {}))

    def reach_def(self, mod_name: str, name: str) -> None:
        mod = self.modules.get(mod_name)
        if mod is None or name not in mod.defs:
            return
        if (mod_name, name) in self.seen_defs:
            return
        self.seen_defs.add((mod_name, name))
        self.reach_module(mod_name)
        node = mod.defs[name]
        self.todo.append((mod, [node], import_bindings(node, mod)))

    def resolve(self, mod_name: str, name: str, depth: int = 0):
        """What ``name`` looked up in module ``mod_name`` refers to:
        ("module", dotted), ("def", module, name) or None."""
        mod = self.modules.get(mod_name)
        if mod is None or depth > 20:
            return None
        if name in mod.defs:
            return ("def", mod_name, name)
        if f"{mod_name}.{name}" in self.modules:
            return ("module", f"{mod_name}.{name}")
        if name in mod.imports:
            return self.binding(mod.imports[name], depth + 1)
        return None

    def binding(self, b: tuple, depth: int = 0):
        if b[0] == "module":
            return ("module", b[1])
        return self.resolve(b[1], b[2], depth)

    def reach(self, target) -> None:
        if target is None:
            return
        if target[0] == "module":
            self.reach_module(target[1])
        else:
            self.reach_def(target[1], target[2])

    def visit(self, mod: Module, nodes: list[ast.AST], local: dict) -> None:
        for node in nodes:
            for m in imported_modules(node, mod):
                self.reach_module(m)
            for n in ast.walk(node):
                if isinstance(n, ast.Attribute):
                    self.reach(self.attribute(mod, n, local))
                elif isinstance(n, ast.Name):
                    self.reach(self.name(mod, n.id, local))

    def name(self, mod: Module, name: str, local: dict):
        if name in local:
            return self.binding(local[name])
        return self.resolve(mod.name, name)

    def attribute(self, mod: Module, node: ast.Attribute, local: dict):
        chain = []
        while isinstance(node, ast.Attribute):
            chain.append(node.attr)
            node = node.value
        if not isinstance(node, ast.Name):
            return None
        target = self.name(mod, node.id, local)
        for attr in reversed(chain):
            if target is None or target[0] != "module":
                return target
            target = self.resolve(target[1], attr)
        return target

    def run(self) -> None:
        while self.todo:
            self.visit(*self.todo.pop())


def main(argv: list[str]) -> int:
    root = Path(argv[0]) if argv else Path(__file__).resolve().parents[1]
    modules, roots = load_modules(root)
    walk = Walk(modules)

    for mod in roots:
        walk.reach_module(mod.name)
        for name in mod.defs:
            walk.reach_def(mod.name, name)
    for mod in modules.values():
        for name, node in mod.defs.items():
            if is_query(node):
                walk.reach_def(mod.name, name)
    walk.reach_def(f"{PACKAGE}.plans.pipeline", "run_pipeline")

    by_name: dict[str, list[str]] = {}
    for mod in modules.values():
        if mod.name.startswith(PACKAGE):
            for name in mod.defs:
                by_name.setdefault(name, []).append(mod.name)
    for mod in roots:
        for n in ast.walk(mod.tree):
            if isinstance(n, ast.Constant) and isinstance(n.value, str):
                for owner in by_name.get(n.value, ()):
                    walk.reach_def(owner, n.value)
    walk.run()

    count = total = 0
    for mod in modules.values():
        if not mod.name.startswith(PACKAGE):
            continue
        dead = [
            (name, node)
            for name, node in mod.defs.items()
            if (mod.name, name) not in walk.seen_defs
        ]
        if not dead:
            continue
        short = mod.name[len(PACKAGE) + 1:] or PACKAGE
        print(f"{short}:")
        for name, node in dead:
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            lines = node.end_lineno - first + 1
            count += 1
            total += lines
            print(f"  {name} {lines}")
    print(f"{count} unreached top-level defs, {total} lines")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
