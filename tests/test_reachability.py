"""Every package module must be reachable from a non-test entry point.

Builds the static import graph (AST, no imports executed) from the
program's roots — ``python -m reddit_sse_stream_spark``, the catalog, the
bench, the examples, the tools and the perfbench harness — and fails if a
``reddit_sse_stream_spark`` module is imported only by tests.  Package
``__init__.py`` files import nothing, so a re-export cannot count as a
caller: every module needs a real non-test importer.  README's "Running"
block may name only scripts and ``-m`` subcommands that exist.  Every
defaulted parameter of a public package function or public class
constructor must be set by some call in the repo (tests included), or it
is a constant with a name.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PKG = "reddit_sse_stream_spark"

def _roots() -> list[Path]:
    files = [
        REPO / PKG / "__main__.py",
        REPO / PKG / "plans" / "catalog.py",
        REPO / "bench.py",
    ]
    for d in ("examples", "tools", "perfbench"):
        files += [p for p in sorted((REPO / d).rglob("*.py")) if "tests" not in p.parts]
    return files


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (REPO / PKG).rglob("*.py")}


def _imports(path: Path, mods: dict[str, Path]) -> set[str]:
    """Package modules that importing ``path`` loads, parents included."""
    name = _module_name(path)
    pkg = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:  # relative: ``from . import x`` in package ``pkg``
                anchor = pkg.split(".")[: pkg.count(".") + 2 - node.level]
                base = ".".join(anchor + ([base] if base else []))
            found.add(base)
            found.update(f"{base}.{a.name}" for a in node.names)
    loaded = set()
    for mod in found:
        parts = mod.split(".")
        # importing a.b.c runs a/__init__, a/b/__init__ and a/b/c
        loaded.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return loaded & mods.keys()


@pytest.fixture(scope="module")
def reachable() -> set[str]:
    mods = _package_modules()
    seen: set[str] = set()
    todo: list[str] = []
    for root in _roots():
        if root.is_relative_to(REPO / PKG):
            todo.append(_module_name(root))
        todo.extend(_imports(root, mods))
    todo.append(PKG)  # ``-m reddit_sse_stream_spark`` runs the package __init__
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo.extend(_imports(mods[mod], mods))
    return seen


def test_package_inits_import_nothing():
    # a re-export would make its module look reached by whatever imports
    # the package
    importing = sorted(
        _module_name(p)
        for p in (REPO / PKG).rglob("__init__.py")
        if any(isinstance(n, (ast.Import, ast.ImportFrom)) for n in ast.walk(ast.parse(p.read_text())))
    )
    assert not importing, f"package __init__ files with imports: {importing}"


def test_every_package_module_has_a_non_test_importer(reachable):
    unreached = sorted(set(_package_modules()) - reachable)
    assert not unreached, f"package modules only tests reach: {unreached}"


def _readme_running_commands() -> list[list[str]]:
    """The ``python ...`` command lines of README's fenced "Running" block."""
    text = (REPO / "README.md").read_text()
    block = text.split("\n## Running\n", 1)[1].split("```", 2)[1]
    return [
        line.split("#", 1)[0].split()
        for line in block.splitlines()
        if line.startswith("python ")
    ]


def test_readme_running_block_names_real_entry_points():
    from reddit_sse_stream_spark.__main__ import main

    cmds = _readme_running_commands()
    scripts = [c[1] for c in cmds if c[1].endswith(".py")]
    subs = [c[3] for c in cmds if c[1:3] == ["-m", PKG]]
    assert scripts and subs
    assert [s for s in scripts if not (REPO / s).is_file()] == []
    for sub in subs:
        # argparse exits 0 on a subcommand's --help and 2 on an unknown one
        with pytest.raises(SystemExit) as exc:
            main([sub, "--help"])
        assert exc.value.code == 0, f"README runs unknown subcommand {sub!r}"


# Column-name parameters stay settable: they name the caller's schema.
_COLUMN_PARAMS = {"src", "dst", "weight"}


def _repo_sources() -> list[Path]:
    """Every .py file of the checkout, outside hidden build directories."""
    return [
        p
        for p in sorted(REPO.rglob("*.py"))
        if not any(part.startswith(".") for part in p.relative_to(REPO).parts)
    ]


def _const_keys(d: ast.Dict) -> set[str]:
    return {k.value for k in d.keys if isinstance(k, ast.Constant)}


def _passed_options() -> dict[str, set]:
    """Per called name, the parameter names (str) and positions (int) that
    some call in the repo gives it: by keyword, by position, or as a key of
    a dict literal unpacked with ``**`` (directly, or through a name bound
    to such dicts by an assignment or a ``for`` loop)."""
    passed: dict[str, set] = {}
    for path in _repo_sources():
        tree = ast.parse(path.read_text(), str(path))
        alias = {
            a.asname: a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            for a in n.names
            if a.asname
        }
        dict_keys: dict[str, set[str]] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Assign):
                targets, values = node.targets, [node.value]
            elif isinstance(node, ast.For):
                targets = [node.target]
                seq = isinstance(node.iter, (ast.Tuple, ast.List))
                values = node.iter.elts if seq else []
            else:
                continue
            for t in targets:
                if isinstance(t, ast.Name):
                    for v in values:
                        if isinstance(v, ast.Dict):
                            dict_keys.setdefault(t.id, set()).update(_const_keys(v))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
            if name is None:
                continue
            got = passed.setdefault(alias.get(name, name), set())
            if any(isinstance(a, ast.Starred) for a in node.args):
                got.add("*")
            got.update(range(len(node.args)))
            for kw in node.keywords:
                if kw.arg is not None:
                    got.add(kw.arg)
                elif isinstance(kw.value, ast.Dict):
                    got.update(_const_keys(kw.value))
                elif isinstance(kw.value, ast.Name):
                    got.update(dict_keys.get(kw.value.id, ()))
    return passed


def _public_signatures(tree: ast.Module):
    """(called name, arguments, leading parameters a call does not pass)
    for each public module-level function, and for each public class's
    ``__init__``, which a call reaches by the class name without ``self``."""
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
            yield node.name, node.args, 0
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            for fn in node.body:
                if isinstance(fn, ast.FunctionDef) and fn.name == "__init__":
                    yield node.name, fn.args, 1


def test_every_operator_option_is_passed_somewhere():
    # A defaulted parameter no call sets is a constant with a name: the
    # value it always takes belongs in the body.
    passed = _passed_options()
    unset = []
    for path in sorted((REPO / PKG).rglob("*.py")):
        for name, args, skip in _public_signatures(ast.parse(path.read_text(), str(path))):
            got = passed.get(name, set())
            positional = (args.posonlyargs + args.args)[skip:]
            first = len(positional) - len(args.defaults)
            defaulted = [(i, a.arg) for i, a in enumerate(positional) if i >= first]
            defaulted += [
                (None, a.arg)
                for a, d in zip(args.kwonlyargs, args.kw_defaults)
                if d is not None
            ]
            for i, arg in defaulted:
                if arg.endswith("_col") or arg in _COLUMN_PARAMS:
                    continue
                if arg in got or (i is not None and (i in got or "*" in got)):
                    continue
                unset.append(f"{_module_name(path)}.{name}({arg})")
    assert not unset, f"{len(unset)} options no call sets: {unset}"
