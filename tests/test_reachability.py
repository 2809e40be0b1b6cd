"""Every module, and every top-level function, under bano_spark/ must be used.

Modules: the roots are what runs the system: ``jobs/*.py``,
``perfbench/*.py``, ``bench.py`` and ``__spark_entry__.py``. The walk
follows every ``import``/``from ... import`` statement found anywhere in
a module's AST (function bodies included), resolves relative imports
against the importing module's package, and counts a package's
``__init__`` as reached whenever one of its submodules is. No Spark is
started.

``KNOWN_ORPHANS`` names the operator modules that are still unreached
and still carry their own tests; they are deleted a batch at a time,
each with the tests of its subject. The list may only shrink: a module
not on it must be reached, and a module on it must still exist and
still be unreached.

Functions: every top-level ``def``/``class`` of a module not on
``KNOWN_ORPHANS`` must be named by some caller. The callers are the
roots above plus ``perfbench/tests/*.py``, ``tools/*.py`` and
``tests/*.py``, the package's module-level statements, the bodies of
``@register`` queries, the orphan modules, and the bodies of functions
that are themselves used, to a fixed point. Matching is by name: any
identifier, attribute or imported name equal to a function's name keeps
it (and every function of that name) alive, which errs on the side of
keeping code. The package's own import statements are bindings, not
uses. Each glob is listed explicitly rather than searched for
recursively, so copies of the repo under ``.perfbench_work/`` cannot
make a name look used.

Imports: every name an ``import`` statement binds, in the package, the
jobs, the tools, the tests, ``bench.py`` and ``__spark_entry__.py``,
must be read in its scope: the module for a module-level import, the
enclosing function for a function-level one. A read inside a function
body or a string annotation counts. ``__future__`` imports, package
``__init__`` files (which re-export) and lines marked ``# noqa`` are
skipped.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "bano_spark"
ROOT_GLOBS = ("jobs/*.py", "perfbench/*.py", "bench.py", "__spark_entry__.py")
CALLER_GLOBS = ROOT_GLOBS + ("perfbench/tests/*.py", "tools/*.py", "tests/*.py")
IMPORT_GLOBS = (f"{PACKAGE}/**/*.py", "jobs/*.py", "tools/*.py", "tests/*.py",
                "bench.py", "__spark_entry__.py")
KNOWN_ORPHANS = frozenset(f"bano_spark.operators.{name}" for name in (
    "agreement", "als", "asof", "bayes_ab", "bloom_audit", "butterfly",
    "cachesim", "calendrics", "causal", "checksums", "classing", "clipping",
    "compaction", "cpm", "curation", "ddsketch", "decoding", "diversify",
    "docdiff", "dq", "err_exposure", "evt", "extractive", "extsort", "finance",
    "flowshop", "freqsketch", "gazetteer", "glm", "groupseq", "hashring",
    "hmm", "hw", "indexcomp", "inequality", "ipnet", "katz", "lossycount",
    "markov_attr", "offeval", "packing", "posthoc", "privacy", "queueing",
    "recsys", "rectunion", "scheduling_fold", "slo", "spc", "spectral",
    "spellcorrect", "sq8", "stratified2x2", "surveyest", "tscompress",
    "vopt_hist", "wand",
))


def _module_name(repo: Path, path: Path) -> str:
    parts = list(path.relative_to(repo).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported_names(tree: ast.AST, module: str, is_package: bool) -> set[str]:
    """Dotted names a module imports, relative imports made absolute."""
    package = module if is_package else module.rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base_parts = package.split(".")
                base_parts = base_parts[: len(base_parts) - (node.level - 1)]
                base = ".".join(base_parts + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            names.add(base)
            # `from pkg import sub` may name a submodule as well as an attribute.
            names.update(f"{base}.{alias.name}" for alias in node.names)
    return names


def unreached(repo: Path, package: str, root_globs) -> list[str]:
    """Modules of ``package`` that no import chain from the root files reaches."""
    files = {_module_name(repo, p): p for p in (repo / package).rglob("*.py")}
    stack = [(_module_name(repo, p), p)
             for pattern in root_globs for p in sorted(repo.glob(pattern))]
    seen: set[str] = set()
    while stack:
        module, path = stack.pop()
        tree = ast.parse(path.read_text(), filename=str(path))
        for name in _imported_names(tree, module, path.name == "__init__.py"):
            parts = name.split(".")
            # importing a.b.c runs a/__init__, a/b/__init__ and a/b/c
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in files and prefix not in seen:
                    seen.add(prefix)
                    stack.append((prefix, files[prefix]))
    return sorted(set(files) - seen)


def test_every_package_module_is_reached():
    orphans = set(unreached(REPO, PACKAGE, ROOT_GLOBS))
    new = sorted(orphans - KNOWN_ORPHANS)
    assert not new, f"{len(new)} modules under {PACKAGE}/ that no root imports: {new}"
    stale = sorted(KNOWN_ORPHANS - orphans)
    assert not stale, f"reached or deleted, take off KNOWN_ORPHANS: {stale}"


def _names(node: ast.AST, imports: bool) -> set[str]:
    """Identifiers and attribute names under ``node``, plus imported names
    when ``imports`` is set."""
    names: set[str] = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            names.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            names.add(sub.attr)
        elif imports and isinstance(sub, ast.alias):
            names.update(sub.name.split("."))
    return names


def _is_register(decorator: ast.expr) -> bool:
    target = decorator.func if isinstance(decorator, ast.Call) else decorator
    return isinstance(target, ast.Name) and target.id == "register"


def uncalled(repo: Path, package: str, caller_globs, orphans=frozenset()) -> list[str]:
    """``module.name`` of every top-level def/class of ``package`` that no
    caller names, where a def named only by uncalled defs is uncalled."""
    used: set[str] = set()
    for pattern in caller_globs:
        for path in sorted(repo.glob(pattern)):
            used |= _names(ast.parse(path.read_text(), filename=str(path)), imports=True)
    defs = []
    for path in sorted((repo / package).rglob("*.py")):
        module = _module_name(repo, path)
        tree = ast.parse(path.read_text(), filename=str(path))
        if module in orphans:
            used |= _names(tree, imports=True)
            continue
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            if (isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                    and not any(map(_is_register, stmt.decorator_list))):
                defs.append((module, stmt))
            else:
                used |= _names(stmt, imports=False)
    while live := [d for d in defs if d[1].name in used]:
        defs = [d for d in defs if d[1].name not in used]
        for _, stmt in live:
            used |= _names(stmt, imports=False)
    return sorted(f"{module}.{stmt.name}" for module, stmt in defs)


def test_every_package_function_is_named():
    dead = uncalled(REPO, PACKAGE, CALLER_GLOBS, KNOWN_ORPHANS)
    assert not dead, f"{len(dead)} top-level defs under {PACKAGE}/ that nothing names: {dead}"


def _read_names(scope: ast.AST) -> set[str]:
    """Names loaded anywhere under ``scope``, string annotations parsed.

    A string inside an annotation that is not an expression (the
    ``"a b"`` of ``Literal["a b"]``) names nothing and is skipped."""
    names: set[str] = set()
    for node in ast.walk(scope):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            names.add(node.id)
        if isinstance(node, (ast.arg, ast.AnnAssign)):
            annotation = node.annotation
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            annotation = node.returns
        else:
            continue
        for sub in ast.walk(annotation) if annotation else ():
            if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                try:
                    names |= _read_names(ast.parse(sub.value, mode="eval"))
                except SyntaxError:
                    pass
    return names


def unread_imports(repo: Path, globs) -> list[str]:
    """``path:line name`` of every imported name its scope never reads."""
    found = []
    for pattern in globs:
        for path in sorted(repo.glob(pattern)):
            if path.name == "__init__.py":
                continue
            text = path.read_text()
            lines = text.splitlines()
            tree = ast.parse(text, filename=str(path))
            scopes = [tree] + [n for n in ast.walk(tree)
                               if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
            for scope in scopes:
                read = _read_names(scope)
                # imports of this scope, not of functions nested in it
                stack = list(ast.iter_child_nodes(scope))
                while stack:
                    node = stack.pop()
                    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        continue
                    stack.extend(ast.iter_child_nodes(node))
                    if (not isinstance(node, (ast.Import, ast.ImportFrom))
                            or getattr(node, "module", None) == "__future__"
                            or any("# noqa" in lines[i - 1]
                                   for i in range(node.lineno, node.end_lineno + 1))):
                        continue
                    for alias in node.names:
                        bound = alias.asname or alias.name.split(".")[0]
                        if bound not in read:
                            found.append(f"{path.relative_to(repo)}:{node.lineno} {bound}")
    return sorted(found)


def test_every_import_is_read():
    unread = unread_imports(REPO, IMPORT_GLOBS)
    assert not unread, f"{len(unread)} imported names never read: {unread}"


# -- negative controls: the walk on a planted package -----------------------

def _plant(tmp_path: Path, files: dict[str, str]) -> Path:
    for rel, text in files.items():
        path = tmp_path / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)
    return tmp_path


def test_planted_orphan_is_reported(tmp_path):
    repo = _plant(tmp_path, {
        "pkg/__init__.py": "",
        "pkg/used.py": "",
        "pkg/orphan.py": "",
        "main.py": "import pkg.used\n",
    })
    assert unreached(repo, "pkg", ("main.py",)) == ["pkg.orphan"]


def test_function_level_import_counts(tmp_path):
    repo = _plant(tmp_path, {
        "pkg/__init__.py": "",
        "pkg/lazy.py": "",
        "main.py": "def run():\n    from pkg import lazy\n    return lazy\n",
    })
    assert unreached(repo, "pkg", ("main.py",)) == []


def test_relative_parent_import_counts(tmp_path):
    repo = _plant(tmp_path, {
        "pkg/__init__.py": "",
        "pkg/x.py": "y = 1\n",
        "pkg/sub/__init__.py": "",
        "pkg/sub/entry.py": "from ..x import y\n",
        "main.py": "import pkg.sub.entry\n",
    })
    assert unreached(repo, "pkg", ("main.py",)) == []


def test_planted_uncalled_function_is_reported(tmp_path):
    repo = _plant(tmp_path, {
        "pkg/__init__.py": "",
        "pkg/mod.py": "def used():\n    pass\n\n\ndef dead():\n    pass\n",
        "main.py": "from pkg.mod import used\n",
    })
    assert uncalled(repo, "pkg", ("main.py",)) == ["pkg.mod.dead"]


def test_function_named_only_by_uncalled_function_is_reported(tmp_path):
    repo = _plant(tmp_path, {
        "pkg/__init__.py": "",
        "pkg/mod.py": "def helper():\n    pass\n\n\ndef dead():\n    return helper()\n",
        "main.py": "import pkg.mod\n",
    })
    assert uncalled(repo, "pkg", ("main.py",)) == ["pkg.mod.dead", "pkg.mod.helper"]


def test_function_named_only_by_a_test_is_used(tmp_path):
    repo = _plant(tmp_path, {
        "pkg/__init__.py": "",
        "pkg/mod.py": "def tested():\n    pass\n",
        "bench.py": "import pkg.mod\n",
        "tests/test_mod.py": "from pkg import mod\n\n\ndef test_it():\n    mod.tested()\n",
    })
    assert uncalled(repo, "pkg", CALLER_GLOBS) == []


def test_registered_query_is_used(tmp_path):
    repo = _plant(tmp_path, {
        "pkg/__init__.py": "",
        "pkg/queries.py": ("def kernel():\n    pass\n\n\n"
                           "@register(\"q\", \"SELECT 1\")\n"
                           "def query(spark, sf_dir):\n    return kernel()\n"),
        "main.py": "import pkg.queries\n",
    })
    assert uncalled(repo, "pkg", ("main.py",)) == []


def test_planted_unread_import_is_reported(tmp_path):
    repo = _plant(tmp_path, {
        "pkg/__init__.py": "import os\n",
        "pkg/mod.py": ("import math\nimport os\n\n\n"
                       "def f():\n    import json\n    return os.sep\n"),
    })
    assert unread_imports(repo, ("pkg/*.py",)) == ["pkg/mod.py:1 math",
                                                  "pkg/mod.py:6 json"]


def test_noqa_import_is_not_reported(tmp_path):
    repo = _plant(tmp_path, {"mod.py": "import math  # noqa: F401\n"})
    assert unread_imports(repo, ("mod.py",)) == []


def test_import_read_in_function_or_string_annotation_is_read(tmp_path):
    repo = _plant(tmp_path, {"mod.py": (
        "from __future__ import annotations\n"
        "import math\n"
        "from decimal import Decimal\n"
        "from typing import Literal\n\n\n"
        "def f(x: \"Decimal\", unit: Literal[\"a b\"] = \"a b\") -> float:\n"
        "    return math.sqrt(x)\n")})
    assert unread_imports(repo, ("mod.py",)) == []
