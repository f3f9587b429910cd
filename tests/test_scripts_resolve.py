"""Every script's repo imports resolve, without a Spark session.

The scripts under tools/ and jobs/, bench.py and bench_extra.py are run by
hand, so no other test imports them, and most of their imports sit inside
functions. A module deleted or renamed under a surviving script would only
show when someone next ran it. These tests read the scripts with ``ast``
and check each repo import against the file it names.
"""

from __future__ import annotations

import ast
import importlib.util
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [
        *REPO.glob("tools/*.py"),
        *REPO.glob("jobs/*.py"),
        REPO / "bench.py",
        REPO / "bench_extra.py",
    ]
)
REPO_ROOTS = {"fineweb_legal_spark", "__spark_entry__", "bench", "tools"}


def _module_file(module: str) -> Path | None:
    """The repo file that ``module`` names; tools/ siblings resolve too
    (the tools put their own directory on sys.path)."""
    rel = Path(*module.split("."))
    for base in (REPO, REPO / "tools"):
        for cand in (base / rel.with_suffix(".py"), base / rel / "__init__.py"):
            if cand.is_file():
                return cand
    return None


def _is_repo_module(module: str) -> bool:
    top = module.split(".")[0]
    return top in REPO_ROOTS or (REPO / "tools" / f"{top}.py").is_file()


def _defined_names(path: Path) -> set[str]:
    """Names bound at module level: defs, classes, assignments and imports,
    including those inside module-level if/try/with/for blocks."""
    names: set[str] = set()

    def visit(body: list[ast.stmt]) -> None:
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names.add(node.name)
                continue
            if isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    names.update(
                        n.id for n in ast.walk(t) if isinstance(n, ast.Name)
                    )
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names.update(
                    a.asname or a.name.split(".")[0] for a in node.names
                )
            for field in ("body", "orelse", "finalbody"):
                visit(getattr(node, field, None) or [])
            for handler in getattr(node, "handlers", None) or []:
                visit(handler.body)

    visit(ast.parse(path.read_text()).body)
    return names


def _imports(path: Path):
    """(line, module, names) for every absolute import in the file; names
    is None for a plain ``import module``."""
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            yield node.lineno, node.module, [a.name for a in node.names]
        elif isinstance(node, ast.Import):
            for a in node.names:
                yield node.lineno, a.name, None


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.relative_to(REPO).as_posix())
def test_script_imports_resolve(script):
    problems = []
    for line, module, names in _imports(script):
        where = f"{script.relative_to(REPO)}:{line} {module}"
        if not _is_repo_module(module):
            # not a repo module: it must be installed, or it is a deleted
            # tools/ sibling that a surviving script still imports
            if importlib.util.find_spec(module.split(".")[0]) is None:
                problems.append(f"{where}: no such module")
            continue
        path = _module_file(module)
        if path is None:
            problems.append(f"{where}: no module file")
            continue
        defined = _defined_names(path)
        for name in names or []:
            if name == "*" or name in defined:
                continue
            if _module_file(f"{module}.{name}") is None:
                problems.append(f"{where}: {name} is not defined there")
    assert not problems, "\n".join(problems)


def test_defined_names_reads_nested_blocks(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "import os.path\n"
        "from x import y as z\n"
        "A, (B, C) = 1, (2, 3)\n"
        "D: int = 4\n"
        "try:\n    import fast as E\nexcept ImportError:\n    F = None\n"
        "if True:\n    def g():\n        hidden = 1\n"
        "class H:\n    inner = 2\n"
    )
    assert _defined_names(src) == {"os", "z", "A", "B", "C", "D", "E", "F", "g", "H"}


def test_timed_and_audited_names_are_registry_queries():
    sys.path.insert(0, str(REPO))
    sys.path.insert(0, str(REPO / "tools"))
    import __spark_entry__ as entrymod
    import bench
    import dump_plans

    registry = entrymod.queries()
    names = [*bench.HEADLINE, *bench.HEADLINE_HEAVY, *dump_plans.PICKS]
    missing = [
        n for n in names if n not in registry and not hasattr(entrymod, f"q_{n}")
    ]
    assert not missing
