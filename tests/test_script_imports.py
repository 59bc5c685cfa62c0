"""Scripts and the bench entry points import only names that still exist.

Every `scripts/*.py`, `bench.py` and `bench_extra.py` is parsed with
`ast` — imports inside functions included — and each import is
resolved without running the script:

- `from vexor_spark.<mod> import name`: `name` must be an attribute or
  a submodule of the imported module;
- an import of a sibling script (a `.py` next to the importer, or
  `scripts.<name>`) must name an existing file, and every imported
  name must be defined at that file's top level;
- any other module must be importable.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted((REPO / "scripts").glob("*.py")) + [
    REPO / "bench.py",
    REPO / "bench_extra.py",
]


def _imports(path: Path):
    """(module, [names]) for every import in the file; names is empty
    for a plain `import module`."""
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield alias.name, []
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            yield node.module, [a.name for a in node.names if a.name != "*"]


def _sibling_file(importer: Path, module: str, repo: Path) -> Path | None:
    """The script file a module name refers to, or None when it is not
    a sibling-script import."""
    parts = module.split(".")
    if parts[0] == "scripts" and len(parts) == 2:
        return repo / "scripts" / f"{parts[1]}.py"
    if len(parts) == 1:
        for root in (importer.parent, repo):
            if (root / f"{module}.py").exists():
                return root / f"{module}.py"
    return None


def _top_level_names(path: Path) -> set[str]:
    names: set[str] = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(t.id for t in targets if isinstance(t, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
    return names


def _problems(path: Path, repo: Path = REPO) -> list[str]:
    out = []
    for module, names in _imports(path):
        where = f"{path.relative_to(repo)}: {module}"
        if module == "vexor_spark" or module.startswith("vexor_spark."):
            try:
                mod = importlib.import_module(module)
            except ImportError as e:
                out.append(f"{where} does not import ({e})")
                continue
            for name in names:
                submodule = hasattr(mod, "__path__") and importlib.util.find_spec(
                    f"{module}.{name}"
                ) is not None
                if not hasattr(mod, name) and not submodule:
                    out.append(f"{where} has no name {name!r}")
            continue
        sibling = _sibling_file(path, module, repo)
        if sibling is not None:
            if not sibling.exists():
                out.append(f"{where} names no script file")
                continue
            defined = _top_level_names(sibling)
            out.extend(
                f"{where} has no top-level name {name!r}"
                for name in names if name not in defined
            )
            continue
        if importlib.util.find_spec(module.split(".")[0]) is None:
            out.append(f"{where} is neither installed nor a sibling script")
    return out


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_imports_resolve(path):
    assert _problems(path) == []


def test_guard_sees_stale_imports(tmp_path):
    """The resolver flags a missing engine name, a missing sibling
    script, a missing sibling name and an unknown module — including
    imports nested inside functions."""
    (tmp_path / "helper.py").write_text("def kept():\n    pass\n")
    script = tmp_path / "stale.py"
    script.write_text(
        "def main():\n"
        "    from vexor_spark.index.merge import full_merge, no_such_merge\n"
        "    from helper import kept, gone\n"
        "    from deleted_script import anything\n"
        "    import scripts.no_such_script\n"
    )
    problems = _problems(script, repo=tmp_path)
    assert any("no_such_merge" in p for p in problems), problems
    assert any("'gone'" in p for p in problems), problems
    assert any("deleted_script" in p for p in problems), problems
    assert any("scripts.no_such_script" in p for p in problems), problems
    assert not any("full_merge" in p or "'kept'" in p for p in problems), problems

