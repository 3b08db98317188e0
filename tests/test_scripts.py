"""Every script (``scripts/*.py`` and the top-level ``*.py``) imports only
modules that exist: a script left importing a deleted module fails here,
without the script being run. ``scripts/audit_plans.py`` is also run, in
process on the test session, so a call it makes with a removed parameter
fails here too."""

import ast
import glob
import importlib.util
import os
import re
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    glob.glob(os.path.join(ROOT, "scripts", "*.py")) + glob.glob(os.path.join(ROOT, "*.py"))
)


def _import_roots(path: str) -> set[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    roots = set()
    # every import statement, including the ones inside functions
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            roots.update(a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            roots.add(node.module.split(".")[0])
    return roots


def test_scripts_found():
    names = {os.path.relpath(p, ROOT) for p in SCRIPTS}
    assert {"scripts/probe_rounds.py", "__spark_entry__.py"} <= names


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: os.path.relpath(p, ROOT))
def test_script_imports_resolve(path, monkeypatch):
    # a script runs with its own directory first on sys.path; the repo's
    # scripts also reach the repo root (sys.path.insert(0, ".") or ROOT)
    monkeypatch.setattr(sys, "path", [os.path.dirname(path), ROOT, *sys.path])
    missing = sorted(m for m in _import_roots(path) if importlib.util.find_spec(m) is None)
    assert not missing, f"{os.path.relpath(path, ROOT)} imports missing modules {missing}"


def test_audit_plans_prints_every_section(spark, capsys, monkeypatch, tmp_path):
    # the script prepends "." to sys.path at import; keep that local
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    path = os.path.join(ROOT, "scripts", "audit_plans.py")
    spec = importlib.util.spec_from_file_location("audit_plans", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.main()
    out = capsys.readouterr().out
    titles = re.findall(r"^## (.+)$", out, re.M)
    assert len(titles) == 6, titles
    assert out.count("== Physical Plan ==") == 6
    assert any(t.startswith("Politeness budgets") for t in titles)
    assert not os.listdir(tmp_path)  # its parquet inputs are cleaned up
