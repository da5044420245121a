"""Layout guard: every engine module must be reached from non-test code.

A module that only its own tests import is dead weight. Starting from the
driver contract, the scripts, the benchmark and the bench harnesses, this
follows ``mapping_analysis_spark.*`` imports (and the packages they imply)
through the package and fails on any module under ``mapping_analysis_spark/``
that the walk never reaches — including one that only another orphan
imports. A second guard keeps tuning knobs out of the environment: the engine
reads only the deployment settings in ``DEPLOYMENT_ENV``."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "mapping_analysis_spark"

# module -> the test that is its contract (reached only from tests on purpose)
ALLOWED_TEST_ONLY = {
    f"{PKG}.streaming.windows": (
        "tests/test_streaming_parity.py::test_windowed_queries_streaming_parity"
    ),
}


# where to run: the only ``SPARK_GRAFT_*`` variables the engine may read
DEPLOYMENT_ENV = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SYNTH_DIR"}


def _entry_points() -> list[Path]:
    files = [ROOT / "__spark_entry__.py", *ROOT.glob("bench*.py")]
    for d in ("scripts", "perfbench"):
        files += (ROOT / d).rglob("*.py")
    return [f for f in files if not f.name.startswith("test_")]


def _module_path(mod: str) -> Path | None:
    base = ROOT / mod.replace(".", "/")
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.exists():
            return p
    return None


def _imported_modules(path: Path) -> set[str]:
    """Dotted names ``path`` imports, with every parent package; for
    ``from M import n`` both ``M`` and ``M.n`` (``n`` may be a submodule)."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    out = set()
    for n in names:
        parts = n.split(".")
        out.update(".".join(parts[: i + 1]) for i in range(len(parts)))
    return out


def _package_modules() -> set[str]:
    mods = set()
    for f in (ROOT / PKG).rglob("*.py"):
        parts = f.relative_to(ROOT).with_suffix("").parts
        mods.add(".".join(parts[:-1] if parts[-1] == "__init__" else parts))
    return mods


def _reached() -> set[str]:
    todo = set().union(*(_imported_modules(f) for f in _entry_points()))
    seen: set[str] = set()
    while todo:
        mod = todo.pop()
        if mod in seen or mod.split(".")[0] != PKG:
            continue
        seen.add(mod)
        path = _module_path(mod)
        if path is not None:
            todo |= _imported_modules(path)
    return seen


def test_every_package_module_is_reached_from_non_test_code():
    orphans = sorted(_package_modules() - _reached() - set(ALLOWED_TEST_ONLY))
    assert not orphans, f"modules only tests reach: {orphans}"


def test_allowlisted_modules_keep_their_contract_test():
    for mod, contract in ALLOWED_TEST_ONLY.items():
        assert _module_path(mod) is not None, mod
        test_file, test_name = contract.split("::")
        assert f"def {test_name}(" in (ROOT / test_file).read_text(), contract


def test_engine_reads_no_tuning_env_knobs():
    knobs = sorted(
        f"{f.relative_to(ROOT)}: {name}"
        for f in (ROOT / PKG).rglob("*.py")
        for name in set(re.findall(r"SPARK_GRAFT_\w+", f.read_text()))
        if name not in DEPLOYMENT_ENV
    )
    assert not knobs, f"tuning knobs read from the environment: {knobs}"
