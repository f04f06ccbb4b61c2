"""Import guard for the study scripts: every ``scripts/*.py`` must
import cleanly, and every name it imports from the package — also the
lazy imports inside functions, which a plain import does not run —
must still exist. A package deletion that leaves a script with a
dangling import fails here instead of at the script's next run."""

import ast
import importlib
import pathlib

import pytest

SCRIPTS = sorted(
    (pathlib.Path(__file__).resolve().parent.parent / "scripts").glob("*.py")
)
#: first-party top-level packages whose names a script may import
FIRST_PARTY = ("end_to_end_etl_pipeline_spark", "scripts", "tests", "bench")


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.stem)
def test_script_imports_resolve(path):
    importlib.import_module(f"scripts.{path.stem}")
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module.split(".")[0] in FIRST_PARTY
        ):
            mod = importlib.import_module(node.module)
            for alias in node.names:
                assert hasattr(mod, alias.name), (
                    f"{path.name}:{node.lineno} imports missing "
                    f"{node.module}.{alias.name}"
                )
